"""Session sizing, operation records and the measured loop.

One process, one client, closed loop: the next operation starts when
the previous one returns. A workload runs whole *rounds* of operations
until at least ``seconds`` of wall time have passed; every operation is
timed to a fully materialized result and checked against the
generator's plain-Python expectation outside its timed span.
"""

from __future__ import annotations

import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from . import metrics
from .trace import Tracer


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


@dataclass
class OpRecord:
    kind: str
    name: str
    seconds: float
    traced: bool
    ok: bool = True
    items: int = 0
    attrs: dict = field(default_factory=dict)
    span_id: int | None = None


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


def driver_heap() -> str:
    """A quarter of RAM, between 1 and 6 GiB (the engine default of 48g
    does not fit a small box)."""
    gib = metrics.mem_total_bytes() / (1 << 30)
    return f"{max(1, min(6, int(gib / 4)))}g"


def start_session(run_dir: Path, cpus: int, jvm_opts: str):
    from lakehouse_poc_spark.session import get_spark

    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.driver.memory": driver_heap(),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {jvm_opts}".strip(),
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "40000",
    }
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - best effort, the process wait below decides
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Harness:
    def __init__(self, spark, run_dir: Path, seed: int, trace: bool):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.trace = trace
        self.tracer = Tracer(spark.sparkContext)
        self.ops: list[OpRecord] = []
        self.checks: list[Check] = []
        self.measuring = False
        self.round_traced = False
        self.phases: dict[str, float] = {}

    @contextmanager
    def phase(self, name: str):
        """Time one set-up step (reported on stderr)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0

    # -- operations ---------------------------------------------------
    def op(self, kind: str, name: str, fn, items: int = 0, **attrs):
        """Run one operation under a timer; failures are recorded, not raised."""
        self.tracer.op = len(self.ops)
        t0 = time.perf_counter()
        span_id = None
        try:
            with self.tracer.span(f"op.{kind}", op_name=name) as sp:
                result = fn()
                span_id = sp.id if sp is not None else None
            ok = True
        except Exception as exc:  # noqa: BLE001 - an op failure is a measurement
            log(f"[{kind}:{name}] failed: {exc!r}"[:2000])
            result, ok = None, False
        rec = OpRecord(kind, name, time.perf_counter() - t0, self.round_traced, ok, items, attrs, span_id)
        if self.measuring:
            self.ops.append(rec)
        elif not ok:
            self.checks.append(Check(f"setup {kind}:{name}", False, "raised"))
        return result, rec

    def check(self, rec: OpRecord | None, name: str, ok: bool, detail: str = "") -> bool:
        """Attach a correctness verdict to an op (or to the run when ``rec`` is None)."""
        if not ok:
            log(f"CHECK FAILED {name}: {detail}"[:2000])
        if rec is not None and self.measuring:
            rec.ok = rec.ok and ok
        else:
            self.checks.append(Check(name, ok, detail))
        return ok

    # -- loop ---------------------------------------------------------
    def measure(self, workload, seconds: float) -> float:
        """Run whole rounds until ``seconds`` have passed; in trace mode
        rounds alternate untraced/traced and at least two run."""
        self.measuring = True
        min_rounds = 2 if self.trace else 1
        t0 = time.perf_counter()
        r = 0
        while r < min_rounds or time.perf_counter() - t0 < seconds:
            self.round_traced = self.trace and r % 2 == 1
            self.tracer.active = self.round_traced
            workload.round(self, r)
            r += 1
        self.tracer.active = False
        self.measuring = False
        return time.perf_counter() - t0

    def untraced_ops(self) -> list[OpRecord]:
        return [o for o in self.ops if not o.traced]
