"""End-to-end and per-layer metrics from one run.

End-to-end (``--trace 0``), the same names on every workload:

* ``setup_s``: session start, warm-up, input generation and bootstrap.
* ``batch_p50_s``: median batch job: a daily CSV batch through
  ``run_pipeline`` (scd2_dimension) or a corpus dedup shard (star_dedup);
  a round runs three of either, so the median has at least 3 samples.
* ``query_mean_s``: mean query: a dimension read (scd2_dimension) or a
  registered star plan (star_dedup). Every query of the fixed mix runs
  equally often in a run, so the mean weighs them equally; a median of
  the 12 different plans would jump between neighbouring plans.
* ``ops_per_s``: operations of every kind completed per second of the
  measured loop (closed loop, one client).

Per-layer (``--trace 1``) metrics come from the traced rounds' spans; a
layer a workload does not exercise reports 0. ``process.peak_rss_mb``
(VmHWM of the JVM plus VmHWM of the Python process) is reported there and
not end to end: the JVM grows its heap lazily up to ``-Xmx``, so the peak
varies by about a third between identical runs.
"""

from __future__ import annotations

import statistics
from pathlib import Path

from . import metrics
from .harness import log
from .wl_analytics import QUERIES as PLAN_NAMES

WORKLOAD_KINDS = {
    # workload -> (op kind behind batch_p50_s, op kind behind query_mean_s)
    "scd2_dimension": ("batch", "read"),
    "star_dedup": ("shard", "query"),
}
#: the spans of one dimension read: file listing plus the three scans
READ_SPANS = ("warehouse.read", "read.current", "read.pit", "read.lookup")


def _p50(xs) -> float:
    xs = list(xs)
    return metrics.percentile(xs, 0.5) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _files(path: Path) -> list[Path]:
    return list(path.glob("**/*.parquet")) if path.exists() else []


def peak_rss_mb() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    jvm = metrics.vm_hwm_mb(proc.pid) if proc is not None else 0.0
    return jvm + metrics.vm_hwm_mb()


def end_to_end(h, workload, setup: dict, wall: float) -> dict:
    batch_kind, query_kind = WORKLOAD_KINDS[workload.name]
    ops = h.untraced_ops()
    busy = sum(o.seconds for o in ops)
    # in trace mode the untraced rounds are only part of the wall time
    span = wall if not h.trace else busy
    return {
        "setup_s": (sum(setup.values()), "s"),
        "batch_p50_s": (_p50(o.seconds for o in ops if o.kind == batch_kind), "s"),
        "query_mean_s": (_mean(o.seconds for o in ops if o.kind == query_kind), "s"),
        "ops_per_s": (len(ops) / span if span > 0 else 0.0, "1/s"),
    }


class _Spans:
    """Per-op views over the tracer's spans."""

    def __init__(self, h):
        self.h = h
        self.t = h.tracer
        self.children = self.t.children()

    def traced(self, kind: str):
        for o in self.h.ops:
            if o.traced and o.kind == kind and o.span_id is not None:
                yield o, list(self.t.subtree(self.t.spans[o.span_id], self.children))

    def per_op(self, kind: str, name: str | tuple, what: str = "total") -> list[float]:
        """One figure per traced op of ``kind`` over its spans called
        ``name`` (or any of the names in a tuple)."""
        names = name if isinstance(name, tuple) else (name,)
        out = []
        for _, spans in self.traced(kind):
            hit = [s for s in spans if s.name in names]
            if what == "total":
                out.append(sum(s.duration for s in hit))
            elif what == "self":
                out.append(sum(self.t.self_time(s, self.children) for s in hit))
            elif what == "jobs":
                out.append(sum(sum(c.jobs for c in self.t.subtree(s, self.children)) for s in hit))
            elif what == "count":
                out.append(len(hit))
        return out


def per_layer(h, workload, setup: dict) -> dict:
    sp = _Spans(h)
    m: dict[str, tuple[float, str]] = {}
    m["process.peak_rss_mb"] = (peak_rss_mb(), "MB")
    m["session.get_spark_s"] = (setup["session"], "s")
    m["session.warmup_s"] = (h.phases.get("warm-up", 0.0), "s")

    # ingest path (daily batches)
    m["readers.read_csv_s"] = (_p50(sp.per_op("batch", "readers.read_csv")), "s")
    m["readers.read_csv_jobs"] = (_p50(sp.per_op("batch", "readers.read_csv", "jobs")), "count")
    m["pipeline.load_raw_s"] = (_p50(sp.per_op("batch", "pipeline.load_raw")), "s")
    m["warehouse.append_s"] = (_p50(sp.per_op("batch", "warehouse.append")), "s")
    batches = [o for o in h.ops if o.kind == "batch" and "stats" in o.attrs]
    keys = [sum(o.attrs["stats"].values()) for o in batches]
    m["dedup_latest.keep_ratio"] = (_p50(k / o.items for k, o in zip(keys, batches)), "ratio")

    # SCD2 merge, batch and trickle
    merge_self = sp.per_op("batch", "scd2.merge", "self") + sp.per_op("trickle", "scd2.merge", "self")
    merge_jobs = sp.per_op("batch", "scd2.merge", "jobs") + sp.per_op("trickle", "scd2.merge", "jobs")
    m["scd2.merge_self_s"] = (_p50(merge_self), "s")
    m["scd2.jobs"] = (_p50(merge_jobs), "count")
    m["scd2.change_ratio"] = (
        _p50(
            (o.attrs["stats"]["new_keys"] + o.attrs["stats"]["updated_keys"]) / k
            for k, o in zip(keys, batches)
        ),
        "ratio",
    )
    m["warehouse.apply_scd2_s"] = (
        _p50(sp.per_op("batch", "warehouse.apply_scd2") + sp.per_op("trickle", "warehouse.apply_scd2")),
        "s",
    )
    written, amp = [], []
    for kind in ("batch", "trickle"):
        for o, spans in sp.traced(kind):
            b = sum(s.attrs.get("bytes_written", 0) for s in spans if s.name == "warehouse.apply_scd2")
            written.append(b)
            if kind == "batch" and o.attrs.get("in_bytes"):
                amp.append(b / o.attrs["in_bytes"])
    m["warehouse.bytes_written"] = (_p50(written), "bytes")
    m["warehouse.write_amplification"] = (_p50(amp), "ratio")

    # dimension files and reads
    wh = getattr(workload, "wh", None)
    dim = _files(wh.path(workload.cfg.dim_table)) if wh is not None else []
    raw = _files(wh.path(workload.cfg.raw_table)) if wh is not None else []
    m["warehouse.dim_files"] = (float(len(dim)), "count")
    m["warehouse.dim_bytes"] = (float(sum(p.stat().st_size for p in dim)), "bytes")
    m["warehouse.raw_files"] = (float(len(raw)), "count")
    # Warehouse.read only lists files and resolves the schema; the scans
    # run in the read spans that consume its DataFrame
    m["warehouse.read_s"] = (_p50(sp.per_op("read", READ_SPANS)), "s")
    m["scd2.pit_join_s"] = (_p50(sp.per_op("read", "read.pit")), "s")

    # streaming bridge
    m["runner.scd2_stream_self_s"] = (_p50(sp.per_op("trickle", "runner.scd2_stream", "self")), "s")
    m["runner.micro_batches"] = (_p50(sp.per_op("trickle", "scd2.merge", "count")), "count")

    # star plans
    for q in PLAN_NAMES:
        m[f"plans.{q}_p50_s"] = (_p50(o.seconds for o, _ in sp.traced("query") if o.name == q), "s")
    m["plans.jobs_per_query"] = (_mean(sum(s.jobs for s in spans) for _, spans in sp.traced("query")), "count")
    m["plans.tasks_per_query"] = (_mean(sum(s.tasks for s in spans) for _, spans in sp.traced("query")), "count")

    # corpus dedup
    m["dedup.exact_s"] = (_p50(sp.per_op("shard", "dedup.exact")), "s")
    m["dedup.minhash_lsh_s"] = (_p50(sp.per_op("shard", "dedup.minhash_lsh")), "s")
    m["dedup.components_s"] = (_p50(sp.per_op("shard", "dedup.components")), "s")
    m["dedup.components_jobs"] = (_p50(sp.per_op("shard", "dedup.components", "jobs")), "count")
    shards = [o for o in h.ops if o.kind == "shard" and "recall" in o.attrs]
    m["dedup.lsh_recall"] = (_mean(o.attrs["recall"] for o in shards), "ratio")
    m["dedup.pairs_per_doc"] = (_mean(o.attrs["pairs"] / o.attrs["docs"] for o in shards), "ratio")

    # tracing overhead: the same run's traced vs untraced rounds
    batch_kind, query_kind = WORKLOAD_KINDS[workload.name]
    for label, traced in (("traced", True), ("untraced", False)):
        xs = [o.seconds for o in h.ops if o.traced == traced and o.kind == batch_kind]
        m[f"{label}.batch_p50_s"] = (_p50(xs), "s")
        xs = [o.seconds for o in h.ops if o.traced == traced and o.kind == query_kind]
        m[f"{label}.query_mean_s"] = (_mean(xs), "s")
    return m


def report(h, workload, e2e: dict, setup: dict, failed: int, attempted: int) -> None:
    """Human-readable figures, named after the operation kinds, to stderr."""
    log(f"== {workload.name} seed={h.seed} trace={int(h.trace)}")
    log(f"setup_s {sum(setup.values()):.3f} s  " + "  ".join(f"{k}={v:.3f}" for k, v in setup.items()))
    log("  workload set-up: " + "  ".join(f"{k}={v:.3f}" for k, v in h.phases.items()))
    for traced in (False, True) if h.trace else (False,):
        tag = "traced " if traced else ""
        for kind in ("batch", "trickle", "read", "query", "shard"):
            ops = [o for o in h.ops if o.kind == kind and o.traced == traced]
            if not ops:
                continue
            s = metrics.summarize(o.seconds for o in ops)
            tail = f"  p{s['tail_q'] * 100:g}={s['tail']:.4f} s" if "tail" in s else ""
            items = sum(o.items for o in ops)
            rate = f"  {items / sum(o.seconds for o in ops):.1f} items/s" if items else ""
            log(f"{tag}{kind}_p50_s {s['p50']:.4f} s (n={s['n']}){tail}{rate}")
    for k, (v, u) in e2e.items():
        log(f"{k} {v:.4f} {u}")
    log(f"peak_rss_mb {peak_rss_mb():.1f} MB")
    log(f"error_rate {failed / attempted if attempted else 0:.4f} ({failed}/{attempted})")


def result(h, workload, setup: dict, wall: float) -> dict:
    e2e = end_to_end(h, workload, setup, wall)
    failed = sum(not o.ok for o in h.ops) + sum(not c.ok for c in h.checks)
    attempted = len(h.ops) + len(h.checks)
    report(h, workload, e2e, setup, failed, attempted)
    chosen = per_layer(h, workload, setup) if h.trace else e2e
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
