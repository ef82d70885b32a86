"""``star_dedup``: read-only star analytics and corpus dedup shards.

Set-up writes a seeded star schema and a sharded corpus, computes the 12
registered plans' answers with their DuckDB oracles, and warms every plan
and the dedup path up on small inputs. Each round is one pass over the
plans in a seed-shuffled order, with a corpus dedup shard after each
query position in :data:`SHARD_AFTER`. Every collected plan result is
compared with its oracle after its timed span; plans drained through the
noop sink are collected and compared once after the loop. A shard goes
through the ``functions.text.quality_score`` gate, ``operators.dedup.exact_dedup``,
``minhash_lsh_pairs`` and ``connected_components``. The session cache is
cleared between operations, outside their timed spans.
"""

from __future__ import annotations

import random
from pathlib import Path
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen_star
from .gen_docs import QUALITY_MIN, CorpusGenerator

QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q9_product_profit", "q13_customer_distribution", "q18_large_orders",
    "window_topk_per_brand", "rollup_revenue", "dedup_latest_events",
    "sessionize_events", "asof_events_orders", "json_props_extract",
)
#: results with one row per event are drained through the noop sink
LARGE = {"asof_events_orders"}
LINEITEM_ROWS = 240_000
WARMUP_LINEITEM_ROWS = 3_000
DOCS_PER_SHARD = 2_000
N_SHARDS = 3
WARMUP_DOCS = 200
SHARD_AFTER = (4, 8, 12)
WARMUP_THREADS = 3
LSH_THRESHOLD = 0.8
RECALL_FLOOR = 0.95
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(list(df.columns), ignore_index=True)


def same_frame(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    """Column set, row count and values (floats within 1e-9 relative)."""
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    g, w = normalize(got), normalize(want)
    for c in g.columns:
        gv, wv = g[c], w[c]
        if pd.api.types.is_float_dtype(gv) or pd.api.types.is_float_dtype(wv):
            a, b = gv.astype(float).to_numpy(), wv.astype(float).to_numpy()
            ok = np.isclose(a, b, rtol=1e-9, atol=1e-12) | (np.isnan(a) & np.isnan(b))
        else:
            ok = (gv.to_numpy() == wv.to_numpy()) | (gv.isna() & wv.isna()).to_numpy()
        if not ok.all():
            return False, f"column {c} differs at rows {np.flatnonzero(~ok)[:3].tolist()}"
    return True, ""


class StarDedup:
    name = "star_dedup"
    jvm_opts = ""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = random.Random(seed ^ 0x57A2)
        self.next_shard = 0

    # -- set-up -------------------------------------------------------
    def prepare(self, run_dir: Path) -> None:
        """Inputs and oracle answers, without Spark (overlaps session start)."""
        import duckdb

        from lakehouse_poc_spark import plans

        self.star_dir = str(run_dir / "star")
        self.warmup_dir = str(run_dir / "star-warmup")
        gen_star.generate(self.star_dir, self.seed, LINEITEM_ROWS)
        gen_star.generate(self.warmup_dir, self.seed + 1, WARMUP_LINEITEM_ROWS)
        self.warmup = self._write_shard(run_dir, CorpusGenerator([self.seed, 1], WARMUP_DOCS).shard(), "warm-up")
        corpus = CorpusGenerator(self.seed, DOCS_PER_SHARD)
        self.shards = [self._write_shard(run_dir, corpus.shard(), i) for i in range(N_SHARDS)]
        con = duckdb.connect()
        for t in STAR_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.star_dir}/{t}.parquet')")
        self.oracle = {q: con.execute(plans.ORACLES[q]).df() for q in QUERIES}
        con.close()

    def setup(self, h) -> None:
        """Warm every plan and the dedup path up on small inputs, on a few
        client threads (set-up only; the measured loop keeps one client)."""
        from lakehouse_poc_spark import plans

        def warm(q):
            h.op("query", q, lambda: plans.QUERIES[q](h.spark, self.warmup_dir).write.format("noop").mode("overwrite").save())

        with h.phase("warm-up"), ThreadPoolExecutor(WARMUP_THREADS) as pool:
            jobs = [pool.submit(self._shard, h, self.warmup)]
            jobs += [pool.submit(warm, q) for q in QUERIES]
            for j in jobs:
                j.result()
        h.spark.catalog.clearCache()

    @staticmethod
    def _write_shard(run_dir: Path, shard, tag):
        path = run_dir / "corpus" / f"shard-{tag}.parquet"
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"doc_id": pa.array(shard.ids, pa.int64()), "text": shard.texts}), path)
        return str(path), shard

    # -- operations ---------------------------------------------------
    def _query(self, h, q: str) -> None:
        from lakehouse_poc_spark import plans

        def run():
            df = plans.QUERIES[q](h.spark, self.star_dir)
            if q in LARGE:
                df.write.format("noop").mode("overwrite").save()
                return None
            return pd.DataFrame([tuple(r) for r in df.collect()], columns=df.columns)

        got, rec = h.op("query", q, run)
        if got is not None:
            ok, why = same_frame(got, self.oracle[q])
            h.check(rec, f"query {q}", ok, why)
        h.spark.catalog.clearCache()

    def _shard(self, h, which=None) -> None:
        from lakehouse_poc_spark.functions import text
        from lakehouse_poc_spark.operators import dedup

        if which is None:
            which = self.shards[self.next_shard % len(self.shards)]
            self.next_shard += 1
        path, shard = which
        out: dict = {}

        def run():
            docs = h.spark.read.parquet(path)
            gated = docs.filter(text.quality_score("text") >= QUALITY_MIN)
            kept = dedup.exact_dedup(gated, "text", "doc_id").persist()
            try:
                with h.tracer.span("dedup.exact"):
                    out["kept"] = [r[0] for r in kept.select("doc_id").collect()]
                with h.tracer.span("dedup.minhash_lsh"):
                    pairs = dedup.minhash_lsh_pairs(kept, "text", "doc_id", threshold=LSH_THRESHOLD)
                    out["pairs"] = {(r[0], r[1]) for r in pairs.select("id_a", "id_b").collect()}
                with h.tracer.span("dedup.components"):
                    comps = dedup.connected_components(pairs).collect()
                    out["components"] = len({r["component"] for r in comps})
                pairs.unpersist()
            finally:
                kept.unpersist()
            return out

        res, rec = h.op("shard", "dedup", run, items=len(shard.ids))
        if h.measuring:
            h.spark.catalog.clearCache()
        if res is None:
            return
        ok = len(res["kept"]) == shard.expected_kept
        h.check(rec, "exact dedup kept count", ok, f"{len(res['kept'])} != {shard.expected_kept}")
        found = len(shard.near_pairs & res["pairs"])
        recall = found / len(shard.near_pairs)
        rec.attrs.update(recall=recall, pairs=len(res["pairs"]), docs=len(shard.ids))
        h.check(rec, "lsh recall floor", recall >= RECALL_FLOOR, f"recall {recall:.3f} < {RECALL_FLOOR}")
        # planted near pairs are disjoint, so each found pair is one component
        h.check(rec, "components", res["components"] == len(res["pairs"]),
                f"{res['components']} components for {len(res['pairs'])} pairs")

    def round(self, h, r: int) -> None:
        order = list(QUERIES)
        self.rng.shuffle(order)
        for i, q in enumerate(order, 1):
            self._query(h, q)
            if i in SHARD_AFTER:
                self._shard(h)

    def finish(self, h) -> None:
        """The plans drained through the noop sink in the loop are
        collected and checked once here, outside the measured loop."""
        from lakehouse_poc_spark import plans

        for q in sorted(LARGE):
            got = plans.QUERIES[q](h.spark, self.star_dir).toPandas()
            h.check(None, f"oracle {q}", *same_frame(got, self.oracle[q]))
