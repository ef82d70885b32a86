"""Pipeline runner: raw landing → dedup-latest transform → SCD2 merge.

Orchestration re-expressed from the reference (O1 single-table job
``run_kosten_pipeline`` — reference notebooks/pipeline_core.py:266-296;
O2 multi-table fan-out loop + O3 conditional merge — "Mini-ETL-Pipeline
in Databricks.py":113-131), with the reference's self-inflicted
pessimizations fixed by construction (SURVEY.md §4): the raw batch is
read once (the reference re-reads the source CSV through the returned
plan), stats are observed on the merge's own rewrite, and ingest is
fully distributed (no driver-side bytes).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .operators.dedup_latest import dedup_latest
from .operators.ingest import INGEST_TS, with_ingest_metadata, trim_columns
from .operators.scd2 import MergeStats, scd2_merge
from .sinks.warehouse import Warehouse
from .sources.readers import read_csv


def load_raw(
    spark: SparkSession,
    wh: Warehouse,
    cfg: PipelineConfig,
    run_ts: datetime | str,
    batch: DataFrame | None = None,
) -> DataFrame:
    """Land a batch in the append-only raw table (reference S1+K1:
    append, "RAW ist historisch" — pipeline_core.py:62-68). Returns the
    just-landed rows read BACK from the raw table, so downstream
    transforms consume the landed data, not a re-read of the source.

    CSV sources land as strings: an inferred type is a guess about one
    file (``0815`` reads as int 815), and the next batch's ``KST9``
    would then no longer fit the raw table's schema."""
    if batch is None:
        if cfg.source_path is None:
            raise ValueError(f"{cfg.name}: no source_path and no batch")
        batch = read_csv(
            spark, cfg.source_path, dialect=cfg.dialect, infer_schema=False
        )
    stamped = with_ingest_metadata(batch, cfg.ingest_source, run_ts)
    wh.append(stamped, cfg.raw_table)
    return wh.read(cfg.raw_table).filter(
        F.col(INGEST_TS) == F.lit(run_ts).cast("timestamp")
    )


def transform_dim(df_raw: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Raw batch → one clean row per business key (reference
    transform_dim, pipeline_core.py:77-108): project wanted columns,
    trim strings, keep the latest row per key.

    Tie semantics: rows landed in the SAME run share an ingest
    timestamp; ``dedup_latest`` keeps one of them, so identical-content
    ties collapse to that row, but a key appearing twice in one batch
    with different content has no defined winner (the reference has the
    same hazard — its row_number orders only by IngestTimestamp). Feed
    each run only that run's new files (pipeline O3 conditional load)
    so "latest" is well-defined."""
    projected = trim_columns(
        df_raw.select(*cfg.wanted_columns, INGEST_TS), cols=None
    )
    latest = dedup_latest(
        projected, keys=list(cfg.business_key), order_by=[INGEST_TS]
    )
    return latest.select(*cfg.wanted_columns)


def run_pipeline(
    spark: SparkSession,
    wh: Warehouse,
    cfg: PipelineConfig,
    run_ts: datetime | str,
    batch: DataFrame | None = None,
) -> MergeStats:
    """O1: one table end-to-end; returns the reference's stats dict
    shape (pipeline_core.py:255-259) as MergeStats."""
    landed = load_raw(spark, wh, cfg, run_ts, batch=batch)
    latest = transform_dim(landed, cfg)
    return scd2_merge(wh, cfg, latest, run_ts)


def run_many(
    spark: SparkSession,
    wh: Warehouse,
    configs: list[PipelineConfig],
    run_ts: datetime | str,
    batches: dict[str, DataFrame] | None = None,
) -> dict[str, MergeStats]:
    """O2/O3: config-driven fan-out; a table with no batch this run is
    skipped (the reference's 'no files matched' early-return)."""
    out: dict[str, MergeStats] = {}
    for cfg in configs:
        batch = (batches or {}).get(cfg.name)
        if batch is None and cfg.source_path is None:
            continue
        out[cfg.name] = run_pipeline(spark, wh, cfg, run_ts, batch=batch)
    return out
