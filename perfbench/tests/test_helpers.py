"""Benchmark helpers: the sample-count rule, span arithmetic and the
generators' plain-Python expectations against the engine.

Run with ``python -m pytest perfbench/tests -q`` from the repo root.
"""

from __future__ import annotations

from dataclasses import replace

import pytest

from perfbench import metrics
from perfbench.gen_docs import CorpusGenerator, jaccard, quality_score
from perfbench.gen_kosten import COMPARE, KEY, KostenGenerator, Scd2Model, digest
from perfbench.trace import covered


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert metrics.percentile(xs, 0.0) == 1.0
    assert metrics.percentile(xs, 1.0) == 4.0
    assert metrics.percentile(xs, 0.5) == 2.5
    assert metrics.percentile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        metrics.percentile([], 0.5)


@pytest.mark.parametrize(
    "n, q",
    [(1, None), (19, None), (99, None), (100, 0.9), (999, 0.9), (1000, 0.99), (10_000, 0.999)],
)
def test_tail_quantile_needs_ten_samples_beyond(n, q):
    assert metrics.tail_quantile(n) == q


def test_summarize_reports_count_and_only_allowed_tail():
    few = metrics.summarize([1.0, 2.0, 3.0])
    assert few == {"n": 3, "p50": 2.0}
    many = metrics.summarize(float(i) for i in range(100))
    assert many["n"] == 100 and many["tail_q"] == 0.9
    assert many["tail"] == pytest.approx(89.1)
    assert metrics.summarize([]) == {"n": 0}


def test_covered_unions_and_clips_child_intervals():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3


def test_kosten_model_merge_semantics():
    m = Scd2Model()
    assert m.merge({"a": ("x", None), "b": ("y", "B")}, "2024-01-01 00:00:00").as_dict() == {
        "unchanged": 0, "new_keys": 2, "updated_keys": 0,
    }
    s = m.merge({"a": ("x", "A"), "b": ("y", "B"), "c": (None, None)}, "2024-01-02 00:00:00")
    assert s.as_dict() == {"unchanged": 1, "new_keys": 1, "updated_keys": 1}
    assert m.rows_for(["a"]) == [
        ("a", "x", None, "2024-01-01 00:00:00", "2024-01-02 00:00:00", False),
        ("a", "x", "A", "2024-01-02 00:00:00", None, True),
    ]
    assert digest([(1, None)]) == digest([(1, None)]) != digest([(1, "")])


def test_kosten_generator_is_seeded():
    a, b = KostenGenerator(7, 200), KostenGenerator(7, 200)
    assert a.bootstrap().csv == b.bootstrap().csv
    assert a.daily().csv == b.daily().csv
    assert KostenGenerator(8, 200).bootstrap().csv != KostenGenerator(7, 200).bootstrap().csv


def test_corpus_plants_what_it_reports():
    shard = CorpusGenerator(3, 400).shard()
    text = dict(zip(shard.ids, shard.texts))
    assert len(shard.ids) == 400 and shard.expected_kept == 400 - 20 - 40
    assert all(jaccard(text[a], text[b]) >= 0.8 for a, b in shard.near_pairs)
    assert all(quality_score(text[i]) < 0.3 for i in shard.low_quality)


def test_tiny_generator_matches_engine_merge_stats(spark, tmp_path):
    """Every expected MergeStats of a tiny seeded run equals the
    engine's, and the final dimension digests identically."""
    from lakehouse_poc_spark.config import PipelineConfig
    from lakehouse_poc_spark.pipeline import run_pipeline
    from lakehouse_poc_spark.sinks.warehouse import Warehouse

    gen, model = KostenGenerator(11, 300), Scd2Model()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = PipelineConfig(
        name="kosten", raw_table="raw.kosten", dim_table="dim.kosten",
        business_key=(KEY,), compare_columns=COMPARE,
    )
    for day, batch in enumerate([gen.bootstrap(), gen.daily(), gen.daily(), gen.daily()]):
        path = tmp_path / f"b{day}.csv"
        path.write_bytes(batch.csv)
        ts = f"2024-01-{day + 1:02d} 00:00:00"
        want = model.merge(batch.latest, ts).as_dict()
        got = run_pipeline(spark, wh, replace(cfg, source_path=str(path)), ts).as_dict()
        assert got == want, day
    fmt = lambda v: None if v is None else v.strftime("%Y-%m-%d %H:%M:%S")  # noqa: E731
    rows = [
        (r[KEY], r[COMPARE[0]], r[COMPARE[1]], fmt(r["valid_from"]), fmt(r["valid_to"]), r["is_current"])
        for r in wh.read(cfg.dim_table).collect()
    ]
    assert digest(rows) == digest(model.rows_for(model.history))


def test_quality_score_twin_matches_engine(spark):
    from lakehouse_poc_spark.functions import text

    shard = CorpusGenerator(5, 200).shard()
    df = spark.createDataFrame(list(zip(shard.ids, shard.texts)), "doc_id long, text string")
    got = {r[0]: r[1] for r in df.select("doc_id", text.quality_score("text")).collect()}
    for i, t in zip(shard.ids, shard.texts):
        assert got[i] == pytest.approx(quality_score(t), abs=1e-12)
