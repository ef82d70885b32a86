"""SCD2 merge engine invariants (SURVEY.md §5 plan, FIXTURES.md §A.4):
bootstrap, change/close/insert effects, exactly-one-current, validity
chaining, null-safe change detection, idempotence, composite keys,
intra-batch dedup, trim."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lakehouse_poc_spark.config import PipelineConfig, TechnicalColumns
from lakehouse_poc_spark.pipeline import run_pipeline
from lakehouse_poc_spark.operators.scd2 import scd2_merge

T1 = "2030-01-01 00:00:00"
T2 = "2030-01-02 00:00:00"
T3 = "2030-01-03 00:00:00"

CFG = PipelineConfig(
    name="kosten",
    raw_table="layer0100.kosten_raw",
    dim_table="layer0150.dim_kostenstelle",
    business_key=("Kostenstelle",),
    compare_columns=("Bezeichnung", "Bereich"),
    technical=TechnicalColumns("GueltigVon", "GueltigBis", "IsCurrent"),
)


def batch(spark, rows):
    return spark.createDataFrame(
        rows, "Kostenstelle string, Bezeichnung string, Bereich string"
    )


BATCH1 = [("K1", "Verwaltung", "Zentral"), ("K2", "Fertigung", "Werk 1"), ("K3", "Vertrieb", "Nord")]


def test_bootstrap(spark, wh):
    stats = run_pipeline(spark, wh, CFG, T1, batch=batch(spark, BATCH1))
    assert stats.as_dict() == {"unchanged": 0, "new_keys": 3, "updated_keys": 0}
    dim = wh.read(CFG.dim_table)
    assert dim.count() == 3
    assert dim.filter(F.col("IsCurrent")).count() == 3
    assert dim.filter(F.col("GueltigBis").isNotNull()).count() == 0


def test_two_effect_merge_and_invariants(spark, wh):
    run_pipeline(spark, wh, CFG, T1, batch=batch(spark, BATCH1))
    stats = run_pipeline(
        spark,
        wh,
        CFG,
        T2,
        batch=batch(
            spark,
            [
                ("K1", "Verwaltung", "Zentral"),      # unchanged
                ("K2", "Fertigung", "Werk 2"),        # changed
                ("K4", "Einkauf", "Sued"),            # new key
            ],
        ),
    )
    assert stats.as_dict() == {"unchanged": 1, "new_keys": 1, "updated_keys": 1}
    dim = wh.read(CFG.dim_table)

    # exactly one current row per key
    cur_per_key = (
        dim.filter("IsCurrent").groupBy("Kostenstelle").count().filter("count > 1")
    )
    assert cur_per_key.count() == 0
    # changed key: closed old row AND inserted new version (two-effect,
    # the semantics the reference SQL notebooks silently drop)
    k2 = dim.filter(F.col("Kostenstelle") == "K2").orderBy("GueltigVon").collect()
    assert len(k2) == 2
    closed, opened = k2
    assert not closed.IsCurrent and str(closed.GueltigBis) == f"{T2}"
    assert opened.IsCurrent and str(opened.GueltigVon) == f"{T2}" and opened.Bereich == "Werk 2"
    # validity chains: closed.GueltigBis == successor.GueltigVon
    assert closed.GueltigBis == opened.GueltigVon
    # unchanged key untouched (valid_from still T1)
    k1 = dim.filter("Kostenstelle = 'K1'").collect()
    assert len(k1) == 1 and str(k1[0].GueltigVon) == f"{T1}"
    # absent key K3 untouched and still current
    k3 = dim.filter("Kostenstelle = 'K3'").collect()
    assert len(k3) == 1 and k3[0].IsCurrent


def test_idempotent_rerun(spark, wh):
    run_pipeline(spark, wh, CFG, T1, batch=batch(spark, BATCH1))
    stats = run_pipeline(spark, wh, CFG, T2, batch=batch(spark, BATCH1))
    assert stats.as_dict() == {"unchanged": 3, "new_keys": 0, "updated_keys": 0}
    dim = wh.read(CFG.dim_table)
    assert dim.count() == 3
    assert dim.filter(~F.col("IsCurrent")).count() == 0


def test_null_safe_change_detection(spark, wh):
    """NULL↔value transitions must count as change (the reference's
    null-unsafe `!=` + partial guard misses value→NULL; SURVEY §7.0.2)."""
    run_pipeline(spark, wh, CFG, T1, batch=batch(spark, [("K1", "A", "X")]))
    s2 = run_pipeline(spark, wh, CFG, T2, batch=batch(spark, [("K1", "A", None)]))
    assert s2.updated_keys == 1
    s3 = run_pipeline(spark, wh, CFG, T3, batch=batch(spark, [("K1", "A", "X")]))
    assert s3.updated_keys == 1
    dim = wh.read(CFG.dim_table)
    assert dim.count() == 3
    cur = dim.filter("IsCurrent").collect()
    assert len(cur) == 1 and cur[0].Bereich == "X"


def test_composite_business_key(spark, wh):
    cfg = PipelineConfig(
        name="personal",
        raw_table="l0.personal_raw",
        dim_table="l1.dim_personal",
        business_key=("Personalnummer", "Abteilung"),
        compare_columns=("Name",),
    )
    b = spark.createDataFrame(
        [("P1", "IT", "Alice"), ("P1", "HR", "Alice")],
        "Personalnummer string, Abteilung string, Name string",
    )
    run_pipeline(spark, wh, cfg, T1, batch=b)
    b2 = spark.createDataFrame(
        [("P1", "IT", "Alicia"), ("P1", "HR", "Alice")],
        "Personalnummer string, Abteilung string, Name string",
    )
    stats = run_pipeline(spark, wh, cfg, T2, batch=b2)
    assert stats.as_dict() == {"unchanged": 1, "new_keys": 0, "updated_keys": 1}
    dim = wh.read(cfg.dim_table)
    assert dim.count() == 3  # 2 original + 1 new version of (P1, IT)


def test_intra_batch_dedup_and_trim(spark, wh):
    """Duplicate keys within a batch: latest ingest wins; values trimmed
    (FIXTURES.md §A.4 batch-2 scenario). Same-run duplicates share one
    IngestTimestamp, so distinct() collapses exact dupes and differing
    dupes are resolved by dedup-latest order stability."""
    b1 = batch(spark, [("K1", "  Verwaltung  ", " Zentral")])
    run_pipeline(spark, wh, CFG, T1, batch=b1)
    dim = wh.read(CFG.dim_table).collect()
    assert dim[0].Bezeichnung == "Verwaltung" and dim[0].Bereich == "Zentral"


def test_merge_without_pipeline(spark, wh):
    """scd2_merge consumes any deduped frame directly (no raw landing)."""
    b = batch(spark, BATCH1)
    stats = scd2_merge(wh, CFG, b, T1)
    assert stats.new_keys == 3
    stats2 = scd2_merge(wh, CFG, batch(spark, [("K1", "Verwaltung", "Neu")]), T2)
    assert stats2.as_dict() == {"unchanged": 0, "new_keys": 0, "updated_keys": 1}
    # absent keys stay current; K1 has history
    dim = wh.read(CFG.dim_table)
    assert dim.count() == 4
    assert dim.filter("IsCurrent").count() == 3


def test_repeated_merges_do_not_fragment_the_dimension(spark, wh):
    """Each merge rewrites the dimension from one shuffle, so its data
    files stay bounded by the shuffle partition count however many
    merges ran (a union of per-effect branches would add files every
    merge)."""
    def rows(day, n_keys):
        return [
            (f"K{i:04d}", f"Name {i}", f"Bereich {(i * (day + 1)) % 7 if i % 10 == 0 else 0}")
            for i in range(n_keys)
        ]

    scd2_merge(wh, CFG, batch(spark, rows(0, 2000)), T1)
    for day in range(1, 7):
        stats = scd2_merge(
            wh, CFG, batch(spark, rows(day, 2000 + 20 * day)),
            f"2030-01-{day + 1:02d} 00:00:00",
        )
        assert stats.new_keys == 20 and stats.updated_keys > 0
    limit = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert 0 < len(wh._data_files(CFG.dim_table)) <= limit
    dim = wh.read(CFG.dim_table)
    assert dim.filter(F.col("IsCurrent")).count() == 2120


def test_run_many_fanout_and_skip(spark, wh):
    """O2/O3: the config-driven multi-table loop merges every table
    with a batch and skips tables with none (the reference's
    'no files matched' early return)."""
    from lakehouse_poc_spark.pipeline import run_many

    cfg_a = CFG
    cfg_b = PipelineConfig(
        name="personal",
        raw_table="layer0100.personal_raw",
        dim_table="layer0150.dim_personal",
        business_key=("Personalnummer",),
        compare_columns=("Name", "Abteilung"),
    )
    cfg_skip = PipelineConfig(
        name="nobatch",
        raw_table="layer0100.none_raw",
        dim_table="layer0150.dim_none",
        business_key=("k",),
        compare_columns=("v",),
    )
    batches = {
        "kosten": batch(spark, BATCH1),
        "personal": spark.createDataFrame(
            [("P1", "A", "X"), ("P2", "B", "Y")],
            "Personalnummer string, Name string, Abteilung string",
        ),
    }
    out = run_many(spark, wh, [cfg_a, cfg_b, cfg_skip], T1, batches=batches)
    assert set(out) == {"kosten", "personal"}
    assert out["kosten"].new_keys == 3
    assert out["personal"].new_keys == 2
    assert not wh.table_exists(cfg_skip.dim_table)
    assert wh.read(cfg_b.dim_table).count() == 2


def test_point_in_time_join_picks_single_valid_version(spark):
    """PIT join semantics on a hand-built two-version dimension:
    exactly one version per fact, NULLs before the first version and
    for absent keys, open-ended current version matches."""
    import datetime as dt

    from pyspark.sql import functions as F

    from lakehouse_poc_spark.operators.scd2 import point_in_time_join

    ts = dt.datetime
    dim = spark.createDataFrame(
        [
            (1, "v1", ts(2024, 1, 1), ts(2024, 1, 10)),
            (1, "v2", ts(2024, 1, 10), None),
            (2, "only", ts(2024, 1, 5), None),
        ],
        "k long, val string, valid_from timestamp, valid_to timestamp",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, ts(2024, 1, 2)),   # inside v1
            (101, 1, ts(2024, 1, 10)),  # boundary: v1 closed, v2 open
            (102, 1, ts(2023, 12, 31)), # before first version -> NULL
            (103, 2, ts(2024, 1, 6)),   # open-ended match
            (104, 3, ts(2024, 1, 6)),   # absent key -> NULL
        ],
        "fid long, k long, ts timestamp",
    )
    out = point_in_time_join(
        facts, dim, ["k"], "ts", "valid_from", "valid_to"
    )
    assert out.count() == 5  # no row multiplication
    got = {r.fid: r.val for r in out.collect()}
    assert got == {100: "v1", 101: "v2", 102: None, 103: "only", 104: None}


def test_bitemporal_correct_and_as_of(spark):
    """Bitemporal algebra: a retroactive correction closes the old
    belief (audit-preserved), re-inserts validity remainders, and
    both time axes slice correctly afterwards."""
    from lakehouse_poc_spark.operators.bitemporal import (
        as_of,
        bitemporal_correct,
    )

    dim = spark.createDataFrame(
        [(1, "GOLD", "1995-01-01", "9999-12-31", "2024-01-01 00:00:00", None),
         (2, "IRON", "1995-01-01", "9999-12-31", "2024-01-01 00:00:00", None)],
        "k long, seg string, valid_from string, valid_to string, "
        "tx_from string, tx_to string",
    ).selectExpr(
        "k", "seg",
        "CAST(valid_from AS DATE) AS valid_from",
        "CAST(valid_to AS DATE) AS valid_to",
        "CAST(tx_from AS TIMESTAMP) AS tx_from",
        "CAST(tx_to AS TIMESTAMP) AS tx_to",
    )
    corr = spark.createDataFrame(
        [(1, "FIXED", "2000-01-01", "2010-01-01")],
        "k long, seg string, valid_from string, valid_to string",
    ).selectExpr(
        "k", "seg",
        "CAST(valid_from AS DATE) AS valid_from",
        "CAST(valid_to AS DATE) AS valid_to",
    )
    out = bitemporal_correct(dim, corr, ["k"], "2024-06-01 00:00:00")
    rows = out.collect()
    assert len(rows) == 5  # untouched k=2, superseded, left, right, new

    # current belief at business date 2005: k=1 FIXED, k=2 IRON
    cur = {r.k: r.seg for r in as_of(out, "2005-06-15").collect()}
    assert cur == {1: "FIXED", 2: "IRON"}
    # belief about 2005 as known BEFORE the correction: k=1 still GOLD
    old = {
        r.k: r.seg
        for r in as_of(out, "2005-06-15", known_at="2024-03-01 00:00:00").collect()
    }
    assert old == {1: "GOLD", 2: "IRON"}
    # outside the corrected window, current belief keeps the old value
    edge = {r.k: r.seg for r in as_of(out, "1998-01-01").collect()}
    assert edge == {1: "GOLD", 2: "IRON"}
    # every (key, valid date, knowledge time) has exactly ONE row
    assert as_of(out, "2005-06-15").groupBy("k").count().filter(
        "count > 1"
    ).count() == 0


def test_scd3_prev_value_and_idempotent_reapply(spark, wh):
    """SCD3 keeps exactly one previous value; re-applying the same
    batch changes nothing (no-op upsert), and a THIRD change shifts
    prev to the second value (only one level of history — the Type 3
    contract)."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.operators.scd2 import scd3_upsert

    t = "dim.s3"
    b1 = spark.createDataFrame(
        [(1, "A"), (2, "B")], ["k", "seg"]
    )
    scd3_upsert(wh, t, b1, ["k"], "seg", "2024-01-01 00:00:00")
    b2 = spark.createDataFrame([(1, "X"), (3, "C")], ["k", "seg"])
    scd3_upsert(wh, t, b2, ["k"], "seg", "2024-01-02 00:00:00")
    rows = {r["k"]: r for r in wh.read(t).collect()}
    assert rows[1]["seg"] == "X" and rows[1]["seg_prev"] == "A"
    assert str(rows[1]["seg_changed_at"]).startswith("2024-01-02")
    assert rows[2]["seg"] == "B" and rows[2]["seg_prev"] is None
    assert rows[3]["seg"] == "C" and rows[3]["seg_prev"] is None
    # idempotent re-apply
    scd3_upsert(wh, t, b2, ["k"], "seg", "2024-01-03 00:00:00")
    r1 = {r["k"]: r for r in wh.read(t).collect()}[1]
    assert r1["seg_prev"] == "A"
    assert str(r1["seg_changed_at"]).startswith("2024-01-02")
    # third change: prev shifts, only one level kept
    b3 = spark.createDataFrame([(1, "Y")], ["k", "seg"])
    scd3_upsert(wh, t, b3, ["k"], "seg", "2024-01-04 00:00:00")
    r1 = {r["k"]: r for r in wh.read(t).collect()}[1]
    assert r1["seg"] == "Y" and r1["seg_prev"] == "X"
    assert str(r1["seg_changed_at"]).startswith("2024-01-04")


def test_scd3_null_key_rows_update_not_drop(spark, wh):
    """NULL keys match via eqNullSafe (presence markers, not key
    isNotNull): a NULL-keyed update lands instead of silently
    vanishing or inserting an all-NULL row (code-review r7)."""
    from pyspark.sql import functions as F  # noqa: F401

    from lakehouse_poc_spark.operators.scd2 import scd3_upsert

    t = "dim.s3null"
    b1 = spark.createDataFrame(
        [(None, "A"), ("k1", "B")], "k string, seg string"
    )
    scd3_upsert(wh, t, b1, ["k"], "seg", "2024-01-01 00:00:00")
    b2 = spark.createDataFrame([(None, "Z")], "k string, seg string")
    scd3_upsert(wh, t, b2, ["k"], "seg", "2024-01-02 00:00:00")
    rows = {r["k"]: r for r in wh.read(t).collect()}
    assert set(rows) == {None, "k1"}
    assert rows[None]["seg"] == "Z" and rows[None]["seg_prev"] == "A"
    assert str(rows[None]["seg_changed_at"]).startswith("2024-01-02")
    assert rows["k1"]["seg"] == "B" and rows["k1"]["seg_prev"] is None


# ---------------------------------------------------------------------------
# Write-side (MERGE-path) schema evolution — VERDICT r7 task 3.

EVO_CFG1 = PipelineConfig(
    name="evo",
    raw_table="layer0100.evo_raw",
    dim_table="layer0150.dim_evo",
    business_key=("k",),
    compare_columns=("a",),
)
EVO_CFG2 = PipelineConfig(
    name="evo",
    raw_table="layer0100.evo_raw",
    dim_table="layer0150.dim_evo",
    business_key=("k",),
    compare_columns=("a", "b"),
)


def _evo_batches(spark):
    b1 = spark.createDataFrame([("K1", "x"), ("K2", "y")], "k string, a string")
    b2 = spark.createDataFrame(
        [("K1", "x", "new"), ("K2", "y", None), ("K3", "z", "n3")],
        "k string, a string, b string",
    )
    return b1, b2


def test_scd2_evolve_widens_and_null_backfills(spark, wh):
    b1, b2 = _evo_batches(spark)
    scd2_merge(wh, EVO_CFG1, b1, T1)
    stats = scd2_merge(wh, EVO_CFG2, b2, T2, evolve=True)
    # K1: b NULL->'new' = changed; K2: b NULL vs NULL = unchanged; K3 new
    assert stats.as_dict() == {"unchanged": 1, "new_keys": 1, "updated_keys": 1}
    dim = wh.read(EVO_CFG2.dim_table)
    assert "b" in dim.columns
    rows = {(r["k"], r["is_current"]): r for r in dim.collect()}
    assert rows[("K1", False)]["b"] is None          # history null-backfill
    assert rows[("K1", True)]["b"] == "new"
    assert rows[("K2", True)]["b"] is None           # untouched, backfilled
    assert str(rows[("K2", True)]["valid_from"]).startswith("2030-01-01")
    assert rows[("K3", True)]["b"] == "n3"


def test_scd2_evolve_idempotent_reapply(spark, wh):
    b1, b2 = _evo_batches(spark)
    scd2_merge(wh, EVO_CFG1, b1, T1)
    scd2_merge(wh, EVO_CFG2, b2, T2, evolve=True)
    before = sorted(map(tuple, wh.read(EVO_CFG2.dim_table).collect()))
    stats = scd2_merge(wh, EVO_CFG2, b2, T3, evolve=True)
    assert stats.as_dict() == {"unchanged": 3, "new_keys": 0, "updated_keys": 0}
    after = sorted(map(tuple, wh.read(EVO_CFG2.dim_table).collect()))
    assert before == after


def test_scd2_evolve_false_fails_fast(spark, wh):
    b1, b2 = _evo_batches(spark)
    scd2_merge(wh, EVO_CFG1, b1, T1)
    with pytest.raises(ValueError, match=r"\['b'\].*evolve=True"):
        scd2_merge(wh, EVO_CFG2, b2, T2)
    # target untouched by the failed merge
    dim = wh.read(EVO_CFG1.dim_table)
    assert "b" not in dim.columns and dim.count() == 2


def test_scd2_evolve_on_manifest_warehouse(spark, tmp_path):
    """The evolution path rides apply_scd2_changeset's full-rewrite leg,
    which ManifestWarehouse overrides with an atomic manifest commit —
    prove the widened schema lands there too (and time travel still
    reads the PRE-evolution schema at v1)."""
    from lakehouse_poc_spark.sinks.warehouse import ManifestWarehouse

    mwh = ManifestWarehouse(spark, str(tmp_path / "mwh"))
    b1, b2 = _evo_batches(spark)
    scd2_merge(mwh, EVO_CFG1, b1, T1)
    v1 = mwh.current_version(EVO_CFG1.dim_table)
    scd2_merge(mwh, EVO_CFG2, b2, T2, evolve=True)
    dim = mwh.read(EVO_CFG2.dim_table)
    assert "b" in dim.columns
    assert dim.filter(F.col("is_current")).count() == 3
    old = mwh.read_version(EVO_CFG1.dim_table, v1)
    assert "b" not in old.columns


def test_scd4_current_plus_history(spark, wh):
    from lakehouse_poc_spark.operators.scd2 import scd4_upsert

    t = "dim.scd4"
    b1 = spark.createDataFrame(
        [("K1", "a"), ("K2", "b")], ["k", "attr"]
    )
    scd4_upsert(wh, t, b1, ["k"], "attr", "2024-01-01 00:00:00")
    cur = wh.read(t).toPandas().sort_values("k")
    assert list(cur["attr"]) == ["a", "b"]
    assert wh.read(f"{t}__hist").count() == 0

    # K1 changes, K2 unchanged, K3 new
    b2 = spark.createDataFrame(
        [("K1", "a2"), ("K2", "b"), ("K3", "c")], ["k", "attr"]
    )
    scd4_upsert(wh, t, b2, ["k"], "attr", "2024-01-02 00:00:00")
    cur = wh.read(t).toPandas().sort_values("k").reset_index(drop=True)
    assert list(cur["attr"]) == ["a2", "b", "c"]
    # loaded_at: changed + new rows stamped T2, unchanged keeps T1
    stamps = dict(zip(cur["k"], cur["loaded_at"].astype(str)))
    assert stamps["K1"].startswith("2024-01-02")
    assert stamps["K2"].startswith("2024-01-01")
    assert stamps["K3"].startswith("2024-01-02")
    hist = wh.read(f"{t}__hist").toPandas()
    assert len(hist) == 1
    assert hist.iloc[0]["k"] == "K1" and hist.iloc[0]["attr"] == "a"
    assert str(hist.iloc[0]["archived_at"]).startswith("2024-01-02")

    # idempotent replay: same batch again → no new history rows
    scd4_upsert(wh, t, b2, ["k"], "attr", "2024-01-03 00:00:00")
    assert wh.read(f"{t}__hist").count() == 1
    cur3 = wh.read(t).toPandas().sort_values("k").reset_index(drop=True)
    assert list(cur3["attr"]) == ["a2", "b", "c"]
    # unchanged rows keep their original load stamps on replay
    stamps3 = dict(zip(cur3["k"], cur3["loaded_at"].astype(str)))
    assert stamps3["K1"].startswith("2024-01-02")


def test_scd4_null_safe_change_detection(spark, wh):
    from lakehouse_poc_spark.operators.scd2 import scd4_upsert

    t = "dim.scd4n"
    b1 = spark.createDataFrame([("K1", None), ("K2", "x")], ["k", "attr"])
    scd4_upsert(wh, t, b1, ["k"], "attr", "2024-01-01 00:00:00")
    # NULL→value and value→NULL both count as changes
    b2 = spark.createDataFrame([("K1", "y"), ("K2", None)], ["k", "attr"])
    scd4_upsert(wh, t, b2, ["k"], "attr", "2024-01-02 00:00:00")
    hist = wh.read(f"{t}__hist").toPandas().sort_values("k")
    assert list(hist["k"]) == ["K1", "K2"]
    assert hist.iloc[0]["attr"] is None or pd.isna(hist.iloc[0]["attr"])
    assert hist.iloc[1]["attr"] == "x"


def test_scd6_history_with_type1_overlay(spark, wh):
    from lakehouse_poc_spark.operators.scd2 import scd6_upsert

    t = "dim.scd6"
    b1 = spark.createDataFrame([("K1", "a"), ("K2", "b")], ["k", "attr"])
    scd6_upsert(wh, t, b1, ["k"], "attr", "2024-01-01 00:00:00")
    # K1 changes twice, K3 arrives
    b2 = spark.createDataFrame([("K1", "a2"), ("K3", "c")], ["k", "attr"])
    scd6_upsert(wh, t, b2, ["k"], "attr", "2024-01-02 00:00:00")
    b3 = spark.createDataFrame([("K1", "a3")], ["k", "attr"])
    scd6_upsert(wh, t, b3, ["k"], "attr", "2024-01-03 00:00:00")
    out = (
        wh.read(t)
        .toPandas()
        .sort_values(["k", "valid_from"])
        .reset_index(drop=True)
    )
    k1 = out[out["k"] == "K1"]
    # full SCD2 history...
    assert list(k1["attr"]) == ["a", "a2", "a3"]
    assert list(k1["is_current"]) == [False, False, True]
    # ...and the type-1 overlay says TODAY'S value on every row
    assert list(k1["attr_current"]) == ["a3", "a3", "a3"]
    # closed rows chain: valid_to of row i == valid_from of row i+1
    assert list(k1["valid_to"].astype(str).str[:10]) == [
        "2024-01-02",
        "2024-01-03",
        "NaT",
    ]
    # untouched and unchanged keys: single open row, overlay == value
    k2 = out[out["k"] == "K2"]
    assert len(k2) == 1 and bool(k2.iloc[0]["is_current"])
    assert k2.iloc[0]["attr_current"] == "b"
    # idempotent replay: same batch again → nothing moves
    scd6_upsert(wh, t, b3, ["k"], "attr", "2024-01-04 00:00:00")
    out2 = wh.read(t).toPandas()
    assert len(out2) == len(out)
    assert (out2["k"] == "K1").sum() == 3
