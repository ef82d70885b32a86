"""CSV dialect ingest: the reference's exact dialect (sep=';', cp1252,
header, CRLF, German umlauts — reference "Mini-ETL-Pipeline in
Databricks.py":6-14) read distributed, end-to-end through the pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_poc_spark.config import PipelineConfig
from lakehouse_poc_spark.pipeline import run_pipeline
from lakehouse_poc_spark.sources.readers import CsvDialect, read_csv


def test_cp1252_semicolon_csv_pipeline(spark, wh, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    content = "Kostenstelle;Bezeichnung;Bereich\r\nK100;Frühstück;München\r\nK200;Büro;Köln\r\n"
    (src / "KOSTEN_2024.csv").write_bytes(content.encode("cp1252"))

    cfg = PipelineConfig(
        name="kosten",
        raw_table="l0.kosten_raw",
        dim_table="l1.dim_kosten",
        business_key=("Kostenstelle",),
        compare_columns=("Bezeichnung", "Bereich"),
        source_path=str(src / "KOSTEN_*.csv"),
        dialect=CsvDialect(sep=";", encoding="cp1252"),
    )
    stats = run_pipeline(spark, wh, cfg, "2030-01-01 00:00:00")
    assert stats.new_keys == 2
    dim = wh.read(cfg.dim_table).orderBy("Kostenstelle").collect()
    assert dim[0].Bezeichnung == "Frühstück"
    assert dim[1].Bereich == "Köln"
    # raw table carries lineage
    raw = wh.read(cfg.raw_table)
    assert raw.filter(F.col("IngestSource") == "blob-import").count() == 2


def test_csv_lands_as_strings_across_batches(spark, wh, tmp_path):
    """A numeric-looking key ("0815") must not fix the raw table's
    column type: the next batch's "KST9" lands in the same string
    column, and the leading zero survives."""
    src = tmp_path / "in"
    src.mkdir()

    def run(name, rows, run_ts):
        (src / name).write_bytes(
            ("Kostenstelle;Bezeichnung;Bereich\r\n" + rows).encode("cp1252")
        )
        cfg = PipelineConfig(
            name="kosten",
            raw_table="l0.kosten_raw",
            dim_table="l1.dim_kosten",
            business_key=("Kostenstelle",),
            compare_columns=("Bezeichnung", "Bereich"),
            source_path=str(src / name),
            dialect=CsvDialect(sep=";", encoding="cp1252"),
        )
        return run_pipeline(spark, wh, cfg, run_ts)

    assert run("KOSTEN_1.csv", "0815;Büro;Köln\r\n", "2030-01-01 00:00:00").new_keys == 1
    stats = run(
        "KOSTEN_2.csv", "KST9;Lager;Nord\r\n0815;Büro;Kiel\r\n", "2030-01-02 00:00:00"
    )
    assert stats.as_dict() == {"unchanged": 0, "new_keys": 1, "updated_keys": 1}
    raw = wh.read("l0.kosten_raw")
    assert dict(raw.dtypes)["Kostenstelle"] == "string"
    assert sorted(r.Kostenstelle for r in raw.collect()) == ["0815", "0815", "KST9"]
    current = wh.read("l1.dim_kosten").filter("is_current").orderBy("Kostenstelle")
    assert [(r.Kostenstelle, r.Bereich) for r in current.collect()] == [
        ("0815", "Kiel"), ("KST9", "Nord"),
    ]


def test_csv_glob_and_file_metadata(spark, tmp_path):
    d = tmp_path / "files"
    d.mkdir()
    (d / "A_1.csv").write_text("x;y\n1;a\n")
    (d / "A_2.csv").write_text("x;y\n2;b\n")
    (d / "B_1.csv").write_text("x;y\n3;c\n")
    df = read_csv(
        spark, str(d / "A_*.csv"), dialect=CsvDialect(sep=";", encoding="UTF-8"),
        with_file_metadata=True,
    )
    rows = df.orderBy("x").collect()
    assert [r.x for r in rows] == [1, 2]  # glob matched only A_*
    assert rows[0].source_file.endswith("A_1.csv")
    assert rows[0].source_mtime is not None


def test_multi_table_csv_fanout_mirrors_mini_etl(spark, wh, tmp_path):
    """The reference's Mini-ETL shape end-to-end: two pattern-matched
    CSV sources (KOSTEN_*/PERSONAL_*), one config-driven fan-out run,
    two SCD2 dimensions; a second run with one changed row closes and
    reinserts exactly that key."""
    from lakehouse_poc_spark.pipeline import run_many

    src = tmp_path / "blobs"
    src.mkdir()
    (src / "KOSTEN_2024.csv").write_bytes(
        "Kostenstelle;Bezeichnung;Bereich\r\nK1;Einkauf;Nord\r\nK2;Verkauf;Süd\r\n".encode("cp1252")
    )
    (src / "PERSONAL_2024.csv").write_bytes(
        "Personalnummer;Name;Abteilung\r\nP1;Müller;IT\r\n".encode("cp1252")
    )
    dialect = CsvDialect(sep=";", encoding="cp1252")
    def configs_for(kosten_glob, with_personal=True):
        # each run feeds only that run's new files (the reference's
        # blob-listing diff → conditional load, Mini-ETL:113-131)
        cfgs = [
            PipelineConfig(
                name="kosten", raw_table="l0.kosten", dim_table="l1.dim_kosten",
                business_key=("Kostenstelle",), compare_columns=("Bezeichnung", "Bereich"),
                source_path=str(src / kosten_glob), dialect=dialect,
            )
        ]
        if with_personal:
            cfgs.append(
                PipelineConfig(
                    name="personal", raw_table="l0.personal", dim_table="l1.dim_personal",
                    business_key=("Personalnummer",), compare_columns=("Name", "Abteilung"),
                    source_path=str(src / "PERSONAL_*.csv"), dialect=dialect,
                )
            )
        return cfgs

    out = run_many(spark, wh, configs_for("KOSTEN_2024.csv"), "2030-01-01 00:00:00")
    assert out["kosten"].new_keys == 2 and out["personal"].new_keys == 1

    # second batch: K2 moves to Bereich=West
    (src / "KOSTEN_2025.csv").write_bytes(
        "Kostenstelle;Bezeichnung;Bereich\r\nK1;Einkauf;Nord\r\nK2;Verkauf;West\r\n".encode("cp1252")
    )
    out2 = run_many(
        spark, wh, configs_for("KOSTEN_2025.csv", with_personal=False),
        "2030-02-01 00:00:00",
    )
    assert out2["kosten"].as_dict()["updated_keys"] == 1
    dim = wh.read("l1.dim_kosten")
    k2 = {(r.Bereich, r.is_current) for r in dim.filter("Kostenstelle = 'K2'").collect()}
    assert k2 == {("Süd", False), ("West", True)}


def test_cli_main_runs_config_driven_pipeline(tmp_path):
    """python -m lakehouse_poc_spark: JSON config → CSV → raw → SCD2 dim."""
    import json
    import io
    from contextlib import redirect_stdout

    from lakehouse_poc_spark.__main__ import main

    src = tmp_path / "kunden.csv"
    src.write_text("Kundennr;Name;Ort\n1;Alpha;Berlin\n2;Beta;Kiel\n")
    cfg = {
        "defaults": {"dialect": {"sep": ";", "encoding": "utf-8"}},
        "tables": [
            {
                "name": "kunden",
                "raw_table": "raw.kunden",
                "dim_table": "dim.kunden",
                "key_columns": ["Kundennr"],
                "compare_columns": ["Name", "Ort"],
                "source_path": str(src),
            }
        ],
    }
    cfg_path = tmp_path / "pipelines.json"
    cfg_path.write_text(json.dumps(cfg))

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            [
                "--config", str(cfg_path),
                "--warehouse", str(tmp_path / "wh"),
                "--run-ts", "2026-01-01 00:00:00",
                "--cpus", "4",
            ]
        )
    assert rc == 0
    stats = json.loads(buf.getvalue())
    assert stats == {
        "kunden": {"unchanged": 0, "new_keys": 2, "updated_keys": 0}
    }
    # dim table exists with both keys current
    from lakehouse_poc_spark.session import get_spark
    from lakehouse_poc_spark.sinks.warehouse import Warehouse

    wh = Warehouse(get_spark("t", cpus=4), str(tmp_path / "wh"))
    dim = wh.read("dim.kunden")
    assert dim.count() == 2
    assert dim.filter("is_current").count() == 2


def test_cli_main_yaml_multi_table_run(tmp_path):
    """python -m lakehouse_poc_spark with a YAML config: the
    defaults-merge multi-table shape, parsed via safe_load (reference
    pipeline_core.py:8-9 declares config-from-YAML; the CLI honors
    it). Two tables fan out in one run."""
    import io
    import json
    from contextlib import redirect_stdout

    from lakehouse_poc_spark.__main__ import main

    k = tmp_path / "kunden.csv"
    k.write_text("Kundennr;Name\n1;Alpha\n2;Beta\n")
    a = tmp_path / "artikel.csv"
    a.write_text("ArtNr;Bez\n10;Schraube\n")
    cfg_path = tmp_path / "pipelines.yaml"
    cfg_path.write_text(
        f"""\
defaults:
  dialect:
    sep: ";"
    encoding: utf-8
tables:
  - name: kunden
    raw_table: raw.kunden
    dim_table: dim.kunden
    key_columns: [Kundennr]
    compare_columns: [Name]
    source_path: {k}
  - name: artikel
    raw_table: raw.artikel
    dim_table: dim.artikel
    key_columns: [ArtNr]
    compare_columns: [Bez]
    source_path: {a}
"""
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            [
                "--config", str(cfg_path),
                "--warehouse", str(tmp_path / "wh"),
                "--run-ts", "2026-01-01 00:00:00",
                "--cpus", "4",
            ]
        )
    assert rc == 0
    stats = json.loads(buf.getvalue())
    assert stats == {
        "kunden": {"unchanged": 0, "new_keys": 2, "updated_keys": 0},
        "artikel": {"unchanged": 0, "new_keys": 1, "updated_keys": 0},
    }


def test_load_config_file_rejects_non_mapping(tmp_path):
    import pytest

    from lakehouse_poc_spark.__main__ import load_config_file

    bad = tmp_path / "bad.yaml"
    bad.write_text("- just\n- a\n- list\n")
    with pytest.raises(SystemExit, match="must be a mapping"):
        load_config_file(str(bad))
