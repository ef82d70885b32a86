"""Warehouse: managed-table emulation over parquet directories.

The reference's sink surface is ``saveAsTable`` on Delta managed tables
(K1 append raw — reference notebooks/pipeline_core.py:62-68, K2
overwrite init — :147-153, K3 append versions — :245-252) plus the
catalog existence check (M3, :138 — done there via the JVM-internal
``spark._jsparkSession``; we use only the filesystem/public API).

This container has no delta-spark, so managed tables are emulated as
parquet directories under a warehouse root. The interface is the
Delta-shaped one (append / overwrite / merge-by-rewrite), so swapping
in real Delta or Iceberg is a one-class change:

    At 100 TB you would NOT rewrite a dimension on every merge — you'd
    run a Delta/Iceberg MERGE that rewrites only matched files. The
    SCD2 engine (operators/scd2.py) therefore computes an explicit
    change-set first; `apply` is the only format-specific step.

Scale notes: raw tables should be partitioned by ingest date
(``partition_by=["ingest_date"]``) so time-bounded reprocessing prunes;
dimension tables stay unpartitioned (small relative to facts) or
bucketed by business key when they grow.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def zorder_value(x: "F.Column", y: "F.Column", bits: int = 16) -> "F.Column":
    """Morton (Z-order) interleave of two normalized integer rank
    columns (each already scaled into [0, 2**bits)): bit i of x lands
    at position 2i, bit i of y at 2i+1. Locality in BOTH dimensions
    maps to locality in the single z value, so range-clustering files
    on z gives two-dimensional file skipping — Delta OPTIMIZE ZORDER's
    core, as a pure expression."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def with_hilbert(
    df: "DataFrame",
    x: "F.Column",
    y: "F.Column",
    bits: int = 8,
    out: str = "__h",
) -> "DataFrame":
    """HILBERT curve index of two integer rank columns (each in
    [0, 2**bits)) — the locality-preserving alternative to Morton
    interleave: the Hilbert walk never jumps across the square, so
    axis-aligned box queries touch fewer, more contiguous index
    ranges than z-order's discontinuous seams. Standard top-down
    xy→d transform (the public Wikipedia/Hamilton formulation), ONE
    PROJECTION LAYER PER LEVEL via withColumn — a single nested
    expression would grow 4^bits nodes (each level references the
    previous x/y several times), while the layered form stays linear
    and Catalyst's CollapseProject leaves multi-referenced non-cheap
    columns uncollapsed. Pure JVM integer ops, no UDF."""
    d = df.withColumn("__hx", x.cast("long")).withColumn(
        "__hy", y.cast("long")
    ).withColumn(out, F.lit(0).cast("long"))
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        d = (
            d.withColumn(
                "__rx", F.shiftright("__hx", i).bitwiseAND(F.lit(1))
            )
            .withColumn(
                "__ry", F.shiftright("__hy", i).bitwiseAND(F.lit(1))
            )
            .withColumn(
                out,
                F.col(out)
                + F.lit(s * s)
                * (3 * F.col("__rx")).bitwiseXOR(F.col("__ry")),
            )
            # rotate the quadrant: ry==0 → (flip when rx==1), swap
            .withColumn(
                "__nx",
                F.when(
                    F.col("__ry") == 0,
                    F.when(
                        F.col("__rx") == 1, F.lit(s - 1) - F.col("__hy")
                    ).otherwise(F.col("__hy")),
                ).otherwise(F.col("__hx")),
            )
            .withColumn(
                "__ny",
                F.when(
                    F.col("__ry") == 0,
                    F.when(
                        F.col("__rx") == 1, F.lit(s - 1) - F.col("__hx")
                    ).otherwise(F.col("__hx")),
                ).otherwise(F.col("__hy")),
            )
            .withColumn("__hx", F.col("__nx"))
            .withColumn("__hy", F.col("__ny"))
        )
    return d.drop("__hx", "__hy", "__rx", "__ry", "__nx", "__ny")


def hilbert_sql(
    base_select: str, keep_cols: str, x: str, y: str, bits: int = 8
) -> str:
    """The SAME transform as :func:`with_hilbert`, rendered as chained
    ANSI-SQL subqueries (one per level — linear size, same reason as
    the layered DataFrame form) so a DuckDB oracle computes
    bit-identical indexes. ``keep_cols`` are carried through; the
    result exposes them plus ``hd`` (the Hilbert index)."""
    q = (
        f"SELECT {keep_cols}, CAST({x} AS BIGINT) AS hx, "
        f"CAST({y} AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd "
        f"FROM ({base_select})"
    )
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = f"((hx >> {i}) & 1)"
        ry = f"((hy >> {i}) & 1)"
        q = (
            f"SELECT {keep_cols}, "
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - hy ELSE hy END) ELSE hx END AS hx, "
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - hx ELSE hx END) ELSE hy END AS hy, "
            f"hd + {s * s} * xor(3 * {rx}, {ry}) AS hd "
            f"FROM ({q})"
        )
    return q


def delta_available() -> bool:
    """True when the delta-spark bindings are importable. This container
    ships without them; on a real cluster ``pip install delta-spark`` +
    the Delta catalog/extension confs light up the ``format="delta"``
    backend with no code change."""
    try:  # pragma: no cover - absent in the test container by design
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def iceberg_available(spark: SparkSession) -> bool:
    """True when the iceberg-spark-runtime JAR is on the session's
    classpath. Iceberg ships as a JVM-side JAR (no Python package), so
    availability is probed behaviorally: register a throwaway hadoop
    catalog and ask Spark to resolve it — resolution instantiates
    ``org.apache.iceberg.spark.SparkCatalog``, which throws when the
    JAR is absent. Public API only (conf + SQL), Connect-safe."""
    confs = {
        "spark.sql.catalog._iceberg_probe": (
            "org.apache.iceberg.spark.SparkCatalog"
        ),
        "spark.sql.catalog._iceberg_probe.type": "hadoop",
        "spark.sql.catalog._iceberg_probe.warehouse": "/tmp/_iceberg_probe_wh",
    }
    try:  # pragma: no cover - JAR absent in the test container by design
        for k, v in confs.items():
            spark.conf.set(k, v)
        spark.sql("SHOW NAMESPACES IN _iceberg_probe").collect()
        return True
    except Exception:
        return False
    finally:
        # don't leave the throwaway catalog registered — a later SHOW
        # CATALOGS / catalog listing would trip over it when the JAR
        # is absent
        for k in confs:
            try:  # pragma: no cover - unset unsupported on some builds
                spark.conf.unset(k)
            except Exception:
                pass


def _append_writer_options(fmt: str) -> dict[str, str]:
    """Per-format writer options for Warehouse.append. Delta appends
    carry ``mergeSchema=true`` so an evolved batch (scd2_merge
    ``evolve=True`` — a wider inserts schema) widens the table's log
    schema instead of failing; Delta ignores the option when schemas
    already match, and parquet-dir appends reconcile at read time via
    ``read(merge_schema=True)`` instead (writer-side mergeSchema is a
    Delta/Iceberg concept). Kept as a pure helper so the delta mock
    suite can assert the option without a DataFrameWriter intercept."""
    if fmt == "delta":
        return {"mergeSchema": "true"}
    return {}


class ConcurrentWriteError(RuntimeError):
    """Optimistic-concurrency conflict: the table advanced past the
    writer's snapshot version with commits the writer's operation
    cannot serialize after (Delta/Iceberg conflict-matrix semantics on
    the manifest backend)."""


class Warehouse:
    """``format="parquet"`` (default) emulates managed tables as parquet
    dirs with staged-swap rewrites. ``format="delta"`` (reference M1/M2:
    Delta ``saveAsTable`` + ``MERGE`` — pipeline_core.py:62-68,219-227)
    uses path-based Delta tables: ACID overwrites replace the staged
    swap and the SCD2 change-set feeds ``DeltaTable.merge``, rewriting
    only matched files instead of the whole dimension.

    ``format="iceberg"`` uses a per-warehouse Iceberg HADOOP catalog
    (``spark.sql.catalog.<name> = org.apache.iceberg.spark.
    SparkCatalog`` with ``warehouse=<root>``): tables are catalog
    identifiers (``<cat>.dim.kunden``), writes go through the
    DataFrameWriterV2 (``writeTo().append()/createOrReplace()``) and
    row-level maintenance through SQL ``MERGE INTO`` / ``DELETE FROM``
    — Iceberg's native transaction surface, so merges rewrite only the
    files holding matched keys and partition-aligned deletes are
    metadata-only. Same north-star as Delta (BASELINE "Delta/Iceberg");
    the two branches are deliberately parallel."""

    FORMATS = ("parquet", "delta", "iceberg")

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        format: str = "parquet",
        track_versions: bool = False,
    ):
        if format not in self.FORMATS:
            raise ValueError(f"format must be one of {self.FORMATS}, got {format!r}")
        if format == "delta" and not delta_available():
            raise ImportError(
                "format='delta' requires the delta-spark package (pip install "
                "delta-spark) and the Delta SQL extension/catalog session confs"
            )
        if format == "iceberg" and not iceberg_available(spark):
            raise ImportError(
                "format='iceberg' requires the iceberg-spark-runtime JAR on "
                "the session classpath (spark.jars.packages "
                "org.apache.iceberg:iceberg-spark-runtime-3.5_2.13:<ver>)"
            )
        self.spark = spark
        self.root = Path(root)
        self.format = format
        if format == "iceberg":
            # One hadoop catalog per warehouse root; the name is derived
            # from the root so two Warehouse instances over different
            # roots never collide in the session's catalog namespace.
            import hashlib

            digest = hashlib.md5(str(self.root).encode()).hexdigest()[:8]
            self.catalog = f"lh_ice_{digest}"
            spark.conf.set(
                f"spark.sql.catalog.{self.catalog}",
                "org.apache.iceberg.spark.SparkCatalog",
            )
            spark.conf.set(f"spark.sql.catalog.{self.catalog}.type", "hadoop")
            spark.conf.set(
                f"spark.sql.catalog.{self.catalog}.warehouse", str(self.root)
            )
        # Time travel: when True, every table REWRITE (overwrite /
        # overwrite_from_plan / SCD2 apply) archives the superseded
        # state under <table>__versions/v{n} instead of deleting it.
        # Delta tracks versions natively, so the flag is parquet-only.
        # Appends are not versioned: raw landing tables are
        # append-only logs whose history IS the table.
        self.track_versions = track_versions and format == "parquet"
        self.root.mkdir(parents=True, exist_ok=True)
        # per-thread reentrancy state for _writer_lock (a DML op that
        # holds the lock may call append/overwrite internally)
        import threading

        self._lock_depth = threading.local()

    def _data_files(self, table: str) -> list[Path]:
        """The table's LIVE data files. Directory-rooted backends glob;
        the manifest backend overrides this to resolve the committed
        manifest instead (superseded files may still be on disk)."""
        return list(self.path(table).glob("**/*.parquet"))

    def path(self, table: str) -> Path:
        # "layer0100.kosten_raw" → <root>/layer0100/kosten_raw
        return self.root.joinpath(*table.split("."))

    def _ice_id(self, table: str) -> str:
        """Catalog identifier for the iceberg backend:
        ``dim.kunden`` → ``<catalog>.`dim`.`kunden``` (parts quoted so
        reference-style table names survive SQL)."""
        parts = ".".join(f"`{p}`" for p in table.split("."))
        return f"{self.catalog}.{parts}"

    def _versions_dir(self, table: str) -> Path:
        p = self.path(table)
        return p.with_name(p.name + "__versions")

    def version(self, table: str) -> int:
        """Current version number: 0 for a freshly created table,
        +1 per archived rewrite (Delta-style monotone counter).
        Derived from the highest archived index — NOT the archive
        count — so vacuumed history never causes index reuse.
        Iceberg: the current snapshot id (its native version handle —
        what ``read_version``/``restore`` accept)."""
        if self.format == "iceberg":  # pragma: no cover - needs iceberg jar
            rows = self.spark.sql(
                f"SELECT snapshot_id FROM {self._ice_id(table)}.history "
                "ORDER BY made_current_at DESC LIMIT 1"
            ).collect()
            return int(rows[0][0]) if rows else 0
        vd = self._versions_dir(table)
        snaps = sorted(vd.glob("v*")) if vd.exists() else []
        return int(snaps[-1].name[1:]) + 1 if snaps else 0

    def history(self, table: str) -> list[dict]:
        """Version log, oldest first: archived snapshots plus the
        current state. Metadata only — nothing is read."""
        entries = []
        vd = self._versions_dir(table)
        if vd.exists():
            for d in sorted(vd.glob("v*")):
                entries.append(
                    {
                        "version": int(d.name[1:]),
                        "n_files": len(list(d.glob("**/*.parquet"))),
                        "current": False,
                    }
                )
        entries.append(
            {
                "version": self.version(table),
                "n_files": len(list(self.path(table).glob("**/*.parquet"))),
                "current": True,
            }
        )
        return entries

    def _archive_current(self, table: str) -> None:
        """Move the live table dir into the version archive (called by
        rewrite ops before installing the new state). Rename-only —
        no data is copied, so archiving is O(1) at any table size."""
        target = self.path(table)
        if not self.track_versions or not target.exists():
            return
        vd = self._versions_dir(table)
        vd.mkdir(parents=True, exist_ok=True)
        target.rename(vd / f"v{self.version(table):06d}")

    def read_version(self, table: str, version: int) -> DataFrame:
        """Time travel: read the table as of ``version``. The current
        version reads the live dir; earlier ones read the archive.
        (Delta: ``option("versionAsOf", n)``.)"""
        if self.format == "delta":  # pragma: no cover - needs delta-spark
            return (
                self.spark.read.format("delta")
                .option("versionAsOf", version)
                .load(str(self.path(table)))
            )
        if self.format == "iceberg":  # pragma: no cover - needs iceberg jar
            # Spark's time-travel option; for Iceberg the version is a
            # snapshot id (surface history() to enumerate them).
            return (
                self.spark.read.option("versionAsOf", version)
                .table(self._ice_id(table))
            )
        current = self.version(table)
        if version == current:
            return self.read(table)
        archived = self._versions_dir(table) / f"v{version:06d}"
        if not archived.exists():
            raise ValueError(
                f"version {version} of {table!r} not found "
                f"(current={current}; was the warehouse created with "
                f"track_versions=True, or did vacuum prune it?)"
            )
        return self.spark.read.parquet(str(archived))

    def table_changes(
        self, table: str, v_from: int, v_to: int, keys: list[str]
    ) -> DataFrame:
        """CDC between two versions, Delta Change-Data-Feed shaped:
        each difference row carries ``_change_type`` ∈ {insert, delete,
        update_preimage, update_postimage}. ``keys`` identify a row
        across versions; all other columns are change-compared
        null-safely.

        Plan shape: two anti-joins + one inner join, all on ``keys`` —
        a single shuffle key, so AQE plans them as one exchange reused
        three times. Nothing is driver-side; at 100 TB the cost is one
        co-partitioning of the two snapshots. (Delta: the change feed
        is read from the log instead — ``readChangeFeed`` — but the
        emitted schema here matches, so callers are portable.)"""
        if self.format == "delta":  # pragma: no cover - needs delta-spark
            return (
                self.spark.read.format("delta")
                .option("readChangeFeed", "true")
                .option("startingVersion", v_from)
                .option("endingVersion", v_to)
                .load(str(self.path(table)))
            )
        old = self.read_version(table, v_from)
        new = self.read_version(table, v_to)
        data_cols = [c for c in new.columns if c not in keys]
        inserts = new.join(old, keys, "left_anti").withColumn(
            "_change_type", F.lit("insert")
        )
        deletes = old.join(new, keys, "left_anti").withColumn(
            "_change_type", F.lit("delete")
        )
        o = old.alias("o")
        n = new.alias("n")
        changed = n.join(o, keys, "inner").filter(
            ~F.expr(
                " AND ".join(f"o.{c} <=> n.{c}" for c in data_cols)
            )
            if data_cols
            else F.lit(False)
        )
        pre = changed.select(
            *keys, *[F.col(f"o.{c}").alias(c) for c in data_cols]
        ).withColumn("_change_type", F.lit("update_preimage"))
        post = changed.select(
            *keys, *[F.col(f"n.{c}").alias(c) for c in data_cols]
        ).withColumn("_change_type", F.lit("update_postimage"))
        return inserts.unionByName(deletes).unionByName(pre).unionByName(post)

    def table_exists(self, table: str) -> bool:
        p = self.path(table)
        if self.format == "delta":  # pragma: no cover - needs delta-spark
            return (p / "_delta_log").exists()
        if self.format == "iceberg":  # pragma: no cover - needs iceberg jar
            return self.spark.catalog.tableExists(self._ice_id(table))
        if not p.exists():
            return False
        # recursive: partitioned tables nest their files under
        # <part>=<value>/ dirs with no root-level marker
        return (p / "_SUCCESS").exists() or any(p.glob("**/*.parquet"))

    def read(self, table: str, merge_schema: bool = False) -> DataFrame:
        """``merge_schema=True`` unions column sets across files —
        schema evolution on an append-only raw table (a batch landed
        with new columns reads back as the superset, old rows null).
        Delta resolves schema from its log, so the option is a no-op
        there."""
        if self.format == "iceberg":  # pragma: no cover - needs iceberg jar
            # merge_schema is a no-op: Iceberg resolves schema from
            # table metadata (same as Delta's log)
            return self.spark.table(self._ice_id(table))
        reader = self.spark.read.format(self.format)
        if merge_schema and self.format == "parquet":
            reader = reader.option("mergeSchema", "true")
        return reader.load(str(self.path(table)))

    def append(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        if self.format == "iceberg":  # pragma: no cover - needs iceberg jar
            ice = self._ice_id(table)
            if not self.table_exists(table):
                wt = df.writeTo(ice)
                if partition_by:
                    wt = wt.partitionedBy(*[F.col(c) for c in partition_by])
                wt.create()
            else:
                df.writeTo(ice).append()
            return
        w = df.write.format(self.format).mode("append")
        for k, v in _append_writer_options(self.format).items():
            w = w.option(k, v)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(str(self.path(table)))

    def overwrite(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        if self.format == "iceberg":  # pragma: no cover - needs iceberg jar
            # REPLACE TABLE AS SELECT: one transaction, schema/layout
            # changes included (no archive step — snapshots are native)
            wt = df.writeTo(self._ice_id(table))
            if partition_by:
                wt = wt.partitionedBy(*[F.col(c) for c in partition_by])
            wt.createOrReplace()
            return
        self._archive_current(table)
        if self.format == "parquet" and self._dv_active(table):
            # a full replace discards the old contents; stale
            # tombstones referencing vanished basenames must go too
            self.drop(self._dv_table(table))
        w = df.write.format(self.format).mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        if self.format == "delta":  # pragma: no cover - needs delta-spark
            # allow repartitioning/layout changes across overwrites
            w = w.option("overwriteSchema", "true")
        w.save(str(self.path(table)))

    def overwrite_from_plan(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> None:
        """Overwrite a table with a plan that READS the same table.

        A plain overwrite would clobber its own input mid-read; stage to
        a sibling dir then atomically swap (rename). Delta/Iceberg make
        this a transaction; this is the parquet-dir equivalent.
        """
        if self.format in ("delta", "iceberg"):  # pragma: no cover - needs jar
            # Delta/Iceberg overwrites are snapshot-isolated
            # transactions: the plan reads the pre-overwrite snapshot,
            # no staging needed.
            self.overwrite(df, table, partition_by=partition_by)
            return
        target = self.path(table)
        staged = target.with_name(target.name + "__staging")
        if staged.exists():
            shutil.rmtree(staged)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(staged))
        if self.track_versions:
            self._archive_current(table)
            staged.rename(target)
            return
        old = target.with_name(target.name + "__old")
        if old.exists():
            shutil.rmtree(old)
        if target.exists():
            target.rename(old)
        staged.rename(target)
        if old.exists():
            shutil.rmtree(old)

    def overwrite_partitions(
        self, df: DataFrame, table: str, partition_by: list[str]
    ) -> None:
        """Dynamic partition overwrite: replace ONLY the partition dirs
        present in ``df``, leaving all others untouched. The physical
        primitive behind incremental rollup maintenance — at 100 TB an
        hourly upsert rewrites a handful of day partitions, not the
        table. (Delta's ``replaceWhere``; parquet/delta use the
        datasource ``partitionOverwriteMode=dynamic`` form; Iceberg
        uses its native V2 ``overwritePartitions()`` — the V1 path
        save would bypass the catalog and corrupt table metadata.)"""
        if self.format == "iceberg":  # pragma: no cover - needs iceberg jar
            ident = self._ice_id(table)
            if not self.table_exists(table):
                df.writeTo(ident).partitionedBy(
                    *[F.col(c) for c in partition_by]
                ).create()
                return
            df.writeTo(ident).overwritePartitions()
            return
        (
            df.write.format(self.format)
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .save(str(self.path(table)))
        )

    def drop_partitions(
        self, table: str, partition_col: str, before: str | None = None,
        values: list[str] | None = None,
    ) -> int:
        """Retention/TTL primitive: delete whole partition dirs whose
        value is in ``values`` or lexicographically < ``before``
        (ISO dates sort correctly as strings). Metadata-only at any
        scale — no data files are read or rewritten, which is how
        retention must work at 100 TB (a DELETE that scans the table to
        drop old days is the anti-pattern). Delta's equivalent is a
        partition-predicate DELETE. Returns the number of partitions
        dropped."""
        if (before is None) == (values is None):
            raise ValueError("exactly one of before/values is required")
        if self.format in ("delta", "iceberg"):  # pragma: no cover - needs jar
            if values is not None:
                quoted = ", ".join(f"'{v}'" for v in values)
                pred = f"{partition_col} IN ({quoted})"
            else:
                pred = f"{partition_col} < '{before}'"
            n = len(values) if values is not None else -1
            if self.format == "iceberg":
                # partition-aligned DELETE FROM is metadata-only in
                # Iceberg (drops whole data files, no rewrite)
                self.spark.sql(
                    f"DELETE FROM {self._ice_id(table)} WHERE {pred}"
                )
                return n
            from delta.tables import DeltaTable

            dt = DeltaTable.forPath(self.spark, str(self.path(table)))
            dt.delete(pred)
            return n
        dropped = 0
        prefix = f"{partition_col}="
        for d in sorted(self.path(table).glob(f"{prefix}*")):
            if not d.is_dir():
                continue
            val = d.name[len(prefix):]
            if (values is not None and val in values) or (
                before is not None and val < before
            ):
                shutil.rmtree(d)
                dropped += 1
        return dropped

    def apply_scd2_changeset(
        self,
        table: str,
        keys: list[str],
        changed_keys: DataFrame,
        inserts: DataFrame,
        is_current_col: str,
        valid_to_col: str,
        run_ts,
        full_rewrite: DataFrame,
    ) -> None:
        """Format-specific final step of an SCD2 merge (the plans are
        built format-agnostically in operators/scd2.py).

        parquet: ``full_rewrite`` is the complete new table as one
        single-pass plan over the dimension; it is written through
        ``overwrite_from_plan`` (staged swap, or a manifest/log commit
        on the subclasses). ``changed_keys`` and ``inserts`` are not
        executed. scd2_merge reads its stats from an Observation on
        ``full_rewrite``, so an override of this method must execute
        that plan exactly when it writes it.

        delta: ``DeltaTable.merge`` closes the changed keys' open rows
        in place (rewriting only the files that hold them — the 100 TB
        path: a dimension merge touches MB, not the full table), then
        appends the new versions. Mirrors the reference's
        ``MERGE INTO``/Delta sink (pipeline_core.py:219-227,147-153)."""
        if self.format == "iceberg":  # pragma: no cover - needs iceberg jar
            # Same two-effect shape as the Delta branch, via Iceberg's
            # native MERGE INTO: close the open rows of changed keys
            # (files holding them are the only rewrites), then append
            # the new versions.
            cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
            cond += f" AND t.`{is_current_col}` = true"
            view = f"_scd2_changed_{abs(hash(table)) % 10**8}"
            changed_keys.createOrReplaceTempView(view)
            try:
                self.spark.sql(
                    f"MERGE INTO {self._ice_id(table)} t USING {view} s "
                    f"ON {cond} "
                    f"WHEN MATCHED THEN UPDATE SET "
                    f"t.`{is_current_col}` = false, "
                    f"t.`{valid_to_col}` = timestamp'{run_ts}'"
                )
            finally:
                self.spark.catalog.dropTempView(view)
            self.append(inserts, table)
            return
        if self.format == "delta":  # pragma: no cover - needs delta-spark
            from delta.tables import DeltaTable

            dt = DeltaTable.forPath(self.spark, str(self.path(table)))
            cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
            cond += f" AND t.{is_current_col} = true"
            (
                dt.alias("t")
                .merge(changed_keys.alias("s"), cond)
                .whenMatchedUpdate(
                    set={
                        is_current_col: F.lit(False),
                        valid_to_col: F.lit(run_ts).cast("timestamp"),
                    }
                )
                .execute()
            )
            self.append(inserts, table)
            return
        self.overwrite_from_plan(full_rewrite, table)

    def write_audit_publish(
        self,
        df: DataFrame,
        table: str,
        expectations: list,
        partition_by: list[str] | None = None,
        max_invalid: int = 0,
    ) -> dict:
        """Write-Audit-Publish: stage ``df`` to an unpublished branch
        dir, audit it with the expectations engine, and atomically
        publish (rename) only if at most ``max_invalid`` rows violate.
        On failure the staged branch is dropped and the live table is
        untouched — the Iceberg WAP / Delta staging pattern.

        The audit runs on the STAGED files (not the input plan), so
        what is validated is byte-for-byte what gets published.
        Returns {published, n_rows, n_invalid}.

        Parquet-dir mechanic only: staging plain parquet and
        rename-swapping over a Delta/Iceberg table directory would
        corrupt its transaction log/catalog metadata, so those formats
        fail fast — use Iceberg's native WAP (snapshot branch +
        ``cherrypick_snapshot``) or a Delta staging table there."""
        if self.format != "parquet":
            raise NotImplementedError(
                "write_audit_publish stages parquet files and "
                "rename-swaps directories — on "
                f"format={self.format!r} that bypasses the transaction "
                "log; use the native WAP mechanism instead"
            )
        from ..operators.quality import VIOLATIONS_COL, check

        target = self.path(table)
        branch = target.with_name(target.name + "__staging")
        if branch.exists():
            shutil.rmtree(branch)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(branch))
        staged = self.spark.read.parquet(str(branch))
        checked = check(staged, expectations)
        counts = checked.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col(VIOLATIONS_COL) != "", 1).otherwise(0)).alias(
                "bad"
            ),
        ).collect()[0]
        n_rows, n_invalid = int(counts["n"]), int(counts["bad"] or 0)
        if n_invalid > max_invalid:
            shutil.rmtree(branch)
            return {"published": False, "n_rows": n_rows, "n_invalid": n_invalid}
        self._archive_current(table)
        if target.exists():
            shutil.rmtree(target)
        branch.rename(target)
        return {"published": True, "n_rows": n_rows, "n_invalid": n_invalid}

    def publish_tables(
        self,
        frames: dict[str, DataFrame],
        expectations: dict[str, list] | None = None,
        max_invalid: int = 0,
    ) -> dict:
        """Multi-table Write-Audit-Publish: stage EVERY table, audit
        EVERY staged copy, and only when all pass swap them in —
        all-or-nothing across tables, so cross-table invariants (facts
        and their dimensions, a rollup and its source) never expose a
        half-published state to readers.

        Protocol: (1) stage all plans to ``__staging`` dirs; (2) audit
        each staged copy (byte-for-byte what publishes); any failure
        drops ALL staging and leaves every live table untouched;
        (3) swap each table (archive → rename); a mid-swap error rolls
        the already-swapped tables back from their version archive
        before re-raising, so readers see either the old set or the
        new set. (A cloud deployment would replace step 3 with a
        catalog-pointer commit — Delta/Iceberg transactions per table
        plus this same stage-all/check-all discipline across them.)

        Returns {published, tables: {name: {n_rows, n_invalid}}}.

        Parquet-dir mechanic only (same reason as
        :meth:`write_audit_publish`): Delta/Iceberg fail fast rather
        than have their table metadata rename-swapped away.
        """
        if self.format != "parquet":
            raise NotImplementedError(
                "publish_tables stages parquet files and rename-swaps "
                f"directories — on format={self.format!r} that "
                "bypasses the transaction log; use native per-table "
                "transactions plus a catalog-pointer commit instead"
            )
        from ..operators.quality import VIOLATIONS_COL, check

        expectations = expectations or {}
        staged: dict[str, Path] = {}
        report: dict[str, dict] = {}
        ok = False  # flipped only when every table stages AND audits
        try:
            for table, df in frames.items():
                target = self.path(table)
                branch = target.with_name(target.name + "__staging")
                if branch.exists():
                    shutil.rmtree(branch)
                df.write.mode("overwrite").parquet(str(branch))
                staged[table] = branch
            ok = True
            for table, branch in staged.items():
                back = self.spark.read.parquet(str(branch))
                exps = expectations.get(table, [])
                if exps:
                    checked = check(back, exps)
                    counts = checked.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(
                            F.when(F.col(VIOLATIONS_COL) != "", 1).otherwise(0)
                        ).alias("bad"),
                    ).collect()[0]
                    n_rows, n_invalid = int(counts["n"]), int(counts["bad"] or 0)
                else:
                    n_rows, n_invalid = back.count(), 0
                report[table] = {"n_rows": n_rows, "n_invalid": n_invalid}
                if n_invalid > max_invalid:
                    ok = False
            if not ok:
                return {"published": False, "tables": report}
        except BaseException:
            ok = False  # mid-staging/audit error: drop all staging too
            raise
        finally:
            if not ok:
                for branch in staged.values():
                    if branch.exists():
                        shutil.rmtree(branch)
        swapped: list[str] = []
        in_flight: str | None = None
        archived_to: Path | None = None
        try:
            for table, branch in staged.items():
                target = self.path(table)
                # Track the in-flight table and where its live dir was
                # archived: once _archive_current renames the live dir
                # away, a failure before branch.rename would otherwise
                # leave this table ABSENT (neither old nor new set) —
                # the mid-swap rollback must restore it too, not only
                # the tables already in `swapped`.
                in_flight = table
                pre_version = self.version(table)
                self._archive_current(table)
                archived_to = (
                    self._versions_dir(table) / f"v{pre_version:06d}"
                    if self.track_versions
                    else None
                )
                if target.exists():
                    shutil.rmtree(target)
                branch.rename(target)
                swapped.append(table)
                in_flight, archived_to = None, None
        except BaseException:
            # Roll the in-flight table back from its just-archived
            # snapshot (rename back — it was never replaced), then roll
            # already-swapped tables back to their archived version, so
            # the set stays consistent. Surface the original error.
            if in_flight is not None and archived_to is not None:
                target = self.path(in_flight)
                if archived_to.exists() and not target.exists():
                    archived_to.rename(target)
            for table in swapped:
                versions = self._versions_dir(table)
                prior = self.version(table) - 1
                # rollback needs track_versions (archives to copy back
                # from); without it this is best-effort only
                src = versions / f"v{prior:06d}"
                if src.exists():
                    target = self.path(table)
                    if target.exists():
                        shutil.rmtree(target)
                    shutil.copytree(src, target)
            raise
        return {"published": True, "tables": report}

    def delete_where(self, table: str, predicate) -> None:
        """DML DELETE: remove rows matching ``predicate`` (a Column or
        SQL string). Parquet emulation rewrites the table keeping the
        complement (staged swap, versioned when tracking); Delta issues
        a native DELETE that rewrites only files containing matches —
        the 100 TB path, where a keyed delete touches MB not the table.
        Completes the DML triad: append (INSERT), SCD2/merge (UPDATE),
        delete_where (DELETE).

        SQL DELETE semantics: a row is deleted iff the predicate is
        TRUE; FALSE *and NULL* rows survive (Delta/Iceberg DELETE
        behave this way natively). The parquet rewrite therefore keeps
        the null-safe complement ``NOT coalesce(pred, false)`` — a
        plain ``~pred`` would silently drop NULL-predicate rows."""
        if self.format == "iceberg":  # pragma: no cover - needs iceberg jar
            if not isinstance(predicate, str):
                raise ValueError(
                    "iceberg delete_where takes a SQL-string predicate "
                    "(DELETE FROM is issued as SQL)"
                )
            self.spark.sql(
                f"DELETE FROM {self._ice_id(table)} WHERE {predicate}"
            )
            return
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        if self.format == "delta":  # pragma: no cover - needs delta-spark
            from delta.tables import DeltaTable

            DeltaTable.forPath(self.spark, str(self.path(table))).delete(pred)
            return
        self._dv_cow_guard(table)
        self.overwrite_from_plan(
            self.read(table).filter(~F.coalesce(pred, F.lit(False))), table
        )

    def upsert(self, batch: DataFrame, table: str, keys: list[str]) -> None:
        """SCD1 merge (last-write-wins, no history): batch rows replace
        current rows on matching keys; unmatched batch rows insert.
        ``batch`` must be unique per key (pre-dedup with dedup_latest
        when it isn't — same contract as Delta's MERGE, which throws on
        multiple source matches).

        parquet: anti-join keeps the untouched current rows, then one
        staged-swap rewrite — the fallback cost is a key-partitioned
        co-shuffle of (current, batch), batch side broadcast when
        small. Delta: a native ``whenMatchedUpdateAll /
        whenNotMatchedInsertAll`` MERGE, rewriting only files holding
        matched keys — the 100 TB path (an hourly dim upsert touches
        MB, not the dimension). Mirrors the reference's MERGE INTO
        sink shape (pipeline_core.py:219-227) minus history tracking.
        """
        if not self.table_exists(table):
            self.overwrite(batch, table)
            return
        self._dv_cow_guard(table)
        if self.format == "iceberg":  # pragma: no cover - needs iceberg jar
            cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
            view = f"_upsert_src_{abs(hash(table)) % 10**8}"
            batch.createOrReplaceTempView(view)
            try:
                self.spark.sql(
                    f"MERGE INTO {self._ice_id(table)} t USING {view} s "
                    f"ON {cond} "
                    "WHEN MATCHED THEN UPDATE SET * "
                    "WHEN NOT MATCHED THEN INSERT *"
                )
            finally:
                self.spark.catalog.dropTempView(view)
            return
        if self.format == "delta":  # pragma: no cover - needs delta-spark
            from delta.tables import DeltaTable

            dt = DeltaTable.forPath(self.spark, str(self.path(table)))
            cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
            (
                dt.alias("t")
                .merge(batch.alias("s"), cond)
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
            return
        current = self.read(table)
        kept = current.join(batch.select(*keys), keys, "left_anti")
        self.overwrite_from_plan(kept.unionByName(batch), table)

    def merge_ops(
        self,
        batch: DataFrame,
        table: str,
        keys: list[str],
        op_col: str = "_op",
    ) -> dict:
        """The FULL three-clause MERGE surface (Delta/Iceberg
        ``MERGE INTO``, conditional form — the shape a CDC apply
        feeds):

            WHEN MATCHED AND s.{op_col} = 'D'   THEN DELETE
            WHEN MATCHED                        THEN UPDATE SET <cols>
            WHEN NOT MATCHED AND s.{op_col} <> 'D' THEN INSERT <cols>

        A delete for an absent key is a no-op (CDC replays are safe);
        ``batch`` must be key-unique (Delta's multiple-source-match
        error is the alternative). Returns
        ``{"deleted": n, "updated": n, "inserted": n}`` computed in
        ONE action (the reference counted each effect separately).

        parquet: matched rows (both clauses) leave via one anti-join,
        then updates+inserts append in the same staged-swap rewrite —
        the fallback cost is one key co-shuffle. Delta/Iceberg: the
        native conditional MERGE rewrites only matched files."""
        data_cols = [c for c in batch.columns if c != op_col]
        if not self.table_exists(table):
            init = batch.filter(F.col(op_col) != "D").select(*data_cols)
            self.overwrite(init, table)
            return {"deleted": 0, "updated": 0, "inserted": init.count()}
        cur_keys = self.read(table).select(*keys).withColumn(
            "__m", F.lit(True)
        )
        flagged = batch.join(cur_keys, keys, "left").select(
            F.coalesce(F.col("__m"), F.lit(False)).alias("__m"),
            (F.col(op_col) == "D").alias("__d"),
        )
        c = flagged.agg(
            F.sum(F.when(F.col("__m") & F.col("__d"), 1).otherwise(0)).alias("del_"),
            F.sum(F.when(F.col("__m") & ~F.col("__d"), 1).otherwise(0)).alias("upd"),
            F.sum(F.when(~F.col("__m") & ~F.col("__d"), 1).otherwise(0)).alias("ins"),
        ).collect()[0]
        stats = {
            "deleted": int(c["del_"] or 0),
            "updated": int(c["upd"] or 0),
            "inserted": int(c["ins"] or 0),
        }
        if self.format == "iceberg":  # pragma: no cover - needs iceberg jar
            cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
            set_sql = ", ".join(f"t.`{c}` = s.`{c}`" for c in data_cols)
            ins_cols = ", ".join(f"`{c}`" for c in data_cols)
            ins_vals = ", ".join(f"s.`{c}`" for c in data_cols)
            view = f"_merge_ops_{abs(hash(table)) % 10**8}"
            batch.createOrReplaceTempView(view)
            try:
                self.spark.sql(
                    f"MERGE INTO {self._ice_id(table)} t USING {view} s "
                    f"ON {cond} "
                    f"WHEN MATCHED AND s.`{op_col}` = 'D' THEN DELETE "
                    f"WHEN MATCHED THEN UPDATE SET {set_sql} "
                    f"WHEN NOT MATCHED AND s.`{op_col}` <> 'D' "
                    f"THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
                )
            finally:
                self.spark.catalog.dropTempView(view)
            return stats
        if self.format == "delta":  # pragma: no cover - needs delta-spark
            from delta.tables import DeltaTable

            dt = DeltaTable.forPath(self.spark, str(self.path(table)))
            cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
            (
                dt.alias("t")
                .merge(batch.alias("s"), cond)
                .whenMatchedDelete(condition=f"s.{op_col} = 'D'")
                .whenMatchedUpdate(
                    set={c: f"s.{c}" for c in data_cols}
                )
                .whenNotMatchedInsert(
                    condition=f"s.{op_col} <> 'D'",
                    values={c: f"s.{c}" for c in data_cols},
                )
                .execute()
            )
            return stats
        self._dv_cow_guard(table)
        current = self.read(table)
        kept = current.join(batch.select(*keys), keys, "left_anti")
        incoming = batch.filter(F.col(op_col) != "D").select(*data_cols)
        self.overwrite_from_plan(kept.unionByName(incoming), table)
        return stats

    @contextlib.contextmanager
    def _writer_lock(self, table: str, timeout: float = 120.0, ttl: float = 900.0):
        """Advisory per-table writer lock for the parquet-dir DML
        mechanics: an atomic ``mkdir`` next to the table dir (POSIX
        mkdir is create-exclusive, so exactly one contender wins).
        Closes the multi-writer window of ``upsert_file_pruned`` /
        ``delete_where_file_pruned``: two concurrent upserts could both
        list the same touched file, both rewrite it from their own
        snapshot, and the second move would silently drop the first
        writer's rows. With the lock, writers serialize; readers are
        never blocked (they keep the documented move→unlink duplicate
        window instead).

        A crashed holder is recovered by age: a lock older than ``ttl``
        seconds is presumed dead. Breakers serialize through a
        break-mutex (its own create-exclusive mkdir) and re-verify
        staleness while holding it, then rename the stale dir to a
        unique tombstone and delete it — a fresh holder's lock can
        never be renamed away, and everyone re-races through mkdir
        afterwards. Release verifies
        ownership: each acquire writes a unique token into the owner
        file and only removes the lock if the token still matches, so
        a slow-but-alive holder whose lock was ttl-broken cannot
        delete the NEW holder's lock on its way out. This is the
        filesystem analogue of what a Delta/Iceberg transactional
        manifest provides natively — on those formats ``upsert()`` is
        already safe and this lock is not used. Driver-side only:
        lock acquisition is a metadata op, never per-row."""
        import uuid

        # Reentrant per (instance, thread, table): a DML op holding the
        # lock may call append/overwrite internally (the manifest
        # backend locks those too) — re-entry is a no-op, not a
        # self-deadlock. Cross-instance/-process exclusion still goes
        # through the mkdir below.
        held: dict[str, int] = getattr(self._lock_depth, "held", None) or {}
        self._lock_depth.held = held
        if held.get(table, 0) > 0:
            held[table] += 1
            try:
                yield
            finally:
                held[table] -= 1
            return

        lock = self.path(table).with_name(self.path(table).name + "__lock")
        lock.parent.mkdir(parents=True, exist_ok=True)
        token = f"{os.getpid()}:{uuid.uuid4().hex}"
        deadline = time.monotonic() + timeout
        while True:
            try:
                lock.mkdir()
                (lock / "owner").write_text(token)
                break
            except FileExistsError:
                try:
                    age = time.time() - lock.stat().st_mtime
                except OSError:
                    continue  # holder released between mkdir and stat
                if age > ttl:
                    # Presumed-dead holder. Breaking must never touch a
                    # FRESH lock, so breakers serialize through a
                    # dedicated break-mutex (mkdir, create-exclusive)
                    # and RE-verify staleness while holding it: only
                    # the break-mutex holder may remove the lock dir,
                    # and a normal acquirer can only mkdir once it is
                    # removed — so between the re-stat and the rename
                    # no one can swap in a live lock (the pre-fix
                    # verify-AFTER-rename let a breaker rename a fresh
                    # holder's lock away while a third contender
                    # mkdir'd: two inside). The break-mutex critical
                    # section is a handful of syscalls, so its own
                    # crash-recovery ttl is short; that recovery rmtree
                    # is the residual (syscall-length) window of a
                    # filesystem lock, documented.
                    brk = lock.with_name(lock.name + ".break")
                    try:
                        brk.mkdir()
                    except FileExistsError:
                        try:
                            b_age = time.time() - brk.stat().st_mtime
                        except OSError:
                            continue  # breaker just finished
                        if b_age > 60.0:  # crashed breaker
                            shutil.rmtree(brk, ignore_errors=True)
                        time.sleep(0.05)
                        continue
                    try:
                        try:
                            cur_age = time.time() - lock.stat().st_mtime
                        except OSError:
                            continue  # released meanwhile: re-race
                        if cur_age <= ttl:
                            continue  # fresh holder now: wait normally
                        tomb = lock.with_name(
                            lock.name + f".tomb.{uuid.uuid4().hex[:12]}"
                        )
                        try:
                            lock.rename(tomb)
                        except OSError:
                            continue
                        shutil.rmtree(tomb, ignore_errors=True)
                    finally:
                        shutil.rmtree(brk, ignore_errors=True)
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"writer lock on {table!r} held for {age:.0f}s "
                        f"(< ttl {ttl:.0f}s); gave up after {timeout:.0f}s"
                    )
                time.sleep(0.05)
        held[table] = 1
        try:
            yield
        finally:
            held[table] = 0
            # release only what we still own (owner token unchanged)
            try:
                if (lock / "owner").read_text() == token:
                    shutil.rmtree(lock, ignore_errors=True)
            except OSError:
                pass  # lock was ttl-broken by a contender: not ours

    def upsert_file_pruned(
        self, batch: DataFrame, table: str, keys: list[str]
    ) -> dict:
        """SCD1 merge that rewrites ONLY the parquet files containing
        matched keys — the Delta MERGE file-pruning mechanic expressed
        on a plain parquet directory. Same result contract as
        :meth:`upsert`; radically different write amplification: a
        batch whose keys cluster into k of N files rewrites k files
        plus one insert file, not the table. On a key-clustered layout
        (``compact(cluster_by=keys)``) k ≈ batch key range / file key
        range; on a random layout every file matches and this degrades
        to the full rewrite — measure with the returned stats.

        Protocol: (1) semi-join current×batch on keys over
        ``_metadata.file_path`` to list touched files (metadata-sized
        collect — file paths, not rows); (2) write replacement data
        (touched-file survivors + the whole batch) to a staging dir;
        (3) move replacement files in under job-unique names; (4)
        unlink the touched files. The (3)→(4) window shows duplicate
        key versions to concurrent readers; crash inside it leaves
        them until the next upsert or ``vacuum`` (the leftover
        ``__upsert__staging`` marks it — vacuum() sweeps it). Delta/Iceberg close exactly
        this window with a transactional manifest — on those formats
        use :meth:`upsert`, which is already native. Concurrent
        *writers* serialize on the per-table advisory lock
        (:meth:`_writer_lock`); the duplicate window applies to
        concurrent readers only.

        Returns {files_total, files_rewritten, rows_inserted_or_updated}.
        """
        if self.format != "parquet":
            raise ValueError(
                "upsert_file_pruned is the parquet-dir mechanic; "
                "delta/iceberg upsert() is already file-pruned natively"
            )
        self._dv_cow_guard(table)
        with self._writer_lock(table):
            return self._upsert_file_pruned(batch, table, keys)

    def _upsert_file_pruned(
        self, batch: DataFrame, table: str, keys: list[str]
    ) -> dict:
        if not self.table_exists(table):
            self.overwrite(batch, table)
            n = batch.count()
            return {
                "files_total": len(self._data_files(table)),
                "files_rewritten": 0,
                "rows_inserted_or_updated": n,
            }
        target = self.path(table)
        if any("=" in d.name for d in target.iterdir() if d.is_dir()):
            raise ValueError(
                "upsert_file_pruned does not support hive-partitioned "
                "layouts (moved replacement files would lose their "
                "partition-column values) — use overwrite_partitions "
                "for partition-scoped rewrites"
            )
        files_total = len(self._data_files(table))
        cur = self.read(table).withColumn("_f", F.col("_metadata.file_path"))
        key_df = batch.select(*keys).dropDuplicates()
        touched = [
            r["_f"]
            for r in cur.join(F.broadcast(key_df), keys, "left_semi")
            .select("_f")
            .distinct()
            .collect()
        ]
        n_batch = batch.count()
        if not touched:  # pure insert: nothing to rewrite
            self.append(batch, table)
            return {
                "files_total": files_total,
                "files_rewritten": 0,
                "rows_inserted_or_updated": n_batch,
            }
        survivors = (
            cur.filter(F.col("_f").isin(touched))
            .drop("_f")
            .join(batch.select(*keys), keys, "left_anti")
        )
        self._replace_files(table, touched, survivors.unionByName(batch))
        self.refresh_bloom_index(table)  # only changed files rebuild
        return {
            "files_total": files_total,
            "files_rewritten": len(touched),
            "rows_inserted_or_updated": n_batch,
        }

    def delete_where_file_pruned(self, table: str, predicate) -> dict:
        """DML DELETE that rewrites only the parquet files containing
        matching rows — the file-pruned twin of :meth:`delete_where`
        (which rewrites the whole table on parquet). Same layout
        contract, staging protocol, and crash window as
        :meth:`upsert_file_pruned`; on a layout clustered by the
        predicate columns a keyed delete touches k files, not N.
        Returns {files_total, files_rewritten, rows_deleted}."""
        if self.format != "parquet":
            raise ValueError(
                "delete_where_file_pruned is the parquet-dir mechanic; "
                "delta/iceberg delete_where() is already file-pruned"
            )
        self._dv_cow_guard(table)
        with self._writer_lock(table):
            return self._delete_where_file_pruned(table, predicate)

    def _delete_where_file_pruned(self, table: str, predicate) -> dict:
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        target = self.path(table)
        if any("=" in d.name for d in target.iterdir() if d.is_dir()):
            raise ValueError(
                "delete_where_file_pruned does not support "
                "hive-partitioned layouts — use drop_partitions for "
                "partition-aligned retention"
            )
        files_total = len(self._data_files(table))
        cur = self.read(table).withColumn("_f", F.col("_metadata.file_path"))
        matches = cur.filter(pred)
        touched_rows = (
            matches.groupBy("_f").agg(F.count(F.lit(1)).alias("_n")).collect()
        )
        touched = [r["_f"] for r in touched_rows]
        n_deleted = int(sum(r["_n"] for r in touched_rows))
        if touched:
            # Null-safe complement: only pred==TRUE rows are deleted;
            # NULL-predicate rows in touched files must survive the
            # rewrite (matching SQL DELETE and the Delta/Iceberg
            # branches — a plain ~pred drops them uncounted).
            survivors = (
                cur.filter(F.col("_f").isin(touched))
                .filter(~F.coalesce(pred, F.lit(False)))
                .drop("_f")
            )
            self._replace_files(table, touched, survivors)
            self.refresh_bloom_index(table)
        return {
            "files_total": files_total,
            "files_rewritten": len(touched),
            "rows_deleted": n_deleted,
        }

    def _replace_files(
        self, table: str, touched: list[str], replacement: DataFrame
    ) -> None:
        """Swap a file subset: stage ``replacement``, move its parts in
        under job-unique names, unlink the ``touched`` originals. The
        move→unlink window shows duplicates to concurrent readers
        (documented in upsert_file_pruned); callers hold the per-table
        writer lock, so writer/writer races cannot lose rows."""
        import uuid

        target = self.path(table)
        staging = target.with_name(target.name + "__upsert__staging")
        if staging.exists():
            shutil.rmtree(staging)
        replacement.write.parquet(str(staging))
        job = uuid.uuid4().hex[:12]
        for i, part in enumerate(sorted(staging.glob("*.parquet"))):
            part.rename(target / f"part-{i:05d}-{job}.parquet")
        # local paths may carry a file:// scheme in _metadata
        for f in touched:
            p = Path(f.removeprefix("file://").removeprefix("file:"))
            if p.exists():
                p.unlink()
        shutil.rmtree(staging, ignore_errors=True)

    # -- merge-on-read deletion vectors ---------------------------------
    # The Iceberg-v2 positional-delete / Delta deletion-vector mechanic
    # on plain parquet: DELETE appends (file, row position) tombstones
    # to a side table instead of rewriting data files; readers anti-join
    # the vector (AQE broadcasts it while small — see _mor_base for why
    # the hint is deliberately NOT forced); compaction purges. The write cost of
    # a delete becomes O(matches), independent of file sizes — the
    # merge-on-read half of the CoW/MOR tradeoff
    # (delete_where_file_pruned is the copy-on-write half).

    def _dv_table(self, table: str) -> str:
        return f"_dv.{table}"

    def delete_where_dv(self, table: str, predicate) -> dict:
        """Merge-on-read DELETE: append the matching rows' (file,
        row_index) positions to the deletion-vector side table; data
        files are untouched. Matches are evaluated against the MOR
        view (already-deleted rows can't match again), NULL-predicate
        rows survive (SQL DELETE semantics), and only pred==TRUE rows
        count in ``rows_deleted``. Returns {rows_deleted, dv_rows}."""
        if self.format != "parquet":
            raise ValueError(
                "delete_where_dv is the parquet-dir mechanic; "
                "delta/iceberg deletes are natively file-pruned"
            )
        self._dv_layout_guard(table)
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        with self._writer_lock(table):
            matches = self._mor_base(table).filter(
                F.coalesce(pred, F.lit(False))
            )
            return self._dv_append(table, matches)

    def delete_keys_dv(
        self, table: str, keys_df: "DataFrame", keys: list[str]
    ) -> dict:
        """Merge-on-read DELETE by key set: tombstone every row whose
        ``keys`` columns match a row of ``keys_df`` — the CDC-feed
        form of :meth:`delete_where_dv`, expressed as a distributed
        semi-join so the key batch never visits the driver (no IN
        list). Same guards, same stats."""
        if self.format != "parquet":
            raise ValueError(
                "delete_keys_dv is the parquet-dir mechanic; "
                "delta/iceberg deletes are natively file-pruned"
            )
        self._dv_layout_guard(table)
        with self._writer_lock(table):
            matches = self._mor_base(table).join(
                keys_df.select(*keys).distinct(), keys, "left_semi"
            )
            return self._dv_append(table, matches)

    def _dv_append(self, table: str, matches: "DataFrame") -> dict:
        """Materialize ``matches``' positions once and append them as
        tombstones; shared tail of the two MOR delete forms. Caller
        holds the writer lock."""
        new_dv = matches.select(
            F.col("__dv_file").alias("file"),
            F.col("__dv_pos").alias("pos"),
        ).localCheckpoint(eager=True)
        n = new_dv.count()
        if n:
            self.append(new_dv, self._dv_table(table))
        dv_rows = (
            self.read(self._dv_table(table)).count()
            if self.table_exists(self._dv_table(table))
            else 0
        )
        return {"rows_deleted": n, "dv_rows": dv_rows}

    def _dv_layout_guard(self, table: str) -> None:
        """Deletion vectors key on file BASENAME + row position, which
        is only unique in the flat single-dir layout — partitioned
        layouts reuse basenames across partition dirs. Same guard as
        the file-pruned CoW ops."""
        target = self.path(table)
        if target.exists() and any(
            "=" in d.name for d in target.iterdir() if d.is_dir()
        ):
            raise ValueError(
                "deletion vectors do not support hive-partitioned "
                "layouts (file basenames repeat across partition "
                "dirs) — use delete_where / drop_partitions"
            )

    def _dv_active(self, table: str) -> bool:
        # deletion vectors are a parquet-dir mechanic only; the
        # delta/iceberg branches delete natively and must not probe
        # the catalog for a _dv side table
        if self.format != "parquet":
            return False
        return self.table_exists(self._dv_table(table))

    def _dv_cow_guard(self, table: str) -> None:
        """Copy-on-write DML rewrites/unlinks data files by name; an
        active deletion vector would dangle (tombstoned basenames
        disappear) and deleted rows would resurrect through the
        rewrite. Force an explicit compact_purge_dv first."""
        if self._dv_active(table):
            raise ValueError(
                f"{table} has an active deletion vector "
                f"({self._dv_table(table)}); run compact_purge_dv() "
                "before copy-on-write DML — mixing MOR tombstones "
                "with file rewrites would resurrect deleted rows"
            )

    def _mor_base(self, table: str) -> DataFrame:
        """The MOR view WITH its positional columns still attached:
        live rows = all rows anti-joined against the deletion vector
        on (file basename, row position)."""
        cur = self.read(table).select(
            "*",
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("__dv_file"),
            F.col("_metadata.row_index").alias("__dv_pos"),
        )
        if not self.table_exists(self._dv_table(table)):
            return cur
        dv = self.read(self._dv_table(table)).select(
            F.col("file").alias("__dv_file"), F.col("pos").alias("__dv_pos")
        ).distinct()
        # no explicit broadcast hint: AQE broadcasts a small vector
        # automatically, while a pathologically large one (mass
        # delete nobody purged) falls back to a shuffled anti-join
        # instead of OOMing the driver
        return cur.join(dv, ["__dv_file", "__dv_pos"], "left_anti")

    def read_mor(self, table: str) -> DataFrame:
        """Merge-on-read scan: the table minus its deletion vector —
        row-identical to what the copy-on-write delete would have left.
        The vector is positions only (16 bytes/tombstone); AQE
        broadcasts it while small and shuffles the anti-join if a
        mass delete grew it. At production scale the anti-join is
        pushed into the scan per file (each task filters its own
        file's positions), which this per-file-keyed join shape
        already expresses."""
        self._dv_layout_guard(table)
        return self._mor_base(table).drop("__dv_file", "__dv_pos")

    def compact_purge_dv(self, table: str) -> dict:
        """MOR → CoW compaction: rewrite ONLY the files that carry
        tombstones (dropping deleted rows), then clear the deletion
        vector. Untouched files stay bit-identical. Returns
        {files_rewritten, rows_purged}."""
        if not self.table_exists(self._dv_table(table)):
            return {"files_rewritten": 0, "rows_purged": 0}
        self._dv_layout_guard(table)
        with self._writer_lock(table):
            dv = self.read(self._dv_table(table)).select(
                F.col("file").alias("__dv_file"), F.col("pos").alias("__dv_pos")
            ).distinct()
            n_purge = dv.count()
            dv_files = [
                r["__dv_file"]
                for r in dv.select("__dv_file").distinct().collect()
            ]
            # same positional construction + anti-join as every MOR
            # read (_mor_base), narrowed to the tombstoned files
            survivors = (
                self._mor_base(table)
                .filter(F.col("__dv_file").isin(dv_files))
                .drop("__dv_file", "__dv_pos")
            )
            touched = [
                str(self.path(table) / f)
                for f in dv_files
                if (self.path(table) / f).exists()
            ]
            if len(touched) != len(dv_files):
                missing = sorted(set(dv_files) - {Path(t).name for t in touched})
                raise ValueError(
                    f"{table}: deletion vector references data files "
                    f"not in the table dir ({missing[:3]}…) — layout "
                    "changed underneath the vector; cannot purge safely"
                )
            self._replace_files(table, touched, survivors)
            self.drop(self._dv_table(table))
            self.refresh_bloom_index(table)
            return {"files_rewritten": len(touched), "rows_purged": int(n_purge)}

    # -- persisted per-file Bloom index (point-lookup file skipping) ----
    # SCALE.md §6.3: the in-flight build_file_bloom index, promoted to
    # a maintained side table — the Delta bloom-filter-index mechanic.
    # Safety invariant: bloom_lookup treats live-but-unindexed files
    # as "maybe contains" and always reads them, so a stale index can
    # only cost extra file reads, NEVER a false negative. The
    # file-pruned DML ops and compact() refresh the index
    # incrementally (only changed files rebuild).

    def _bloom_table(self, table: str) -> str:
        return f"_bloom.{table}"

    def _bloom_rows(
        self, files: list[str], key_col: str, m_bits: int, k: int
    ) -> DataFrame:
        base = self.spark.read.parquet(*files).select(
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("file"),
            # hash the canonical STRING rendering (type-stable probes)
            F.col(key_col).cast("string").alias("__k"),
        )
        pos = F.array(
            *[
                F.pmod(F.xxhash64("__k", F.lit(i)), F.lit(m_bits)).cast("int")
                for i in range(k)
            ]
        )
        built = (
            base.select("file", F.explode(pos).alias("p"))
            .groupBy("file")
            .agg(F.array_sort(F.collect_set("p")).alias("bits"))
        )
        # a ZERO-ROW data file contributes no agg group — give it an
        # explicit empty-bits row so the index stays 1:1 with the live
        # file set (empty bits admit nothing: correct, the file holds
        # no keys); the name list is manifest-sized metadata
        names_df = self.spark.createDataFrame(
            [(Path(f).name,) for f in files], "file string"
        )
        return names_df.join(built, "file", "left").select(
            "file",
            F.coalesce("bits", F.array().cast("array<int>")).alias("bits"),
            F.lit(key_col).alias("key_col"),
            F.lit(int(m_bits)).alias("m_bits"),
            F.lit(int(k)).alias("k"),
        )

    def build_bloom_index(
        self, table: str, key_col: str, m_bits: int = 65536, k: int = 3
    ) -> int:
        """Build and persist the per-file Bloom index of ``table`` on
        ``key_col`` as the ``_bloom.<table>`` side table (one row per
        live data file: basename, sorted set-bit positions, and the
        build parameters). Built distributedly — explode k probe
        positions, one file-keyed agg; no driver-side footer loop.
        Flat (unpartitioned) layouts only, matching the file-pruned
        DML contract. Returns the number of files indexed."""
        if self.format != "parquet":
            raise ValueError(
                "the persisted bloom index is the parquet-dir "
                "mechanic; Delta has a native bloom filter index"
            )
        files = [str(p) for p in self._data_files(table)]
        if not files:
            raise ValueError(f"table {table!r} has no data files to index")
        self.overwrite(
            self._bloom_rows(files, key_col, m_bits, k),
            self._bloom_table(table),
        )
        return len(files)

    def refresh_bloom_index(self, table: str) -> dict | None:
        """Incrementally reconcile the bloom index with the live file
        set: drop rows of files no longer live, build rows for live
        files not yet indexed (cost ∝ changed files, the Delta
        index-maintenance shape). No-op (None) when the table has no
        index. File lists are manifest-sized metadata — the same
        driver-side scale as any table-format planner."""
        bt = self._bloom_table(table)
        if not self.table_exists(bt):
            return None
        idx = self.read(bt)
        # ONE metadata collect (r11): cfg and the indexed-file set ride
        # the same tiny scan — the index has one row per data file, so
        # splitting this into a limit(1) collect plus a second full
        # collect paid an extra Spark job for nothing.
        meta = idx.select("file", "key_col", "m_bits", "k").collect()
        if not meta:
            return None
        key_col = meta[0]["key_col"]
        m_bits, k = int(meta[0]["m_bits"]), int(meta[0]["k"])
        live = {p.name: p for p in self._data_files(table)}
        indexed = {r["file"] for r in meta}
        removed = sorted(indexed - set(live))
        added = sorted(n for n in live if n not in indexed)
        if not removed and not added:
            return {
                "files_added": 0,
                "files_removed": 0,
                "files_total": len(live),
            }
        keep_names = self.spark.createDataFrame(
            [(n,) for n in sorted(set(live) & indexed)] or [("",)],
            "file string",
        )
        kept = idx.join(keep_names, "file", "left_semi")
        out = kept
        if added:
            out = kept.unionByName(
                self._bloom_rows(
                    [str(live[n]) for n in added], key_col, m_bits, k
                )
            )
        self.overwrite_from_plan(out, bt)
        return {
            "files_added": len(added),
            "files_removed": len(removed),
            "files_total": len(live),
        }

    def bloom_lookup(self, table: str, key_col: str, value) -> DataFrame:
        """Point lookup ``key_col = value`` through the persisted
        bloom index: read indexed files only when their bloom admits
        all probe positions, PLUS every live file the index has not
        seen yet (a stale index costs reads, never results). Result
        is identical to the full-scan filter."""
        bt = self._bloom_table(table)
        # ONE collect of the whole index (r11): it is metadata-sized
        # (one row per data file; set-bit positions, not data), and the
        # old shape paid three separate Spark jobs per lookup — cfg
        # limit(1), the admitted filter, the indexed-file list — on a
        # table this small the per-job scheduling floor dominated the
        # lookup. The membership test (all k probe positions present)
        # moves to driver-side set ops on the same rows; the probe
        # positions still come from the one-row engine-hash job
        # (xxhash64 must match build-time bit positions exactly).
        rows = self.read(bt).collect()
        if not rows or rows[0]["key_col"] != key_col:
            raise ValueError(
                f"bloom index of {table!r} is not built on {key_col!r} "
                f"(indexed: {rows[0]['key_col'] if rows else None!r})"
            )
        m_bits, k = int(rows[0]["m_bits"]), int(rows[0]["k"])
        from ..operators.filestats import bloom_probe_positions

        probes = set(bloom_probe_positions(self.spark, value, m_bits, k))
        admitted = {r["file"] for r in rows if probes <= set(r["bits"])}
        indexed = {r["file"] for r in rows}
        live = {p.name: p for p in self._data_files(table)}
        to_read = [
            str(p)
            for n, p in sorted(live.items())
            if n in admitted or n not in indexed  # unindexed ⇒ maybe
        ]
        if not to_read:
            any_live = sorted(live.values())
            if not any_live:
                raise ValueError(f"table {table!r} has no data files")
            return (
                self.spark.read.parquet(str(any_live[0]))
                .filter(F.lit(False))
                .filter(F.col(key_col) == value)
            )
        return self.spark.read.parquet(*to_read).filter(
            F.col(key_col) == value
        )

    # -- idempotent-writer transaction registry -------------------------
    # The parquet emulation of Delta's txnAppId/txnVersion: a writer
    # identifies itself with an app id and records each applied batch
    # id; re-delivered batches (lost/rebuilt streaming checkpoint, job
    # retry) are detected and skipped. On Delta the registry rides the
    # same commit as the data (transactional); here it is written
    # AFTER the data apply, so the one non-atomic window is crash
    # *between* apply and record — a re-delivery then re-applies that
    # single batch (at-least-once), which the SCD2 merge absorbs
    # (content-idempotent) and a rollup would double-count; Delta
    # closes exactly that window. Standard caveat applies to both:
    # batch ids must be deterministic (same source → same batches).

    def _txn_table(self, app_id: str) -> str:
        return f"_txn.{app_id}"

    def txn_applied(self, app_id: str, batch_id: int) -> bool:
        """Has (app_id, batch_id) already been committed?"""
        t = self._txn_table(app_id)
        if not self.table_exists(t):
            return False
        return (
            self.read(t).filter(F.col("batch_id") == int(batch_id)).limit(1).count()
            > 0
        )

    def txn_commit(self, app_id: str, batch_id: int) -> None:
        """Record (app_id, batch_id) as applied."""
        row = self.spark.createDataFrame(
            [(int(batch_id),)], "batch_id long"
        )
        self.append(row, self._txn_table(app_id))

    def vacuum(self, retain_versions: int | None = None) -> int:
        """Remove leftover ``__staging``/``__old`` dirs that a crash
        between the write and the swap in ``overwrite_from_plan`` can
        strand (the parquet-emulation analogue of ``VACUUM``; Delta's
        own vacuum handles its tombstoned files). Safe at any time: live
        tables never have these suffixes.

        ``retain_versions=n`` additionally prunes archived time-travel
        snapshots, keeping only the newest ``n`` (metadata-only dir
        removals — the retention knob every versioned table needs
        before the archive outgrows the table). Returns dirs removed."""
        removed = 0
        for d in self.root.glob("**/*__staging"):
            if d.is_dir():
                shutil.rmtree(d)
                removed += 1
        # job-unique manifest staging dirs (crashed mid-stage): only
        # sweep ones past the writer-lock ttl — a young one may be an
        # in-flight stage about to move its parts in
        for d in self.root.glob("**/*__staging.*"):
            if d.is_dir() and time.time() - d.stat().st_mtime > 900.0:
                shutil.rmtree(d)
                removed += 1
        for d in self.root.glob("**/*__old"):
            if d.is_dir():
                shutil.rmtree(d)
                removed += 1
        # stale writer locks (crashed holder): same ttl the lock's own
        # stale-breaker uses; younger locks may be live — leave them
        for d in self.root.glob("**/*__lock"):
            if d.is_dir() and time.time() - d.stat().st_mtime > 900.0:
                shutil.rmtree(d)
                removed += 1
        # lock-break tombstones stranded by a crash between the claim
        # rename and the rmtree (_writer_lock's stale-break path):
        # already-claimed, never live — safe to sweep at any age
        for d in self.root.glob("**/*__lock.tomb.*"):
            if d.is_dir():
                shutil.rmtree(d)
                removed += 1
        if retain_versions is not None:
            for vd in self.root.glob("**/*__versions"):
                snaps = sorted(vd.glob("v*"))
                for d in snaps[: max(0, len(snaps) - retain_versions)]:
                    shutil.rmtree(d)
                    removed += 1
        return removed

    def drop(self, table: str) -> None:
        """DROP TABLE. Iceberg goes through the catalog (``DROP TABLE
        ... PURGE`` — an rmtree of the table dir would strand the
        catalog's metadata pointer); parquet and path-based Delta are
        directory-rooted, so removing the directory IS the drop."""
        if self.format == "iceberg":  # pragma: no cover - needs iceberg jar
            self.spark.sql(f"DROP TABLE IF EXISTS {self._ice_id(table)} PURGE")
            return
        p = self.path(table)
        if p.exists():
            shutil.rmtree(p)
        vd = self._versions_dir(table)
        if vd.exists():
            shutil.rmtree(vd)

    def restore(self, table: str, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF — roll the live table
        back to an archived snapshot. The restore itself is a NEW
        version (the current state archives first, Delta semantics:
        restore is an undoable, history-preserving operation, not a
        rewind). File-copy only — no Spark job, no data decode.
        Returns the new current version number."""
        if self.format == "iceberg":  # pragma: no cover - needs iceberg jar
            # native, history-preserving rollback (version = snapshot id)
            ns_tbl = ".".join(self._ice_id(table).split(".")[1:])
            self.spark.sql(
                f"CALL {self.catalog}.system.rollback_to_snapshot"
                f"('{ns_tbl}', {int(version)})"
            )
            return self.version(table)
        if not self.track_versions:
            raise ValueError("restore requires track_versions=True")
        src = self._versions_dir(table) / f"v{version:06d}"
        if not src.exists():
            raise ValueError(
                f"version {version} of {table} not in archive (vacuumed?)"
            )
        target = self.path(table)
        self._archive_current(table)
        if target.exists():
            shutil.rmtree(target)
        shutil.copytree(src, target)
        return self.version(table)

    def compact(
        self,
        table: str,
        target_files: int | None = None,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        zorder_by: tuple[str, str] | None = None,
        target_file_bytes: int | None = None,
    ) -> int:
        """Small-file compaction: rewrite the table into
        ``target_files`` files per partition (atomic staged swap). The
        lakehouse maintenance op every append-only raw table needs — at
        100 TB streaming/micro-batch ingest produces thousands of small
        files per day and scan cost is dominated by file-open overhead
        until compaction (Delta's OPTIMIZE; this is the parquet-dir
        form). Counts files recursively and carries ``partition_by``
        through the rewrite so a partitioned table keeps its layout
        (and its pruning) instead of being silently flattened (ADVICE
        r1). Returns the number of data files before compaction.

        ``cluster_by`` additionally range-partitions and sorts the
        rewrite on the given columns (Delta OPTIMIZE ZORDER's
        single-dimension cousin): each output file then covers a
        narrow value range, so parquet row-group min/max statistics
        skip whole files for selective filters on those columns — at
        100 TB, clustering the fact table on its hottest filter column
        turns full scans into a handful of file reads.

        Pass ``target_file_bytes`` instead of ``target_files`` to size
        by bytes (OPTIMIZE's actual knob — e.g. 128 MB targets):
        target_files = ceil(current on-disk bytes / target), from a
        metadata-only directory stat. Bytes are COMPRESSED parquet
        bytes, so the rewrite lands near the target regardless of row
        width; exactly one of the two knobs must be given.

        Iceberg routes to the native ``rewrite_data_files`` procedure
        (file counts and sizing from the ``.files`` metadata table —
        a directory glob would count every snapshot's files); Delta
        would use ``OPTIMIZE``, unimplemented here."""
        self._dv_cow_guard(table)
        if self.format == "iceberg":  # pragma: no cover - needs iceberg jar
            if cluster_by or zorder_by or partition_by:
                raise NotImplementedError(
                    "iceberg compact supports plain bin-packing only; "
                    "use rewrite_data_files(strategy => 'sort') for "
                    "clustered layouts"
                )
            before_ice = self.spark.sql(
                f"SELECT count(*) AS n FROM {self._ice_id(table)}.files"
            ).collect()[0]["n"]
            ns_tbl = ".".join(self._ice_id(table).split(".")[1:])
            opts = ""
            if target_file_bytes is not None:
                opts = (
                    ", options => map('target-file-size-bytes', "
                    f"'{int(target_file_bytes)}')"
                )
            self.spark.sql(
                f"CALL {self.catalog}.system.rewrite_data_files"
                f"(table => '{ns_tbl}'{opts})"
            )
            return int(before_ice)
        if self.format == "delta":  # pragma: no cover - needs delta-spark
            raise NotImplementedError(
                "delta compact is native OPTIMIZE "
                "(DeltaTable.optimize().executeCompaction()); the "
                "parquet-dir glob/rewrite mechanic does not apply"
            )
        data_files = self._data_files(table)
        before = len(data_files)
        if (target_files is None) == (target_file_bytes is None):
            raise ValueError(
                "exactly one of target_files/target_file_bytes is required"
            )
        if target_file_bytes is not None:
            total = sum(f.stat().st_size for f in data_files)
            target_files = max(1, -(-total // int(target_file_bytes)))
        df = self.read(table, merge_schema=True)
        if zorder_by:
            if partition_by or cluster_by:
                raise ValueError("zorder_by excludes partition_by/cluster_by")
            cx, cy = zorder_by
            # min/max → 16-bit rank space (one tiny agg, driver-side
            # literals), then Morton interleave; cluster files on z
            lo_hi = df.agg(
                F.min(cx).cast("double"), F.max(cx).cast("double"),
                F.min(cy).cast("double"), F.max(cy).cast("double"),
            ).collect()[0]
            x0, x1, y0, y1 = (float(v) for v in lo_hi)
            sx = 65535.0 / ((x1 - x0) or 1.0)
            sy = 65535.0 / ((y1 - y0) or 1.0)
            z = zorder_value(
                ((F.col(cx).cast("double") - F.lit(x0)) * F.lit(sx)).cast("long"),
                ((F.col(cy).cast("double") - F.lit(y0)) * F.lit(sy)).cast("long"),
            )
            df = (
                df.withColumn("__z", z)
                .repartitionByRange(target_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            self.overwrite_from_plan(df, table, partition_by=None)
            self.refresh_bloom_index(table)
            return before
        if cluster_by:
            if partition_by:
                raise ValueError(
                    "cluster_by and partition_by are mutually exclusive; "
                    "cluster within partitions is not implemented"
                )
            df = df.repartitionByRange(
                target_files, *[F.col(c) for c in cluster_by]
            ).sortWithinPartitions(*cluster_by)
            self.overwrite_from_plan(df, table, partition_by=None)
            self.refresh_bloom_index(table)
            return before
        if partition_by:
            if target_files <= 1:
                # one task per partition value -> exactly one file per dir
                df = df.repartition(*partition_by)
            else:
                # Repartitioning on the partition columns ALONE sends every
                # row of a partition value to one task (1 giant file + one
                # skewed writer per value, ADVICE r2). Add a deterministic
                # row salt in [0, target_files) so each value spreads over
                # ~target_files writer tasks, each emitting one file into
                # the value's dir. The partition number must be explicit:
                # AQE would otherwise coalesce the small salted shuffle
                # back into one task, silently restoring the skew. Range
                # partitioning keeps (value, salt) combos in distinct
                # tasks instead of hash-colliding them.
                n_values = df.select(*partition_by).distinct().count()
                salt = F.pmod(
                    F.xxhash64(*[F.col(c) for c in df.columns]),
                    F.lit(target_files),
                )
                df = df.repartitionByRange(
                    max(1, n_values) * target_files,
                    *[F.col(c) for c in partition_by],
                    salt,
                )
        else:
            df = df.coalesce(target_files)
        self.overwrite_from_plan(df, table, partition_by=partition_by)
        self.refresh_bloom_index(table)
        return before


class ManifestWarehouse(Warehouse):
    """Parquet warehouse with a VERSIONED FILE MANIFEST commit — the
    minimal transaction-log mechanic (VERDICT r6 task 2) that makes
    every table state change atomic to concurrent readers, closing
    the one semantic gap the plain parquet backend had vs the
    reference's real Delta MERGE (pipeline_core.py:219-227).

    Protocol (Delta/Iceberg's core idea on plain parquet):

    - the live state of a table is the FILE LIST in the newest
      manifest (``<table>__manifest/m{N}.json``), not the directory
      listing;
    - writers stage new parquet files INTO the table directory under
      job-unique names (invisible — readers resolve the manifest, not
      the glob), then commit by writing manifest N+1 via
      write-tmp + atomic single-file rename;
    - superseded files are never unlinked at commit time; a reader
      that resolved manifest N keeps a consistent snapshot until
      ``vacuum(retain_versions=k)`` sweeps files unreferenced by the
      kept manifests — exactly Delta's tombstone-retention model;
    - old manifests ARE time travel: ``read_version(t, n)`` reads
      manifest n's file list (no copytree archive), ``restore``
      re-commits an old list as a NEW version (history-preserving),
      and ``write_audit_publish`` stages + audits uncommitted files
      and publishes by committing — the Iceberg WAP mechanic for free.

    Consequences for concurrency: ``upsert_file_pruned`` /
    ``delete_where_file_pruned`` lose their move→unlink duplicate
    window entirely (a concurrent reader sees either the old or the
    new manifest, each internally consistent); writers still
    serialize on the per-table advisory lock.

    Scope: unpartitioned tables (hive-style dir partitioning trades
    against file-list reads; Delta/Iceberg put partition values in
    the log — at that point, use them). Partitioned writes,
    ``overwrite_partitions`` and ``drop_partitions`` raise.
    """

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, root, format="parquet", track_versions=False)

    # -- manifest mechanics ---------------------------------------------

    def _manifest_dir(self, table: str) -> Path:
        p = self.path(table)
        return p.with_name(p.name + "__manifest")

    def _manifests(self, table: str) -> list[Path]:
        md = self._manifest_dir(table)
        return sorted(md.glob("m*.json")) if md.exists() else []

    def _latest(self, table: str) -> dict | None:
        import json

        ms = self._manifests(table)
        if not ms:
            return None
        return json.loads(ms[-1].read_text())

    def _live_names(self, table: str) -> list[str]:
        m = self._latest(table)
        if m is None:
            raise ValueError(
                f"table {table!r} has no committed manifest "
                "(never written, or not a manifest-mode table)"
            )
        return list(m["files"])

    def _commit(
        self,
        table: str,
        names: list[str],
        op: str,
        expected_base: int | None = None,
        new_parts: dict[str, dict] | None = None,
    ) -> int:
        """Write manifest version N+1 (atomic tmp→rename). Callers
        hold the per-table writer lock; the rename is the commit
        point — a reader listing the manifest dir sees either N or
        N+1, never a partial file.

        Partition values live IN THE LOG (Iceberg/Delta style): the
        body's ``parts`` map records, per file, the partition spec
        and values it was written under (see
        :meth:`append_partitioned`). Carried-over files inherit their
        entry from the previous manifest automatically, so every
        existing commit path (replace_files, WAP, compaction)
        preserves pruning metadata without knowing it exists; files
        with no entry are simply never pruned (unknown-safe).
        ``new_parts`` supplies entries for freshly staged names (and
        lets restore/clone carry metadata across manifests/tables).

        ``expected_base`` enables optimistic concurrency (the Delta
        conflict check): the writer names the version its work was
        based on; if the table has advanced since, the commit FAILS
        with :class:`ConcurrentWriteError` — except that an append
        may serialize after intervening appends (append∥append is
        the one always-compatible cell of the conflict matrix, and
        the append path re-reads the live list under the lock, so
        the rebase is literal, not assumed)."""
        import json
        import uuid

        md = self._manifest_dir(table)
        md.mkdir(parents=True, exist_ok=True)
        prev = self._latest(table)
        version = (prev["version"] + 1) if prev is not None else 0
        if expected_base is not None:
            latest_v = version - 1
            if latest_v != expected_base:
                intervening = [
                    json.loads(m.read_text())["op"]
                    for m in self._manifests(table)
                    if int(m.stem[1:]) > expected_base
                ]
                if not (op == "append" and set(intervening) <= {"append"}):
                    raise ConcurrentWriteError(
                        f"{table}: snapshot v{expected_base} is stale — "
                        f"table is at v{latest_v} with intervening ops "
                        f"{intervening}; {op!r} cannot serialize after "
                        "them (re-read and retry)"
                    )
        parts: dict[str, dict] = {}
        if prev is not None:
            parts.update(prev.get("parts") or {})
        if new_parts:
            parts.update(new_parts)
        parts = {n: parts[n] for n in names if n in parts}
        body = {
            "version": version,
            "op": op,
            "files": sorted(names),
            "ts": time.time(),
        }
        if parts:
            body["parts"] = parts
        tmp = md / f".m{version:06d}.{uuid.uuid4().hex[:8]}.tmp"
        tmp.write_text(json.dumps(body))
        # Tombstone clock (r8): files leaving the live set get their
        # mtime FRESHENED at the commit that drops them, so "file age"
        # under vacuum's min_age guard means time-since-UNREFERENCED
        # (Delta's deletionTimestamp retention), not time-since-
        # creation. Without this, an old file carried live across many
        # manifests and then dropped would be vacuum-eligible the
        # moment it left the live set, dangling any reader that
        # resolved a pre-drop manifest moments earlier. Freshening
        # happens BEFORE the rename commit point: a crash in between
        # leaves still-referenced files merely looking young — vacuum
        # is delayed, never early.
        if prev is not None:
            now = time.time()
            dropped = set(prev["files"]) - set(names)
            tdir = self.path(table)
            for n in dropped:
                f = tdir / n
                if f.exists():
                    os.utime(f, (now, now))
        tmp.rename(md / f"m{version:06d}.json")
        return version

    def _stage_in(self, df: DataFrame, table: str) -> list[str]:
        """Write ``df`` to a JOB-UNIQUE staging dir, move the parts
        into the table dir under job-unique names, return the names.
        The files are INVISIBLE until a manifest commit references
        them. Staging dirs are never shared, so concurrent stagings
        (publish_tables stages before taking per-table locks) cannot
        rmtree or interleave with each other — only the manifest
        COMMIT needs the writer lock."""
        import uuid

        job = uuid.uuid4().hex[:12]
        target = self.path(table)
        target.mkdir(parents=True, exist_ok=True)
        staging = target.with_name(f"{target.name}__staging.{job}")
        df.write.parquet(str(staging))
        names: list[str] = []
        for i, part in enumerate(sorted(staging.glob("*.parquet"))):
            name = f"part-{i:05d}-{job}.parquet"
            part.rename(target / name)
            names.append(name)
        shutil.rmtree(staging, ignore_errors=True)
        return names

    # -- reads ----------------------------------------------------------

    def _data_files(self, table: str) -> list[Path]:
        return [self.path(table) / n for n in self._live_names(table)]

    def table_exists(self, table: str) -> bool:
        return bool(self._manifests(table))

    def read(self, table: str, merge_schema: bool = False) -> DataFrame:
        files = [str(p) for p in self._data_files(table)]
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*files)

    def version(self, table: str) -> int:
        m = self._latest(table)
        return m["version"] if m is not None else 0

    def read_version(self, table: str, version: int) -> DataFrame:
        import json

        mf = self._manifest_dir(table) / f"m{version:06d}.json"
        if not mf.exists():
            raise ValueError(
                f"version {version} of {table!r} not found "
                f"(current={self.version(table)}; vacuumed?)"
            )
        names = json.loads(mf.read_text())["files"]
        missing = [n for n in names if not (self.path(table) / n).exists()]
        if missing:
            raise ValueError(
                f"version {version} of {table!r} references vacuumed "
                f"files: {missing[:3]}..."
            )
        return self.spark.read.parquet(
            *[str(self.path(table) / n) for n in names]
        )

    def read_asof_timestamp(self, table: str, ts: float) -> DataFrame:
        """Time travel by wall clock (Delta's TIMESTAMP AS OF): read
        the newest version committed at or before ``ts`` (epoch
        seconds). Commit times come from the manifest body; manifests
        written before the ``ts`` field fall back to file mtime."""
        import json

        # commit ts is monotone per table (stamped under the writer
        # lock), so walk newest-first and stop at the first commit
        # old enough — O(1) expected manifest reads on a long history
        for mf in reversed(self._manifests(table)):
            body = json.loads(mf.read_text())
            cts = body.get("ts", mf.stat().st_mtime)
            if cts <= ts:
                return self.read_version(table, body["version"])
        raise ValueError(
            f"no version of {table!r} existed at or before {ts}"
        )

    def clone(self, src: str, dst: str) -> int:
        """SHALLOW CLONE (Delta's zero-copy clone): the new table's
        manifest references the SOURCE's live data bytes via
        hardlinks — no data copied, created in milliseconds at any
        size. Divergence is free because committed files are
        immutable (every writer stages under job-unique names) and
        vacuum on either table only unlinks its own directory entry;
        the shared bytes live until BOTH tables stop referencing
        them."""
        with self._writer_lock(dst):
            names = self._live_names(src)
            dst_dir = self.path(dst)
            dst_dir.mkdir(parents=True, exist_ok=True)
            now = time.time()
            for n in names:
                target = dst_dir / n
                if not target.exists():
                    os.link(self.path(src) / n, target)
                    # hardlinks inherit the source inode's OLD mtime,
                    # which would defeat vacuum's min_age guard for
                    # the linked-but-not-yet-committed window (a
                    # concurrent retention vacuum would see old
                    # unreferenced files in dst and unlink them
                    # before our commit) — freshen the shared inode
                    # so the links age like any staged write
                    os.utime(target, (now, now))
            src_parts = (self._latest(src) or {}).get("parts")
            return self._commit(
                dst, names, f"clone:{src}", new_parts=src_parts
            )

    def history(self, table: str) -> list[dict]:
        import json

        current = self.version(table)
        out = []
        for mf in self._manifests(table):
            d = json.loads(mf.read_text())
            out.append(
                {
                    "version": d["version"],
                    "n_files": len(d["files"]),
                    "op": d.get("op"),
                    "current": d["version"] == current,
                }
            )
        return out

    # -- writes ---------------------------------------------------------

    def _no_partitions(self, partition_by) -> None:
        if partition_by:
            raise NotImplementedError(
                "manifest-mode tables are unpartitioned (the manifest "
                "IS the pruning index; hive dir layouts conflict with "
                "file-list reads)"
            )

    def current_version(self, table: str) -> int:
        """Latest committed manifest version (-1 if never written) —
        the snapshot id an optimistic writer passes back as
        ``expected_version``."""
        m = self._latest(table)
        return -1 if m is None else int(m["version"])

    def append(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        expected_version: int | None = None,
    ) -> None:
        self._no_partitions(partition_by)
        with self._writer_lock(table):
            live = self._live_names(table) if self.table_exists(table) else []
            names = self._stage_in(df, table)
            self._commit(
                table, live + names, "append", expected_base=expected_version
            )

    def overwrite(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        expected_version: int | None = None,
    ) -> None:
        self._no_partitions(partition_by)
        with self._writer_lock(table):
            names = self._stage_in(df, table)
            self._commit(
                table, names, "overwrite", expected_base=expected_version
            )

    def overwrite_from_plan(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> None:
        # The input plan pinned its file list when it was built (reads
        # resolve the manifest, and committed files are never moved),
        # so a self-referencing overwrite can never clobber its own
        # input — no sibling-dir swap needed, just a normal commit.
        self.overwrite(df, table, partition_by)

    def overwrite_partitions(self, df, table, partition_by):
        raise NotImplementedError(
            "manifest-mode tables are unpartitioned; use "
            "upsert_file_pruned / overwrite for scoped rewrites"
        )

    # -- partition values in the log (Iceberg-style, r8) ----------------

    def append_partitioned(
        self,
        df: DataFrame,
        table: str,
        spec: list[str],
        expected_version: int | None = None,
    ) -> None:
        """Append with PARTITION VALUES RECORDED IN THE MANIFEST —
        the Iceberg/Delta answer to hive dir layouts (the class
        docstring's "at that point, use them"). Files stay flat in
        the table dir; each staged file is value-pure in the ``spec``
        columns and its manifest entry records
        ``{"spec": [...], "values": {col: str}}``. Readers prune by
        metadata (:meth:`prune_plan`), never by directory shape.

        PARTITION SPEC EVOLUTION is free: a later append may use a
        DIFFERENT spec — old files keep their old entries, and a
        prune on a column a file never recorded keeps that file
        (unknown-safe), so evolved tables are always correct, just
        less pruned on the old segment. That is exactly Iceberg's
        evolution contract: specs are per-file, queries don't change.

        Mechanics: the staging write partitions by SHADOW copies of
        the spec columns (``__p_<col>``), so Spark's hive layout
        carries the values while the data columns remain in the
        files; the hive dirs are parsed and discarded during the
        move-in. One extra shuffle vs a plain append (the hive write
        clusters rows by value) — the cost that buys file-level
        pruning."""
        import urllib.parse
        import uuid

        missing = [c for c in spec if c not in df.columns]
        if missing:
            raise ValueError(f"spec columns not in batch: {missing}")
        job = uuid.uuid4().hex[:12]
        target = self.path(table)
        target.mkdir(parents=True, exist_ok=True)
        staging = target.with_name(f"{target.name}__staging.{job}")
        shadow = [f"__p_{c}" for c in spec]
        out = df
        for c, s in zip(spec, shadow):
            out = out.withColumn(s, F.col(c).cast("string"))
        # cluster rows by value so each partition value lands in ONE
        # task → one file per value (the "extra shuffle" in the
        # docstring). A pathologically hot value = one big task — the
        # usual hive-write skew; pick the spec accordingly.
        out = out.repartition(*[F.col(s) for s in shadow])
        out.write.partitionBy(*shadow).parquet(str(staging))
        names: list[str] = []
        new_parts: dict[str, dict] = {}
        for i, part in enumerate(sorted(staging.rglob("*.parquet"))):
            values: dict[str, str] = {}
            for comp in part.relative_to(staging).parts[:-1]:
                k, _, v = comp.partition("=")
                values[k.removeprefix("__p_")] = urllib.parse.unquote(v)
            name = f"part-{i:05d}-{job}.parquet"
            part.rename(target / name)
            names.append(name)
            new_parts[name] = {"spec": list(spec), "values": values}
        shutil.rmtree(staging, ignore_errors=True)
        with self._writer_lock(table):
            live = self._live_names(table) if self.table_exists(table) else []
            self._commit(
                table,
                live + names,
                f"append_partitioned({','.join(spec)})",
                expected_base=expected_version,
                new_parts=new_parts,
            )

    def partition_specs(self, table: str) -> list[list[str]]:
        """Distinct partition specs across live files (evolution
        history as seen by the current snapshot). Files appended
        unpartitioned report spec ``[]``."""
        m = self._latest(table) or {}
        parts = m.get("parts") or {}
        seen: list[list[str]] = []
        for n in m.get("files", []):
            s = list(parts.get(n, {}).get("spec", []))
            if s not in seen:
                seen.append(s)
        return seen

    def prune_plan(
        self, table: str, filters: dict[str, list[str]]
    ) -> tuple[list[str], int]:
        """Metadata-only pruning: live file names whose recorded
        partition values can match ``filters`` (col → allowed string
        values), plus the live total. A file with NO recorded value
        for a filtered column is KEPT — that is what makes spec
        evolution and plain appends safe; pruning is an optimization,
        never a filter, so callers still apply the row predicate."""
        m = self._latest(table)
        if m is None:
            raise ValueError(f"table {table!r} has no committed manifest")
        parts = m.get("parts") or {}
        selected = []
        for n in m["files"]:
            vals = parts.get(n, {}).get("values", {})
            if all(
                c not in vals or vals[c] in allowed
                for c, allowed in filters.items()
            ):
                selected.append(n)
        return selected, len(m["files"])

    def read_pruned(
        self, table: str, filters: dict[str, list[str]]
    ) -> DataFrame:
        """Read only the files :meth:`prune_plan` selects. The caller
        must still apply the actual row predicate (unknown-spec files
        are included whole)."""
        names, _total = self.prune_plan(table, filters)
        if not names:
            return self.read(table).limit(0)
        return self.spark.read.parquet(
            *[str(self.path(table) / n) for n in names]
        )

    def delete_where_dv(self, table: str, predicate) -> dict:
        raise NotImplementedError(
            "manifest-mode tables version their file lists; DELETE "
            "through delete_where_file_pruned — the manifest commit "
            "already gives readers the atomicity deletion vectors "
            "exist to emulate"
        )

    def compact_purge_dv(self, table: str) -> dict:
        raise NotImplementedError(
            "manifest-mode tables do not carry deletion vectors "
            "(see delete_where_dv)"
        )

    def drop_partitions(self, table, partition_col, before=None, values=None):
        raise NotImplementedError(
            "manifest-mode tables are unpartitioned; use "
            "delete_where_file_pruned for retention"
        )

    def compact(
        self,
        table: str,
        target_files: int | None = None,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        zorder_by: tuple[str, str] | None = None,
        target_file_bytes: int | None = None,
    ) -> int:
        """Manifest-native OPTIMIZE (r8). The inherited compact was
        already reader-safe here (it funnels through the overridden
        ``overwrite_from_plan`` → one manifest commit), but it had NO
        conflict check: a concurrent append landing between the
        rewrite's read and its overwrite commit would be silently
        erased by the wholesale file-list replacement (lost update).
        This override stages the coalesced rewrite, then commits with
        ``expected_base`` — the version the rewrite was based on — and
        FAILS if any writer (even an append) landed in between:
        re-read and retry, Delta's OPTIMIZE conflict rule. Old files
        age out through vacuum's tombstone clock; readers see pre- or
        post-OPTIMIZE state, never half."""
        if partition_by:
            self._no_partitions(partition_by)
        if zorder_by is not None:
            raise NotImplementedError(
                "manifest-mode OPTIMIZE supports cluster_by (range "
                "clustering); use the file_skipping helpers for "
                "z-order layouts"
            )
        if (target_files is None) == (target_file_bytes is None):
            raise ValueError(
                "pass exactly one of target_files / target_file_bytes"
            )
        base_version = self.version(table)
        names = self._live_names(table)
        n_before = len(names)
        paths = [self.path(table) / n for n in names]
        if target_file_bytes is not None:
            total = sum(p.stat().st_size for p in paths)
            target_files = max(1, -(-total // target_file_bytes))
        df = self.spark.read.parquet(*[str(p) for p in paths])
        if cluster_by:
            df = df.repartitionByRange(
                target_files, *cluster_by
            ).sortWithinPartitions(*cluster_by)
        else:
            df = df.coalesce(target_files)
        # stage OUTSIDE the lock (job-unique staging never conflicts;
        # a long rewrite must not hold writers out) — only the commit
        # itself serializes, and expected_base catches interleavers
        new_names = self._stage_in(df, table)
        try:
            with self._writer_lock(table):
                self._commit(
                    table, new_names, "optimize", expected_base=base_version
                )
        except ConcurrentWriteError:
            for n in new_names:  # failed rewrite: reclaim, like WAP
                (self.path(table) / n).unlink(missing_ok=True)
            raise
        return n_before

    def _replace_files(
        self, table: str, touched: list[str], replacement: DataFrame
    ) -> None:
        """Manifest twin of the base file swap: stage the replacement,
        move it in, commit a manifest that EXCLUDES the touched files.
        Nothing is unlinked — a concurrent reader resolves either the
        old or the new manifest and sees one consistent file set; the
        move→unlink duplicate window of the base backend does not
        exist here. Superseded files wait for vacuum()."""
        touched_names = {
            Path(f.removeprefix("file://").removeprefix("file:")).name
            for f in touched
        }
        live = [n for n in self._live_names(table) if n not in touched_names]
        names = self._stage_in(replacement, table)
        self._commit(table, live + names, "replace_files")

    def restore(self, table: str, version: int) -> int:
        """RESTORE: re-commit an archived manifest's file list as a
        NEW version (history-preserving, Delta semantics). Metadata
        only — no data files move."""
        import json

        with self._writer_lock(table):
            mf = self._manifest_dir(table) / f"m{version:06d}.json"
            if not mf.exists():
                raise ValueError(
                    f"version {version} of {table!r} not in manifest "
                    "history (vacuumed?)"
                )
            old = json.loads(mf.read_text())
            names = old["files"]
            missing = [
                n for n in names if not (self.path(table) / n).exists()
            ]
            if missing:
                raise ValueError(
                    f"cannot restore {table!r} to v{version}: files "
                    f"vacuumed: {missing[:3]}..."
                )
            return self._commit(
                table,
                names,
                f"restore({version})",
                new_parts=old.get("parts"),
            )

    def write_audit_publish(
        self,
        df: DataFrame,
        table: str,
        expectations: list,
        partition_by: list[str] | None = None,
        max_invalid: int = 0,
    ) -> dict:
        """WAP, the Iceberg way: stage files into the table dir
        (uncommitted = invisible to every reader), audit the staged
        bytes, publish by COMMITTING a manifest — or unlink the staged
        files on failure. The live table is never in a half state."""
        self._no_partitions(partition_by)
        from ..operators.quality import VIOLATIONS_COL, check

        with self._writer_lock(table):
            names = self._stage_in(df, table)
            staged = self.spark.read.parquet(
                *[str(self.path(table) / n) for n in names]
            )
            checked = check(staged, expectations)
            counts = checked.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.when(F.col(VIOLATIONS_COL) != "", 1).otherwise(0)
                ).alias("bad"),
            ).collect()[0]
            n_rows, n_invalid = int(counts["n"]), int(counts["bad"] or 0)
            if n_invalid > max_invalid:
                for n in names:
                    (self.path(table) / n).unlink(missing_ok=True)
                return {
                    "published": False,
                    "n_rows": n_rows,
                    "n_invalid": n_invalid,
                }
            self._commit(table, names, "write_audit_publish")
            return {
                "published": True,
                "n_rows": n_rows,
                "n_invalid": n_invalid,
            }

    def publish_tables(
        self,
        frames: dict[str, DataFrame],
        expectations: dict[str, list] | None = None,
        max_invalid: int = 0,
    ) -> dict:
        """Multi-table WAP via manifests: stage every table's files
        (uncommitted), audit every staged copy, then commit each
        table's manifest. Any audit failure unlinks ALL staged files
        and commits nothing. A mid-commit crash rolls already-
        committed tables back by re-committing their prior file lists
        (restore is metadata-only here). Per-table commits are atomic;
        the cross-table sequence is a few metadata renames."""
        from ..operators.quality import VIOLATIONS_COL, check

        expectations = expectations or {}
        staged: dict[str, list[str]] = {}
        report: dict[str, dict] = {}
        ok = True
        try:
            for table, df in frames.items():
                staged[table] = self._stage_in(df, table)
            for table, names in staged.items():
                back = self.spark.read.parquet(
                    *[str(self.path(table) / n) for n in names]
                )
                exps = expectations.get(table, [])
                if exps:
                    checked = check(back, exps)
                    counts = checked.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(
                            F.when(
                                F.col(VIOLATIONS_COL) != "", 1
                            ).otherwise(0)
                        ).alias("bad"),
                    ).collect()[0]
                    n_rows = int(counts["n"])
                    n_invalid = int(counts["bad"] or 0)
                else:
                    n_rows, n_invalid = back.count(), 0
                report[table] = {"n_rows": n_rows, "n_invalid": n_invalid}
                if n_invalid > max_invalid:
                    ok = False
        except BaseException:
            ok = False
            raise
        finally:
            if not ok:
                for table, names in staged.items():
                    for n in names:
                        (self.path(table) / n).unlink(missing_ok=True)
        if not ok:
            return {"published": False, "tables": report}
        committed: list[tuple[str, int]] = []
        try:
            for table, names in staged.items():
                with self._writer_lock(table):
                    pre = (
                        self.version(table)
                        if self.table_exists(table)
                        else None
                    )
                    self._commit(table, names, "publish_tables")
                    committed.append((table, pre))
        except BaseException:
            for table, pre in reversed(committed):
                with self._writer_lock(table):
                    if pre is not None:
                        self.restore(table, pre)
                    else:
                        # the table did not exist before this publish:
                        # rolling back means un-creating it — remove
                        # its manifests so readers see "no table", and
                        # leave the data files to vacuum's age sweep
                        md = self._manifest_dir(table)
                        if md.exists():
                            shutil.rmtree(md)
            raise
        return {"published": True, "tables": report}

    # -- maintenance ----------------------------------------------------

    def vacuum(
        self, retain_versions: int | None = None, min_age: float = 900.0
    ) -> int:
        """Sweep staging leftovers and stale locks (base behavior);
        with ``retain_versions=k``, additionally drop all but the
        newest k manifests per table and unlink data files no kept
        manifest references — Delta's VACUUM retention. Readers of a
        vacuumed version fail fast with a clear error.

        Unreferenced data files younger than ``min_age`` seconds are
        SPARED: a file staged into the table dir by an in-flight
        write (WAP audit running, commit not yet issued) is
        unreferenced by design until its commit, and deleting it
        would let the commit publish a manifest pointing at nothing —
        the same age discipline the lock sweeps use. Tests pass
        ``min_age=0`` to force a full sweep."""
        import json

        removed = super().vacuum(retain_versions=None)
        if retain_versions is not None:
            now = time.time()
            for md in self.root.glob("**/*__manifest"):
                manifests = sorted(md.glob("m*.json"))
                cut = max(0, len(manifests) - retain_versions)
                # RETENTION FLOOR (r8): a manifest younger than
                # min_age is NEVER retired, regardless of the count
                # knob — an active reader may have resolved it moments
                # ago (rapid-fire commits can push a seconds-old
                # version past any retain count). Spared manifests
                # keep their files referenced, so the reader's
                # deferred scan cannot dangle. Combined with the
                # tombstone-mtime clock in _commit, the contract is
                # Delta's: any read started within min_age of its
                # version's supersession completes; older time travel
                # fails FAST at resolve (missing manifest / missing
                # file check in read_version), never mid-scan.
                drop = [
                    mf
                    for mf in manifests[:cut]
                    if now - mf.stat().st_mtime >= min_age
                ]
                keep = [mf for mf in manifests if mf not in drop]
                referenced: set[str] = set()
                for mf in keep:
                    referenced.update(json.loads(mf.read_text())["files"])
                table_dir = md.with_name(md.name[: -len("__manifest")])
                for mf in drop:
                    mf.unlink()
                    removed += 1
                if table_dir.exists():
                    for f in table_dir.glob("*.parquet"):
                        if (
                            f.name not in referenced
                            and now - f.stat().st_mtime >= min_age
                        ):
                            f.unlink()
                            removed += 1
        return removed

    def drop(self, table: str) -> None:
        super().drop(table)
        md = self._manifest_dir(table)
        if md.exists():
            shutil.rmtree(md)


class DeltaLogWarehouse(Warehouse):
    """Warehouse whose storage layer IS the Delta transaction-log
    protocol (r8 — ``sources/deltalog.py``, public delta-io
    PROTOCOL.md, v1 JSON commits): every table is a real Delta table
    directory — parquet data files plus ``_delta_log/%020d.json``
    commits — readable by any Delta runtime, written and replayed here
    with no delta-spark dependency.

    Where ``ManifestWarehouse`` proves the commit MECHANIC on a
    homegrown manifest format, this backend proves the INTEROP: the
    same Warehouse API (append / overwrite / upsert / SCD1-2 via the
    inherited engines) materializes state changes as spec-shaped Delta
    commits. The three-way SCD1 oracle-hash identity
    (`scd1_customer_current` == file-pruned == manifest ==
    `scd1_deltalog_customers`) pins that storage format never leaks
    into query semantics.

    Scope mirrors ManifestWarehouse for the Warehouse-API surface
    (unpartitioned tables; rewrite-based DML through the inherited
    parquet engines). The protocol layer itself goes further (r8):
    ``DeltaLogWriter.create_partitioned`` / ``append_partitioned``
    store per-file ``partitionValues`` in add actions with the spec's
    data-files-exclude-partition-columns layout (read_delta
    reconstitutes and prunes), and parquet CHECKPOINTS +
    ``_last_checkpoint`` make long-history opens O(live files)."""

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, root, format="parquet", track_versions=False)

    def _writer(self, table: str):
        from ..sources.deltalog import DeltaLogWriter

        return DeltaLogWriter(self.spark, self.path(table))

    def table_exists(self, table: str) -> bool:
        from ..sources.deltalog import current_version

        return current_version(self.path(table)) >= 0

    def version(self, table: str) -> int:
        from ..sources.deltalog import current_version

        return max(current_version(self.path(table)), 0)

    current_version = version

    def read(self, table: str, merge_schema: bool = False) -> DataFrame:
        from ..sources.deltalog import read_delta

        # merge_schema is a no-op: the log's metaData schemaString is
        # authoritative (same contract as real Delta)
        return read_delta(self.spark, self.path(table))

    def read_version(self, table: str, version: int) -> DataFrame:
        from ..sources.deltalog import read_delta

        return read_delta(self.spark, self.path(table), version=version)

    def history(self, table: str) -> list[dict]:
        import json as _json

        from ..sources.deltalog import _commits

        current = self.version(table)
        out = []
        for c in _commits(self.path(table)):
            ops = [
                _json.loads(line)["commitInfo"]["operation"]
                for line in c.read_text().splitlines()
                if line.startswith('{"commitInfo"')
            ]
            v = int(c.stem)
            out.append(
                {
                    "version": v,
                    "op": (ops or ["?"])[0],
                    "current": v == current,
                }
            )
        return out

    def _no_partitions(self, partition_by) -> None:
        if partition_by:
            raise NotImplementedError(
                "DeltaLogWarehouse is unpartitioned by contract — Delta "
                "puts partition values in add actions; use the real "
                "runtime for partitioned tables"
            )

    def append(self, df: DataFrame, table: str, partition_by=None) -> None:
        self._no_partitions(partition_by)
        self._writer(table).append(df)

    def overwrite(self, df: DataFrame, table: str, partition_by=None) -> None:
        self._no_partitions(partition_by)
        self._writer(table).overwrite(df)

    def overwrite_from_plan(
        self, df: DataFrame, table: str, partition_by=None
    ) -> None:
        # committed data files never move and the plan pinned its
        # input files at build time, so a self-referencing overwrite
        # needs no staged-swap dance (the ManifestWarehouse property,
        # inherited by the protocol)
        self._no_partitions(partition_by)
        self._writer(table).overwrite(df)

    # parquet path-mechanics that bypass the log would corrupt the
    # table state for real Delta readers — fail fast, route to the
    # rewrite engines instead (same guard set as ManifestWarehouse)
    def overwrite_partitions(self, df, table, partition_by):
        raise NotImplementedError(
            "overwrite_partitions bypasses the Delta log; "
            "DeltaLogWarehouse tables are unpartitioned"
        )

    def delete_where_dv(self, table: str, predicate) -> dict:
        raise NotImplementedError(
            "deletion vectors are protocol v3; this backend implements "
            "v1 — use delete_where (rewrite) instead"
        )

    def upsert_file_pruned(self, batch, table, keys, **kw):
        raise NotImplementedError(
            "file-pruned DML moves files under the log's feet — use "
            "upsert (rewrite via the log) or ManifestWarehouse"
        )

    def delete_where_file_pruned(self, table, predicate):
        raise NotImplementedError(
            "file-pruned DML moves files under the log's feet — use "
            "delete_where (rewrite via the log)"
        )

    def restore(self, table: str, version: int) -> int:
        """RESTORE = re-commit an old version's live set as NEW adds
        (history-preserving, Delta semantics)."""
        old = self.read_version(table, version)
        self.overwrite_from_plan(old, table)
        return self.version(table)

    def clone_shallow(self, src_table: str, dst_table: str) -> int:
        """Zero-copy SHALLOW CLONE of ``src_table``'s current snapshot
        into ``dst_table`` (Delta CLONE: absolute-path add actions —
        see DeltaLogWriter.clone_shallow for the vacuum contract)."""
        return self._writer(dst_table).clone_shallow(self.path(src_table))

    def drop(self, table: str) -> None:
        p = self.path(table)
        if p.exists():
            shutil.rmtree(p)

    def compact(
        self,
        table: str,
        target_files: int | None = None,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        zorder_by: tuple[str, str] | None = None,
        target_file_bytes: int | None = None,
    ) -> int:
        """Protocol-native OPTIMIZE (r8): remove+add actions in ONE
        commit claimed at exactly ``base+1`` via the create-exclusive
        commit link — if ANY writer (even an append) landed after the
        rewrite's snapshot, the link fails and the OPTIMIZE aborts
        with staged files reclaimed, so a concurrent append can never
        be erased by the wholesale remove set (the lost-update race
        the inherited overwrite-based compact had). This is Delta's
        actual optimistic-concurrency story: the version number IS
        the conflict check."""
        self._no_partitions(partition_by)
        if zorder_by is not None:
            raise NotImplementedError(
                "delta-log OPTIMIZE supports cluster_by (range "
                "clustering, Delta's single-dimension ZORDER cousin); "
                "multi-dimension z-order rides the real runtime"
            )
        if (target_files is None) == (target_file_bytes is None):
            raise ValueError(
                "pass exactly one of target_files / target_file_bytes"
            )
        from ..sources.deltalog import (
            DeltaLogError,
            _replay,
            current_version,
        )

        tp = self.path(table)
        w = self._writer(table)
        v0 = current_version(tp)
        state = _replay(tp, v0)
        files = state["files"]
        n_before = len(files)
        paths = [tp / f for f in files]
        if target_file_bytes is not None:
            total = sum(p.stat().st_size for p in paths)
            target_files = max(1, -(-total // int(target_file_bytes)))
        df = self.spark.read.parquet(*[str(p) for p in paths])
        if cluster_by:
            # range-clustered rewrite: each output file covers a narrow
            # value range, so the add actions' footer stats make
            # files_skipped_by_stats selective on the cluster column
            df = df.repartitionByRange(
                target_files, *cluster_by
            ).sortWithinPartitions(*cluster_by)
        else:
            df = df.coalesce(target_files)
        adds = w._stage(df)
        now = int(time.time() * 1000)
        removes = [
            {
                "remove": {
                    "path": f,
                    "deletionTimestamp": now,
                    "dataChange": False,
                }
            }
            for f in files
        ]
        try:
            w._commit(removes + adds, "OPTIMIZE", version=v0 + 1)
        except DeltaLogError:
            for a in adds:  # failed rewrite: reclaim staged files
                (tp / a["add"]["path"]).unlink(missing_ok=True)
            raise
        return n_before

    def vacuum(self, retain_versions: int | None = None, min_age: float = 900.0) -> int:
        """Delta VACUUM semantics on the protocol store: unlink data
        files that are (a) NOT referenced by the LATEST version and
        (b) older than ``min_age`` seconds since last touch — the
        retention window protecting in-flight readers and time travel
        (Delta's default is 7 days; tests pass 0). The log itself is
        never vacuumed (Delta keeps it; checkpointing, not deletion,
        bounds replay cost). Returns files removed. NOTE: vacuumed
        versions remain listed in history but fail fast at read (the
        referenced files are gone — same contract as real Delta)."""
        import time as _time

        from ..sources.deltalog import _commits, _replay

        removed = 0
        now = _time.time()
        for log_dir in self.root.glob("**/_delta_log"):
            tdir = log_dir.parent
            if not _commits(tdir):
                continue
            live = set(_replay(tdir, None)["files"])
            for f in tdir.glob("*.parquet"):
                if (
                    f.name not in live
                    and now - f.stat().st_mtime >= min_age
                ):
                    f.unlink()
                    removed += 1
        return removed


class IcebergMetaWarehouse(Warehouse):
    """Warehouse whose storage layer IS the Apache Iceberg v2 table
    format (r10 — ``sources/iceberg_meta.py``, public Iceberg table
    spec): every table is a real Iceberg table directory —
    ``metadata/v{N}.metadata.json`` + Avro manifest lists/manifests
    (via the cross-validated ``sources/avro.py`` codec) over parquet
    data files — readable by any Iceberg runtime pointed at the
    location (HadoopTables layout), written and planned here with no
    Iceberg JAR.

    The FIFTH SCD1 twin: the same Warehouse API materializes state
    changes as spec-shaped Iceberg snapshots, and the shared oracle
    hash across parquet / file-pruned / manifest / Delta-log /
    Iceberg backends pins that the storage format never leaks into
    query semantics.

    Scope mirrors DeltaLogWarehouse: unpartitioned tables,
    rewrite-based DML through the inherited parquet engines; appends
    are Iceberg FAST APPENDS (new manifest only), overwrites record
    the replaced files as DELETED manifest entries per spec."""

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, root, format="parquet", track_versions=False)

    def _tbl(self, table: str):
        from ..sources.iceberg_meta import IcebergTable

        return IcebergTable(self.spark, self.path(table))

    def table_exists(self, table: str) -> bool:
        from ..sources.iceberg_meta import current_metadata_version

        return current_metadata_version(self.path(table)) > 0

    def version(self, table: str) -> int:
        from ..sources.iceberg_meta import current_metadata_version

        return current_metadata_version(self.path(table))

    current_version = version

    def read(self, table: str, merge_schema: bool = False) -> DataFrame:
        from ..sources.iceberg_meta import read_iceberg

        # merge_schema is a no-op: the metadata.json schema is
        # authoritative (same contract as real Iceberg)
        return read_iceberg(self.spark, self.path(table))

    def read_version(self, table: str, version: int) -> DataFrame:
        """Time travel by snapshot ORDINAL (0 = first commit), the
        ergonomic twin of DeltaLogWarehouse.read_version."""
        from ..sources.iceberg_meta import read_iceberg, snapshot_ids

        sids = snapshot_ids(self.path(table))
        return read_iceberg(
            self.spark, self.path(table), snapshot_id=sids[version]
        )

    def history(self, table: str) -> list[dict]:
        from ..sources.iceberg_meta import load_metadata

        md = load_metadata(self.path(table))
        cur = md.get("current-snapshot-id")
        return [
            {
                "version": i,
                "snapshot_id": s["snapshot-id"],
                "op": s.get("summary", {}).get("operation", "?"),
                "current": s["snapshot-id"] == cur,
            }
            for i, s in enumerate(md.get("snapshots") or [])
        ]

    def _no_partitions(self, partition_by) -> None:
        if partition_by:
            raise NotImplementedError(
                "IcebergMetaWarehouse is unpartitioned by contract "
                "(partition-spec 0 has no fields); use the real "
                "runtime for partition transforms"
            )

    def append(self, df: DataFrame, table: str, partition_by=None) -> None:
        self._no_partitions(partition_by)
        self._tbl(table).append(df)

    def overwrite(self, df: DataFrame, table: str, partition_by=None) -> None:
        self._no_partitions(partition_by)
        self._tbl(table).overwrite(df)

    def overwrite_from_plan(
        self, df: DataFrame, table: str, partition_by=None
    ) -> None:
        # committed data files never move (new files land under fresh
        # uuid names), so a self-referencing overwrite needs no staged
        # swap — the same property as the Delta-log backend
        self._no_partitions(partition_by)
        self._tbl(table).overwrite(df)

    # path-mechanics that bypass the metadata would corrupt the table
    # for real Iceberg readers — fail fast (same guard set as the
    # Delta-log backend)
    def overwrite_partitions(self, df, table, partition_by):
        raise NotImplementedError(
            "overwrite_partitions bypasses Iceberg metadata; "
            "IcebergMetaWarehouse tables are unpartitioned"
        )

    def upsert_file_pruned(self, batch, table, keys, **kw):
        raise NotImplementedError(
            "file-pruned DML moves files under the metadata's feet — "
            "use upsert (rewrite via snapshots)"
        )

    def delete_where_file_pruned(self, table, predicate):
        raise NotImplementedError(
            "file-pruned DML moves files under the metadata's feet — "
            "use delete_where (rewrite via snapshots)"
        )

    def drop(self, table: str) -> None:
        p = self.path(table)
        if p.exists():
            shutil.rmtree(p)
