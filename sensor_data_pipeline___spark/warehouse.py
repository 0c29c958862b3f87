"""Parquet warehouse: the medallion tables on disk with the layout that
replaces the reference's Postgres schemas and indexes (SURVEY.md §1.4,
§2.6 M3/M4).

Layout::

    {root}/bronze/raw_readings/   partitioned by ingest_date
    {root}/silver/stg_readings/   partitioned by reading_date
    {root}/gold/mart_daily_power/ partitioned by reading_date

The reference's secondary indexes on ``(reading_date)`` become
partition pruning; its composite ``(reading_date, metric_name)`` index
is partition + parquet min/max column stats. Dynamic partition
overwrite is the MERGE stand-in: rewriting exactly the touched
partitions reproduces dbt's incremental upsert because the partition
key contains the merge key (gold) or the merged rows are fully
recomputed per partition (silver).

Silver's pipeline writes leave ONE parquet file per ``reading_date``
partition they write (see :meth:`Warehouse.write`), so a GET opens one
file per silver day in its range; only appends (bronze, manual patches)
add files to a partition, and :meth:`Warehouse.compact` folds those.

Each table root also holds ``_schema.json``, the table's schema record
(see :meth:`Warehouse.read`): the one piece of catalog metadata a
table format would keep that plain parquet lacks. Bronze's root also
holds ``_ids.json``, its id record (see :meth:`Warehouse.max_id`): the
id high-water and the data files it covers, the sequence that stands
in for the reference's ``BIGSERIAL``.
"""

from __future__ import annotations

import json
import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sensor_data_pipeline___spark import schemas
from sensor_data_pipeline___spark.operators import _fsio
from sensor_data_pipeline___spark.operators._writes import overwrite_mode

BRONZE = "bronze/raw_readings"
SILVER = "silver/stg_readings"
GOLD = "gold/mart_daily_power"

#: Partition columns added on write (not part of the logical schema).
_PARTITION_COL = {
    BRONZE: "ingest_date",
    SILVER: "reading_date",
    GOLD: "reading_date",
}

_SCHEMA = {
    BRONZE: schemas.BRONZE_SCHEMA,
    SILVER: schemas.SILVER_SCHEMA,
    GOLD: schemas.GOLD_SCHEMA,
}

#: The schema record's file name. The leading ``_`` keeps it out of
#: Spark's file listing; ``_metadata``/``_common_metadata`` would not
#: do, parquet schema inference reads those.
_RECORD = "_schema.json"

#: The id record's file name (see :meth:`Warehouse.max_id`).
_IDS = "_ids.json"


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        # a directory check through _fsio, so URI roots (file:, hdfs://)
        # resolve too (S9 table-existence check, reference
        # airflow/hooks/database.py:66-101)
        return _fsio.is_dir(self.path(table))

    def read(self, table: str) -> DataFrame:
        """Read a table; empty-with-schema if it doesn't exist yet.

        The schema comes from the table's record (``_schema.json`` at
        the table root): the union-by-name of every schema written
        through :meth:`write`. Reading it is driver-side file I/O, and
        ``spark.read.schema(record)`` needs no inference, so the read
        launches no Spark job. After an in-place schema evolution (new
        files carry a column old files lack) the read exposes the union
        schema with nulls for the old files, exactly as ``mergeSchema``
        would. The record is on disk, so every ``Warehouse`` on the
        same root sees the same schema.

        A table without a record (one written before records existed,
        a bronze table fed by the streaming writer, or a full refresh
        that crashed between its commit and its record write) falls
        back to ``mergeSchema``: a footer-read job over every file of
        the table. Plain parquet inference would sample ONE footer and
        surface or drop an evolved column at random."""
        if not self.exists(table):
            schema = _SCHEMA[table]
            part = _PARTITION_COL[table]
            if part and part not in schema.fieldNames():
                schema = T.StructType(
                    list(schema.fields) + [T.StructField(part, T.DateType(), True)]
                )
            # local_df, not createDataFrame: even an EMPTY list-backed
            # frame plans a Python-RDD scan that pays a worker round
            # trip per action (operators/_local.py)
            from sensor_data_pipeline___spark.operators._local import (
                local_df,
            )

            return local_df(self.spark, [], schema)
        record = self._record(table)
        if record is not None:
            return self.spark.read.schema(record).parquet(self.path(table))
        return self.spark.read.option("mergeSchema", "true").parquet(
            self.path(table)
        )

    def write(
        self, table: str, df: DataFrame, mode: str = "overwrite", wipe: bool = False
    ) -> None:
        """Write with the table's partition layout. ``overwrite``
        pins dynamic partitionOverwriteMode for the write, whatever the
        session default, so it rewrites only the partitions present in
        ``df`` — the MERGE emulation. ``wipe=True`` pins static
        overwrite instead (drop ALL existing partitions first) — the
        full-refresh path (M5).

        Spark writes one file per table partition per task that holds
        its rows, so the caller's partitioning sets the file count:
        the silver writers hand in frames that put each day in one
        task (``incremental._merge_days`` a one-task checkpoint of the
        touched days, ``incremental.run_silver`` a rebalance by day),
        and each written partition is then ONE file. No repartition
        happens here: a merge checkpoint is already one task's worth,
        and a shuffle would cost it a job.

        Silver rows are sorted by ``metric_name`` within each partition
        file — the analog of the reference's composite
        ``(reading_date, metric_name)`` index (stg_readings.sql:18-21):
        partition pruning covers the date, parquet row-group min/max
        stats then skip by metric.

        Schema record: a normal write unions ``df``'s schema into the
        record BEFORE the data commits, so a crash in between can only
        expose an all-null column, never hide data; a column whose type
        conflicts with the record raises here, before any data is
        written. A ``wipe`` deletes the whole table directory, record
        included, so its record is written AFTER the commit and
        replaces the old one (a column the refresh dropped disappears,
        as under ``mergeSchema``)."""
        part = _PARTITION_COL[table]
        if part not in df.columns:
            if table == BRONZE:
                df = df.withColumn(part, F.to_date("ingested_at"))
            else:
                raise ValueError(f"{table}: missing partition column {part}")
        if table == SILVER:
            df = df.sortWithinPartitions(part, "metric_name")
        if not wipe:
            self._union_record(table, df.schema)
        if table == BRONZE:
            hw, covered = self._id_record(table)
            listed = self._data_files(table)
        # pinned on the frame's session: the write runs under it
        with overwrite_mode(df.sparkSession, "static" if wipe else "dynamic"):
            df.write.mode(mode).partitionBy(part).parquet(self.path(table))
        if wipe:
            self._save_record(table, df.schema)
        if table == BRONZE:
            # the files this write added, and what it kept of the
            # covered ones; files uncovered before stay uncovered
            after = self._data_files(table)
            new = after - listed
            self._save_ids(
                table, max(hw, self._max_id_in(table, new)), (covered & after) | new
            )

    def _record_path(self, table: str) -> str:
        return os.path.join(self.path(table), _RECORD)

    def _record(self, table: str) -> "T.StructType | None":
        path = self._record_path(table)
        if not _fsio.exists(path):
            return None
        return T.StructType.fromJson(json.loads(_fsio.read_text(path)))

    def _save_record(self, table: str, schema: T.StructType) -> None:
        _fsio.write_text_atomic(self._record_path(table), schema.json())

    def _union_record(self, table: str, schema: T.StructType) -> None:
        """Union ``schema`` by name into the table's record; write the
        record only when it is missing or the union adds a column. A
        table that has data but no record first adopts its footers'
        merged schema (one ``mergeSchema`` job, once), so the record
        never hides a column an existing file carries."""
        prev = self._record(table)
        unrecorded = prev is None
        if unrecorded and self.exists(table):
            try:
                prev = (
                    self.spark.read.option("mergeSchema", "true")
                    .parquet(self.path(table))
                    .schema
                )
            except AnalysisException:
                pass  # a directory without data files: nothing to adopt
        if prev is None:
            prev = T.StructType()
        known = {f.name: f.dataType for f in prev.fields}
        for f in schema.fields:
            # simpleString ignores nullability, which mergeSchema
            # also merges freely
            if f.name in known and (
                known[f.name].simpleString() != f.dataType.simpleString()
            ):
                raise TypeError(
                    f"{table}: column {f.name} is "
                    f"{f.dataType.simpleString()}, the table has "
                    f"{known[f.name].simpleString()}"
                )
        added = [f for f in schema.fields if f.name not in known]
        if added or unrecorded:
            self._save_record(table, T.StructType(list(prev.fields) + added))

    def append(self, table: str, df: DataFrame) -> None:
        self.write(table, df, mode="append")

    def max_id(self, table: str = BRONZE) -> int:
        """The table's id high-water: the largest ``id`` it has ever
        held, from the id record (``_ids.json`` at the table root).

        Every :meth:`write` to bronze saves the record after its commit:
        the high-water, raised to the largest id the write added (read
        from the new files' parquet footers, so the write runs no extra
        job), and the data files it covers. Here the table is listed on
        the driver; when the listing matches the record, its high-water
        is the answer and no Spark job runs. Otherwise only the
        uncovered files are scanned and the record is saved again. That
        covers a crash between a commit and its record, a compaction, a
        bronze fed by the stream (whose writes skip :meth:`write`) and a
        table without a record (adopted once).

        The high-water never decreases, like a Postgres sequence:
        deleted or rewritten rows do not lower it, so an id is never
        handed out twice."""
        if not self.exists(table):
            return 0
        hw, covered = self._id_record(table)
        files = self._data_files(table)
        if files == covered:
            return hw
        hw = max(hw, self._max_id_in(table, files - covered))
        self._save_ids(table, hw, files)
        return hw

    def _data_files(self, table: str) -> set[str]:
        """The table's data files, relative to its root, as Spark lists
        them (no path part starting with ``_`` or ``.``, so a crashed
        write's ``_temporary`` files are not data)."""
        root = _fsio.normalize(self.path(table))
        rels = (
            f[len(root):].lstrip("/")
            for f in _fsio.list_files_recursive(root, ".parquet")
        )
        return {
            rel for rel in rels
            if not any(part[:1] in "_." for part in rel.split("/"))
        }

    def _id_record(self, table: str) -> tuple[int, set[str]]:
        """(high-water, covered files) from the id record; (0, ∅)
        without one."""
        path = os.path.join(self.path(table), _IDS)
        if not _fsio.exists(path):
            return 0, set()
        rec = json.loads(_fsio.read_text(path))
        return int(rec["high_water"]), set(rec["files"])

    def _save_ids(self, table: str, high_water: int, files: set[str]) -> None:
        _fsio.write_text_atomic(
            os.path.join(self.path(table), _IDS),
            json.dumps({"high_water": high_water, "files": sorted(files)}),
        )

    def _max_id_in(self, table: str, files: set[str]) -> int:
        """MAX(id) over ``files`` (relative to the table root), 0 for
        none. A local file's parquet footer answers on the driver; the
        files a footer cannot answer for (a URI root, a row group
        written without statistics) go to one Spark aggregate."""
        root = _fsio.normalize(self.path(table))
        best, scan = 0, []
        for rel in files:
            f = os.path.join(root, rel)
            m = None if _fsio.is_uri(f) else _footer_max_id(f)
            if m is None:
                scan.append(f)
            else:
                best = max(best, m)
        if scan:
            val = (
                self.spark.read.schema("id long").parquet(*scan)
                .agg(F.max("id")).first()[0]
            )
            best = max(best, int(val or 0))
        return best

    def file_stats(self, table: str) -> dict[str, tuple[int, int]]:
        """{partition_dir: (n_files, total_bytes)} from a filesystem
        listing — the input to the compaction decision. The listing
        goes through ``_fsio``: a local walk for a plain path, the
        Hadoop FileSystem API (HDFS, S3 LIST, ``file:``) for a URI —
        what table formats keep in their manifest instead. Keys are
        relative to the table root (``.`` for files at the root)."""
        root = _fsio.normalize(self.path(table))
        stats: dict[str, tuple[int, int]] = {}
        for f, size in _fsio.file_sizes(root, ".parquet").items():
            rel = os.path.dirname(f)[len(root):].lstrip("/") or "."
            n, total = stats.get(rel, (0, 0))
            stats[rel] = (n + 1, total + size)
        return stats

    def compact(
        self,
        table: str,
        target_file_bytes: int = 128 << 20,
        small_file_threshold: float = 0.5,
    ) -> list[str]:
        """Rewrite partitions suffering small-files fragmentation so
        each holds ~``target_file_bytes`` parquet files. Returns the
        partition dirs rewritten (empty list = nothing to do).

        Appends (bronze ingest, manual silver patches) leave one file
        per (append, partition); the silver pipeline writes rewrite
        whole partitions as one file each, so they do not fragment. A
        year of hourly appends is ~8 760 files per partition, and scan
        planning, footer reads, and shuffle-read fan-in all degrade
        with file COUNT, not bytes — the classic 100 TB operational
        failure. Compaction = maintenance rewrite:
        per fragmented partition, ``repartition(partition_col)`` routes
        its rows to one task and ``maxRecordsPerFile`` re-splits output
        at the target size, so large partitions still produce multiple
        right-sized files. Only partitions whose average file size is
        below ``small_file_threshold × target`` AND holding >1 file are
        rewritten (dynamic partition overwrite, pinned for the rewrite
        like :meth:`write` — untouched partitions keep their files
        byte-identical, so the rewrite is idempotent and re-run-safe,
        the same guarantee as the M1/M2 merges).

        Skew note: one task per fragmented partition is the safe
        default while partitions are partition-pruning-sized (the
        design point, SURVEY.md §7.3.6); a pathologically large
        partition compacts via ``write_zordered``-style range
        repartitioning instead.
        """
        part_col = _PARTITION_COL[table]
        stats = self.file_stats(table)
        frag = [
            rel
            for rel, (n, total) in stats.items()
            # "=" filters out non-hive dirs (an unpartitioned layout's
            # root-level files are not compactable by partition value)
            if "=" in rel
            and n > 1
            and total / n < small_file_threshold * target_file_bytes
        ]
        if not frag:
            return []
        # partition dir names are hive-style "<col>=<value>"
        values = [rel.split("=", 1)[1] for rel in frag]
        df = self.read(table).filter(F.col(part_col).cast("string").isin(values))
        rows = df.count()
        if rows == 0:
            return []
        # estimate records per target file from the fragmented
        # partitions' own on-disk bytes-per-row
        frag_bytes = sum(stats[rel][1] for rel in frag)
        per_row = max(frag_bytes / rows, 1.0)
        max_records = max(int(target_file_bytes / per_row), 1)
        out = df.repartition(F.col(part_col))
        if table == SILVER:
            # preserve the composite-index analog (see write())
            out = out.sortWithinPartitions(part_col, "metric_name")
        with overwrite_mode(out.sparkSession, "dynamic"):
            (
                out.write.mode("overwrite")
                .partitionBy(part_col)
                .option("maxRecordsPerFile", max_records)
                .parquet(self.path(table))
            )
        return sorted(frag)


def _footer_max_id(path: str) -> "int | None":
    """MAX(id) of one local parquet file from its row groups' footer
    statistics (exact for integers): 0 when ``id`` holds no value, None
    when a row group with values carries no min/max."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    best = 0
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            if c.path_in_schema != "id":
                continue
            st = c.statistics
            if st is not None and st.has_min_max:
                best = max(best, st.max)
            elif st is None or st.null_count != g.num_rows:
                return None
    return best


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed managed table (Hive-style layout).

    Bucketing is the engine's co-located-join device: two fact tables
    bucketed identically on their join key sort-merge-join with NO
    shuffle exchange on either side — at 100 TB this removes the
    dominant cost of repeated fact-to-fact joins (the reference has no
    analog; Postgres gets this from btree indexes + merge joins).

    Bucketed output requires ``saveAsTable`` (path-based parquet writes
    can't record bucket metadata).
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table_name)


def zvalue(a, b, bits: int = 16):
    """Morton code of two ``bits``-wide non-negative long Columns: bit
    i of ``a`` lands at position 2i, bit i of ``b`` at 2i+1. Static
    2·bits-term shift/mask/or expression chain inside whole-stage
    codegen — no UDF. Shared by :func:`zorder_key` (data-derived
    bounds) and the fixed-bounds oracle query (``zorder_curve_stats``).

    Column ``&``/``|`` are LOGICAL operators in PySpark — bit ops need
    the explicit methods, and bitwiseAND requires matching operand
    types."""
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(one), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(one), 2 * i + 1)
        )
    return z


def quantize(col, lo: float, hi: float, bits: int):
    """Map a Column to an integer rank in [0, 2**bits) against FIXED
    bounds (the histogram_sketch posture: bounds are layout schema, a
    re-bound is a rewrite) — the exactly-SQL-replayable flavor the
    oracle-gated Z-order query uses; :func:`zorder_key` derives bounds
    from the data instead (one broadcast agg), which is the
    maintenance-rewrite convenience. Values at ``hi`` clamp into the
    top cell."""
    cells = 1 << bits
    width = (hi - lo) / cells
    return (
        F.least(
            F.greatest(F.floor((col - F.lit(lo)) / F.lit(width)), F.lit(0)),
            F.lit(cells - 1),
        )
        .cast("long")
    )


def zorder_key(df: DataFrame, col_a: str, col_b: str, bits: int = 16) -> DataFrame:
    """Attach a Z-order (Morton) key interleaving two numeric columns.

    Each column is min-max normalized to a ``bits``-bit integer
    (bounds via one broadcast agg — the same two-pass shape as the
    histogram queries), then bit-interleaved into ``_z``. Sorting the
    layout by ``_z`` clusters rows so that EVERY file's min/max
    bounding box is tight in BOTH dimensions at once — a single-column
    sort gives tight boxes in that column only. Parquet/ORC footer
    stats then prune files/row-groups for 2-D predicates, which
    single-dimension partitioning cannot do.

    The interleave is a static 2·bits-term expression chain —
    JVM-side, codegen'd once; no UDF.
    """
    bounds = df.agg(
        F.min(col_a).alias("_za_lo"),
        F.max(col_a).alias("_za_hi"),
        F.min(col_b).alias("_zb_lo"),
        F.max(col_b).alias("_zb_hi"),
    )
    scale = (1 << bits) - 1
    with_b = df.crossJoin(F.broadcast(bounds))

    def norm(c, lo, hi):
        span = F.col(hi) - F.col(lo)
        frac = F.when(span > 0, (F.col(c) - F.col(lo)) / span).otherwise(F.lit(0.0))
        return F.least(F.floor(frac * scale), F.lit(scale - 1)).cast("long")

    ia, ib = norm(col_a, "_za_lo", "_za_hi"), norm(col_b, "_zb_lo", "_zb_hi")
    return with_b.withColumn("_z", zvalue(ia, ib, bits)).drop(
        "_za_lo", "_za_hi", "_zb_lo", "_zb_hi"
    )


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int = 8,
    bits: int = 16,
) -> None:
    """Write parquet clustered by the Z-order key of (col_a, col_b):
    range-partition by ``_z`` (one skew-resistant sampled shuffle),
    sort within partitions, drop the key. Downstream scans prune via
    footer min/max on BOTH columns; no query-side change needed."""
    (
        zorder_key(df, col_a, col_b, bits)
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def pruned_scan_units(path: str, box: "dict[str, tuple]") -> "dict":
    """How much of a parquet layout a min/max-pruning scan must READ
    for a conjunctive range predicate ``{col: (lo, hi)}`` — counted
    from the REAL footers (pyarrow metadata), at both granularities an
    engine skips at: whole files and row groups. A unit must be read
    iff its [min, max] interval intersects [lo, hi] on EVERY predicate
    column; units without stats on some predicate column count as
    must-read (the conservative rule every engine applies).

    This is the query-side payoff measurement for :func:`write_zordered`
    (VERDICT r6 directive #5): the same selective 2-D predicate over a
    Z-ordered layout touches a small fraction of units; over a
    random/hash layout every file's bounding box spans ~the whole
    domain, so nothing skips. Driver-side, O(row groups)."""
    import glob

    import pyarrow.parquet as pq

    out = {
        "files_total": 0, "files_read": 0,
        "row_groups_total": 0, "row_groups_read": 0,
    }

    def intersects(stats_by_col) -> bool:
        for name, (lo, hi) in box.items():
            st = stats_by_col.get(name)
            if st is None:
                return True  # no stats ⇒ cannot skip
            mn, mx = st
            try:
                if mx < lo or mn > hi:
                    return False
            except TypeError:
                # stats type incomparable with the predicate bounds
                # (e.g. string column vs numeric box) ⇒ cannot skip
                return True
        return True

    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        out["files_total"] += 1
        file_read = False
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            out["row_groups_total"] += 1
            stats: "dict[str, tuple]" = {}
            for ci in range(g.num_columns):
                c = g.column(ci)
                if c.path_in_schema in box and c.statistics is not None:
                    st = c.statistics
                    if st.has_min_max:
                        stats[c.path_in_schema] = (st.min, st.max)
            if intersects(stats):
                out["row_groups_read"] += 1
                file_read = True
        if file_read:
            out["files_read"] += 1
    return out


def file_stat_spans(path: str, cols: "list[str]") -> "list[dict]":
    """Per-file min/max spans from the REAL parquet footers (pyarrow
    metadata — the exact statistics any engine's file/row-group
    skipping reads). One dict per data file: ``{col: (min, max)}``
    plus ``{col}_span``, the fraction of the column's global domain
    the file covers. Driver-side and O(files) — the measurement side
    of :func:`write_zordered` (a z-ordered layout's spans are small
    rectangles; a hash layout's are ~1.0 on every column), in the same
    maintenance-diagnostic family as :meth:`Warehouse.file_stats`."""
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    per_file: "list[dict]" = []
    glo: "dict[str, list[float]]" = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins: "dict[str, float]" = {}
        maxs: "dict[str, float]" = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                name = c.path_in_schema
                if name not in cols or c.statistics is None:
                    continue
                st = c.statistics
                # chunks without min/max (e.g. all-null) carry a
                # statistics object whose min/max accessors throw —
                # skip them rather than crash the diagnostic
                if not st.has_min_max:
                    continue
                mins[name] = min(mins.get(name, st.min), st.min)
                maxs[name] = max(maxs.get(name, st.max), st.max)
        # a file whose footers cover only a subset of the requested
        # columns would KeyError below — require the full set, the
        # same conservatism an engine's skipping logic applies (no
        # stats ⇒ the file can't be skipped ⇒ no span to report)
        if not all(name in mins for name in cols):
            continue
        entry = {"file": os.path.basename(f)}
        for name in cols:
            entry[name] = (mins[name], maxs[name])
            g = glo.setdefault(name, [mins[name], maxs[name]])
            g[0], g[1] = min(g[0], mins[name]), max(g[1], maxs[name])
        per_file.append(entry)
    for entry in per_file:
        for name in cols:
            lo, hi = glo[name]
            fmin, fmax = entry[name]
            dom = (hi - lo) or 1.0
            entry[f"{name}_span"] = (fmax - fmin) / dom
    return per_file
