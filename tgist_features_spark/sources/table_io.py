"""TableIO — the Iceberg seam (SURVEY.md §1.2).

The design point is Iceberg tables (snapshot-pinned scans, bucket(conv_id) x
day(ts) partition layout, metadata-level pruning). This layer has no
Iceberg path: it writes plain parquet (or ORC) with a content-derived
snapshot surrogate. Engine logic above this layer would be identical on
Iceberg — only scan/commit differ.

At the 100 TB design point the layout is:

    write: .writeTo(tbl).partitionedBy(bucket(N, 'conv_id'), days('ts'))
    read:  spark.read.option('snapshot-id', sid).table(tbl)

which gives (a) conv-local files so the range-repartition shuffle moves
mostly-local data, (b) day-level partition pruning for incremental backfills,
(c) snapshot isolation for resume. The parquet fallback mirrors (a)+(b) with
hash-bucket + date directory partitioning.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TableIO:
    """Thin scan/commit layer over partitioned parquet (or ORC) directories.

    ``fmt`` selects the columnar file format ("parquet" default, "orc"
    supported — both JVM-native, predicate-pushdown + column-pruning
    capable; the engine's plans are format-agnostic). One format per
    TableIO root: mixing formats inside one warehouse would make scans
    layout-dependent. (Avro is NOT offered: the spark-avro datasource
    module is absent from this container's jars — env-blocked like
    Iceberg, re-checked each round.)

    ``compression`` sets the file codec for every write this TableIO
    performs (None keeps Spark's default, snappy). At the 100 TB point
    "zstd" is the right call — ~30-50% smaller files than snappy at
    comparable scan throughput, which is less S3/HDFS traffic on every
    one of the engine's scans; the zstd-jni codec ships in this
    container and the option is verified by roundtrip test.
    """

    FORMATS = ("parquet", "orc")

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16,
                 fmt: str = "parquet", compression: str | None = None):
        if fmt not in self.FORMATS:
            raise ValueError(f"TableIO: fmt must be one of {self.FORMATS}")
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self.fmt = fmt
        self.compression = compression

    def _w(self, writer):
        """Apply table-level write options (compression codec)."""
        if self.compression:
            writer = writer.option("compression", self.compression)
        return writer

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              partition_on_ts: bool = True) -> None:
        """Feature-sink layout: bucket(conv_id) x day(ts) (S3, SURVEY §2.1)."""
        cols = set(df.columns)
        out = df
        parts = []
        if "conv_id" in cols:
            out = out.withColumn(
                "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(self.n_buckets))
            )
            parts.append("bucket")
        if partition_on_ts and "ts" in cols:
            out = out.withColumn("day", F.to_date("ts"))
            parts.append("day")
        writer = self._w(out.write.mode(mode))
        if parts:
            writer = writer.partitionBy(*parts)
        writer.format(self.fmt).save(self.path(name))

    def append(self, df: DataFrame, name: str) -> None:
        self._w(df.write.mode("append")).format(self.fmt).save(self.path(name))

    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        key: str = "conv_id",
        n_buckets: int | None = None,
        sort_cols: tuple[str, ...] = (),
        mode: str = "overwrite",
    ) -> str:
        """Hash-bucketed table (Spark bucketing, catalog-registered): two
        tables bucketed on the same key with the same bucket count join
        WITHOUT a shuffle on either side — the co-located-join layout for
        repeated large joins at the 100 TB point (pay the layout once at
        write time, skip the exchange on every subsequent join). Returns
        the catalog table name; read back with ``spark.table(...)``.

        Iceberg's equivalent is the bucket(N, key) partition transform;
        this is the builtin-catalog fallback, files under ``self.root``.
        """
        n = n_buckets or self.n_buckets
        # root-derived suffix: two TableIO instances with different roots in
        # one session must not collide on the session-global catalog name
        root_tag = hashlib.md5(self.root.encode()).hexdigest()[:6]
        tbl = f"{name}_b{n}_{root_tag}"
        writer = (
            df.write.mode(mode)
            .bucketBy(n, key)
            .option("path", self.path(tbl))
            .format(self.fmt)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(tbl)
        return tbl

    def read(self, name: str, drop_layout_cols: bool = True,
             merge_schema: bool = False) -> DataFrame:
        """``merge_schema=True`` unions the schemas of every file in the
        table (schema EVOLUTION on append: a column added by a later
        pipeline version reads as null for older files) — the parquet/ORC
        fallback for Iceberg's native schema evolution. Off by default:
        the footer-merging pass costs a file-listing's worth of metadata
        reads, which the stable-schema hot path shouldn't pay."""
        reader = self.spark.read.format(self.fmt)
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        df = reader.load(self.path(name))
        if drop_layout_cols:
            df = df.drop("bucket", "day")
        return df

    def compact(self, name: str, target_file_mb: int = 128) -> int:
        """Rewrite a table's files at ~``target_file_mb`` each — the
        maintenance companion of the streaming sinks, which append one
        small file per micro-batch and partition until the scan is
        metadata-bound. Preserves the partition directory layout
        (bucket=/day= columns are re-derived from the hive-read columns).
        Swap is a two-rename sequence (POSIX has no atomic directory
        exchange): a crash between the renames leaves the data intact in
        ``<table>__precompact`` and the NEXT call restores it; a crash
        after the swap (before cleanup) leaves a superseded
        ``__precompact`` beside the new table and the next call discards
        it. The upsert-key marker is copied into the replacement BEFORE
        the swap, so neither window can lose it. (The Iceberg form is a
        genuinely atomic rewrite-data-files commit.)
        Returns the new file count."""
        import shutil  # noqa: PLC0415

        src = self.path(name)
        old = src + "__precompact"
        if not os.path.isdir(src) and os.path.isdir(old):
            os.rename(old, src)  # crash between the two renames: restore
        elif os.path.isdir(src) and os.path.isdir(old):
            # crash AFTER the swap completed but before cleanup: src already
            # holds the complete compacted copy (rename is atomic) and the
            # marker was copied into it pre-swap, so the leftover is just
            # the superseded snapshot — drop it, or the rename below would
            # fail on a non-empty destination
            shutil.rmtree(old)
        # hive-partition cols come back from the directory layout
        df = self.spark.read.format(self.fmt).load(src)
        part_cols = [c for c in ("bucket", "day") if c in df.columns]
        size = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _d, fs in os.walk(src)
            for f in fs
            if not f.startswith(("_", "."))
        )
        n_files = max(1, size // (target_file_mb << 20) + 1)
        tmp = src + "__compacting"
        writer = df.repartition(int(n_files), *part_cols) if part_cols else \
            df.repartition(int(n_files))
        w = writer.write.mode("overwrite")
        if part_cols:
            w = w.partitionBy(*part_cols)
        w.format(self.fmt).save(tmp)
        # carry table-level metadata (the upsert bucketing marker) across
        # the rewrite BEFORE the swap — once tmp becomes src the marker is
        # already in place, so no crash window can lose it
        src_marker = os.path.join(src, self._UPSERT_MARKER)
        if os.path.exists(src_marker):
            shutil.copy(src_marker, os.path.join(tmp, self._UPSERT_MARKER))
        os.rename(src, old)
        os.rename(tmp, src)
        shutil.rmtree(old)
        return sum(
            1
            for _dp, _d, fs in os.walk(src)
            for f in fs
            if f.endswith((".parquet", ".orc"))
        )

    _UPSERT_MARKER = "_upsert_key"

    def upsert(self, df: DataFrame, name: str, key: str = "conv_id") -> dict:
        """MERGE-by-key into a bucket(key)-partitioned table, touching ONLY
        the bucket partitions the incoming keys hash into: existing rows
        with a matching key are replaced, new keys insert, and every other
        bucket's files are left byte-untouched (verified by test via file
        mtimes). This is the parquet-fallback form of an Iceberg MERGE
        INTO commit — partition-scoped rewrite + dynamic overwrite —
        sized by the DELTA's key spread, not the table.

        Layout contract: upsert OWNS its table's bucketing — the bootstrap
        write hashes ``key`` (not conv_id) and records it in a
        ``_upsert_key`` marker; later upserts verify the key matches, so
        two callers cannot silently merge on different bucketing
        functions. A table created by ``write`` is accepted only when it
        is bucket-only (no day= partitions — a keyed merge across time
        partitions could strand a key's old row in a day the overwrite
        never touches) AND ``key`` is conv_id (write's bucketing column);
        anything else raises rather than corrupting.

        Returns {"buckets_touched", "rows_upserted"}."""
        p = self.path(name)
        marker = os.path.join(p, self._UPSERT_MARKER)
        delta = df.withColumn(
            "bucket", F.pmod(F.xxhash64(key), F.lit(self.n_buckets))
        ).localCheckpoint(eager=True)  # one execution of the incoming plan
        per_bucket = delta.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("count"),
            F.count_distinct(F.col(key)).alias("n_keys"),
            F.sum(F.col(key).isNull().cast("int")).alias("n_nulls"),
        ).collect()
        touched = [int(r["bucket"]) for r in per_bucket]
        n_rows = sum(int(r["count"]) for r in per_bucket)
        # NULL merge keys are unsupported outright: xxhash64(NULL)
        # buckets them happily, but the replace anti-join can never match
        # a NULL key, so old NULL rows would accumulate forever — and
        # count_distinct ignores them, which would misreport them as
        # duplicates (review finding). Refuse with the real reason.
        n_nulls = sum(int(r["n_nulls"]) for r in per_bucket)
        if n_nulls:
            raise ValueError(
                f"TableIO.upsert: delta has {n_nulls} NULL {key!r} "
                "value(s) — a NULL merge key can never match for "
                "replacement; filter or fill them first"
            )
        # MERGE semantics need one row per key in the delta: buckets
        # partition the key space, so per-bucket distincts sum to the
        # global distinct count and the check costs nothing extra
        n_keys = sum(int(r["n_keys"]) for r in per_bucket)
        if n_keys != n_rows:
            raise ValueError(
                f"TableIO.upsert: delta has {n_rows} rows but only "
                f"{n_keys} distinct {key!r} values — a duplicated key "
                "would survive the merge as duplicate rows; dedupe the "
                "delta first (there is no row order to define last-wins)"
            )

        if not self.exists(name):
            # marker BEFORE data: a crash between the two leaves an empty
            # table dir that the next call simply re-bootstraps (the
            # reverse order would strand a keyless table that a retry with
            # a non-conv_id key could no longer adopt)
            os.makedirs(p, exist_ok=True)
            with open(marker, "w") as fh:
                fh.write(key)
            # dynamic overwrite: a plain overwrite would clear the whole
            # directory, marker included
            (
                delta.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .format(self.fmt)
                .save(p)
            )
            return {"buckets_touched": len(touched), "rows_upserted": n_rows}

        if os.path.exists(marker):
            stored = open(marker).read().strip()
            if stored != key:
                raise ValueError(
                    f"TableIO.upsert: table bucketed by {stored!r}, "
                    f"upsert key is {key!r} — merging on a different key "
                    "would leave duplicate rows in foreign buckets"
                )
        else:
            entries = os.listdir(p)
            if not any(f.startswith("bucket=") for f in entries):
                raise ValueError(
                    "TableIO.upsert: table is not bucket-partitioned; a "
                    "keyed merge would rewrite the whole table — do that "
                    "explicitly with write(mode='overwrite')"
                )
            has_day = any(
                d.startswith("day=")
                for f in entries
                if os.path.isdir(os.path.join(p, f))
                for d in os.listdir(os.path.join(p, f))
            )
            if has_day or key != "conv_id":
                raise ValueError(
                    "TableIO.upsert: table written by write() is mergeable "
                    "only when bucket-only (no day= partitions) and keyed "
                    "by conv_id — its buckets hash conv_id"
                )
            with open(marker, "w") as fh:
                fh.write(key)  # adopt: write() bucketing == this key

        # read ONLY the touched partitions (partition-pruned scan), drop
        # rows whose key arrives in the delta, union the delta back
        old = self.spark.read.format(self.fmt).load(p).filter(
            F.col("bucket").isin(touched)
        )
        keys = delta.select(key).distinct()
        # eager localCheckpoint BEFORE the overwrite: Spark (rightly)
        # refuses to overwrite a path its own plan is reading; the
        # materialized block set is delta-bucket-sized, not table-sized
        merged = (
            old.join(keys, key, "left_anti")
            .unionByName(delta)
            .localCheckpoint(eager=True)
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .format(self.fmt)
            .save(p)
        )
        return {"buckets_touched": len(touched), "rows_upserted": n_rows}

    def delete_partition(self, name: str, partition: str) -> None:
        """Remove one partition directory (e.g. ``bucket=3``) from a table.

        This is the REPLACE-semantics stand-in for zero-row partitions: a
        dynamic partition overwrite never touches a partition it writes no
        rows into, so a stale prior snapshot could linger there. With
        Iceberg this is the snapshot commit's REPLACE; the parquet fallback
        deletes the directory. Lives here — not in plan code — because the
        local-FS assumption (os.path/shutil) is a property of THIS fallback
        backend, not of the lineage plan; an HDFS/S3-backed TableIO
        overrides only this seam."""
        import shutil  # noqa: PLC0415

        pdir = os.path.join(self.path(name), partition)
        if os.path.isdir(pdir):
            shutil.rmtree(pdir)

    def exists(self, name: str) -> bool:
        p = self.path(name)
        return os.path.isdir(p) and any(
            # data files, or any hive-style partition dir (bucket=, day=,
            # ingest_batch=, ...)
            f.endswith((".parquet", ".orc"))
            or f.startswith("part-")
            or "=" in f
            for f in os.listdir(p)
        )

    def snapshot_id(self, name: str) -> str:
        """Snapshot surrogate for lineage rows: a hash over the file
        listing (relative path + size + mtime). On Iceberg this would be
        the table's snapshot-id; the surrogate is equivalent for resume
        purposes as long as rewrites touch mtimes — which every parquet
        writer does."""
        p = self.path(name)
        h = hashlib.sha256()
        for dirpath, _dirs, files in sorted(os.walk(p)):
            rel = os.path.relpath(dirpath, p)
            for f in sorted(files):
                if f.startswith(("_", ".")):
                    continue
                full = os.path.join(dirpath, f)
                st = os.stat(full)
                h.update(rel.encode())
                h.update(f.encode())
                h.update(str(st.st_size).encode())
                h.update(str(st.st_mtime_ns).encode())
        return h.hexdigest()[:16]
