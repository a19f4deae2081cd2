"""Table maintenance: small-file compaction with sorted rewrite.

The operational complement of the sinks in ``writers.py``: streaming and
micro-batch ingest (``streaming/incremental.py``) accumulate many small
Parquet files per partition — at 100 TB that means metadata-bound scans
(every file open costs a NameNode/object-store round trip and its own
footer read) and useless min/max statistics.  Compaction rewrites a
table/partition into size-targeted files, optionally sorted so column
min/max footers become selective again (the poor man's Z-order for a
single dominant predicate column; multi-column layout is q115's Morton
key).

This is the same job Delta's OPTIMIZE (+ ZORDER) or Iceberg's
rewrite_data_files runs; expressed here with plain DataFrame primitives
so it works on any hive-layout Parquet table.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

TARGET_FILE_BYTES = 128 * 1024 * 1024  # cluster default; tests shrink it


def plan_file_count(total_bytes: int, target_file_bytes: int = TARGET_FILE_BYTES) -> int:
    """Files needed to hold ``total_bytes`` at the target size (≥1)."""
    return max(1, math.ceil(total_bytes / target_file_bytes))


def _rename_or_raise(fs, src, dst, step: str) -> None:
    """Hadoop ``FileSystem.rename`` signals failure by returning false
    (dest exists, src missing, cross-filesystem move) rather than raising.
    Every swap step must check it: proceeding past a failed rename and then
    deleting the "old" copy is how you lose the only copy of a table.
    """
    if not fs.rename(src, dst):
        raise IOError(f"rename failed during {step}: {src} -> {dst}")


def _clear_leftover(fs, jvm, path_str: str) -> None:
    """Delete a stale staging/trash dir left by a crashed prior run, so its
    presence can't make this run's rename return false mid-swap.
    """
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    if fs.exists(p):
        fs.delete(p, True)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    sort_by: list[str] | None = None,
) -> int:
    """Rewrite a Parquet directory into ``ceil(bytes/target)`` files.

    Sizing reads the actual on-disk bytes (Hadoop FS API via the JVM — no
    Python filesystem walk, so it works on any supported scheme, not just
    ``file:``).  With ``sort_by`` the rewrite range-partitions on the sort
    columns and sorts within each partition, so every output file covers a
    narrow, disjoint range and its footer min/max prunes reads (plain
    ``repartition`` + local sort would leave each file spanning the whole
    domain).  Returns the file count written.

    The rewrite stages to ``<path>__compact`` and swaps via two renames
    (table → ``__old``, staging → table), each checked — a failed rename
    raises before anything is deleted, so a crash or race never silently
    drops data.  The swap is NOT atomic for concurrent readers: between the
    two renames the table path briefly does not exist.  Single-writer,
    coordinated-reader tables only; for reader-transparent swaps use a
    transactional format (Delta/Iceberg OPTIMIZE).
    """
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hadoop_conf = jsc.hadoopConfiguration()
    src = jvm.org.apache.hadoop.fs.Path(path)
    fs = src.getFileSystem(hadoop_conf)
    total = fs.getContentSummary(src).getLength()
    n_files = plan_file_count(total, target_file_bytes)

    # A crashed prior run may have left __compact/__old behind; their
    # presence would fail this run's renames, so clear them first.
    _clear_leftover(fs, jvm, path.rstrip("/") + "__compact")
    _clear_leftover(fs, jvm, path.rstrip("/") + "__old")

    df = spark.read.parquet(path)
    if sort_by:
        compacted = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(
            *sort_by
        )
    else:
        compacted = df.repartition(n_files)

    staging = path.rstrip("/") + "__compact"
    compacted.write.mode("overwrite").parquet(staging)
    trash = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__old")
    staged = jvm.org.apache.hadoop.fs.Path(staging)
    _rename_or_raise(fs, src, trash, "compact swap (table -> __old)")
    try:
        _rename_or_raise(fs, staged, src, "compact swap (__compact -> table)")
    except IOError:
        # Second rename failed with the table path vacated: restore the
        # original so the table is never left missing.
        fs.rename(trash, src)
        raise
    fs.delete(trash, True)
    return n_files


def parquet_file_count(spark: SparkSession, path: str) -> int:
    """Data files (part-*) currently backing a Parquet directory."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    src = jvm.org.apache.hadoop.fs.Path(path)
    fs = src.getFileSystem(jsc.hadoopConfiguration())
    it = fs.listFiles(src, True)
    n = 0
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.startswith("part-"):
            n += 1
    return n


def delete_keys(
    spark: SparkSession,
    path: str,
    partition_by: list[str],
    key_col: str,
    keys: DataFrame,
) -> dict[str, int]:
    """Targeted key deletion from a hive-partitioned Parquet table — the
    GDPR/right-to-be-forgotten write pattern: remove every row whose
    ``key_col`` is in ``keys`` by rewriting ONLY the partitions that
    contain such rows, via dynamic partition overwrite
    (``io.writers.overwrite_partitions``).

    Plan shape at 100 TB: one semi-join pass (keys broadcast — a deletion
    request list is small) finds the touched partitions; the rewrite then
    reads just those partitions back (partition pruning on the IN-list
    filter) and anti-joins the keys out.  Untouched partitions — the
    overwhelming majority — are never read or written.  Returns
    ``{"partitions_rewritten": …, "rows_deleted": …}``.
    """
    from pyspark.sql import functions as F

    from pyspark_anomaly_detection_spark.io.writers import overwrite_partitions

    table = spark.read.parquet(path)
    key_set = F.broadcast(keys.select(key_col).distinct())

    touched = (
        table.join(key_set, key_col, "left_semi")
        .select(*partition_by)
        .distinct()
        .collect()
    )
    if not touched:
        return {"partitions_rewritten": 0, "rows_deleted": 0}

    # IN-list filter over the partition columns → partition-pruned scan
    pred = None
    for row in touched:
        clause = None
        for col in partition_by:
            c = F.col(col) == F.lit(row[col])
            clause = c if clause is None else (clause & c)
        pred = clause if pred is None else (pred | clause)

    affected = table.filter(pred)
    kept = affected.join(key_set, key_col, "left_anti")
    n_before = affected.count()

    # Stage the survivors before overwriting: Spark refuses (or worse,
    # lazily re-reads) a path that the write is about to clobber.
    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    staging = path.rstrip("/") + "__delete_staging"
    _clear_leftover(fs, jvm, staging)
    kept.write.mode("overwrite").parquet(staging)
    # explicit schema: an all-rows-deleted staging dir has no data files
    staged = spark.read.schema(kept.schema).parquet(staging)
    n_after = staged.count()
    if n_after > 0:
        overwrite_partitions(staged, path, partition_by)

    # Dynamic overwrite only touches partitions PRESENT in the written
    # frame — a partition whose every row was deleted must be removed
    # explicitly or its old files survive.
    kept_parts = {
        tuple(row[c] for c in partition_by)
        for row in staged.select(*partition_by).distinct().collect()
    }
    emptied = [
        row
        for row in touched
        if tuple(row[c] for c in partition_by) not in kept_parts
    ]
    for row in emptied:
        part_dir = "/".join(f"{c}={row[c]}" for c in partition_by)
        p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/" + part_dir)
        if fs.exists(p):
            fs.delete(p, True)
    _clear_leftover(fs, jvm, staging)
    return {
        "partitions_rewritten": len(touched),
        "rows_deleted": n_before - n_after,
    }


def merge_keys(
    spark: SparkSession,
    path: str,
    partition_by: list[str],
    key_col: str,
    updates: DataFrame,
) -> dict[str, int]:
    """Keyed MERGE (upsert) into a hive-partitioned Parquet table —
    Delta Lake's ``MERGE INTO … WHEN MATCHED THEN UPDATE SET * WHEN NOT
    MATCHED THEN INSERT *`` semantics re-expressed on plain Parquet for
    environments without the Delta runtime (jars absent here; the
    skip-gated tests/test_delta_integration.py covers the native form).
    The reference itself only overwrite-writes its silver Delta table
    (src/data/silver.py:56) — MERGE is the incremental upgrade a real
    deployment of that storage layer would use.

    Plan shape at 100 TB (mirrors :func:`delete_keys`): rewrite set =
    partitions currently holding a matched key (the key's OLD home —
    handles updates that MOVE a key across partitions) ∪ partitions the
    update rows land in.  Those partitions are read back partition-
    pruned, matched keys anti-joined out, update rows unioned in, and
    dynamic partition overwrite rewrites exactly that set — untouched
    partitions are never read or written.  ``updates`` must carry the
    full table schema including the partition columns; one row per key
    (enforced — ambiguous multi-row updates are an error, matching
    Delta's behavior).  Precondition: the TARGET table must also hold
    at most one row per key (the invariant every prior merge_keys call
    preserves) — with duplicate target keys, all duplicates of a
    matched key are collapsed into the single update row and
    ``rows_updated``/``rows_inserted`` count rows, not keys, so
    ``rows_inserted`` can go negative.  Returns
    ``{"partitions_rewritten": …, "rows_updated": …,
    "rows_inserted": …}``.  An empty ``updates`` frame is a clean
    no-op returning all-zero counts.
    """
    from pyspark.sql import functions as F

    from pyspark_anomaly_detection_spark.io.writers import overwrite_partitions

    dup = (
        updates.groupBy(key_col).agg(F.count("*").alias("n")).filter("n > 1")
    )
    n_dup = dup.count()
    if n_dup:
        raise ValueError(
            f"merge_keys: {n_dup} keys appear in multiple update rows — "
            "MERGE requires at most one source row per key"
        )

    table = spark.read.parquet(path)
    key_set = F.broadcast(updates.select(key_col).distinct())
    # count BEFORE the rewrite: `updates` may be a lazy plan reading this
    # very table (e.g. the streaming CDC gate) — after the overwrite its
    # source files are gone and any late action on it fails.
    n_updates = updates.count()
    if n_updates == 0:
        # No-op merge: without this guard `touched` is empty, `pred`
        # stays None and table.filter(None) raises an opaque Py4J error.
        return {
            "partitions_rewritten": 0,
            "rows_updated": 0,
            "rows_inserted": 0,
        }

    old_parts = (
        table.join(key_set, key_col, "left_semi")
        .select(*partition_by)
        .distinct()
    )
    new_parts = updates.select(*partition_by).distinct()
    touched = old_parts.unionByName(new_parts).distinct().collect()
    n_matched = table.join(key_set, key_col, "left_semi").count()

    pred = None
    for row in touched:
        clause = None
        for col in partition_by:
            c = F.col(col) == F.lit(row[col])
            clause = c if clause is None else (clause & c)
        pred = clause if pred is None else (pred | clause)

    kept = table.filter(pred).join(key_set, key_col, "left_anti")
    merged = kept.select(*updates.columns).unionByName(updates)

    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    staging = path.rstrip("/") + "__merge_staging"
    _clear_leftover(fs, jvm, staging)
    merged.write.mode("overwrite").parquet(staging)
    staged = spark.read.schema(merged.schema).parquet(staging)
    if staged.limit(1).count() > 0:
        overwrite_partitions(staged, path, partition_by)

    # Dynamic overwrite only replaces partitions PRESENT in the staged
    # frame — when every row of a key's OLD partition moved away and no
    # update landed there, that partition is absent from staging and its
    # stale files would survive as duplicates.  Delete emptied partitions
    # explicitly (same hazard + fix as delete_keys).
    staged_parts = {
        tuple(row[c] for c in partition_by)
        for row in staged.select(*partition_by).distinct().collect()
    }
    for row in touched:
        if tuple(row[c] for c in partition_by) not in staged_parts:
            part_dir = "/".join(f"{c}={row[c]}" for c in partition_by)
            p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/" + part_dir)
            if fs.exists(p):
                fs.delete(p, True)
    _clear_leftover(fs, jvm, staging)
    return {
        "partitions_rewritten": len(touched),
        "rows_updated": n_matched,
        "rows_inserted": n_updates - n_matched,
    }


def scd2_apply(
    spark: SparkSession,
    path: str,
    key_col: str,
    attr_cols: list[str],
    updates: DataFrame,
    effective_col: str = "effective_ts",
) -> dict[str, int]:
    """Apply a batch of attribute changes to an SCD-type-2 dimension
    table — the WRITER-side twin of the q73 range reader (events/
    temporal.py): each key keeps full history as [valid_from, valid_to)
    rows, ``valid_to IS NULL`` marking the current version.

    ``updates`` carries (key, attrs…, effective_ts).  Per key: if the
    current row's attributes differ (or no row exists), the current row
    is CLOSED (valid_to = effective_ts) and a new current row opens at
    effective_ts; identical attributes are a no-op (idempotent replays).
    At most one update per key per batch (enforced, like merge_keys).

    Scale note: an SCD2 dimension is dimension-sized, so this performs a
    staged full-table rewrite — the standard lakehouse pattern for
    versioned dims; fact-sized tables should use partition-pruned
    :func:`merge_keys` instead.  All comparison/closing logic is one
    declarative plan (outer join on key against current rows), no
    driver loops.  Returns row counts: ``{"rows_closed", "rows_opened",
    "rows_unchanged"}``.
    """
    from pyspark.sql import functions as F

    dup = updates.groupBy(key_col).agg(F.count("*").alias("n")).filter("n > 1")
    if dup.count():
        raise ValueError("scd2_apply: at most one update row per key per batch")

    table = spark.read.parquet(path)
    cur = table.filter(F.col("valid_to").isNull())
    hist = table.filter(F.col("valid_to").isNotNull())

    u = updates.select(
        F.col(key_col),
        *[F.col(c).alias(f"_u_{c}") for c in attr_cols],
        F.col(effective_col).alias("_eff"),
    )
    j = cur.join(u, key_col, "full_outer")

    changed = F.lit(False)
    for c in attr_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"_u_{c}"))
    has_update = F.col("_eff").isNotNull()
    is_new_key = F.col("valid_from").isNull()

    # existing current rows: close if a DIFFERENT update arrived
    kept_current = j.filter(~is_new_key).select(
        key_col,
        *attr_cols,
        "valid_from",
        F.when(has_update & changed, F.col("_eff")).otherwise(None).alias(
            "valid_to"
        ),
    )
    # new current versions: changed keys + brand-new keys
    opened = j.filter(has_update & (is_new_key | changed)).select(
        key_col,
        *[F.col(f"_u_{c}").alias(c) for c in attr_cols],
        F.col("_eff").alias("valid_from"),
        F.lit(None).cast(cur.schema["valid_to"].dataType).alias("valid_to"),
    )
    out_cols = [key_col, *attr_cols, "valid_from", "valid_to"]
    merged = (
        hist.select(*out_cols)
        .unionByName(kept_current.select(*out_cols))
        .unionByName(opened.select(*out_cols))
    )

    n_closed = j.filter(~is_new_key & has_update & changed).count()
    n_opened = j.filter(has_update & (is_new_key | changed)).count()
    n_unchanged = j.filter(~is_new_key & has_update & ~changed).count()

    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    staging = path.rstrip("/") + "__scd2_staging"
    _clear_leftover(fs, jvm, staging)
    merged.write.mode("overwrite").parquet(staging)
    staged = spark.read.schema(merged.schema).parquet(staging)
    staged.write.mode("overwrite").parquet(path)
    _clear_leftover(fs, jvm, staging)
    return {
        "rows_closed": n_closed,
        "rows_opened": n_opened,
        "rows_unchanged": n_unchanged,
    }


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int,
    z_buckets: int = 256,
) -> None:
    """Z-order (Morton) layout rewrite: cluster a table on TWO columns at
    once so parquet min/max footers skip files for predicates on EITHER
    — the job Delta's ``OPTIMIZE ZORDER BY (a, b)`` runs, from plain
    DataFrame primitives (q115 is the key-census twin of this writer).

    Each dimension is first normalized to ``z_buckets`` uniform buckets
    over its observed [min, max] (one tiny scalar aggregate): raw key
    domains of different magnitudes would otherwise stack one column's
    high bits above ALL of the other's bits, degenerating the curve into
    a single-column sort.  Uniform bucketing matches uniform-ish key
    domains (TPC-H); for skewed dimensions the swap-in is approxQuantile
    boundaries (rank-space normalization, as Delta does) — same key
    arithmetic, different bucket map.

    Then one range shuffle on the interleaved ``zorder64`` key with an
    in-partition sort lays rows out along the curve; no single-task sort
    anywhere, so the rewrite scales with the cluster like any range
    partitioning."""
    from pyspark.sql import functions as F

    from pyspark_anomaly_detection_spark.functions import zorder64

    bounds = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(col_a).alias("a_lo"),
        F.max(col_a).alias("a_hi"),
        F.min(col_b).alias("b_lo"),
        F.max(col_b).alias("b_hi"),
    ).head()
    # Contract: both clustering columns must be non-null integers with a
    # bounded domain (bucket arithmetic is long multiplication — spans
    # near 2^55 would wrap under non-ANSI Spark).  An empty frame (e.g. a
    # partition group whose rows deletion vectors removed) writes nothing.
    # An all-null column yields None bounds; rows with NULL keys would get
    # a NULL _zkey and collapse into one range partition — raise instead
    # of writing a silently degenerate layout.
    if bounds["n"] == 0:
        return
    if any(bounds[k] is None for k in ("a_lo", "a_hi", "b_lo", "b_hi")):
        raise ValueError(
            f"write_zordered: all-null clustering column "
            f"({col_a!r}/{col_b!r} bounds: {tuple(bounds)[1:]}) — z-order "
            "requires non-null, bounded-integer clustering keys"
        )

    def bucket(col: str, lo, hi) -> "F.Column":
        span = int(hi) - int(lo) + 1
        return F.floor(
            (F.col(col) - F.lit(int(lo))).cast("long") * z_buckets / span
        ).cast("long")

    z = zorder64(
        bucket(col_a, bounds["a_lo"], bounds["a_hi"]),
        bucket(col_b, bounds["b_lo"], bounds["b_hi"]),
    )
    (
        df.withColumn("_zkey", z)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
