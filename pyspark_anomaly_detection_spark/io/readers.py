"""Schema-enforced scans over the testdata star schema and raw CSV feeds.

Scan operators S1-S3 from SURVEY.md §2.1:

* S1 — CSV scan with explicit schema + custom timestamp format
  (reference ``src/data/ingestion.py:69-74``).
* S2 — PERMISSIVE CSV scan with corrupt-record capture
  (reference ``src/data/ingestion_pyspark.py:28-35``).
* S3 — columnar table scan (reference uses Delta ``load``; the testdata is
  plain Parquet — format is pluggable, nothing hard-depends on Delta).

Scale note: all readers return lazy DataFrames; filters/projections composed
on top push down into the Parquet scan (verify with
``df.explain()`` → ``PushedFilters`` / ``ReadSchema``).  The ``events``
table's ns-timestamp normalization is a single exact integer projection that
stays inside whole-stage codegen.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pyspark_anomaly_detection_spark.io.schemas import (
    CORRUPT_RECORD_COL,
    RAW_TIMESTAMP_FORMAT,
)

#: Tables the driver materializes at each scale factor (TESTDATA.md)
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_engine_confs(spark: SparkSession) -> None:
    """Defensive, idempotent conf repair for sessions NOT built by our
    ``session.get_spark_session`` (e.g. the driver harness passes its own
    session to ``__spark_entry__.queries()``).  Both confs are runtime-
    settable and parity-critical: without ``nanosAsLong`` the events scan
    throws PARQUET_TYPE_ILLEGAL; without UTC, timestamp formatting drifts
    from the DuckDB oracle."""
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


#: Input-layout repair threshold (r17, guide §2.5 "input skew: one huge
#: unsplittable file … repartition immediately after the read"): EVERY
#: committed testdata file — and the generated sf1 scale files — carries
#: exactly ONE parquet row group, so Spark's split math
#: (maxSplitBytes = min(maxPartitionBytes, max(openCost, bytes/minPartitionNum)))
#: produces splits that all collapse onto the single row group: every
#: scan stage, and the partial aggregation / projection work fused into
#: it, ran as ONE task regardless of core count.  This was measured as
#: the engine-wide serial chokepoint behind the flat 8-vs-32-core
#: ratios the r16 driver flagged (q01 at sf1: 7.5 s on local[32] ≈ one
#: core's decimal-agg throughput).  Tables at or above this many bytes
#: are hash-repartitioned to the session's default parallelism on a
#: deterministic key (the table's leading column — the PK-ish column in
#: every testdata schema), which needs no pre-shuffle sort (unlike
#: round-robin) and is retry-safe.  Below the threshold the shuffle
#: would cost more than the serial scan, and below
#: SINGLE_PARTITION_MAX_BYTES the table is declared one partition
#: instead, so operators above it need no shuffle.  Self-disabling at real
#: layouts: inputs that already scan with >= parallelism/2 tasks are
#: left untouched, so this never fires on properly laid-out data.
#: Tune/disable via env (0 disables).
SCAN_PARALLEL_MIN_BYTES = int(
    os.environ.get("SPARK_GRAFT_SCAN_PARALLEL_MIN_BYTES", str(6 * 1024 * 1024))
)


#: Single-partition floor, the mirror image of the repair above: a table
#: under this many bytes whose files hold at most one parquet row group is
#: returned as ``coalesce(1)``.  Its scan already runs as one non-empty
#: task, so no scan parallelism is lost; but the scan reports unknown
#: partitioning, so every aggregate, window and join above it plans an
#: exchange, and at this size each exchange is a Spark job of fixed
#: overhead (~0.09 s) doing almost no work.  ``coalesce(1)`` reports
#: SinglePartition, which satisfies every distribution an operator above
#: it requires, so those exchanges and their jobs disappear.  1.5 MiB sits
#: above every sf0.01 table (lineitem 1.04 MB) and below the sf0.1 tables
#: whose post-scan parallelism pays (events 2.0 MB, orders 2.7 MB).  Real
#: layouts have many row groups, so the rule never fires on them.
SINGLE_PARTITION_MAX_BYTES = 3 * 512 * 1024


def _footprint(path: str) -> tuple[int, int]:
    """(total data bytes, newest mtime in ns) of a parquet file-or-directory
    path — changes whenever a file under it is rewritten, added or removed."""
    if os.path.isfile(path):
        st = os.stat(path)
        return st.st_size, st.st_mtime_ns
    total, newest = 0, 0
    for root, _dirs, files in os.walk(path):
        newest = max(newest, os.stat(root).st_mtime_ns)
        for f in files:
            if not f.startswith(("_", ".")):
                st = os.stat(os.path.join(root, f))
                total += st.st_size
                newest = max(newest, st.st_mtime_ns)
    return total, newest


def _path_bytes(path: str) -> int:
    """Total data bytes under a parquet file-or-directory path."""
    return _footprint(path)[0]


def _row_groups(path: str) -> int:
    """Total parquet row groups under ``path`` — the TRUE upper bound on
    scan parallelism.  Spark's split count is size/maxSplitBytes, but
    splits that contain no row-group midpoint read zero rows, so a big
    single-row-group file plans ~20 splits and still executes on ONE
    task; only the footer metadata reveals that."""
    import pyarrow.parquet as pq

    if os.path.isfile(path):
        files = [path]
    else:
        files = [
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    total = 0
    for f in files:
        try:
            total += pq.ParquetFile(f).metadata.num_row_groups
        except Exception:  # noqa: BLE001 - unreadable piece: assume 1
            total += 1
    return total


#: path -> (footprint, inferred schema, row groups).  Inference is an
#: eager Spark job and load_table runs per query build, so each table is
#: inferred once; a rewritten file changes the footprint and is inferred
#: again.
_SCAN_MEMO: dict[str, tuple[tuple[int, int], StructType, int]] = {}


def _scan_facts(spark: SparkSession, path: str) -> tuple[StructType, int, int]:
    """(inferred schema, row groups, total bytes) of a local parquet path."""
    footprint = _footprint(path)
    hit = _SCAN_MEMO.get(path)
    if hit is None or hit[0] != footprint:
        hit = (footprint, spark.read.parquet(path).schema, _row_groups(path))
        _SCAN_MEMO[path] = hit
    return hit[1], hit[2], footprint[0]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame.

    ``events.ts`` arrives in one of two physical forms depending on how the
    driver materialized it, and both are normalized to session-tz TIMESTAMP
    so every downstream operator (``unix_micros``, range frames, window
    specs) sees one type:

    * Parquet ``timestamp[ns]`` — Spark reads it as a nanosecond long under
      ``spark.sql.legacy.parquet.nanosAsLong``; converted with integer
      division (``div 1000`` — exact, truncating), matching DuckDB's ns→µs
      truncation.
    * Parquet ``timestamp[us]`` (isAdjustedToUTC=false) — Spark reads it as
      TIMESTAMP_NTZ; cast to TIMESTAMP, which under the UTC session
      timezone reinterprets the same wall-clock instant exactly (no value
      change), matching DuckDB's naive-timestamp read.

    A local path's schema is inferred once per file footprint
    (``_scan_facts``) and then supplied, so building a query runs no
    Spark job here.  A path that is not on the local file system is read
    as it is, with inference and without the layout rules below.
    """
    _ensure_engine_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    if not os.path.exists(path):
        return spark.read.parquet(path)
    schema, row_groups, nbytes = _scan_facts(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Normalize every TIMESTAMP_NTZ column (timestamp[us], isAdjustedToUTC
    # =false) to session-tz TIMESTAMP: under the UTC session timezone the
    # cast reinterprets the identical wall-clock instant (no value change),
    # and downstream operators (unix_micros, range frames) require TIMESTAMP.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    # Layout rules (see SCAN_PARALLEL_MIN_BYTES, SINGLE_PARTITION_MAX_BYTES):
    # a big table that scans under-parallel is spread out, a small
    # single-row-group one is declared one partition.  Row groups, not
    # Spark's split count: splits without a row-group midpoint execute
    # empty, so split count overstates the real scan parallelism.
    # Results are partitioning-independent by the engine's own conventions
    # (exact decimal/integer aggregation, window frames define their own
    # fold order, banded float verdicts) — re-proven by the parity matrix
    # and fuzz sweep.
    target = spark.sparkContext.defaultParallelism
    if 0 < SCAN_PARALLEL_MIN_BYTES <= nbytes and row_groups < max(2, target // 2):
        df = df.repartition(target, F.col(df.columns[0]))
    elif nbytes < SINGLE_PARTITION_MAX_BYTES and row_groups <= 1:
        df = df.coalesce(1)
    return df


def load_all_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for ``spark.sql``."""
    for name, df in load_all_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def read_csv_enforced(
    spark: SparkSession,
    path: str,
    schema: StructType,
    timestamp_format: str = RAW_TIMESTAMP_FORMAT,
) -> DataFrame:
    """S1: header CSV with an explicit schema — no inference pass.

    Mirrors reference ``src/data/ingestion.py:69-74``.
    """
    return spark.read.csv(
        path, header=True, schema=schema, timestampFormat=timestamp_format
    )


def read_csv_permissive(
    spark: SparkSession,
    path: str,
    schema: StructType,
    timestamp_format: str = RAW_TIMESTAMP_FORMAT,
    corrupt_col: str = CORRUPT_RECORD_COL,
) -> DataFrame:
    """S2: PERMISSIVE CSV scan; malformed rows land in ``corrupt_col``.

    Mirrors reference ``src/data/ingestion_pyspark.py:28-35``.  The schema
    must contain ``corrupt_col`` as a nullable string field.
    """
    return (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .option("timestampFormat", timestamp_format)
        .schema(schema)
        .csv(path)
    )


def split_quarantine(df: DataFrame, corrupt_col: str = CORRUPT_RECORD_COL) -> tuple[DataFrame, DataFrame]:
    """Q3: split a PERMISSIVE scan into (clean, corrupt) branches.

    Mirrors reference ``src/data/ingestion_pyspark.py:37-44``, minus its
    inefficiency: callers should ``persist()`` the parent before consuming
    both branches (the reference re-scans the CSV up to 4× — SURVEY §4.3).
    """
    corrupt = df.filter(F.col(corrupt_col).isNotNull())
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    return clean, corrupt
