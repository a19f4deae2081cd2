"""SparkSession factory.

Replicates the reference's session knobs (reference
``config/spark_config.py:19-38``): AQE on, Kryo serializer, UTC session
timezone (mandatory for oracle parity), ``local[*]`` default master — while
adding the settings this engine needs:

* ``spark.sql.legacy.parquet.nanosAsLong=true`` — the ``events`` testdata
  table stores ``timestamp[ns]`` which Spark's vectorized Parquet reader
  rejects by default; we read it as nanosecond longs and convert exactly
  (see ``io.readers.load_table``).
* Arrow execution enabled — all Python UDF paths in this engine are
  vectorized (pandas_udf / mapInPandas); row-at-a-time UDFs are banned.

At cluster scale the same factory applies; only ``master`` and the
memory/shuffle sizing change (pass ``extra_conf``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark_session(
    app_name: str = "pyspark-analytics-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    Parity-critical settings: UTC timezone (reference
    ``config/spark_config.py:37``), adaptive query execution (reference
    ``config/spark_config.py:28``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # oracle parity: DuckDB computes in UTC-naive timestamps
        .config("spark.sql.session.timeZone", "UTC")
        # reference sizing (config/spark_config.py:30-33): 8g heap; in
        # local mode driver==executor JVM, so this sizes the whole engine.
        # Only effective at JVM launch — the factory is the first session
        # creator everywhere (tests, bench, driver contract).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "8g"),
        )
        # runtime re-planning: partition coalescing, broadcast demotion, skew splits
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # inject Bloom pre-filters on the big side of selective shuffle
        # joins (fact rows that can't match are dropped before the shuffle)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Shuffled-hash over sort-merge when the per-partition build side
        # fits (guide §3.1/§9).  Adopted r17 on the sf1 A/B the r16
        # round deferred for lack of evidence: 5-rep isolated means at
        # sf1/local[32] — q107 1.83→1.72 s, q03 1.62→1.50 s, q02 flat;
        # no effect at sf0.1 where every eligible join broadcasts
        # (PLAN_AUDIT).  The AQE threshold below also lets runtime stats
        # rewrite SMJ→SHJ per partition.  OOM caveat at cluster scale: a
        # skewed build-side partition must fit executor memory — AQE
        # skew-split handles join skew, and SPARK_GRAFT_EXTRA_CONF can
        # flip either setting back per deployment.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "67108864",
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # events.parquet is timestamp[ns]; read as long, convert exactly in reader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for every pandas_udf / mapInPandas / toPandas path
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        # catalog home for bucketed tables (io.writers.write_bucketed);
        # kept outside the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
    )
    # Pin BLAS/OpenMP pools inside Python workers to 1 thread (override
    # with $SPARK_GRAFT_BLAS_THREADS; "0" disables pinning).  Parallelism
    # in the vectorized lanes (similarity/ann.py, similarity/pca.py) comes
    # from Spark TASKS — local[32] already runs 32 Python workers, so any
    # per-worker BLAS pool multiplies thread count past the core count and
    # turns the matmul lanes into stragglers under load (r14's sf1 sweep
    # recorded a 6× q116 rep spike, BENCH_SCALE_sf1.json).  Same rationale
    # on a real cluster: executor cores × BLAS threads oversubscribes the
    # host.  Propagates via executorEnv, which local-mode Python workers
    # inherit (verified empirically — see BENCH_NOTES.md round 15).
    blas_threads = os.environ.get("SPARK_GRAFT_BLAS_THREADS", "1")
    if blas_threads != "0":
        for var in (
            "OPENBLAS_NUM_THREADS",
            "OMP_NUM_THREADS",
            "MKL_NUM_THREADS",
            "NUMEXPR_NUM_THREADS",
        ):
            builder = builder.config(f"spark.executorEnv.{var}", blas_threads)
    # Deployment-tunable confs via env (r17): semicolon-separated k=v
    # pairs, e.g. SPARK_GRAFT_EXTRA_CONF="spark.sql.join.preferSortMergeJoin=false;
    # spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64m".
    # Keeps scale-dependent settings parameterised instead of hard-coded
    # for one host (round rules); the bench harness itself never sets it,
    # so driver comparisons stay apples-to-apples.  Explicit extra_conf
    # from callers wins over the env.
    conf = {}
    for pair in filter(None, os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";")):
        key, _, value = pair.partition("=")
        if key.strip() and value:
            conf[key.strip()] = value.strip()
    conf.update(extra_conf or {})
    # Python workers import this package from the checkout that started
    # the driver, wherever the driver's working directory is: its parent
    # directory goes first on the workers' PYTHONPATH.
    package_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = "spark.executorEnv.PYTHONPATH"
    conf[pythonpath] = os.pathsep.join(
        filter(None, [package_parent, conf.get(pythonpath)])
    )
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
