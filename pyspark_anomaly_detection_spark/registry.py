"""Query registry — the engine's public query surface.

Every operator from SURVEY.md §2 is exposed as a named query: a function
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) an equivalent
ANSI-SQL oracle string that DuckDB runs over the same Parquet for the
driver's correctness gate.

Oracle-parity conventions (SURVEY.md §5.2 / §7.4), applied to EVERY pair:

* Session timezone UTC; dates/timestamps in output columns are formatted to
  strings (``date_format`` / ``strftime``) so value hashing is
  representation-independent.
* Money/metric doubles are aggregated through ``DECIMAL(18,2)`` (exact — the
  testdata carries 2-dp values) and cast back to double, so Spark and DuckDB
  produce bitwise-identical float64 outputs regardless of summation order.
  Ratios/averages are computed as ``CAST(exact_sum AS DOUBLE) / count`` —
  a single identical IEEE-754 division in both engines.  ``ROUND`` on
  doubles is avoided (Spark rounds the shortest-decimal representation,
  DuckDB the binary value — they disagree on half-way reprs).
* Integer sums are cast to BIGINT in the oracle (DuckDB's SUM(BIGINT)
  returns HUGEINT, which pandas can't hash consistently).
* Every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    fn: QueryFn
    oracle: str | None  # None → driver records a weaker rows-only check
    headline: bool = False  # include in bench.py's timed suite
    #: True → the query's plan deliberately contains a Python evaluation
    #: stage (pandas UDF / mapInPandas) because the Python code IS the
    #: operator under test (codec lanes, footer walks, rank-statistic
    #: UDAFs).  The blanket no-Python-on-the-JVM-path plan contract
    #: (tests/test_plans.py) exempts exactly these — declaring it at the
    #: registration site keeps the contract in lockstep with oracle
    #: promotions instead of a test-side whitelist that can go stale.
    python_lane: bool = False


REGISTRY: dict[str, Query] = {}

#: qNN number → owning query name (uniqueness enforced in register())
_QNUM_OWNER: dict[int, str] = {}

#: Placeholder an oracle may embed when it must address the parquet FILES
#: themselves (DuckDB table functions like ``parquet_metadata``) rather
#: than the pre-registered table views.  Consumers substitute the sf dir
#: they are running against via :func:`resolve_oracle`; the driver runs
#: its correctness gate at sf0.01, which is the default.
SF_DIR_TOKEN = "{SF_DIR}"

DRIVER_SF_DIR = "/root/testdata/sf0.01"


def resolve_oracle(oracle, sf_dir: str | None = None) -> str | None:
    """Substitute :data:`SF_DIR_TOKEN` with the given sf dir (driver
    default when None).  No-op for oracles without the token.

    ``oracle`` may also be a CALLABLE ``(sf_dir) -> str`` for oracles
    whose SQL depends on the data dir's contents (q193 builds its
    parquet_metadata() union over only the files that exist, mirroring
    the Spark side's missing-file skip — ADVICE r8 item 3)."""
    if oracle is None:
        return None
    sf = sf_dir or DRIVER_SF_DIR
    if callable(oracle):
        oracle = oracle(sf)
    return oracle.replace(SF_DIR_TOKEN, sf)


def register(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    python_lane: bool = False,
):
    """Decorator: register a named query with its DuckDB oracle SQL.

    Each registered fn is wrapped to release the PREVIOUS query's tracked
    persist() pool on entry (see cachepool.py) — so sweeps that run the
    whole registry in one session keep at most one query's working set
    cached instead of accumulating entries per invocation."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        # qNN is a stable handle in docs/verdicts/PLAN_AUDIT — collisions
        # (two q226s existed through r11) silently fork the handle, so
        # enforce number uniqueness at registration time
        m = re.match(r"q(\d+)_", name)
        if m:
            num = int(m.group(1))
            other = _QNUM_OWNER.setdefault(num, name)
            if other != name:
                raise ValueError(
                    f"duplicate query number q{num}: '{name}' collides "
                    f"with '{other}' — renumber the new registration"
                )

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from pyspark_anomaly_detection_spark.cachepool import release_tracked

            release_tracked()
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        REGISTRY[name] = Query(
            fn=wrapped, oracle=oracle, headline=headline, python_lane=python_lane
        )
        return fn

    return deco


def query_digest_line(name: str, q: Query) -> str:
    """One registered query's identity as ``registry_fingerprint`` digests
    it: ``name=module.qualname:src_md5:oracle_md5``.  Content only — where
    the function's lines sit in its module is not part of it, so an edit
    that shifts a ``@register`` line stales no artifact."""
    import hashlib
    import inspect

    fn = getattr(q.fn, "__wrapped__", q.fn)
    try:
        src, _ = inspect.getsourcelines(fn)
        src_digest = hashlib.md5("".join(src).encode()).hexdigest()
    except OSError:
        src_digest = "unknown"
    oracle = resolve_oracle(q.oracle) or ""
    return (
        f"{name}={fn.__module__}.{fn.__qualname__}:"
        f"{src_digest}:{hashlib.md5(oracle.encode()).hexdigest()}"
    )


def registry_fingerprint() -> dict:
    """Identity of the CURRENT query registry, for stamping into every
    generated evidence artifact (verdict r10 item 1 — round 10's close
    left sf0.1 artifacts predating the last feature commit and no test
    noticed; name-set coverage alone cannot catch a changed
    implementation under an unchanged name).

    ``registry_hash`` digests the sorted :func:`query_digest_line` of
    every registered query — module, qualname, source text and oracle
    SQL — so any edit to a registered query (renamed, rewritten,
    re-oracled) changes the hash and invalidates previously generated
    artifacts, while moving it within its module does not.  ``git_head``
    records the commit the generator ran at (informational — the
    enforced invariant is the registry hash, since committing
    regenerated artifacts necessarily advances HEAD past the stamped
    value)."""
    import hashlib
    import os
    import subprocess

    qs = all_queries()
    lines = [query_digest_line(name, q) for name, q in sorted(qs.items())]
    registry_hash = hashlib.md5("\n".join(lines).encode()).hexdigest()
    # package_hash (ADVICE r15): registry_hash covers only registered
    # query functions + oracle SQL, so a LIBRARY-only change (deltalite
    # internals, neardup blocking, io paths...) leaves it unchanged and
    # the sweep-skip gate would accept a stale green artifact.  Hashing
    # every package source file closes that hole: the skip gate in
    # tools/bench_slope.py requires BOTH hashes to match, and
    # FUZZ_PARITY.json (tools/data_fuzz.py) is checked against it;
    # the other freshness tests enforce registry_hash, which any query
    # edit moves.
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    pkg = hashlib.md5()
    for dirpath, dirnames, filenames in os.walk(pkg_root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, fn), pkg_root)
                pkg.update(rel.encode())
                with open(os.path.join(dirpath, fn), "rb") as f:
                    pkg.update(f.read())
    package_hash = pkg.hexdigest()
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            timeout=10,
        ).stdout.strip() or "unknown"
    except Exception:
        head = "unknown"
    return {
        "registry_hash": registry_hash,
        "package_hash": package_hash,
        "git_head": head,
        "n_queries": len(qs),
        "n_oracle": sum(1 for q in qs.values() if q.oracle is not None),
    }


def all_queries() -> dict[str, Query]:
    """Import every query module (self-registering) and return the registry."""
    # Imports deferred to avoid circulars; each module registers on import.
    import pyspark_anomaly_detection_spark.events.analytics  # noqa: F401
    import pyspark_anomaly_detection_spark.events.anomaly  # noqa: F401
    import pyspark_anomaly_detection_spark.events.rollup  # noqa: F401
    import pyspark_anomaly_detection_spark.events.snapshots  # noqa: F401
    import pyspark_anomaly_detection_spark.events.temporal  # noqa: F401
    import pyspark_anomaly_detection_spark.io.introspect  # noqa: F401
    import pyspark_anomaly_detection_spark.io.pydatasource  # noqa: F401
    import pyspark_anomaly_detection_spark.io.warc  # noqa: F401
    import pyspark_anomaly_detection_spark.io.tarshard  # noqa: F401
    import pyspark_anomaly_detection_spark.io.deltalite  # noqa: F401
    import pyspark_anomaly_detection_spark.io.rowsources  # noqa: F401
    import pyspark_anomaly_detection_spark.io.deltalite_stream  # noqa: F401
    import pyspark_anomaly_detection_spark.io.deltalite_dml  # noqa: F401
    import pyspark_anomaly_detection_spark.io.deltalite_dv  # noqa: F401
    import pyspark_anomaly_detection_spark.io.deltalite_cm  # noqa: F401
    import pyspark_anomaly_detection_spark.io.deltalite_restore  # noqa: F401
    import pyspark_anomaly_detection_spark.io.deltalite_constraints  # noqa: F401
    import pyspark_anomaly_detection_spark.io.deltalite_generated  # noqa: F401
    import pyspark_anomaly_detection_spark.io.deltalite_clone  # noqa: F401
    import pyspark_anomaly_detection_spark.io.deltalite_identity  # noqa: F401
    import pyspark_anomaly_detection_spark.events.time_windows  # noqa: F401
    import pyspark_anomaly_detection_spark.ml.clustering  # noqa: F401
    import pyspark_anomaly_detection_spark.ml.lsh  # noqa: F401
    import pyspark_anomaly_detection_spark.ml.pipeline  # noqa: F401
    import pyspark_anomaly_detection_spark.multimodal.binary_ops  # noqa: F401
    import pyspark_anomaly_detection_spark.quality.drift  # noqa: F401
    import pyspark_anomaly_detection_spark.quality.gates  # noqa: F401
    import pyspark_anomaly_detection_spark.quality.profile  # noqa: F401
    import pyspark_anomaly_detection_spark.relational.advanced  # noqa: F401
    import pyspark_anomaly_detection_spark.relational.analytics_extra  # noqa: F401
    import pyspark_anomaly_detection_spark.relational.breadth  # noqa: F401
    import pyspark_anomaly_detection_spark.relational.queries  # noqa: F401
    import pyspark_anomaly_detection_spark.relational.setops  # noqa: F401
    import pyspark_anomaly_detection_spark.relational.spark4  # noqa: F401
    import pyspark_anomaly_detection_spark.relational.tpch  # noqa: F401
    import pyspark_anomaly_detection_spark.relational.tpch_more  # noqa: F401
    import pyspark_anomaly_detection_spark.similarity.ann  # noqa: F401
    import pyspark_anomaly_detection_spark.streaming.watermark_replay  # noqa: F401
    import pyspark_anomaly_detection_spark.similarity.neardup  # noqa: F401
    import pyspark_anomaly_detection_spark.similarity.pca  # noqa: F401
    import pyspark_anomaly_detection_spark.text.clusters  # noqa: F401
    import pyspark_anomaly_detection_spark.text.decontam  # noqa: F401
    import pyspark_anomaly_detection_spark.text.lm  # noqa: F401
    import pyspark_anomaly_detection_spark.text.pii  # noqa: F401
    import pyspark_anomaly_detection_spark.text.dedup  # noqa: F401
    import pyspark_anomaly_detection_spark.text.search  # noqa: F401
    import pyspark_anomaly_detection_spark.text.setjoin  # noqa: F401
    import pyspark_anomaly_detection_spark.text.shards  # noqa: F401
    import pyspark_anomaly_detection_spark.text.splits  # noqa: F401
    import pyspark_anomaly_detection_spark.text.stats  # noqa: F401
    import pyspark_anomaly_detection_spark.text.udtf_ops  # noqa: F401
    import pyspark_anomaly_detection_spark.text.urls  # noqa: F401
    import pyspark_anomaly_detection_spark.windows.extra  # noqa: F401
    import pyspark_anomaly_detection_spark.windows.features  # noqa: F401

    return dict(REGISTRY)
