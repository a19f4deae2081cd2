"""The closed-loop workloads.  One client: each op starts only after the
previous one returned.

* ``olap_star`` / ``llm_curation`` / ``query_mix`` (the two together) —
  seed-shuffled rounds over a fixed mix of registry queries.  An op is the query-function call (``plan``)
  followed by a noop-sink materialization (``execute``).  Every round runs
  each query once, so every run samples the same query mix whatever the
  seed; the loop stops at the first round boundary after the deadline.
* ``lake_dml`` — cycles of append, MERGE upsert, deletion-vector DELETE
  and three reads (snapshot census, time travel, pruned key range) on one
  deltalite table seeded from ``orders``, with OPTIMIZE every
  ``OPTIMIZE_EVERY`` cycles and the engine's own checkpoint every 10
  commits; the loop stops at the first OPTIMIZE boundary after the
  deadline and after ``MIN_CYCLES`` cycles.  A DuckDB replay of the same
  generated op log checks every read.

A timed op during which the hypervisor took CPU time away from this
machine is run again (``Context.measured``).
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Op, Tracer

OLAP_STAR = (
    "q01_pricing_summary",
    "q02_top_revenue_orders",
    "q03_region_revenue",
    "q04_daily_order_summary",
    "q107_blocking_supplier",
    "q21_velocity_windows",
    "q24_tumbling_hourly",
    "q61_rollup_cascade",
    "q63_sessionization_gap",
    "q130_daily_anomaly_monitor",
    "q39_dq_violation_counts",
)
LLM_CURATION = (
    "q28_doc_stats",
    "q34_minhash_lsh_pairs",
    "q100_training_pipeline",
    "q37_ann_cosine_topk",
    "q116_ann_topk_vectorized",
    "q182_rolling_dup_spans",
    "q204_lsh_keep_first",
    "q222_benchmark_decontamination",
    "q201_resize_census",
)
MIXES = {
    "olap_star": OLAP_STAR,
    "llm_curation": LLM_CURATION,
    "query_mix": OLAP_STAR + LLM_CURATION,
}
QUERY_LAYERS = (
    "relational", "windows", "events", "quality", "text", "similarity",
    "multimodal",
)
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

#: An op during which the hypervisor took more than this share (%) of the
#: machine's CPU time is run again.  On the 4-core guest used to tune the
#: benchmark, steal over a run's timed ops ranged from 0.5% to 14% between
#: runs a minute apart, and op wall times rose with it by up to 70% while
#: the CPU time the engine used per op stayed within 6%.
STEAL_LIMIT_PCT = 2.0
#: attempts per op, and extra op seconds a run may spend on repeats
MAX_ATTEMPTS = 3
RETRY_BUDGET_S = 4.0


@dataclass
class Context:
    spark: object
    tracer: Tracer
    sf_dir: str
    run_dir: str
    rng: np.random.Generator
    trace: bool
    ops: list[Op] = field(default_factory=list)
    #: query name -> None, or why its output failed the oracle check
    query_checks: dict[str, str | None] = field(default_factory=dict)
    #: checks that are not tied to one timed op (lake_dml warm cycle and
    #: final census): name -> None or the failure
    run_checks: dict[str, str | None] = field(default_factory=dict)
    #: digest of every generated input (op order, keys, values)
    inputs: "hashlib._Hash" = field(default_factory=hashlib.sha256)
    #: repeated attempts and the op seconds they took
    retries: int = 0
    retry_s: float = 0.0

    def next_id(self) -> int:
        return len(self.ops)

    def measured(
        self, attempt: Callable[[], Op], undo: Callable[[], None] | None = None,
        retry: bool = True,
    ) -> Op:
        """Run ``attempt`` (one timed op) and append the op it returns.
        While the hypervisor took more than ``STEAL_LIMIT_PCT`` of the
        CPU time during it, run it again, up to ``MAX_ATTEMPTS`` times and
        ``RETRY_BUDGET_S`` of repeats per run.  A read keeps its attempt
        with the least steal; a write calls ``undo`` to put the table back
        before it runs again, and keeps its last attempt.  Untimed ops
        (``retry`` false), traced runs and failed ops are not repeated."""
        tries = [attempt()]
        while (
            retry and not self.trace and tries[-1].ok
            and tries[-1].steal_pct > STEAL_LIMIT_PCT
            and len(tries) < MAX_ATTEMPTS and self.retry_s < RETRY_BUDGET_S
        ):
            self.retries += 1
            self.retry_s += tries[-1].total_s
            if undo is not None:
                undo()
            tries.append(attempt())
        op = tries[-1] if undo is not None else min(tries, key=lambda o: o.steal_pct)
        op.extra["attempts"] = len(tries)
        self.ops.append(op)
        return op


def materialize(df) -> None:
    """Execute the whole plan into the noop sink: no rows reach the driver."""
    df.write.mode("overwrite").format("noop").save()


def duckdb_views(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


# --------------------------------------------------------------------------
# query mixes


class QueryMix:
    def __init__(self, names: tuple[str, ...]) -> None:
        from pyspark_anomaly_detection_spark.registry import all_queries

        registry = all_queries()
        self.names = names
        self.queries = {n: registry[n] for n in names}
        self.layer = {
            n: q.fn.__wrapped__.__module__.split(".")[1]
            for n, q in self.queries.items()
        }
        self.rows_out: dict[str, int] = {}

    def setup(self, ctx: Context) -> float:
        """Untimed pass at the target scale: runs every query once,
        collecting its output, and checks it against the registry's DuckDB
        oracle.  Returns the Spark-side seconds (the warm part of set-up);
        oracle and comparison time are excluded."""
        from pyspark_anomaly_detection_spark.registry import resolve_oracle
        from tools.parity_check import compare

        con = duckdb_views(ctx.sf_dir)
        warm = 0.0
        try:
            t0 = time.perf_counter()
            materialize(ctx.spark.range(1))  # first noop-sink write
            warm += time.perf_counter() - t0
            for name in self.names:
                q = self.queries[name]
                t0 = time.perf_counter()
                try:
                    got = q.fn(ctx.spark, ctx.sf_dir).toPandas()
                except Exception as e:  # noqa: BLE001 - counted as failure
                    warm += time.perf_counter() - t0
                    ctx.query_checks[name] = f"raised {type(e).__name__}: {str(e)[:200]}"
                    continue
                warm += time.perf_counter() - t0
                want = con.execute(resolve_oracle(q.oracle, ctx.sf_dir)).df()
                ctx.query_checks[name] = compare(got, want, name)
                self.rows_out[name] = len(got)
        finally:
            con.close()
        return warm

    def run(self, ctx: Context, seconds: float) -> float:
        """Timed rounds; returns the timed wall seconds.  A traced run
        traces every other op, flipping parity each round, and runs at
        least two rounds so every query is seen traced and untraced: the
        tracing overhead is measured inside the same run."""
        min_rounds = 2 if ctx.trace else 1
        start = time.perf_counter()
        rounds = 0
        while rounds < min_rounds or time.perf_counter() - start < seconds:
            order = ctx.rng.permutation(len(self.names))
            ctx.inputs.update(order.tobytes())
            for k, i in enumerate(order):
                ctx.tracer.active = ctx.trace and (rounds + k) % 2 == 0
                name = self.names[i]

                def attempt(name=name) -> Op:
                    op = Op(ctx.next_id(), name, "read", self.layer[name])
                    op.extra["round"] = rounds
                    with ctx.tracer.op(op):
                        with ctx.tracer.phase(op, "plan"):
                            df = self.queries[name].fn(ctx.spark, ctx.sf_dir)
                        with ctx.tracer.phase(op, "execute"):
                            materialize(df)
                    return op

                op = ctx.measured(attempt)
                if ctx.query_checks.get(name) is not None:
                    op.ok = False
                    op.error = f"output check failed: {ctx.query_checks[name]}"
            rounds += 1
        ctx.tracer.active = False
        return time.perf_counter() - start


# --------------------------------------------------------------------------
# lake_dml

#: fraction of the seeded row count per batch
APPEND_FRAC = 0.01
MERGE_FRAC = 0.01
DELETE_FRAC = 0.005
PRUNE_FRAC = 0.01
#: OPTIMIZE after every this many cycles; time travel reads this far back
OPTIMIZE_EVERY = 3
TRAVEL_BACK = 3
SEED_COMMITS = 2
#: timed cycles a run holds at least: 18 reads and 20 commits.  With 9
#: reads, three runs with almost no steal read 0.53 to 0.62 s in read_p50_s.
MIN_CYCLES = 6


def _census_sql(where: str = "") -> str:
    return (
        "SELECT o_orderpriority, COUNT(*), "
        "SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM t "
        f"{where} GROUP BY 1 ORDER BY 1"
    )


def _census(df):
    """Spark side of ``_census_sql``: rows per priority, exact price sum."""
    from pyspark.sql import functions as F

    return df.groupBy("o_orderpriority").agg(
        F.count("*"), F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    )


def _range_total(df):
    from pyspark.sql import functions as F

    return df.agg(F.count("*"), F.sum(F.col("o_totalprice").cast("decimal(18,2)")))


def _dir_sizes(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def _parquet_bytes(pdf: pd.DataFrame) -> int:
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), buf)
    return buf.tell()


class LakeDml:
    def __init__(self) -> None:
        self.table = ""
        self.replay = None  # DuckDB connection holding table ``t``
        self.census: dict[int, list[tuple]] = {}
        self.version = -1
        self.live: np.ndarray = np.empty(0, np.int64)
        self.next_key = 0
        self.base_rows = 0
        self.cycles = 0
        self.timed = False
        self._pos = 0
        self.user_bytes = 0
        self.table_bytes_written = 0
        self.schema = None
        self.pool: pd.DataFrame | None = None  # seed orders rows

    # -- replay bookkeeping ---------------------------------------------------
    def _log_dir(self) -> str:
        return os.path.join(self.table, "_delta_log")

    def _versions(self) -> tuple[int, int]:
        """(latest commit version, newest checkpoint version or -1)."""
        latest, ckpt = -1, -1
        for f in os.listdir(self._log_dir()):
            head = f.split(".", 1)[0]
            if not head.isdigit():
                continue
            if f.endswith(".json"):
                latest = max(latest, int(head))
            elif f.endswith(".checkpoint.parquet"):
                ckpt = max(ckpt, int(head))
        return latest, ckpt

    def _record_version(self) -> None:
        self.version = self._versions()[0]
        self.census[self.version] = self.replay.execute(_census_sql()).fetchall()

    def _commit_rewrites(self, v0: int, v1: int) -> tuple[int, int]:
        """(data files rewritten, rows in newly written data files) over
        commits ``v0+1 .. v1``.  A DV delete re-adds the same path: not a
        rewrite."""
        files = rows = 0
        for v in range(v0 + 1, v1 + 1):
            adds, removes = set(), set()
            with open(os.path.join(self._log_dir(), f"{v:020d}.json")) as f:
                for line in f:
                    action = json.loads(line)
                    if "add" in action:
                        adds.add(action["add"]["path"])
                    elif "remove" in action:
                        removes.add(action["remove"]["path"])
            files += len(removes - adds)
            for rel in adds - removes:
                rows += pq.read_metadata(os.path.join(self.table, rel)).num_rows
        return files, rows

    # -- generated inputs -------------------------------------------------------
    def _rows(self, ctx: Context, keys: np.ndarray) -> pd.DataFrame:
        """Rows for ``keys``: every other column is a seeded draw of whole
        rows of the seed ``orders`` table, so batches carry its value
        distributions and types."""
        picks = ctx.rng.integers(0, len(self.pool), len(keys))
        rows = self.pool.iloc[picks].reset_index(drop=True)
        rows["o_orderkey"] = keys.astype(np.int64)
        ctx.inputs.update(pd.util.hash_pandas_object(rows, index=False).to_numpy().tobytes())
        return rows

    def _new_keys(self, n: int) -> np.ndarray:
        keys = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        return keys

    def _take_live(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return rng.choice(self.live, size=min(n, len(self.live)), replace=False)

    # -- set-up -----------------------------------------------------------------
    def setup(self, ctx: Context) -> float:
        """Seed the table from ``orders`` in ``SEED_COMMITS`` key-range
        commits, build the DuckDB replay, and run one untimed cycle.
        Returns the seconds spent (all of it is warm-up)."""
        import duckdb
        from pyspark.sql import functions as F

        from pyspark_anomaly_detection_spark.io import deltalite
        from pyspark_anomaly_detection_spark.io.readers import load_table

        t0 = time.perf_counter()
        self.table = os.path.join(ctx.run_dir, "lake", "orders_t")
        orders = load_table(ctx.spark, ctx.sf_dir, "orders")
        self.schema = orders.schema
        self.replay = duckdb.connect()
        self.replay.execute(
            f"CREATE TABLE t AS SELECT * FROM read_parquet('{ctx.sf_dir}/orders.parquet')"
        )
        self.base_rows, max_key = self.replay.execute(
            "SELECT COUNT(*), MAX(o_orderkey) FROM t"
        ).fetchone()
        self.pool = pq.read_table(os.path.join(ctx.sf_dir, "orders.parquet")).to_pandas()
        self.live = self.pool["o_orderkey"].to_numpy(np.int64)
        self.next_key = int(max_key) + 1
        step = self.next_key // SEED_COMMITS + 1
        for i in range(SEED_COMMITS):
            part = orders.filter(
                (F.col("o_orderkey") >= i * step) & (F.col("o_orderkey") < (i + 1) * step)
            )
            deltalite.write_delta(part, self.table, mode="append")
            self.version = self._versions()[0]
            self.census[self.version] = self.replay.execute(
                _census_sql(f"WHERE o_orderkey < {(i + 1) * step}")
            ).fetchall()
        self.cycle(ctx, timed=False)
        errors = [f"{op.name}: {op.error}" for op in ctx.ops if not op.ok]
        ctx.run_checks["warm cycle"] = "; ".join(errors) or None
        ctx.ops.clear()
        return time.perf_counter() - t0

    def _alternate(self, ctx: Context) -> None:
        """Traced runs trace every other op, flipping parity each cycle so
        each op type is seen both traced and untraced."""
        ctx.tracer.active = (
            ctx.trace and self.timed and (self.cycles + self._pos) % 2 == 0
        )
        self._pos += 1

    # -- one cycle ----------------------------------------------------------------
    def _write(self, ctx: Context, name: str, body, user_bytes: int, changed: int) -> None:
        self._alternate(ctx)
        before = _dir_sizes(self.table)
        v0 = self.version
        # a repeated write first puts back the table as it was before
        saved = os.path.join(ctx.run_dir, "undo")
        shutil.rmtree(saved, ignore_errors=True)
        retry = self.timed and not ctx.trace
        if retry:
            shutil.copytree(self.table, saved)

        def attempt() -> Op:
            op = Op(ctx.next_id(), name, "write", "deltalite")
            with ctx.tracer.op(op):
                body(op)
            return op

        def undo() -> None:
            shutil.rmtree(self.table)
            shutil.copytree(saved, self.table)

        op = ctx.measured(attempt, undo, retry)
        after = _dir_sizes(self.table)
        written = sum(
            size for rel, size in after.items() if before.get(rel) != size
        )
        v1 = self._versions()[0]
        files, rows = self._commit_rewrites(v0, v1) if op.ok else (0, 0)
        op.extra.update(
            bytes_written=written, files_rewritten=files, rows_rewritten=rows,
            rows_changed=changed, commits=v1 - v0,
        )
        if self.timed:
            self.user_bytes += user_bytes
            self.table_bytes_written += written

    def _read(self, ctx: Context, name: str, snapshot, plan, expect) -> None:
        self._alternate(ctx)
        latest, ckpt = self._versions()
        got: dict[int, list] = {}

        def attempt() -> Op:
            op = Op(ctx.next_id(), name, "read", "deltalite")
            op.extra["log_commits_replayed"] = latest - max(ckpt, -1)
            with ctx.tracer.op(op):
                with ctx.tracer.phase(op, "snapshot"):
                    df = snapshot()
                with ctx.tracer.phase(op, "plan"):
                    agg = plan(df)
                with ctx.tracer.phase(op, "execute"):
                    got[id(op)] = agg.collect()
            return op

        op = ctx.measured(attempt, retry=self.timed)
        if op.ok:
            rows = sorted(tuple(r) for r in got[id(op)])
            if rows != [tuple(r) for r in expect]:
                op.ok = False
                op.error = f"{name} mismatch: spark {rows[:3]} vs replay {expect[:3]}"

    def cycle(self, ctx: Context, timed: bool = True) -> None:
        """One append / merge / delete / three-read cycle, plus OPTIMIZE
        every ``OPTIMIZE_EVERY`` cycles.  The untimed warm cycle is never
        traced and adds nothing to the write-amplification totals."""
        from pyspark_anomaly_detection_spark.io import deltalite
        from pyspark_anomaly_detection_spark.io.deltalite_dml import merge_delta
        from pyspark_anomaly_detection_spark.io.deltalite_dv import delete_delta_dv

        self.timed = timed
        self._pos = 0  # op position within the cycle
        spark, rng = ctx.spark, ctx.rng
        table = self.table

        # append ~1% new keys
        batch = self._rows(ctx, self._new_keys(max(1, int(self.base_rows * APPEND_FRAC))))

        def append(op: Op) -> None:
            with ctx.tracer.phase(op, "plan"):
                df = spark.createDataFrame(batch, schema=self.schema)
            with ctx.tracer.phase(op, "execute"):
                deltalite.write_delta(df, table, mode="append")

        self._write(ctx, "append", append, _parquet_bytes(batch), len(batch))
        self.replay.register("batch", batch)
        self.replay.execute("INSERT INTO t SELECT * FROM batch")
        self.replay.unregister("batch")
        self.live = np.concatenate([self.live, batch["o_orderkey"].to_numpy()])
        self._record_version()

        # MERGE upsert ~1%: half matched live keys, half new keys
        n = max(2, int(self.base_rows * MERGE_FRAC))
        keys = np.concatenate([self._take_live(rng, n // 2), self._new_keys(n - n // 2)])
        src = self._rows(ctx, keys)

        def merge(op: Op) -> None:
            with ctx.tracer.phase(op, "plan"):
                df = spark.createDataFrame(src, schema=self.schema)
            with ctx.tracer.phase(op, "execute"):
                merge_delta(spark, table, df, key="o_orderkey")

        self._write(ctx, "merge", merge, _parquet_bytes(src), len(src))
        self.replay.register("src", src)
        self.replay.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM src)")
        self.replay.execute("INSERT INTO t SELECT * FROM src")
        self.replay.unregister("src")
        self.live = np.union1d(self.live, keys)
        self._record_version()

        # deletion-vector DELETE ~0.5% of live keys
        gone = np.sort(self._take_live(rng, max(1, int(self.base_rows * DELETE_FRAC))))
        ctx.inputs.update(gone.tobytes())
        predicate = f"o_orderkey IN ({','.join(str(int(k)) for k in gone)})"

        def delete(op: Op) -> None:
            with ctx.tracer.phase(op, "execute"):
                delete_delta_dv(spark, table, predicate)

        gone_pdf = pd.DataFrame({"o_orderkey": gone})
        self._write(ctx, "delete", delete, _parquet_bytes(gone_pdf), len(gone))
        self.replay.register("gone", gone_pdf)
        self.replay.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM gone)")
        self.replay.unregister("gone")
        self.live = np.setdiff1d(self.live, gone, assume_unique=True)
        self._record_version()

        # reads: snapshot census, time travel, pruned key range
        self._read(
            ctx, "census", lambda: deltalite.read_delta(spark, table), _census,
            self.census[self.version],
        )
        back = max(0, self.version - TRAVEL_BACK)
        while back not in self.census:
            back += 1
        self._read(
            ctx, "time_travel",
            lambda: deltalite.read_delta(spark, table, version=back), _census,
            self.census[back],
        )
        span = max(1, int(self.next_key * PRUNE_FRAC))
        lo = int(rng.integers(0, max(1, self.next_key - span)))
        hi = lo + span - 1
        ctx.inputs.update(f"{lo}:{hi}".encode())
        expect = self.replay.execute(
            "SELECT COUNT(*), SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM t "
            f"WHERE o_orderkey BETWEEN {lo} AND {hi}"
        ).fetchall()
        self._read(
            ctx, "pruned",
            lambda: deltalite.read_delta_pruned(spark, table, "o_orderkey", lo, hi)[0],
            _range_total,
            expect,
        )

        if self.cycles % OPTIMIZE_EVERY == 0:
            def optimize(op: Op) -> None:
                with ctx.tracer.phase(op, "execute"):
                    deltalite.optimize_delta(spark, table)

            self._write(ctx, "optimize", optimize, 0, 0)
            self._record_version()
        self.cycles += timed

    def run(self, ctx: Context, seconds: float) -> float:
        """Timed cycles; returns the timed wall seconds.  Stops at the first
        OPTIMIZE boundary after the deadline and after ``MIN_CYCLES``, so a
        run holds whole groups of ``OPTIMIZE_EVERY`` cycles, each with one
        OPTIMIZE, and a traced run sees every op both traced and
        untraced."""
        start = time.perf_counter()
        done = 0
        while (
            done < MIN_CYCLES or done % OPTIMIZE_EVERY
            or time.perf_counter() - start < seconds
        ):
            self.cycle(ctx)
            done += 1
        ctx.tracer.active = False
        return time.perf_counter() - start

    def finish(self, ctx: Context) -> dict[str, float]:
        """Final snapshot census against the replay, plus the table's
        space accounting at run end."""
        from pyspark_anomaly_detection_spark.io import deltalite

        df = deltalite.read_delta(ctx.spark, self.table)
        got = sorted(tuple(r) for r in _census(df).collect())
        want = [tuple(r) for r in self.replay.execute(_census_sql()).fetchall()]
        ctx.run_checks["final census"] = None if got == want else "final census mismatch"
        active = [unquote(urlparse(f).path) for f in df.inputFiles()]
        active_bytes = sum(os.path.getsize(p) for p in active)
        on_disk = sum(_dir_sizes(self.table).values())
        latest, ckpt = self._versions()
        self.replay.close()
        return {
            "active_files": len(active),
            "space_amp": on_disk / max(1, active_bytes),
            "write_amp": self.table_bytes_written / max(1, self.user_bytes),
            "log_commits_at_end": latest - max(ckpt, -1),
            "commits": latest + 1,
            "cycles": self.cycles,
        }
