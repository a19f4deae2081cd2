"""Oracle-parity harness: mirrors the driver's correctness gate.

For every registered query with an oracle, run the Spark DataFrame program
AND the DuckDB SQL over the same parquet, then compare row count, column
names, and order-insensitive values — EXACTLY (no float tolerance): the
engine's parity conventions are designed to give bitwise-identical doubles.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from pyspark_anomaly_detection_spark.registry import all_queries

REGISTRY = all_queries()
ORACLE_CASES = sorted(name for name, q in REGISTRY.items() if q.oracle)
ROWS_ONLY_CASES = sorted(name for name, q in REGISTRY.items() if not q.oracle)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify everything; exact float repr keeps bitwise mismatches visible
    out = df.copy()
    for col in out.columns:
        out[col] = out[col].map(_cell)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(
        drop=True
    )


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


#: Queries whose oracle binds only at oracle scale BY DESIGN: q52's
#: size dispatch switches to the LSH-blocked plan above MAX_EXACT_ROWS
#: (sf0.1's 2000 vectors), where output is a recall<1 SUBSET of the
#: exact join — containment is asserted instead of equality.  The
#: driver's gate runs at sf0.01, where the exact path is taken and full
#: parity holds.  q183 builds on the same dispatch: above the cap its
#: LSH pairs split components, so keep-set CONTAINMENT (exact-kept ⊆
#: spark-kept, components refine) replaces equality.
ADAPTIVE_SUBSET_CASES = {"q52_embedding_neardup", "q183_semantic_dedup_keep"}


def check_semantic_keep_containment(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame):
    """Above-cap q183 check: LSH pairs ⊆ exact pairs ⇒ spark components
    REFINE the oracle's, so per vector spark_component ≥ oracle_component,
    cluster sizes shrink, every spark component maps into exactly one
    oracle component, and every oracle-kept vector stays kept."""
    m = spark_pdf.merge(duck_pdf, on="vec_id", suffixes=("_s", "_d"))
    assert len(m) == len(spark_pdf) == len(duck_pdf)
    assert (m["component_s"] >= m["component_d"]).all()
    assert (m["cluster_size_s"] <= m["cluster_size_d"]).all()
    assert m.groupby("component_s")["component_d"].nunique().max() == 1
    assert m.loc[m["keep_d"], "keep_s"].all(), "oracle-kept vector dropped"


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_oracle_parity(registry_df, duck, sf_dir, name):
    from pyspark_anomaly_detection_spark.registry import resolve_oracle

    query = REGISTRY[name]
    spark_pdf = registry_df(name).toPandas()
    duck_pdf = duck.execute(resolve_oracle(query.oracle, sf_dir)).df()

    if name == "q52_embedding_neardup" and len(spark_pdf) < len(duck_pdf):
        # above the exact-dispatch cap: assert threshold-respecting subset
        # + the recall floors (ADVICE r15; mirrors tools/parity_check.py)
        from tools.parity_check import NEARDUP_RECALL_FLOOR

        key = ["a_id", "b_id"]
        merged = spark_pdf.merge(duck_pdf, on=key, suffixes=("_s", "_d"))
        assert len(merged) == len(spark_pdf), f"{name}: blocked pair not in exact set"
        assert (merged["cos_sim_s"] - merged["cos_sim_d"]).abs().max() == 0.0
        exact_dup = duck_pdf[duck_pdf["cos_sim"] >= 0.999]
        found_dup = spark_pdf.merge(exact_dup, on=key)
        assert len(found_dup) == len(exact_dup), (
            f"{name}: exact-duplicate recall {len(found_dup)}/{len(exact_dup)}"
        )
        recall = len(spark_pdf) / len(duck_pdf)
        assert recall >= NEARDUP_RECALL_FLOOR, (
            f"{name}: recall {recall:.3f} below {NEARDUP_RECALL_FLOOR}"
        )
        return
    if name == "q183_semantic_dedup_keep" and len(spark_pdf) > 1000:
        # above MAX_EXACT_ROWS: keep-set containment instead of equality
        check_semantic_keep_containment(spark_pdf, duck_pdf)
        return

    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} (spark) != {len(duck_pdf)} (duckdb)"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    left = _normalize(spark_pdf)
    right = _normalize(duck_pdf)
    if not left.equals(right):
        diff_mask = (left != right).any(axis=1)
        sample = pd.concat(
            [left[diff_mask].head(5), right[diff_mask].head(5)],
            keys=["spark", "duckdb"],
        )
        raise AssertionError(f"{name}: value mismatch\n{sample}")


@pytest.mark.parametrize("name", ROWS_ONLY_CASES)
def test_rows_only_queries_run(registry_df, name):
    df = registry_df(name)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
