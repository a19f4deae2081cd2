"""Mutated-data differential fuzz → FUZZ_PARITY.json (round 16).

Every committed parity artifact (3-SF matrix, sf1 scale point) runs
the SAME synthetic data distribution — clean,
null-free, ASCII, unique-keyed.  Bugs conditional on the DATA rather
than the SCALE (null semantics in a Python lane, unicode handling in a
shingler, tie-breaking under content duplicates, small-N edge cases in
blocked/banded algorithms) are invisible to all of it.  This tool opens
the distribution axis: seeded, deterministic mutations of the sf0.001
tables, each swept through the identical Spark-vs-DuckDB oracle
comparison (tools/parity_check.run_sf — same normalization, same
exact-match rule).

Variants (all mutations seeded; unmutated tables symlink to the base
dir, so each variant directory is cheap):

- ``nulls``     NULLs injected into non-key, non-order columns.
- ``unicode``   CJK/emoji/RTL/combining/control chars appended to
                document text; some texts set empty / whitespace-only.
- ``dups``      content-duplicate rows re-inserted under FRESH ids
                (documents + events) — ids stay unique so every
                engine-side total order survives; dedup lanes see true
                content duplicates.
- ``extremes``  boundary numerics: prices ×1e6 (pushes corpus sums
                toward 2^53 at small N), zero quantities, 100 %
                discounts, ±1e15 event values, far-future timestamps.
- ``tiny``      events→60 rows, documents→20, embeddings→30: fewer
                rows than bands/shards/strata — the small-N edge of
                every blocked algorithm.
- ``empty``     events and documents at ZERO rows (schema-preserving):
                every lane over them must return empty, not raise.

A (variant, query) pair whose divergence is a DOCUMENTED cross-engine
semantics gap — not an engine bug — is listed in ``FUZZ_EXEMPT`` with
the measured reason; exempt pairs are still executed and recorded as
``"exempt"`` so the artifact shows they ran.

Usage::

    python tools/data_fuzz.py                 # all variants → artifact
    python tools/data_fuzz.py nulls unicode   # subset (no artifact)
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark_anomaly_detection_spark.io.readers import TABLE_NAMES  # noqa: E402

BASE_SF_DIR = os.environ.get("SPARK_GRAFT_FUZZ_BASE", "/root/testdata/sf0.001")
FUZZ_DIR = os.path.join(REPO, ".fuzzdata")
SEED = 1616

#: (variant, query) pairs expected to diverge, each with the measured
#: reason.  Keep this list LIVE: an exempt pair that starts PASSING is
#: reported so the exemption can be retired (the SCALE_POINT_EXCLUDED
#: discipline — documented evidence, never a silent skip).
FUZZ_EXEMPT: dict[tuple[str, str], str] = {
    ("empty", "q71_ml_scoring"): (
        "supervised RF fit on ZERO rows raises inside MLlib by design — "
        "an empty-corpus guard fabricating verdicts would mask a broken "
        "upstream pipeline; the null-label/eval path is fixed and "
        "covered by the nulls variant"
    ),
    ("empty", "q219_lda_topics"): (
        "LDA fit on an empty corpus raises inside MLlib by design "
        "(same class as q71: no training rows → no model)"
    ),
    ("empty", "q231_deltalite_restore"): (
        "with an empty source both DELETEs match zero files; per "
        "Delta's skip-empty-commits default the version never advances, "
        "so RESTORE to v1 CORRECTLY raises version-not-in-log — the "
        "error is the contract"
    ),
    ("tiny", "q172_mllib_brp_ann"): (
        "the BRP set-join leg is RADIUS-bounded (cos >= 0.2) by its API "
        "contract; 30 random 64-dim unit vectors have pairwise cos "
        "~N(0, 0.125), so essentially no pair clears the radius and the "
        ">=0.8 recall band is unmeetable at this N — the hash-checked "
        "exact-top-1 half still matches bitwise (verified), and the "
        "band holds from the committed SFs' corpus sizes upward where "
        "top-5 neighbors sit inside the radius regime"
    ),
    ("extremes", "q71_ml_scoring"): (
        "auc_within_band verdict: ±1e15 value injections make the "
        "type-mean label rule adversarial (a handful of extreme rows "
        "move every group mean by ~1e13), so the learned AUC floor is a "
        "property of the mutated label structure, not of the pipeline — "
        "counts/probability/class verdicts all still pass"
    ),
}


def _read(table: str) -> tuple[pd.DataFrame, pa.Schema]:
    path = f"{BASE_SF_DIR}/{table}.parquet"
    t = pq.read_table(path)
    return t.to_pandas(), t.schema


def _write(df: pd.DataFrame, schema: pa.Schema, out_dir: str, table: str) -> None:
    t = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(t, os.path.join(out_dir, f"{table}.parquet"))


def _link_rest(out_dir: str, mutated: set) -> None:
    for t in TABLE_NAMES:
        if t in mutated:
            continue
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(f"{BASE_SF_DIR}/{t}.parquet", dst)


def _null_mask(rng: np.random.Generator, n: int, rate: float) -> np.ndarray:
    return rng.random(n) < rate


# --------------------------------------------------------------------------
# variant builders — each returns {table: short mutation description}


def build_nulls(out_dir: str, rng: np.random.Generator) -> dict:
    """NULLs at ~3 % into measure / low-cardinality columns.  Key
    columns, window ORDER BY columns (timestamps) and top-k ranking
    inputs keep their values: ASC null ordering differs between Spark
    (NULLS FIRST) and DuckDB (NULLS LAST), which would flag a known
    cross-engine default, not an engine bug."""
    desc = {}
    li, sch = _read("lineitem")
    n = len(li)
    for col in ("l_quantity", "l_discount", "l_tax"):
        li.loc[_null_mask(rng, n, 0.03), col] = np.nan
    li["l_returnflag"] = li["l_returnflag"].where(~_null_mask(rng, n, 0.03))
    _write(li, sch, out_dir, "lineitem")
    desc["lineitem"] = "3% NULL in l_quantity/l_discount/l_tax/l_returnflag"

    cu, sch = _read("customer")
    n = len(cu)
    cu.loc[_null_mask(rng, n, 0.03), "c_acctbal"] = np.nan
    cu["c_mktsegment"] = cu["c_mktsegment"].where(~_null_mask(rng, n, 0.03))
    _write(cu, sch, out_dir, "customer")
    desc["customer"] = "3% NULL in c_acctbal/c_mktsegment"

    ev, sch = _read("events")
    n = len(ev)
    ev.loc[_null_mask(rng, n, 0.03), "value"] = np.nan
    ev["props"] = ev["props"].where(~_null_mask(rng, n, 0.03))
    _write(ev, sch, out_dir, "events")
    desc["events"] = "3% NULL in value/props"

    docs, sch = _read("documents")
    n = len(docs)
    docs["text"] = docs["text"].where(~_null_mask(rng, n, 0.02))
    _write(docs, sch, out_dir, "documents")
    desc["documents"] = "2% NULL text"
    return desc


_UNICODE_SUFFIXES = [
    " 日本語のテキスト断片",
    " Ж это кириллица",
    " نص عربي‏",
    " emoji 🙂🚀🎉",
    " café née naïve",
    " tab\there\nnewline",
    ' quotes "x" \'y\' \\backslash\\',
    " ΑΒΓ ελληνικά ϟ",
]


def build_unicode(out_dir: str, rng: np.random.Generator) -> dict:
    docs, sch = _read("documents")
    n = len(docs)
    suffix_rows = _null_mask(rng, n, 0.10)
    pick = rng.integers(0, len(_UNICODE_SUFFIXES), n)
    text = docs["text"].to_numpy(dtype=object).copy()
    for i in np.flatnonzero(suffix_rows):
        text[i] = text[i] + _UNICODE_SUFFIXES[pick[i]]
    empty_rows = _null_mask(rng, n, 0.02) & ~suffix_rows
    ws_rows = _null_mask(rng, n, 0.01) & ~suffix_rows & ~empty_rows
    text[np.flatnonzero(empty_rows)] = ""
    text[np.flatnonzero(ws_rows)] = " \n\t "
    docs["text"] = text
    docs["n_chars"] = [len(t) for t in text]
    _write(docs, sch, out_dir, "documents")
    return {
        "documents": "10% unicode suffix (CJK/RTL/emoji/combining/"
        "control), 2% empty text, 1% whitespace-only; n_chars recomputed"
    }


def build_dups(out_dir: str, rng: np.random.Generator) -> dict:
    docs, sch = _read("documents")
    take = docs.sample(frac=0.03, random_state=int(rng.integers(1 << 31)))
    take = take.copy()
    take["doc_id"] = np.arange(len(take)) + docs["doc_id"].max() + 1
    docs = pd.concat([docs, take], ignore_index=True)
    _write(docs, sch, out_dir, "documents")

    ev, sch = _read("events")
    tke = ev.sample(frac=0.03, random_state=int(rng.integers(1 << 31))).copy()
    tke["event_id"] = np.arange(len(tke)) + ev["event_id"].max() + 1
    ev = pd.concat([ev, tke], ignore_index=True)
    _write(ev, sch, out_dir, "events")
    return {
        "documents": f"3% content-duplicate rows under fresh doc_ids (+{len(take)})",
        "events": f"3% content-duplicate rows under fresh event_ids (+{len(tke)})",
    }


def build_extremes(out_dir: str, rng: np.random.Generator) -> dict:
    li, sch = _read("lineitem")
    n = len(li)
    big = _null_mask(rng, n, 0.005)
    li.loc[big, "l_extendedprice"] = li.loc[big, "l_extendedprice"] * 1e6
    li.loc[_null_mask(rng, n, 0.005), "l_quantity"] = 0.0
    li.loc[_null_mask(rng, n, 0.005), "l_discount"] = 1.0
    li.loc[_null_mask(rng, n, 0.005), "l_tax"] = 0.0
    _write(li, sch, out_dir, "lineitem")

    ev, sch = _read("events")
    n = len(ev)
    hi = _null_mask(rng, n, 0.004)
    lo = _null_mask(rng, n, 0.004) & ~hi
    zero = _null_mask(rng, n, 0.004) & ~hi & ~lo
    ev.loc[hi, "value"] = 1e15
    ev.loc[lo, "value"] = -1e15
    ev.loc[zero, "value"] = 0.0
    _write(ev, sch, out_dir, "events")

    cu, sch = _read("customer")
    n = len(cu)
    cu.loc[_null_mask(rng, n, 0.01), "c_acctbal"] = -99999999.99
    _write(cu, sch, out_dir, "customer")
    return {
        "lineitem": "0.5% price*1e6 / qty=0 / discount=1.0 / tax=0",
        "events": "0.4% value=+1e15 / -1e15 / 0",
        "customer": "1% acctbal=-99999999.99",
    }


def build_tiny(out_dir: str, rng: np.random.Generator) -> dict:
    ev, sch = _read("events")
    _write(ev.nsmallest(60, "event_id"), sch, out_dir, "events")
    docs, sch = _read("documents")
    _write(docs.nsmallest(20, "doc_id"), sch, out_dir, "documents")
    em, sch = _read("embeddings")
    _write(em.nsmallest(30, "vec_id"), sch, out_dir, "embeddings")
    return {
        "events": "60 rows",
        "documents": "20 rows",
        "embeddings": "30 rows",
    }


def build_empty(out_dir: str, rng: np.random.Generator) -> dict:
    ev, sch = _read("events")
    _write(ev.iloc[0:0], sch, out_dir, "events")
    docs, sch = _read("documents")
    _write(docs.iloc[0:0], sch, out_dir, "documents")
    return {"events": "0 rows", "documents": "0 rows"}


VARIANTS = {
    "nulls": build_nulls,
    "unicode": build_unicode,
    "dups": build_dups,
    "extremes": build_extremes,
    "tiny": build_tiny,
    "empty": build_empty,
}


def build_variant(name: str) -> tuple[str, dict]:
    """Build (idempotently rebuild) one variant dir; returns (dir, desc)."""
    out_dir = os.path.join(FUZZ_DIR, name)
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    # zlib.crc32, not hash(): str hash is randomized per interpreter run
    import zlib

    rng = np.random.default_rng(SEED + zlib.crc32(name.encode()))
    desc = VARIANTS[name](out_dir, rng)
    _link_rest(out_dir, set(desc))
    return out_dir, desc


def main() -> None:
    from tools.parity_check import run_sf

    names = [a for a in sys.argv[1:] if not a.startswith("-")] or list(VARIANTS)
    full = set(names) == set(VARIANTS)
    report: dict = {"seed": SEED, "base": BASE_SF_DIR, "variants": {}}
    total_fail = 0
    for name in names:
        out_dir, desc = build_variant(name)
        result = run_sf(out_dir)
        exempt = {
            q: why for (v, q), why in FUZZ_EXEMPT.items() if v == name
        }
        stale = []
        for q, why in exempt.items():
            if result["queries"].get(q) == "fail":
                result["queries"][q] = "exempt"
                result["failures"].pop(q, None)
            elif result["queries"].get(q) == "pass":
                stale.append(q)
        n_fail = len(result["failures"])
        total_fail += n_fail
        report["variants"][name] = {
            "mutation": desc,
            "n_oracle": result["n_oracle"],
            "n_pass": result["n_pass"],
            "n_exempt": len(exempt) - len(stale),
            "n_fail": n_fail,
            "failures": result["failures"],
            "exempt": exempt,
            "elapsed_sec": result["elapsed_sec"],
        }
        print(
            f"fuzz[{name}]: {result['n_pass']}/{result['n_oracle']} pass, "
            f"{len(exempt)} exempt, {n_fail} fail",
            flush=True,
        )
        for q, why in result["failures"].items():
            print(f"  FAIL {q}: {why}", flush=True)
        for q in stale:
            print(
                f"  STALE EXEMPTION {q}: passes now — retire the entry",
                flush=True,
            )
    if full:
        from pyspark_anomaly_detection_spark.registry import (
            registry_fingerprint,
        )

        report["registry_fingerprint"] = registry_fingerprint()
        out = os.path.join(REPO, "FUZZ_PARITY.json")
        with open(out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
        print(f"→ {out}")
    if total_fail:
        sys.exit(1)


if __name__ == "__main__":
    main()
