"""Registry-fingerprint freshness of committed evidence artifacts
(verdict r10 item 1).

Round 10's close regenerated only two of the three parity SFs, leaving
PARITY_sf0.1.json ~40 minutes behind the final feature commit — the
name-set coverage guards (tests/test_bench_slope.py) could not notice
because no query NAME changed, only implementations.  Every generated
artifact now embeds ``registry_fingerprint()`` — a digest over each
registered query's module, qualname, source text and oracle SQL
(``registry.query_digest_line``; line positions are not part of it) —
and this test fails when any committed artifact's embedded hash no
longer matches the LIVE registry, i.e. whenever a registered query was
edited after the artifact was generated.

Remedy when red: rerun the artifact's generator, named in the failure
message (README "Regenerating evidence").
"""

from __future__ import annotations

import json
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: each stamped artifact → the command that regenerates it
GENERATORS = {
    "PARITY_sf0.001.json": "python tools/parity_check.py <testdata>/sf0.001",
    "PARITY_sf0.01.json": "python tools/parity_check.py <testdata>/sf0.01",
    "PARITY_sf0.1.json": "python tools/parity_check.py <testdata>/sf0.1",
    "PARITY_sf1.json": "python tools/parity_check.py --scale-point",
    "BENCH_ALL_sf0.01.json": "python tools/bench_slope.py",
    "BENCH_ALL_sf0.1.json": "python tools/bench_slope.py",
    "BENCH_SCALE_sf1.json": "python tools/bench_slope.py",
    "PLAN_AUDIT.md": "python tools/plan_audit.py",
}


def embedded_hash_of(path: str) -> str | None:
    """The registry hash stamped in an artifact (JSON field or the
    PLAN_AUDIT trailing comment); None when the artifact predates the
    stamping tooling."""
    with open(path) as f:
        text = f.read()
    if path.endswith(".json"):
        fp = json.loads(text).get("registry_fingerprint")
        return fp["registry_hash"] if fp else None
    m = re.search(r"<!-- registry_hash: ([0-9a-f]{32}) ", text)
    return m.group(1) if m else None


@pytest.fixture(scope="module")
def live_hash():
    from pyspark_anomaly_detection_spark.registry import registry_fingerprint

    return registry_fingerprint()["registry_hash"]


@pytest.mark.parametrize("name", list(GENERATORS))
def test_committed_artifact_matches_live_registry(name, live_hash):
    path = os.path.join(REPO, name)
    embedded = embedded_hash_of(path)
    assert embedded is not None, (
        f"{name} carries no registry fingerprint — regenerate it with "
        f"`{GENERATORS[name]}`"
    )
    assert embedded == live_hash, (
        f"{name} is STALE: generated at registry {embedded[:12]}, live "
        f"registry is {live_hash[:12]} — a registered query changed after "
        f"the artifact was written; rerun `{GENERATORS[name]}`"
    )


def test_guard_goes_red_on_deliberately_stale_artifact(tmp_path, live_hash):
    """The guard itself must detect staleness: an artifact stamped with a
    doctored hash fails the comparison, one stamped with the live hash
    passes — for both artifact syntaxes."""
    good_json = tmp_path / "good.json"
    good_json.write_text(
        json.dumps({"registry_fingerprint": {"registry_hash": live_hash}})
    )
    stale_json = tmp_path / "stale.json"
    stale_json.write_text(
        json.dumps({"registry_fingerprint": {"registry_hash": "0" * 32}})
    )
    unstamped = tmp_path / "old.json"
    unstamped.write_text(json.dumps({"queries": {}}))
    assert embedded_hash_of(str(good_json)) == live_hash
    assert embedded_hash_of(str(stale_json)) != live_hash
    assert embedded_hash_of(str(unstamped)) is None
    md = tmp_path / "audit.md"
    md.write_text(f"# x\n\n<!-- registry_hash: {'f' * 32} git_head: abc -->\n")
    assert embedded_hash_of(str(md)) == "f" * 32 != live_hash


def _victim_source_shifted(monkeypatch, edit: bool, shift: int) -> None:
    """Make ``inspect.getsourcelines`` report every query ``shift`` lines
    further down, and the first registered query's source with a trailing
    comment when ``edit``."""
    import inspect

    from pyspark_anomaly_detection_spark.registry import all_queries

    _, q = sorted(all_queries().items())[0]
    victim = getattr(q.fn, "__wrapped__", q.fn)
    real = inspect.getsourcelines

    def getsourcelines(obj):
        src, lineno = real(obj)
        if edit and obj is victim:
            src = src + ["# edited\n"]
        return src, lineno + shift

    monkeypatch.setattr(inspect, "getsourcelines", getsourcelines)


def test_fingerprint_moves_when_a_query_changes(live_hash, monkeypatch):
    """The fingerprint is sensitive to IMPLEMENTATION edits, not just the
    name set: the hash is the digest of the per-query lines, and one
    query's source text perturbed yields a different hash."""
    import hashlib

    from pyspark_anomaly_detection_spark.registry import (
        all_queries,
        query_digest_line,
        registry_fingerprint,
    )

    lines = [query_digest_line(n, q) for n, q in sorted(all_queries().items())]
    assert hashlib.md5("\n".join(lines).encode()).hexdigest() == live_hash
    _victim_source_shifted(monkeypatch, edit=True, shift=0)
    assert registry_fingerprint()["registry_hash"] != live_hash


def test_fingerprint_ignores_line_shifts(live_hash, monkeypatch):
    """Moving registered queries within their modules (an edit above
    them shifts every ``@register`` line) leaves the hash unchanged, so
    no artifact goes stale; an edit to the source still moves it."""
    from pyspark_anomaly_detection_spark.registry import registry_fingerprint

    _victim_source_shifted(monkeypatch, edit=False, shift=1)
    assert registry_fingerprint()["registry_hash"] == live_hash
    monkeypatch.undo()
    _victim_source_shifted(monkeypatch, edit=True, shift=1)
    assert registry_fingerprint()["registry_hash"] != live_hash


# ---------------------------------------------------------------- COVERAGE.md


def test_coverage_oracle_status_matches_registry():
    """COVERAGE.md's oracle-status block is generated from the registry
    (tools/coverage_status.py) — VERDICT r11 item 3: through round 11 the
    hand-written map carried ~19 stale rows-only annotations.  This fails
    whenever the committed block disagrees with the live registry."""
    import tools.coverage_status as cs

    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    assert cs.BEGIN in text and cs.END in text, (
        "COVERAGE.md lost its generated oracle-status block — rerun "
        "python tools/coverage_status.py"
    )
    committed = text.partition(cs.BEGIN)[2].partition(cs.END)[0]
    live = cs.render_block().partition(cs.BEGIN)[2].partition(cs.END)[0]
    assert committed == live, (
        "COVERAGE.md oracle-status block is STALE vs the live registry — "
        "rerun python tools/coverage_status.py"
    )


def test_coverage_has_no_hand_written_rows_only_markers():
    """Per-query oracle status lives ONLY in the generated block: a
    starred ``*rows-only*`` marker anywhere else in COVERAGE.md is a
    hand-written status annotation that can (and did) go stale."""
    import tools.coverage_status as cs

    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    outside = text.partition(cs.BEGIN)[0] + text.partition(cs.END)[2]
    assert "*rows-only*" not in outside, (
        "hand-written *rows-only* marker found outside the generated "
        "oracle-status block — delete it; the generated block is the "
        "single source of truth"
    )


def test_coverage_guard_goes_red_on_contradiction():
    """The block comparison must actually detect a stale status line: a
    doctored block claiming an oracle-backed query is rows-only differs
    from the live rendering."""
    import tools.coverage_status as cs

    live = cs.render_block()
    doctored = live.replace(
        "rows-only**", "rows-only** (doctored)"
    )
    assert doctored != live


def test_readme_counts_match_live(live_hash):  # noqa: ARG001 (ordering)
    """VERDICT r13 item 5: README.md's query/oracle/test counts are
    DERIVED (tools/readme_counts.py markers), never hand-typed — this
    fails whenever the registry or the test suite grows without the
    README being regenerated at close."""
    import subprocess
    import sys as _sys

    proc = subprocess.run(
        [_sys.executable, os.path.join(REPO, "tools", "readme_counts.py"),
         "--check"],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_scale_point_parity_green_and_covering():
    """VERDICT r13 item 8: the hostile-SF oracle audit — the committed
    PARITY_sf1.json must cover the slope-lane query set and be fully
    green (on arrival it caught q01's decimal→double divergence above
    2^53, invisible at the three committed SFs)."""
    import sys as _sys

    _sys.path.insert(0, os.path.join(REPO, "tools"))
    import parity_check

    path = os.path.join(REPO, "PARITY_sf1.json")
    assert os.path.exists(path), (
        "PARITY_sf1.json missing — run "
        "`python tools/parity_check.py --scale-point`"
    )
    with open(path) as f:
        data = json.load(f)
    expected = parity_check.scale_point_queries()
    covered = set(data["queries"])
    assert covered == expected, (
        f"PARITY_sf1.json stale: missing={sorted(expected - covered)} "
        f"extra={sorted(covered - expected)}"
    )
    assert data["n_fail"] == 0, data["failures"]
