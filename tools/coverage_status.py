"""Regenerate COVERAGE.md's oracle-status section from the registry
(VERDICT r11 item 3).

Through round 11 the hand-written coverage map carried ~19 stale
"*rows-only*" annotations contradicting the registry (every one of those
queries had been promoted to a hash-checked oracle).  Per-query oracle
status is no longer hand-written anywhere in COVERAGE.md: this tool owns
the single generated block between the BEGIN/END markers below, derived
from ``all_queries()``, and ``tests/test_artifact_freshness.py`` fails
when the committed block disagrees with the live registry or when a
starred ``*rows-only*`` marker appears outside it.

Run it after any change to the registry, before pytest, so the guard
checks what was just written::

    python tools/coverage_status.py          # rewrite the block in place
    python tools/coverage_status.py --check  # exit 1 if stale
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COVERAGE = os.path.join(REPO, "COVERAGE.md")

BEGIN = "<!-- BEGIN GENERATED: oracle-status (tools/coverage_status.py — do not edit) -->"
END = "<!-- END GENERATED: oracle-status -->"


def render_block() -> str:
    sys.path.insert(0, REPO)
    from pyspark_anomaly_detection_spark.registry import (
        all_queries,
        registry_fingerprint,
    )

    qs = all_queries()
    rows_only = sorted(n for n, q in qs.items() if q.oracle is None)
    fp = registry_fingerprint()
    lines = [
        BEGIN,
        "",
        "## Oracle status (generated from the registry)",
        "",
        f"- **{len(qs)} registered queries**, "
        f"**{len(qs) - len(rows_only)} oracle-checked** (driver compares "
        "rows + schema + value hash against the DuckDB oracle), "
        f"**{len(rows_only)} rows-only**.",
        "- Rows-only queries (no `oracle_sql()` entry — the driver records "
        "a weaker rows-only check; each reason is documented at the "
        "registration site):",
    ]
    for name in rows_only:
        lines.append(f"  - `{name}`")
    lines += [
        "",
        f"Registry fingerprint: `{fp['registry_hash']}`.",
        "",
        END,
    ]
    return "\n".join(lines)


def main() -> int:
    check = "--check" in sys.argv
    text = open(COVERAGE).read()
    block = render_block()
    if BEGIN in text:
        head, _, rest = text.partition(BEGIN)
        _, _, tail = rest.partition(END)
        new = head + block + tail
    else:
        new = text.rstrip() + "\n\n" + block + "\n"
    if check:
        if new != text:
            print(
                "coverage_status: COVERAGE.md oracle-status block is STALE "
                "— run `python tools/coverage_status.py`",
                file=sys.stderr,
            )
            return 1
        print("coverage_status: COVERAGE.md oracle-status block is fresh")
        return 0
    open(COVERAGE, "w").write(new)
    print("coverage_status: rewrote oracle-status block in COVERAGE.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
