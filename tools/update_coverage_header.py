"""Regenerate the COVERAGE.md header counts from the registry.

VERDICT r6 #5: the hand-maintained "N queries / M oracles" header
drifted in two consecutive rounds. This tool rewrites it from
``len(all_queries()) / len(all_oracles())`` so the header is a
generated value. Run it (and commit the result) whenever the
registry changes:

    python tools/update_coverage_header.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_realtime_pipeline_spark.plans.registry import all_oracles, all_queries

COVERAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")

_HEADER_RE = re.compile(r"with \d+ queries / \d+ oracles")


def main() -> int:
    nq, no = len(all_queries()), len(all_oracles())
    with open(COVERAGE) as f:
        text = f.read()
    new = _HEADER_RE.sub(f"with {nq} queries / {no} oracles", text, count=1)
    if new == text and f"with {nq} queries" not in text:
        print("ERROR: header pattern not found — COVERAGE.md format changed", file=sys.stderr)
        return 1
    with open(COVERAGE, "w") as f:
        f.write(new)
    print(f"COVERAGE.md header -> {nq} queries / {no} oracles")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
