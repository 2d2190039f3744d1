"""Run-to-run determinism scan — every registry query executed TWICE,
order-insensitive value hashes compared.

This targets the flake class the round-10 closing gate caught on
`orders_rfm_segments` (a float money-mean crossing a ntile band edge
differently across shuffle orders): Spark double aggregation is
order-dependent, so any query whose rounded output sits exactly on a
rounding/band boundary can hash differently between runs even though
both runs are "correct". The differential harness cannot see this
class (it runs each side once); this scan can.

Two-pass structure (round-11 review finding): session memos survive
``release_caches``, so a naive per-query double-run would serve BOTH
executions from the same persisted memo relations and be blind to
nondeterminism inside the memo builds themselves (shingles, CC
labels, TF-IDF norms, MinHash sigs, PQ/OPQ tables). Instead: pass 1
hashes every query, building each memo on its first use, then
``release_memos()`` drops them all so pass 2 rebuilds every memo from
scratch and re-hashes against that second generation — a flaky memo
build surfaces as a hash mismatch in every consumer.

    python tools/flake_scan.py [sf_dir]

Round-11 results (two-pass form): sf0.01 — 376 compared, 0 flakes,
0 errors (663 s); sf0.1 — 376 compared, 0 flakes, 0 errors (1099 s).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    from check_correctness import value_hash

    from cdc_realtime_pipeline_spark.plans import registry
    from cdc_realtime_pipeline_spark.session import (
        get_spark,
        release_caches,
        release_memos,
    )

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("flake_scan")
    qs = registry.all_queries()
    t0 = time.time()

    def one_pass(tag: str) -> dict[str, str | None]:
        hashes: dict[str, str | None] = {}
        for name, fn in qs.items():
            try:
                df = fn(spark, sf)
                hashes[name] = value_hash(df.collect(), df.columns)
            except Exception as e:  # noqa: BLE001 — survey tool, keep going
                print(f"ERR {name} ({tag}): {str(e)[:120]}")
                hashes[name] = None
            finally:
                release_caches()
        return hashes

    h1 = one_pass("pass1")
    # rebuild every memo from scratch so pass 2 consumes a second,
    # independently-built generation of the shared relations
    release_memos()
    h2 = one_pass("pass2")

    n = flakes = 0
    excluded: list[str] = []
    for name in qs:
        if h1[name] is None or h2[name] is None:
            # ADVICE r11: name the excluded queries (and which pass
            # errored) so an error-in-one-pass flake is distinguishable
            # from a plain fixture/setup error in the summary.
            which = (
                "both passes" if h1[name] is None and h2[name] is None
                else ("pass1" if h1[name] is None else "pass2")
            )
            excluded.append(f"{name} ({which})")
            continue
        n += 1
        if h1[name] != h2[name]:
            flakes += 1
            print(f"FLAKE {name}: {h1[name]} != {h2[name]}")
    if excluded:
        print("excluded from flake comparison (errored): "
              + ", ".join(excluded))
    print(f"done: {n} compared, {flakes} flakes, {len(excluded)} errors "
          f"in {time.time() - t0:.0f}s")
    errs = len(excluded)
    return 1 if flakes or errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
