"""Gate-rotation staging generator (r12 verdict ask #4, r13): computes
the NEXT round's recommended `_CHECK_FIRST` / `_CHECK_NEXT` lists from
the committed driver freshness map instead of hand-mirroring them.

Reads `bench_last.json::last_verified_round` and the live registry,
then prints:

- the rows that MUST be in `_CHECK_FIRST` (never driver-verified, or
  going 3-rounds-stale if skipped), with free-slot count; when they
  outnumber the 50 slots, the split: the 50 stalest (never-verified
  first) for `_CHECK_FIRST`, the overflow for the head of `_CHECK_NEXT`;
- the rows to stage in `_CHECK_NEXT` (going 3-stale the round after);
- a capacity warning when the registry exceeds 3 x 50 (at 150 = 3x50
  the rotation is exactly at capacity: every registry ADDITION pushes
  some row's verification gap past 3 rounds permanently — prefer
  pytest-oracled operators/modes over new registry rows, or retire one).

The staleness-audit test (tests/test_registry_consistency.py::
test_staged_rotation_covers_stale_rows) enforces the same computation;
this tool exists so the round's first edit can be copy-pasted instead
of re-derived.

Run: python tools/stage_rotation.py
"""

from __future__ import annotations

import json
import sys
import textwrap

sys.path.insert(0, ".")

CAP = 50


def main() -> int:
    from healthcare_aws_data_engineering_spark.plans.testdata_queries import (
        QUERIES,
    )

    with open("bench_last.json") as f:
        lv = json.load(f)["last_verified_round"]
    max_round = max(v for v in lv.values() if v is not None)
    never = [q for q in QUERIES if lv.get(q) is None]
    by_round: dict[int, list[str]] = {}
    for q in QUERIES:
        if lv.get(q) is not None:
            by_round.setdefault(lv[q], []).append(q)

    def show(title: str, names: list[str]) -> None:
        print(f"\n{title} ({len(names)}):")
        if names:
            body = ", ".join(f'"{n}"' for n in sorted(names))
            print(textwrap.indent(textwrap.fill(body, width=68), "    "))

    print(f"registry: {len(QUERIES)} queries; latest driver round: r{max_round}")
    if len(QUERIES) > 3 * CAP:
        print(
            f"WARNING: {len(QUERIES)} > {3 * CAP} = rotation capacity — "
            f"{len(QUERIES) - 3 * CAP} row(s) will exceed the 3-round "
            "freshness gap every cycle."
        )
    # Inclusive <= (not ==): rows 3+ rounds stale — the slip-recovery
    # scenario this tool exists for — must be staged too, matching the
    # enforcing test's predicate exactly (r13 advice).
    stale = [
        q
        for q in QUERIES
        if lv.get(q) is not None and lv[q] <= max_round - 2
    ]
    # Stalest first: never-verified rows, then by verdict round.
    must_first = never + sorted(stale, key=lambda q: (lv[q], q))
    show(
        f"_CHECK_FIRST must contain (never-verified + <= r{max_round - 2})",
        must_first,
    )
    free = CAP - len(must_first)
    if free >= 0:
        print(f"    -> {free} free slot(s) for queries NEW/CHANGED this round")
    else:
        # The split the staleness-audit test enforces: the prefix takes
        # the CAP stalest, the rest heads _CHECK_NEXT.
        print(
            f"    -> OVER CAP by {-free}: stage the overflow at the HEAD "
            "of _CHECK_NEXT (the r12-precedent late-addition pattern)"
        )
        show("_CHECK_FIRST (the stalest, never-verified first)", must_first[:CAP])
        show("HEAD of _CHECK_NEXT (the overflow)", must_first[CAP:])
    show(f"_CHECK_NEXT should stage (r{max_round - 1})", by_round.get(max_round - 1, []))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
