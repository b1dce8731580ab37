"""Driver-stamp staleness ledger — which driver-facing queries
(``__spark_entry__.queries()``) most need a slot in the next 50-query
driver window.

Reads every ``CORRECTNESS_r{N}.json`` artifact, records the most recent
round in which each query had a driver row (green hash/rows match, or a
rows-only record for the declared no-oracle sketches), and prints the
``queries()`` set ordered stalest-first together with the current window
membership.
The round-6 rotation was computed exactly this way by hand (VERDICT r5
item 1); this tool makes the next one a one-command decision.

Usage: python tools/stale_stamps.py
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def stamps() -> dict[str, tuple[int, str]]:
    """query → (latest round with a driver record, kind) where kind is
    'green' (hash_match ONLY — rows-match-without-hash-match is RED, the
    r7 lesson), 'RED' (driver ran it and the value hash failed), or
    'rows-only' (declared no-oracle)."""
    out: dict[str, tuple[int, str]] = {}
    for f in sorted(os.listdir(REPO)):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(os.path.join(REPO, f)) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, rec in rows.items():
            if not isinstance(rec, dict):
                continue
            if rec.get("hash_match"):
                out[name] = (rnd, "green")
            elif rec.get("err") == "no_oracle" and rec.get("spark_rows"):
                out[name] = (rnd, "rows-only")
            elif rec.get("rows_match") is not None or rec.get("hash_match") is not None:
                # driver ran it and the typed value hash failed — a red
                # stamp supersedes any older green (the code changed or
                # the oracle diverged; either way it needs a re-stamp).
                out[name] = (rnd, "RED")
    return out


def main() -> None:
    from __spark_entry__ import queries

    driver_queries = queries()
    seen = stamps()
    window = set(list(driver_queries)[:50])
    ranked = sorted(
        driver_queries,
        key=lambda q: (seen.get(q, (0, ""))[0], q),
    )
    print(f"{'query':32s} {'latest stamp':>14s} {'in window':>10s}")
    for q in ranked:
        rnd, kind = seen.get(q, (None, "NEVER"))
        stamp = f"r{rnd:02d} {kind}" if rnd is not None else "never"
        print(f"{q:32s} {stamp:>14s} {'yes' if q in window else '':>10s}")
    reds = [q for q in ranked if seen.get(q, (0, ""))[1] == "RED"]
    if reds:
        print(f"\nRED (latest driver stamp failed the value hash): {reds}")
    uncovered = [q for q in ranked if seen.get(q, (0, ""))[0] == 0 and q not in window]
    if uncovered:
        print(f"\nWARNING: never-stamped queries OUTSIDE the window: {uncovered}")
    else:
        print("\nevery never-stamped query is in the current window")

    # Staleness policy (VERDICT r8 item 7, recomputed r10): the floor is
    # STRUCTURAL — a 50-slot window loses ~5 slots per round to newcomers
    # and changed-code re-stamps, so the freshest sustainable cycle for N
    # registry queries is ceil(N / 45) rounds.  At 150 queries that was 3
    # (the hand-set r8 policy); at 157 it is 4 — a fixed "3" became
    # impossible to satisfy the moment the registry crossed 50*3 - slack,
    # which is exactly what the r9 violation list showed.  The policy is
    # therefore derived from the registry size, never hand-set again.
    import math

    allowed = max(3, math.ceil(len(driver_queries) / 45))
    latest = max((r for r, _ in seen.values()), default=0)
    floor = latest - (allowed - 1)  # a stamp from round latest-(allowed-1)
    # is "allowed rounds old" at the NEXT stamping round — anything older
    # must be in-window.
    stale = [
        q for q in ranked
        if 0 < seen.get(q, (0, ""))[0] < floor and q not in window
    ]
    print(f"policy: <={allowed} rounds stale (ceil({len(driver_queries)}/45)) — "
          f"stamps older than r{floor:02d} must be "
          f"in the current window; violations: {stale if stale else 'none'}")


if __name__ == "__main__":
    main()
