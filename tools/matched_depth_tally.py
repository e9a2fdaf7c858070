"""Matched-depth cross-run minima tally for optimization rounds.

BASELINE.md rule (r16 lesson): only compare cross-run minima ratios
computed from the SAME number of runs on each side — the oracle's
minima converge slower than the engine's, so unequal depths skew the
ratio. Given two artifact prefixes and N, this sums per-query minima
over the first D existing runs among 1..N of each series, D being the
smaller series' count of existing runs (engine and oracle sides
independently), and prints both composites and the engine/oracle ratio
per series. Missing run files are reported on stderr.

Usage: python tools/matched_depth_tally.py BENCH_PAIRED_r16opt_run BENCH_PAIRED_r17_run [N]
"""

from __future__ import annotations

import json
import os
import sys


def existing_runs(prefix: str, n: int) -> list[int]:
    """Indices 1..n whose ``<prefix><i>.json`` exists; each missing one
    is reported on stderr, because a gap shifts the series' depth."""
    found = []
    for i in range(1, n + 1):
        if os.path.exists(f"{prefix}{i}.json"):
            found.append(i)
        else:
            print(f"warning: {prefix}{i}.json missing", file=sys.stderr)
    return found


def tally(prefix: str, runs: list[int]) -> dict:
    eng: dict[str, float] = {}
    ora: dict[str, float] = {}
    for i in runs:
        with open(f"{prefix}{i}.json") as f:
            doc = json.load(f)
        for side, best in (("engine", eng), ("oracle", ora)):
            for name, sec in doc[side]["queries"].items():
                if name not in best or sec < best[name]:
                    best[name] = sec
    shared = set(eng) & set(ora)
    e_tot = sum(eng[q] for q in shared)
    o_tot = sum(ora[q] for q in shared)
    return {
        "prefix": prefix,
        "runs_used": runs,
        "n_queries": len(shared),
        "engine_min_composite_sec": round(e_tot, 3),
        "oracle_min_composite_sec": round(o_tot, 3),
        "ratio": round(e_tot / o_tot, 4) if o_tot else None,
    }


def main() -> None:
    a, b = sys.argv[1], sys.argv[2]
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 17
    runs_a, runs_b = existing_runs(a, n), existing_runs(b, n)
    # matched depth: both series tally their first `depth` existing runs
    depth = min(len(runs_a), len(runs_b))
    ta, tb = tally(a, runs_a[:depth]), tally(b, runs_b[:depth])
    print(json.dumps({"depth": depth, "a": ta, "b": tb}, indent=1))


if __name__ == "__main__":
    main()
