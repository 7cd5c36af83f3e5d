"""Interleaved A/B of entry timings between two checkouts.

Alternates full `entry_times.py` passes between checkout A and
checkout B, N rounds each, swapping which side runs first every round
(A B, B A, A B ... — so box drift, and any first-in-round advantage,
lands on both sides equally), and reports the per-entry MIN and MEDIAN
for each side plus their B/A ratios.  Each pass is a fresh process
with PYTHONPATH pinned to its checkout (the r16 third-pass trap: a
worktree run importing the main checkout's code silently times the
wrong variant).

Usage:
  python tools/ab_entries.py <dirA> <dirB> <sf_dir> <rounds> name...
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile


def run_pass(checkout: str, sf_dir: str, names: list[str]) -> dict:
    out = tempfile.mktemp(suffix=".json")
    env = dict(os.environ, PYTHONPATH=checkout)
    subprocess.run(
        [
            sys.executable,
            os.path.join(checkout, "tools", "entry_times.py"),
            sf_dir,
            out,
            *names,
        ],
        env=env,
        check=True,
        capture_output=True,
        text=True,
    )
    with open(out) as fh:
        payload = json.load(fh)
    os.unlink(out)
    if payload.get("errors"):
        raise SystemExit(f"errors in {checkout}: {payload['errors']}")
    return payload["times"]


def _cols(stats: dict) -> str:
    """min A, min B, min B/A, median A, median B, median B/A."""
    return "".join(
        f" {x:8.2f} {y:8.2f} {y / x:6.2f}"
        for x, y in (stats["min"], stats["med"])
    )


def main() -> None:
    a, b, sf_dir, rounds = (
        sys.argv[1],
        sys.argv[2],
        sys.argv[3],
        int(sys.argv[4]),
    )
    names = sys.argv[5:]
    times: dict[str, dict[str, list[float]]] = {"A": {}, "B": {}}
    for i in range(rounds):
        order = (("A", a), ("B", b))
        for side, checkout in order if i % 2 == 0 else order[::-1]:
            got = run_pass(checkout, sf_dir, names)
            for n, t in got.items():
                times[side].setdefault(n, []).append(t)
            print(
                f"round {i} {side}: "
                + " ".join(f"{n}={t:.2f}" for n, t in got.items()),
                flush=True,
            )
    print(
        f"\n{'entry':<40} {'A(min)':>8} {'B(min)':>8} {'B/A':>6}"
        f" {'A(med)':>8} {'B(med)':>8} {'B/A':>6}"
    )
    tot = {"min": [0.0, 0.0], "med": [0.0, 0.0]}
    for n in names:
        va, vb = times["A"].get(n), times["B"].get(n)
        if va is None or vb is None:
            continue
        stats = {
            "min": (min(va), min(vb)),
            "med": (statistics.median(va), statistics.median(vb)),
        }
        for k, (x, y) in stats.items():
            tot[k][0] += x
            tot[k][1] += y
        print(f"{n:<40}" + _cols(stats))
    if tot["min"][0]:
        print(f"{'TOTAL':<40}" + _cols(tot))


if __name__ == "__main__":
    main()
