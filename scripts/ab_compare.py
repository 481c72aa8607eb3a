"""Alternating A/B harness for two repo checkouts (judge r11 item 3):
runs scripts/time_entries.py for the SAME entries alternately from
repo A and repo B, R rounds each (A B A B ...), so both sides sample
the same load window — the only comparison this bursty sandbox
supports. Reports per-entry min and the per-round pairs.

Usage:
    python scripts/ab_compare.py SF_DIR ROUNDS PASSES \
        REPO_A REPO_B entry [entry ...]
"""

from __future__ import annotations

import re
import subprocess
import sys


def run_side(repo: str, sf_dir: str, passes: int, names: list[str]) -> dict:
    p = subprocess.run(
        [sys.executable, f"{repo}/scripts/time_entries.py", sf_dir,
         str(passes), *names],
        capture_output=True, text=True, cwd=repo, timeout=3600,
    )
    out = {}
    for ln in p.stdout.splitlines():
        m = re.match(r"^(\w+): ([0-9.]+)s$", ln)
        if m:
            out[m.group(1)] = float(m.group(2))
    if not out:
        print(p.stdout[-2000:], file=sys.stderr)
        print(p.stderr[-2000:], file=sys.stderr)
        raise RuntimeError(f"no timings from {repo}")
    return out


def main() -> None:
    sf_dir, rounds, passes = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    repo_a, repo_b = sys.argv[4], sys.argv[5]
    names = sys.argv[6:]
    hist: dict[str, dict[str, list[float]]] = {
        n: {"A": [], "B": []} for n in names
    }
    for r in range(rounds):
        for side, repo in (("A", repo_a), ("B", repo_b)):
            got = run_side(repo, sf_dir, passes, names)
            for n in names:
                hist[n][side].append(got.get(n, float("nan")))
            print(f"round {r + 1} side {side}: "
                  + " ".join(f"{n}={got.get(n, -1):.2f}" for n in names),
                  flush=True)
    print("\n== per-entry min over rounds ==")
    for n in names:
        a, b = min(hist[n]["A"]), min(hist[n]["B"])
        print(f"{n}: A={a:.3f}s B={b:.3f}s  B/A={b / a:.3f}")


if __name__ == "__main__":
    main()
