"""Tier-isolated bench launcher (r9 VERDICT #3): run each bench tier in a
FRESH process, so latency-shaped numbers (integrated straggler ratio, soak
throughput) are not taken in the decaying wake of the tiers before them.

    python bench/isolated.py [out.json]

Three processes:

  1. headline + query suite   (BENCH_SOAK_DOCS=0 BENCH_INTEGRATED_DOCS=0)
  2. 100k full-mix soak       (BENCH_ONLY=soak)
  3. integrated 100k+mega-doc (BENCH_ONLY=integrated)

The three JSON lines are merged into ONE bench-contract-shaped object
(tier provenance under "tier_isolation") and printed; it is also written
to out.json when a path is given. Compare its numbers only with runs of
the base tree interleaved with it, never with an artifact from another
day.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_tier(tag: str, env_extra: dict) -> dict:
    env = dict(os.environ)
    # a stray BENCH_ONLY / BENCH_*_DOCS exported in the caller's shell must
    # not leak into a tier (BENCH_ONLY=soak would silently skip the whole
    # queries suite); every knob a tier doesn't set is explicitly cleared
    for k in ("BENCH_ONLY", "BENCH_SOAK_DOCS", "BENCH_INTEGRATED_DOCS",
              "BENCH_N_DOCS"):
        env.pop(k, None)  # absent == bench.py's documented defaults
    env.update({k: str(v) for k, v in env_extra.items()})
    p = subprocess.run([sys.executable, os.path.join(REPO, "bench.py")],
                       env=env, capture_output=True, text=True, cwd=REPO)
    if p.returncode != 0:
        raise SystemExit(f"tier {tag}: bench.py exited {p.returncode}\n"
                         f"{p.stderr[-2000:]}")
    for line in reversed(p.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise SystemExit(f"tier {tag}: no JSON in output\n{p.stderr[-2000:]}")


def main() -> None:
    base = run_tier("queries", {"BENCH_SOAK_DOCS": 0,
                                "BENCH_INTEGRATED_DOCS": 0})
    base["soak"] = run_tier("soak", {"BENCH_ONLY": "soak"}).get("soak")
    base["integrated_soak"] = run_tier(
        "integrated", {"BENCH_ONLY": "integrated"}).get("integrated_soak")
    base["tier_isolation"] = {"method": "fresh process per tier"}
    print(json.dumps(base))
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            json.dump(base, f, indent=1)
        print(f"wrote {sys.argv[1]}", file=sys.stderr)


if __name__ == "__main__":
    main()
