"""Standing scaling-regression gate for the FULL-stage curation pipeline.

One command produces the 2-vs-8-core A/B and FAILS (exit 1) if the
north-rule criterion regresses: full-stage 2->8 scaling efficiency must stay
>= the threshold (default 0.8 — the value the session-9 regression hunt
restored, BASELINE.md §3.19) and the two levels must produce byte-identical
outputs. Run it at commit time so the §3.19
class of regression (corpus text crossing an exchange in a rewrite stage)
is caught when it lands, not by a round-end hunt.

Run:  python tools/scaling_gate.py [n_docs] [threshold] [repeats]
      (defaults: 150000 docs, 0.8, 2 repeats)
      NOTE: keep n_docs >= 150k — below that the ~18-job chain's fixed
      per-job cost dominates and the gate reads harness amdahl, not the
      pipeline (BASELINE.md §3.25 scale floor)

Per-stage attribution for a failure: tools/stage_scaling.py isolates one
rewrite stage per fresh JVM (see its docstring); per-layer task metrics
come from ``python3 perfbench/run.py --workload corpus --trace 1``.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from curate_scaling import run_isolated  # noqa: E402


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 150000
    threshold = float(sys.argv[2]) if len(sys.argv) > 2 else 0.8
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    os.environ["CURATE_SCALING_FULL"] = "1"  # every optional stage on
    low = run_isolated(2, n_docs, repeats)
    high = run_isolated(8, n_docs, repeats)
    speedup = low["wall_sec"] / high["wall_sec"]
    eff = speedup / 4.0
    same = low["counts"] == high["counts"]

    print(f"full-stage curate over {n_docs} docs (best of {repeats}):")
    print(f"  2-core wall {low['wall_sec']:.2f}s   8-core wall {high['wall_sec']:.2f}s")
    print(f"  speedup {speedup:.2f}x   efficiency {eff:.3f}   (gate >= {threshold})")
    print(f"  identical output across sizes: {same}")
    print(json.dumps({
        "n_docs": n_docs,
        "efficiency": round(eff, 3),
        "threshold": threshold,
        "identical_output": same,
        "pass": bool(eff >= threshold and same),
    }))
    if eff < threshold or not same:
        sys.exit(1)


if __name__ == "__main__":
    main()
