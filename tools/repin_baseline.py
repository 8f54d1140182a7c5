"""Re-pin BASELINE.json's per-query bench baselines from BENCH_DETAIL.json.

Run bench.py (the exact sweep the driver runs) with the machine otherwise
quiet — pins must be recorded under sweep-identical conditions so a
future BENCH_rN line is comparable number-for-number.  To absorb sweep
noise, pass several BENCH_DETAIL files (copies from consecutive runs).

Pin rule (round-10 verdict item 7 — provenance computed, not narrated):
for each query the pin is the MEDIAN across runs; when the max/median
ratio exceeds ``NOISE_RATIO`` the query is noise-suspect and falls back
to the MAX envelope so the 2× regression gate never fires on a swing an
observed run exhibited.  Per-query provenance (which rule fired, median,
max, per-run totals) is emitted into ``bench_pins.pin_provenance`` so a
verdict can distinguish drift from stale pins mechanically.

Usage: python tools/repin_baseline.py [round_label] [detail.json ...]
       (defaults to the single latest BENCH_DETAIL.json)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

#: max/median above this marks a query's sweep spread as noise, switching
#: its pin from median to max-envelope (and recording it in provenance)
NOISE_RATIO = 1.5


def main() -> None:
    label = sys.argv[1] if len(sys.argv) > 1 else "r4"
    paths = [Path(p) for p in sys.argv[2:]] or [REPO / "BENCH_DETAIL.json"]
    details = [json.loads(p.read_text()) for p in paths]
    detail = dict(details[-1])

    by_query: dict[str, list[float]] = {}
    for d in details:
        for q, sec in d["queries"].items():
            by_query.setdefault(q, []).append(sec)

    pins_per_query: dict[str, float] = {}
    flagged: dict[str, dict] = {}
    for q, secs in by_query.items():
        med = round(statistics.median(secs), 4)
        mx = round(max(secs), 4)
        if med > 0 and mx / med > NOISE_RATIO:
            pins_per_query[q] = mx
            flagged[q] = {"median": med, "max": mx, "rule": "max-envelope (noise-suspect)"}
        elif med == 0 and mx > 0:
            # degenerate median (half the runs recorded 0.0): a 0.0 pin
            # would make the 2x regression gate fire on ANY future nonzero
            # measurement — fall back to the max envelope instead
            pins_per_query[q] = mx
            flagged[q] = {"median": med, "max": mx, "rule": "max-envelope (zero-median)"}
        else:
            pins_per_query[q] = med

    detail["queries"] = pins_per_query
    detail["value"] = round(sum(pins_per_query.values()), 4)
    detail["n_queries"] = len(pins_per_query)

    baseline_path = REPO / "BASELINE.json"
    baseline = json.loads(baseline_path.read_text())
    pins = baseline.setdefault("bench_pins", {})
    prev_total = pins.get("perquery_sec") and round(sum(pins["perquery_sec"].values()), 2)
    pins[f"{label}_total_sec"] = detail["value"]
    pins["perquery_sec"] = pins_per_query
    pins["stage_build_sec"] = detail.get("stage_build_sec")
    if "warehouse" in detail:
        pins["warehouse"] = detail["warehouse"]
    runs = max(1, len(paths))
    pins["pin_provenance"] = {
        "rule": (
            f"per-query MEDIAN over {runs} run(s); queries with max/median > "
            f"{NOISE_RATIO} pin the MAX envelope instead and are listed in "
            f"noise_flagged"
        ),
        "n_runs": runs,
        "run_totals": [round(sum(d["queries"].values()), 2) for d in details],
        "noise_flagged": flagged,
    }
    # bench.py's core count comes from the same variable, so the sweep
    # and its repin must run under one environment
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    pins["comment"] = (
        f"Per-query regression pins (seconds, sf{detail.get('sf')}, local[{cpus}], cold cache "
        f"per query, staging+warehouse built during warmup — their costs are "
        f"stage_build_sec / warehouse.build_sec, not query time).  perquery_sec recorded at "
        f"END of round {label[1:]} on shipped code ({detail.get('n_queries')} queries) under "
        f"SWEEP-IDENTICAL conditions (full bench.py; pin rule and per-query provenance in "
        f"pin_provenance).  Previous pinned total: {prev_total}.  A query >2x its pin "
        f"without a plan-change justification is a regression."
    )
    baseline_path.write_text(json.dumps(baseline, indent=1, sort_keys=False) + "\n")
    print(
        f"pinned {detail.get('n_queries')} queries, total {detail['value']}s "
        f"(prev {prev_total}); {len(flagged)} noise-flagged -> max envelope"
    )


if __name__ == "__main__":
    main()
