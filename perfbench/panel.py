"""Chooses a batch workload's panel from a traced run over its whole frozen
list, and compares the panel's per-layer mix with the list's.

    python3 perfbench/run.py --workload corpus --seed 3 --seconds 1 --trace 1 --full
    python3 perfbench/panel.py --workload corpus --seed 3

The panel holds one query of each family group of the frozen list
(workloads.json). Weighting each panel query by its group's size estimates
the whole list's per-query mean of every layer figure (latency, plan and
driver share, shuffle written, pins, scan tasks, jobs, CPU). The chosen
panel is the one whose estimate is closest to the list's means (sum of
absolute log ratios) among all panels within the workload's
`panel_pass_ms`, the summed latency one timed pass may take, so that a run
fits its time budget. It prints the chosen queries, then the per-query mean of each
figure over the whole list, over the panel weighted by group size, and over
the panel as timed (one execution per query per pass).
"""
import argparse
import json
import math
import statistics
import sys
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

FIGURES = ["latency_ms", "plan_share", "shuffle.write_mb", "ops.pins", "ops.pin_mb",
           "scan.tasks", "exec.jobs", "ops.build_jobs", "driver_share", "task.cpu_s"]
# a small amount of each figure, added before taking logs so that a figure
# near zero (pins, shuffle of a narrow query) does not dominate the distance
SCALE = {"latency_ms": 10.0, "plan_share": 0.005, "shuffle.write_mb": 0.1, "ops.pins": 0.05,
         "ops.pin_mb": 0.1, "scan.tasks": 0.1, "exec.jobs": 0.1, "ops.build_jobs": 0.1,
         "driver_share": 0.01, "task.cpu_s": 0.01}


def profiles(rec):
    """Per query: median untraced latency plus the traced layer figures."""
    lat, layers = {}, {}
    for e in rec["execs"]:
        if e["traced"]:
            layers.setdefault(e["name"], []).append(e)
        else:
            lat.setdefault(e["name"], []).append(e["latency_ms"])
    out = {}
    for name, es in layers.items():
        if name not in lat:
            continue
        p = {k: statistics.median(e.get(k, 0.0) for e in es) for k in FIGURES if "." in k}
        traced_ms = statistics.median(e["latency_ms"] for e in es)
        p["latency_ms"] = statistics.median(lat[name])
        p["plan_share"] = statistics.median(e["plan.s"] for e in es) * 1000.0 / traced_ms
        p["driver_share"] = statistics.median(e["driver.only_s"] for e in es) * 1000.0 / traced_ms
        out[name] = p
    return out


def choose(groups, sizes, full, prof, cap_ms):
    """The panel, one query per group, whose size-weighted estimate is closest
    to the whole list's means, among those within the latency cap. The
    search is exhaustive (a few million panels at most), pruned by the cap."""
    target = {k: sum(prof[n][k] for n in full) / len(full) for k in FIGURES}

    def cost(panel):
        est = {k: sum(prof[n][k] * sizes[g] for g, n in panel.items()) / sum(sizes.values())
               for k in FIGURES}
        return sum(abs(math.log((est[k] + SCALE[k]) / (target[k] + SCALE[k]))) for k in FIGURES)

    names = [g for g in groups if groups[g]]
    best = (math.inf, None)

    def walk(i, panel, spent):
        nonlocal best
        if spent > cap_ms:
            return
        if i == len(names):
            c = cost(panel)
            if c < best[0]:
                best = (c, dict(panel))
            return
        for n in groups[names[i]]:
            panel[names[i]] = n
            walk(i + 1, panel, spent + prof[n]["latency_ms"])
        del panel[names[i]]

    walk(0, {}, 0.0)
    return best[1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["relational", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    spec = json.loads((HERE / "workloads.json").read_text())[args.workload]
    rec_path = build.build_dir() / "traces" / f"{args.workload}-{args.seed}" / "record.json"
    prof = profiles(json.loads(rec_path.read_text()))
    excluded = spec.get("not_in_panel", {}).get("queries", [])
    if excluded:
        print(f"not panel candidates ({spec['not_in_panel']['why']}): {', '.join(excluded)}")
    groups = {g: [n for n in names if n in prof and n not in excluded]
              for g, names in spec["frozen"].items()}
    missing = [n for names in spec["frozen"].values() for n in names if n not in prof]
    full = [n for names in spec["frozen"].values() for n in names if n in prof]
    if missing:
        print(f"no traced and untraced timing for: {', '.join(missing)}")
    sizes = {g: len(names) for g, names in spec["frozen"].items()}
    panel = choose(groups, sizes, full, prof, spec["panel_pass_ms"])
    print("panel " + json.dumps(list(panel.values())))
    for g, n in panel.items():
        print(f"  {g:<15} {sizes[g]:>3} queries -> {n}")
    print(f"{'per query':<18} {'full list':>10} {'panel, weighted':>16} {'panel, timed':>13}")
    for k in FIGURES:
        whole = sum(prof[n][k] for n in full) / len(full)
        weighted = sum(prof[n][k] * sizes[g] for g, n in panel.items()) / sum(sizes.values())
        timed = sum(prof[n][k] for n in panel.values()) / len(panel)
        print(f"{k:<18} {whole:>10.3f} {weighted:>16.3f} {timed:>13.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
