#!/usr/bin/env python3
"""Same-window parent/change pairs of the perfbench workloads.

    python3 pairs.py <parent_checkout> <change_checkout> <out.json> \
        <workload>:<first_seed>:<pairs> [<workload>:<first_seed>:<pairs> ...]

Each pair runs `python3 perfbench/run.py --workload <w> --seed <n>
--seconds 12 --trace 0` once in each checkout, one after the other; the
side that runs first alternates from pair to pair. Every run's result
line, its report's workload metrics and host controls are kept, and the
summary gives per end-to-end metric the quartiles of each side, the
median delta, wins and losses (the change better / worse in a pair) and
each side's IQR over its median. Quartiles are
statistics.quantiles(n=4, method='inclusive'). The file is rewritten
after every run, so a partial sweep is still readable.
"""
import json
import statistics
import subprocess
import sys


def run(checkout, workload, seed):
    p = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "12", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    rec = {"exit": p.returncode}
    try:
        rec.update(json.loads(lines[-1]))
        report = json.loads(lines[-2])
        rec["workload_metrics"] = report.get("workload_metrics")
        rec["host"] = report.get("host")
        rec["op_ms"] = report.get("op_ms")
    except (IndexError, ValueError):
        rec["stderr_tail"] = p.stderr[-2000:]
    return rec


def summary(runs, bounds):
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        per = {}
        for name, (better, bound) in bounds.items():
            pairs = {}
            for r in runs:
                v = r.get("metrics", {}).get(name, {}).get("value")
                if r["workload"] == w and v is not None:
                    pairs.setdefault(r["seed"], {})[r["side"]] = v
            full = [p for p in pairs.values() if len(p) == 2]
            if len(full) < 2:
                continue
            par = [p["parent"] for p in full]
            chg = [p["change"] for p in full]
            qp = statistics.quantiles(par, n=4, method="inclusive")
            qc = statistics.quantiles(chg, n=4, method="inclusive")
            sign = 1 if better == "higher" else -1
            wins = sum(1 for p in full if sign * (p["change"] - p["parent"]) > 0)
            losses = sum(1 for p in full if sign * (p["change"] - p["parent"]) < 0)
            delta = (qc[1] - qp[1]) / qp[1] if qp[1] else 0.0
            per[name] = {
                "pairs": len(full),
                "parent_q1_med_q3": qp, "change_q1_med_q3": qc,
                "median_delta": round(delta, 4),
                "change_wins": wins, "change_losses": losses,
                "parent_iqr_over_median": round((qp[2] - qp[0]) / qp[1], 4) if qp[1] else 0.0,
                "change_iqr_over_median": round((qc[2] - qc[0]) / qc[1], 4) if qc[1] else 0.0,
                "median_gap_over_parent_iqr":
                    round(abs(qc[1] - qp[1]) / (qp[2] - qp[0]), 3) if qp[2] > qp[0] else None,
                "bound": bound,
                "worse_beyond_bound": -sign * delta > bound,
            }
        out[w] = per
    return out


def main():
    parent, change, out = sys.argv[1:4]
    plan = [a.split(":") for a in sys.argv[4:]]
    bench = json.load(open(f"{change}/BENCHMARK.json"))
    bounds = {m["name"]: (m["better"], m["bound"]) for m in bench["end_to_end"]}
    runs = []
    i = 0
    for workload, first_seed, n in plan:
        for s in range(int(first_seed), int(first_seed) + int(n)):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            i += 1
            for side in order:
                rec = run(parent if side == "parent" else change, workload, s)
                rec.update({"workload": workload, "seed": s, "side": side, "first": order[0]})
                runs.append(rec)
                json.dump({"summary": summary(runs, bounds), "runs": runs},
                          open(out, "w"), indent=1)
                print(workload, s, side, rec.get("metrics", {}).get("op_p50_ms"), flush=True)


if __name__ == "__main__":
    main()
