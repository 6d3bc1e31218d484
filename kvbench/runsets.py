"""Run sets: steadiness evidence for the benchmark.

    python3 kvbench/runsets.py run --seeds 1-10 --out set-a.json
    python3 kvbench/runsets.py run --seeds 11-20 --out set-b.json
    python3 kvbench/runsets.py overhead --seeds 1-3 --out overhead.json
    python3 kvbench/runsets.py report set-a.json set-b.json overhead.json --out r.json

``run`` runs every workload of BENCHMARK.json once per seed, one fresh
process per run, and records each metric's values, median, quartiles and
spread (quartile distance over median, as ``statistics.quantiles(n=4)``
gives them). ``overhead`` runs each seed untraced and then traced and takes
the median of the per-pair differences. ``report`` checks each spread
against a third of the metric's bound, compares the two sets' medians
against the bound, and states the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def run_one(workload: str, seed: int, trace: bool) -> dict:
    """One benchmark run in a fresh process: its result and run line."""
    b = bench()
    t0 = time.time()
    p = subprocess.run(
        [*b["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", str(b["run_seconds"]), "--trace", str(int(trace))],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    res, run = json.loads(lines[-1]), json.loads(lines[-2])["run"]
    print(workload, seed, json.dumps(res), file=sys.stderr, flush=True)
    return {"seed": seed, "wall_s": time.time() - t0, "result": res,
            "host": run["host"], "setups_s": run["setups_s"], "ops": run["ops"]}


def workloads() -> list[str]:
    return [x["name"] for x in bench()["workloads"]]


def run_set(seed_list: list[int]) -> dict:
    out: dict = {"seeds": seed_list, "run_seconds": bench()["run_seconds"], "workloads": {}}
    for w in workloads():
        runs = [run_one(w, s, False) for s in seed_list]
        names = runs[0]["result"]["metrics"]
        out["workloads"][w] = {
            "attempted": sum(r["result"]["attempted"] for r in runs),
            "failed": sum(r["result"]["failed"] for r in runs),
            "wall_s": sum(r["wall_s"] for r in runs),
            "metrics": {m: summarize([r["result"]["metrics"][m]["value"] for r in runs])
                        for m in names},
            "runs": runs,
        }
    return out


def overhead(seed_list: list[int]) -> dict:
    """Untraced and traced runs of each seed back to back, so that host
    drift between run sets does not pass for tracing cost."""
    out: dict = {}
    for w in workloads():
        pairs = []
        for s in seed_list:
            u, t = run_one(w, s, False), run_one(w, s, True)
            um, tm = u["result"]["metrics"], t["result"]["metrics"]
            pairs.append({
                "seed": s,
                "op_p50_ms": (um["op_p50_ms"]["value"], tm["trace.op_p50_ms"]["value"]),
                "ops_per_s": (um["ops_per_s"]["value"], tm["trace.ops_per_s"]["value"]),
                "traced": t,
            })
        out[w] = {
            "op_p50_ms": statistics.median(t / u - 1 for u, t in (p["op_p50_ms"] for p in pairs)),
            "ops_per_s": statistics.median(1 - t / u for u, t in (p["ops_per_s"] for p in pairs)),
            "pairs": pairs,
        }
    return out


def report(a: dict, b: dict, over: dict | None) -> dict:
    bounds = {m["name"]: m for m in bench()["end_to_end"]}
    rep: dict = {}
    for w, wa in a["workloads"].items():
        wb = b["workloads"][w]
        rows = {}
        for name, m in bounds.items():
            sa, sb = wa["metrics"][name], wb["metrics"][name]
            drift = (sb["median"] - sa["median"]) / sa["median"]
            worse = drift if m["better"] == "lower" else -drift
            rows[name] = {
                "bound": m["bound"],
                "spread_a": sa["spread"], "spread_b": sb["spread"],
                "median_a": sa["median"], "median_b": sb["median"],
                "b_worse_than_a": worse,
                "steady": name == "setup_s"
                or max(sa["spread"], sb["spread"]) < m["bound"] / 3,
                "medians_agree": worse <= m["bound"],
            }
        rep[w] = {"failed": wa["failed"] + wb["failed"], "metrics": rows}
        if over:
            rep[w]["tracing_overhead"] = {k: over[w][k] for k in ("op_p50_ms", "ops_per_s")}
    return rep


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    for cmd in ("run", "overhead"):
        r = sub.add_parser(cmd)
        r.add_argument("--seeds", required=True, help="e.g. 1-10")
        r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("set_a")
    p.add_argument("set_b")
    p.add_argument("overhead", nargs="?")
    p.add_argument("--out", help="also write the sets and the report here")
    a = ap.parse_args()
    if a.cmd in ("run", "overhead"):
        data = (run_set if a.cmd == "run" else overhead)(seeds(a.seeds))
        with open(a.out, "w") as fh:
            json.dump(data, fh, indent=1)
        return

    def load(path):
        with open(path) as fh:
            return json.load(fh)

    sets = {"set_a": load(a.set_a), "set_b": load(a.set_b)}
    if a.overhead:
        sets["overhead"] = load(a.overhead)
    rep = report(sets["set_a"], sets["set_b"], sets.get("overhead"))
    print(json.dumps(rep, indent=1))
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"report": rep, **sets}, fh, indent=1)


if __name__ == "__main__":
    main()
