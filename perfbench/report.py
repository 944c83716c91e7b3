"""Run the benchmark several times and summarise it, or check steadiness.

    python3 perfbench/report.py                      # every workload, seeds 1..3
    python3 perfbench/report.py --runs 10 --sets 2   # steadiness mode
    python3 perfbench/report.py --workloads llm_stream --runs 5 --trace

Each run is ``perfbench/run.py`` in a subprocess.  For every workload
and end-to-end metric the report prints the unit, the number of runs,
the median, the quartiles and the spread (quartile distance over the
median), checked against the metric's bound from ``BENCHMARK.json``
(and flagged above a third of it), then each operation's median
latency (``ingest``, ``dbt_run_1``, ``upsert_0``, … on ``elt_pipeline``).
Operations that failed or gave wrong outputs are counted into
``error_rate``.

``--sets 2`` is the steadiness mode: a second set of runs on new seeds,
run interleaved with the first (set 1 seed i, then set 2 seed i) so
that drift of the host hits both sets alike.  The sets are compared
metric by metric in both directions: the larger of "set 2 worse than
set 1" and "set 1 worse than set 2", |a - b| / min(a, b), may not
exceed the bound.  ``--trace`` adds one
traced run per seed and prints the per-layer medians and the tracing
overhead (traced ``pass_s`` minus untraced ``pass_s``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
    t0 = time.monotonic()
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {res.returncode}")
    result = json.loads(lines[-1])
    result["run_s"] = wall
    for line in lines[:-1]:
        if line.startswith("problem:"):
            print(f"  {workload} seed {seed} {line}", flush=True)
        elif line.startswith("info: "):
            result["info"] = json.loads(line[len("info: "):])
    return result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median), quartiles as statistics.quantiles gives them."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def run_sets(workloads, seed_sets, seconds, trace) -> list[dict]:
    """One {workload: {"results": [...], "traced": [...]}} per seed set.
    Runs go seed index by seed index, and within one index set by set,
    so the sets interleave in time."""
    out = [{w: {"results": [], "traced": []} for w in workloads} for _ in seed_sets]
    for w in workloads:
        for seeds in zip(*seed_sets):
            for i, seed in enumerate(seeds):
                r = run_once(w, seed, seconds, False)
                out[i][w]["results"].append(r)
                print(f"  {w} set {i + 1} seed {seed} ({r['run_s']:.0f} s): " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
                if trace:
                    out[i][w]["traced"].append(run_once(w, seed, seconds, True))
    return out


def summarise(bench: dict, sets: list[dict]) -> tuple[dict, bool]:
    ok = True
    summary: dict = {}
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    for w in sets[0]:
        summary[w] = {}
        for i, s in enumerate(sets):
            runs = s[w]["results"]
            att = sum(r["attempted"] for r in runs)
            bad = sum(r["failed"] for r in runs)
            print(f"\n{w} (set {i + 1}): {len(runs)} runs, {att} operations, "
                  f"{bad} failed or wrong, error_rate={bad / max(att, 1):.4g}, "
                  f"run wall median {statistics.median(r['run_s'] for r in runs):.1f} s")
            print(f"  {'metric':<14}{'unit':<6}{'n':>3}{'median':>11}{'q1':>11}{'q3':>11}"
                  f"{'spread':>9}{'bound':>7}")
            for name, m in bounds.items():
                vals = [r["metrics"][name]["value"] for r in runs]
                med, q1, q3, sp = spread(vals)
                flag = ""
                if sp > m["bound"]:
                    flag, ok = "  OVER BOUND", False
                elif sp > m["bound"] / 3:
                    flag = "  over bound/3"
                print(f"  {name:<14}{m['unit']:<6}{len(vals):>3}{med:>11.4g}{q1:>11.4g}"
                      f"{q3:>11.4g}{sp:>9.3f}{m['bound']:>7}{flag}")
                summary[w].setdefault(name, []).append(
                    {"median": med, "q1": q1, "q3": q3, "spread": sp, "n": len(vals)})
            ops: dict[str, list[float]] = {}
            for r in runs:
                for op, t in r.get("info", {}).get("op_median_s", {}).items():
                    ops.setdefault(op, []).append(t)
            print("  per-operation latency, median over runs: " + ", ".join(
                f"{op}={statistics.median(ts):.3g} s" for op, ts in ops.items()))
            summary[w]["op_median_s"] = {op: statistics.median(ts) for op, ts in ops.items()}
            if bad:
                ok = False
            traced = s[w]["traced"]
            if traced:
                print("  per-layer medians (traced runs):")
                for name in traced[0]["metrics"]:
                    vals = [t["metrics"][name]["value"] for t in traced]
                    print(f"    {name:<52}{statistics.median(vals):>12.4g} "
                          f"{traced[0]['metrics'][name]['unit']}")
                over = statistics.median(
                    t["metrics"]["trace.pass_s"]["value"] - r["metrics"]["pass_s"]["value"]
                    for t, r in zip(traced, runs))
                print(f"  tracing overhead (traced pass_s - untraced pass_s): {over:.4g} s")
                summary[w]["trace_overhead_s"] = over
        if len(sets) == 2:
            for name, m in bounds.items():
                a, b = (x["median"] for x in summary[w][name])
                diff = abs(b - a) / min(a, b)
                summary[w][name + "_sets_diff"] = diff
                verdict = "ok" if diff <= m["bound"] else "WORSE THAN BOUND"
                ok &= diff <= m["bound"]
                print(f"  {w} {name}: sets differ by {diff:.3f} (set 2 / set 1 = {b / a:.3f},"
                      f" bound {m['bound']}) {verdict}")
    return summary, ok


def main(argv=None) -> int:
    bench = load_benchmark()
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--runs", type=int, default=3, help="runs (seeds) per workload per set")
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", help="write the summary as JSON here")
    args = ap.parse_args(argv)
    workloads = args.workloads.split(",")
    seed_sets = []
    for i in range(args.sets):
        seeds = range(args.first_seed + 1000 * i, args.first_seed + 1000 * i + args.runs)
        print(f"set {i + 1}: seeds {seeds.start}..{seeds.stop - 1}", flush=True)
        seed_sets.append(seeds)
    sets = run_sets(workloads, seed_sets, args.seconds, args.trace)
    summary, ok = summarise(bench, sets)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"summary": summary, "sets": sets}, f, indent=1)
    print("\nsteady" if ok else "\nNOT steady (see above)")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
