#!/usr/bin/env python3
"""Steadiness and tracing-overhead tool for the layerbench benchmark.

    # two sets of runs of the same code, seeds 1..10, every workload
    python3 layerbench/steady.py run --sets 2 --seeds 1-10 --out layerbench/work/steady.jsonl
    # add traced runs; the report then shows the tracing overhead
    python3 layerbench/steady.py run --trace 1 --seeds 1-2 --out layerbench/work/steady.jsonl
    # summarise a file of runs (median, quartiles, spread, set agreement)
    python3 layerbench/steady.py report layerbench/work/steady.jsonl

A metric's spread is (q3 - q1) / median over one set's runs, quartiles as
statistics.quantiles(values, n=4) gives them. Two sets agree on a metric
when each set's spread is within the metric's bound (setup_s exempt) and
the second set's median is not worse than the first's by more than the
bound. Bounds and directions come from BENCHMARK.json.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


def load_benchmark(path=ROOT / "BENCHMARK.json"):
    return json.loads(pathlib.Path(path).read_text())


def parse_seeds(text):
    """'1-3,7' -> [1, 2, 3, 7]"""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def parse_output(stdout):
    """Split a run's stdout into (record, result): the full record line and
    the last line, the result JSON."""
    lines = [l for l in stdout.splitlines() if l.strip()]
    result = json.loads(lines[-1])
    record = next((json.loads(l) for l in reversed(lines[:-1]) if l.startswith('{"workload"')), None)
    return record, result


def summarize(values):
    """Median, quartiles and spread (IQR / median) of one set of values."""
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    spread = (q3 - q1) / med if med else float("inf")
    return {"n": len(values), "median": med, "q1": q1, "q3": q3, "spread": spread}


def worsening(first, second, better):
    """How much worse `second` is than `first`, as a share of `first`
    (negative when it is better)."""
    if first == 0:
        return 0.0 if second == first else float("inf")
    change = (second - first) / first
    return change if better == "lower" else -change


def agreement(runs, bench):
    """Per (workload, metric): each set's summary and whether the sets agree.

    `runs` are dicts with keys set, workload and result (the result JSON).
    Only untraced runs count.
    """
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    values = {}
    for r in runs:
        if r.get("trace"):
            continue
        for name, m in r["result"]["metrics"].items():
            if name in metrics:
                values.setdefault((r["workload"], name), {}).setdefault(r["set"], []).append(m["value"])
    rows = []
    for (workload, name), by_set in sorted(values.items()):
        m = metrics[name]
        sets = [summarize(by_set[s]) for s in sorted(by_set)]
        spread_ok = name == "setup_s" or all(s["spread"] <= m["bound"] for s in sets)
        shift = worsening(sets[0]["median"], sets[-1]["median"], m["better"]) if len(sets) > 1 else 0.0
        rows.append({"workload": workload, "metric": name, "bound": m["bound"], "sets": sets,
                     "second_vs_first": shift, "spread_ok": spread_ok,
                     "agree": spread_ok and shift <= m["bound"]})
    return rows


def overhead(runs):
    """Per (workload, metric): traced vs untraced medians of the end-to-end
    numbers, from the full record lines, as a share of the untraced median."""
    vals = {}
    for r in runs:
        if r.get("record") is None:
            continue
        for name, m in r["record"]["end_to_end"].items():
            if m["value"] is not None:
                vals.setdefault((r["workload"], name), {}).setdefault(bool(r["trace"]), []).append(m["value"])
    rows = []
    for (workload, name), v in sorted(vals.items()):
        if True in v and False in v:
            off, on = statistics.median(v[False]), statistics.median(v[True])
            rows.append({"workload": workload, "metric": name, "untraced": off, "traced": on,
                         "overhead": (on - off) / off if off else 0.0})
    return rows


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       check=False)
    wall = time.time() - t0
    if p.returncode != 0:
        return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
                "error": f"exit {p.returncode}"}
    record, result = parse_output(p.stdout)
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
            "result": result, "record": record}


def run_sets(args, bench):
    out = pathlib.Path(args.out)
    out.parent.mkdir(parents=True, exist_ok=True)
    runs = []
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    with out.open("a") as f:
        for s in range(args.sets):
            for w in workloads:
                for seed in parse_seeds(args.seeds):
                    for trace in (int(t) for t in args.trace.split(",")):
                        r = run_once(w, seed, bench["run_seconds"], trace)
                        r["set"] = s
                        runs.append(r)
                        f.write(json.dumps(r) + "\n")
                        f.flush()
                        status = r.get("error") or ("correct" if r["result"]["correct"] else "INCORRECT")
                        print(f"set {s} {w} seed {seed} trace {trace}: {status} ({r['wall_s']:.0f}s)",
                              file=sys.stderr, flush=True)
    return runs


def read_runs(path):
    return [json.loads(l) for l in pathlib.Path(path).read_text().splitlines() if l.strip()]


def print_agreement(rows):
    print(f"{'workload':16} {'metric':22} {'bound':>5}  {'set medians [q1, q3] spread':60} {'shift':>7}  verdict")
    for r in rows:
        sets = "; ".join(f"{s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] {s['spread']:.3f}"
                         for s in r["sets"])
        verdict = "agree" if r["agree"] else ("SPREAD" if not r["spread_ok"] else "SHIFT")
        print(f"{r['workload']:16} {r['metric']:22} {r['bound']:>5}  {sets:60} {r['second_vs_first']:>+7.3f}  {verdict}")
    return all(r["agree"] for r in rows)


def main():
    ap = argparse.ArgumentParser(description="layerbench steadiness tool")
    sub = ap.add_subparsers(dest="cmd", required=True)
    run = sub.add_parser("run")
    run.add_argument("--seeds", default="1-10")
    run.add_argument("--workloads", default="", help="comma-separated; default all")
    run.add_argument("--sets", type=int, default=2)
    run.add_argument("--trace", default="0", help="0, 1 or 0,1")
    run.add_argument("--out", default=str(HERE / "work" / "steady.jsonl"))
    rep = sub.add_parser("report")
    rep.add_argument("file")
    a = ap.parse_args()
    bench = load_benchmark()
    runs = read_runs(a.file) if a.cmd == "report" else run_sets(a, bench)
    bad = [r for r in runs if "error" in r or not r["result"]["correct"]]
    for r in bad:
        print(f"FAILED: {r['workload']} seed {r['seed']}: {r.get('error') or r['result']}")
    good = [r for r in runs if "error" not in r]
    for r in overhead(good):
        print(f"overhead {r['workload']:16} {r['metric']:22} untraced {r['untraced']:.4g} "
              f"traced {r['traced']:.4g} ({r['overhead']:+.3f})")
    ok = print_agreement(agreement(good, bench)) if any(not r["trace"] for r in good) else True
    sys.exit(0 if ok and not bad else 1)


if __name__ == "__main__":
    main()
