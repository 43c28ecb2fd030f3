#!/usr/bin/env python3
"""Steadiness self-check for the benchmark.

    python3 perfbench/steady.py [--workloads dashboard,adhoc,curation]
                                [--seeds 1-10] [--traced 3] [--seconds N]

Runs every workload once per seed (untraced), then reports, per workload and
end-to-end metric, the median, the quartiles (Python's
`statistics.quantiles(values, n=4)`) and the spread (q3 - q1) / median
against the metric's bound in BENCHMARK.json: a spread under a third of its
bound is steady. `--traced N` also runs the first N seeds traced and reports
the tracing overhead: the traced run's end-to-end median over the untraced
median for the same seeds, minus one. Writes the table to
`perfbench/.work/steady.json`.
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


def seeds_arg(s):
    if "-" in s:
        lo, hi = s.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in s.split(",")]


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    last = json.loads(p.stdout.strip().splitlines()[-1])
    result = json.loads((HERE / ".work" / "results" /
                         f"{workload}-seed{seed}-trace{trace}.json").read_text())
    e2e = {m["name"]: m["value"] for m in result["end_to_end"]}
    return last, e2e, wall


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    ok = True
    for w in a.workloads.split(","):
        values, walls, failed = {}, [], 0
        for s in a.seeds:
            last, e2e, wall = run(w, s, a.seconds, 0)
            walls.append(wall)
            failed += last["failed"]
            for k, v in e2e.items():
                values.setdefault(k, []).append(v)
            print(f"{w} seed {s}: {wall:.1f}s correct={last['correct']} " +
                  " ".join(f"{k}={v:.4g}" for k, v in e2e.items()), flush=True)
        rows = {}
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else float("inf")
            bound = bounds.get(k)
            steady = bound is None or spread < bound / 3
            ok &= steady
            rows[k] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                       "bound": bound, "steady": steady, "values": vs}
        overhead = {}
        for s in a.seeds[:a.traced]:
            _, e2e, _ = run(w, s, a.seconds, 1)
            for k, v in e2e.items():
                overhead.setdefault(k, []).append(v)
        overhead = {k: statistics.median(vs) /
                    statistics.median(values[k][:len(vs)]) - 1
                    for k, vs in overhead.items() if statistics.median(values[k][:len(vs)])}
        report[w] = {"metrics": rows, "tracing_overhead": overhead, "failed": failed,
                     "run_wall_s": {"median": statistics.median(walls), "max": max(walls)}}
        print(f"\n{w}: runs {len(a.seeds)}, failed ops {failed}, "
              f"median run wall {statistics.median(walls):.1f}s")
        print(f"  {'metric':<20}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}"
              f"{'bound':>7}  steady{'  trace overhead' if overhead else ''}")
        for k, r in rows.items():
            ov = f"  {overhead[k]:+.1%}" if k in overhead else ""
            print(f"  {k:<20}{r['median']:>12.4g}{r['q1']:>12.4g}{r['q3']:>12.4g}"
                  f"{r['spread']:>9.3f}{r['bound'] or 0:>7.2f}  "
                  f"{'yes' if r['steady'] else 'NO'}{ov}")
    out = HERE / ".work" / "steady.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(report, indent=1))
    print(f"\nwritten {out}; all steady: {ok}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
