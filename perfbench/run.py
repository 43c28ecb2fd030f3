#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark program on first use (sbt, offline, from
`perfbench/`), then starts one JVM that wires the engine the way
`graft.tools.ServerMain` does and drives the workload through its public
surfaces. Prints one `workload name value unit` line per metric and, as the
last line, the JSON result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
The full result (samples, host fingerprint, spans) is written under
`perfbench/.work/results/`. Everything the run writes stays inside the
checkout. Workloads and metrics are described in `perfbench/README.md`.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
CLASSPATH = HERE / "target" / "classpath.txt"
EXPECTED = HERE / "expected" / "curation_digests.json"
WORKLOADS = ["dashboard", "adhoc", "ingest_mixed", "curation"]
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (as the engine's build
# passes to its forked mains).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    for base in (ROOT / "src" / "main", HERE / "src", ROOT / "build.sbt", HERE / "build.sbt"):
        paths = [base] if base.is_file() else base.rglob("*")
        for p in paths:
            if p.is_file():
                newest = max(newest, p.stat().st_mtime)
    return newest


def build():
    """Compile engine + benchmark with sbt when the classpath is missing or stale."""
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        die("engine sources not found next to perfbench/ (run from a full checkout)")
    if CLASSPATH.is_file() and CLASSPATH.stat().st_mtime >= newest_source_mtime():
        return
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = pathlib.Path(os.path.expanduser("~/.sbt/repositories"))
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "perfbench/compile", "perfbench/writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not CLASSPATH.is_file():
        die(f"build failed (sbt exit {r.returncode})")


def heap_gb():
    """JVM heap from MemTotal, as the engine's test command sizes it:
    half of memory, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def java(cmd, log, what):
    """Run one benchmark JVM to completion, its output to `log`."""
    with open(log, "a") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"{what} exceeded {RUN_TIMEOUT_S}s (log: {log})", 1)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        die(f"{what} failed with exit {rc} (log: {log})", 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the curation output digests (fixtures are seed-independent)")
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1")
    build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = WORK / "results" / f"{tag}.json"
    log = WORK / "logs" / f"{tag}.log"
    for d in (out.parent, log.parent, WORK / "tmp"):
        d.mkdir(parents=True, exist_ok=True)
    for f in (out, log):
        if f.exists():
            f.unlink()
    cp = CLASSPATH.read_text().strip()
    # fixtures are seed-independent: generated once per generator version
    gen = (HERE / "src" / "main" / "scala" / "perfbench" / "Fixtures.scala").read_bytes()
    fixtures = WORK / "fixtures" / f"{a.workload}-{hashlib.sha1(gen).hexdigest()[:12]}"
    for stale in fixtures.parent.glob(f"{a.workload}-*"):
        if stale != fixtures:
            shutil.rmtree(stale)
    # a fixed young generation: with G1 sizing it adaptively, how far the
    # heap had grown by the window made throughput bimodal from run to run
    cmd = (["java", f"-Xmx{heap_gb()}g", "-Xmn1g", *ADD_OPENS,
            "-XX:PerMethodRecompilationCutoff=10000",
            f"-Djava.io.tmpdir={WORK / 'tmp'}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(WORK / "run" / a.workload),
            "--fixtures", str(fixtures),
            "--out", str(out), "--expected", str(EXPECTED)]
           + (["--record"] if a.record else []))
    if not (fixtures / "_READY").is_file():
        shutil.rmtree(fixtures, ignore_errors=True)
        java(cmd + ["--fixtures-only"], log, "fixture generation")
    java(cmd, log, "benchmark run")
    if not out.is_file():
        die(f"benchmark JVM wrote no result (log: {log})", 1)

    res = json.loads(out.read_text())
    section = res["per_layer"] if a.trace else res["end_to_end"]
    # the result line carries the metrics BENCHMARK.json declares; the lines
    # above it print every metric the run measured
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())[
        "per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in section:
        if not isinstance(m["value"], (int, float)):
            die(f"metric {m['name']} has no value", 1)
        metrics[m["name"]] = {"value": m["value"], "unit": m["unit"]}
        print(f"{a.workload} {m['name']} {m['value']:.6g} {m['unit']}")
    missing = [d["name"] for d in declared if d["name"] not in metrics]
    if missing:
        die(f"declared metrics not measured: {missing}", 1)
    metrics = {d["name"]: metrics[d["name"]] for d in declared}
    print(f"{a.workload} failed_frac {res['failed_frac']:.6g} ratio "
          f"(failed {res['failed']} of {res['attempted']})")
    print(f"{a.workload} samples {res['samples_count']} count")
    for f in res["failures"][:5]:
        print(f"perfbench: failure: {f}", file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
