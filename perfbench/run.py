#!/usr/bin/env python3
"""The repo's benchmark: one workload, one run, one JSON line of metrics.

Usage (from the repo root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      [--corrupt 1]

Workloads and metrics are listed in BENCHMARK.json and explained in
perfbench/README.md.  A run:

1. builds the engine and the harness (perfbench/build.py; cached);
2. generates the workload's inputs from --seed (perfbench/inputs.py;
   cached per workload, seed and size, outside the timed region);
3. starts one fresh JVM at local[<nproc>] with a pinned heap, which sets
   up, runs the timed phase as a closed loop with one client thread, with
   --trace 1 runs a second, traced phase, and dumps outputs to check;
4. checks every output (perfbench/checks.py) and prints a report line and,
   last, the metrics line.

--corrupt 1 damages one output before the checks: the self-test that shows
a wrong output counts as failed.  Everything the run writes stays under
.bench_build/ in the repo root.
"""
import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402

T_START = time.monotonic()
DEADLINE_S = 170
HEAP = "3g"
WORKLOADS = {
    # input kind and size; untimed warm-up cycles in the set-up
    "daily_pipeline": {"kind": "matches", "size": {"leagues": 40, "clubs": 20},
                       "warmup_cycles": 3},
    "corpus_loops": {"kind": "sf", "size": {"sf": 0.03}, "warmup_cycles": 1},
}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
TAIL_MIN_ABOVE = 10


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def mem_total_kb():
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1])
    return None


def git_sha(repo):
    if not (repo / ".git").exists():
        return None
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=repo,
                       capture_output=True, text=True)
    return p.stdout.strip() or None


def nearest_rank(sorted_xs, q):
    return sorted_xs[max(0, math.ceil(q * len(sorted_xs)) - 1)]


def tail(sorted_xs):
    """The highest percentile with at least TAIL_MIN_ABOVE samples above it,
    never below the median: (value, percentile, samples above)."""
    n = len(sorted_xs)
    q = max(0.5, (n - TAIL_MIN_ABOVE) / n)
    v = max(nearest_rank(sorted_xs, q), statistics.median(sorted_xs))
    return v, round(100 * q, 1), sum(1 for x in sorted_xs if x > v)


def run_jvm(repo, classpath, args, work, timeout):
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(str(p) for p in classpath), "perfbench.Main"] + args)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the benchmark JVM did not finish within {timeout:.0f} s "
                 f"(log: {work / 'jvm.log'})")
    if code != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        fail(f"the benchmark JVM exited with {code} (log: {work / 'jvm.log'})")


def corrupt(path):
    """Remove the first data file under `path`."""
    victim = sorted(p for p in Path(path).rglob("*.parquet"))[0]
    victim.unlink()
    return victim


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload '{a.workload}' (known: {', '.join(WORKLOADS)})")
    spec = WORKLOADS[a.workload]
    repo = Path.cwd()
    bench = json.loads((repo / "BENCHMARK.json").read_text())
    if not (repo / "src" / "main" / "scala").is_dir() or not (repo / "tools").is_dir():
        fail("run from the repo root: src/main/scala and tools/ are missing")

    classpath = build.build(repo)
    root = repo / build.BUILD_DIR
    input_dir = inputs.ensure(root / "inputs", spec["kind"], a.seed,
                              spec["size"], repo)
    inputs.prune(root / "inputs", keep=6)
    manifest = json.loads((input_dir / "manifest.json").read_text())
    work = root / "runs" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    cores = nproc()
    t_jvm = time.monotonic()
    run_jvm(repo, classpath, [
        "--workload", a.workload, "--input", str(input_dir),
        "--work", str(work), "--out", str(work / "result.json"),
        "--cores", str(cores), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--warmup-cycles", str(spec["warmup_cycles"]),
        "--as-of-base", inputs.AS_OF_BASE.isoformat(),
        "--as-of-days", str(inputs.AS_OF_DAYS),
    ], work, DEADLINE_S - (t_jvm - T_START))
    jvm_s = time.monotonic() - t_jvm
    r = json.loads((work / "result.json").read_text())

    # ---- checks -----------------------------------------------------------
    corrupted = None
    if a.workload == "daily_pipeline":
        if a.corrupt:
            corrupted = corrupt(Path(r["report"]["output_dir"]) / "matches")
        problems = {"pipeline_run": checks.check_pipeline(
            r["report"]["output_dir"], manifest, r["report"]["last_as_of"])}
    else:
        sql = json.loads((work / "oracle_sql.json").read_text())
        if a.corrupt:
            corrupted = corrupt(work / "check" / sorted(sql)[0])
        want = checks.oracle_hashes(repo, input_dir, sql, root / "oracle")
        problems = checks.check_dumps(repo, work / "check", want)
    bad_keys = {k for k, v in problems.items() if v}

    # ---- metrics ----------------------------------------------------------
    phases = [r["untraced"]] + ([r["traced"]] if r["traced"] else [])
    all_ops = [s for s in r["warmup"] if s["op"]] + \
        [s for p in phases for s in p["steps"] if s["op"]]
    failed = sum(1 for s in all_ops if s["error"] or s["key"] in bad_keys)
    timed_ops = [s for s in r["untraced"]["steps"] if s["op"]]
    good = [s for s in timed_ops if not s["error"] and s["key"] not in bad_keys]
    lat = sorted(s["s"] for s in timed_ops)
    tail_v, tail_pct, tail_above = tail(lat)
    e2e = {
        "setup_s": r["setup_s"],
        "ops_per_s": len(good) / r["untraced"]["wall_s"],
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
        "peak_rss_mb": r["peak_rss_mb"],
        "live_heap_mb": r["live_heap_mb"],
    }
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "input": spec["size"], "input_bytes": manifest["bytes"],
        "nproc": cores, "mem_total_kb": mem_total_kb(), "heap": HEAP,
        "jvm": r["java_version"], "spark": r["spark_version"],
        "python": platform.python_version(), "git_sha": git_sha(repo),
        "source_key": classpath[0].name,
        "op_samples": len(lat), "op_tail_percentile": tail_pct,
        "op_tail_samples_above": tail_above,
        "failed_frac": failed / len(all_ops), "jvm_wall_s": round(jvm_s, 3),
        "metrics": e2e, "problems": {k: v for k, v in problems.items() if v},
        "corrupted": str(corrupted) if corrupted else None,
    }
    if a.workload == "daily_pipeline":
        report["stored_bytes_per_input_byte"] = r["report"]["stored_bytes_per_input_byte"]
        report["injected"] = manifest["injected"]
    if a.workload == "corpus_loops":
        report["ingest_s"] = statistics.median(
            s["s"] for s in r["untraced"]["steps"] if s["key"] == "ingest")
        report["restore_s"] = statistics.median(r["report"]["load_s"]["untraced"])
    if r["traced"]:
        report["trace_overhead"] = r["layers"]["trace_overhead"]
        report["spans"] = str(work / "spans.json")
    (work / "report.json").write_text(json.dumps(report, indent=1))
    print("perfbench report: " + json.dumps(report))

    section = "per_layer" if a.trace else "end_to_end"
    values = r["layers"] if a.trace else e2e
    names = [m["name"] for m in bench[section]]
    if sorted(names) != sorted(values):
        fail(f"measured {section} names differ from BENCHMARK.json: "
             f"{sorted(set(names) ^ set(values))}")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(all_ops), "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in bench[section]},
    }))


if __name__ == "__main__":
    main()
