#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine).

- the same seed gives identical inputs and oracle hashes, another seed
  different ones;
- the printed metric names equal those in BENCHMARK.json, traced and not;
- a corrupted output makes the run count failed ops (failed_frac > 0);
- the pipeline check fails when a result is credited to the wrong club;
- an unknown workload, or a directory holding only the benchmark, fails
  fast without printing a result.

Usage (from the repo root): python3 perfbench/selftest.py
Takes about three minutes; everything it writes stays under .bench_build/.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402

REPO = Path.cwd()
SCRATCH = REPO / build.BUILD_DIR / "selftest"
BENCH = json.loads((REPO / "BENCHMARK.json").read_text())
failures = []


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def bench(*args, cwd=REPO):
    p = subprocess.run([sys.executable, str(REPO / "perfbench" / "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=400)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if p.returncode == 0 else None
    except (IndexError, json.JSONDecodeError):
        last = None
    return p.returncode, last


def names(section):
    return sorted(m["name"] for m in BENCH[section])


def test_inputs_are_seeded():
    for kind, size in (("matches", {"leagues": 3, "clubs": 6}), ("sf", {"sf": 0.005})):
        a = inputs.ensure(SCRATCH / "a", kind, 1, size, REPO)
        b = inputs.ensure(SCRATCH / "b", kind, 1, size, REPO)
        c = inputs.ensure(SCRATCH / "a", kind, 2, size, REPO)
        expect(inputs.digest(a) == inputs.digest(b), f"{kind}: same seed, same inputs")
        expect(inputs.digest(a) != inputs.digest(c), f"{kind}: other seed, other inputs")


def test_oracle_hashes_are_seeded(sql):
    size = {"sf": 0.005}
    dirs = [inputs.ensure(SCRATCH / root, "sf", seed, size, REPO)
            for root, seed in (("a", 1), ("b", 1), ("a", 2))]
    hashes = [checks.oracle_hashes(REPO, d, sql, SCRATCH / f"oracle-{i}")
              for i, d in enumerate(dirs)]
    expect(hashes[0] == hashes[1], "same seed, same oracle hashes")
    expect(any(hashes[0][k] != hashes[2][k] for k in sql),
           "other seed, other oracle hashes")


def test_runs():
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        code, out = bench("--workload", "daily_pipeline", "--seed", "3",
                          "--seconds", "2", "--trace", str(trace))
        expect(code == 0 and out is not None and sorted(out["metrics"]) == names(section),
               f"daily_pipeline --trace {trace} prints exactly the {section} metrics")
        expect(out is not None and out["correct"] and out["failed"] == 0,
               f"daily_pipeline --trace {trace} passes its checks")
    test_standings_check_bites()
    for wl in ("daily_pipeline", "corpus_loops"):
        code, out = bench("--workload", wl, "--seed", "3", "--seconds", "2",
                          "--trace", "0", "--corrupt", "1")
        expect(code == 0 and out is not None and sorted(out["metrics"]) == names("end_to_end"),
               f"{wl} prints exactly the end_to_end metrics")
        expect(out is not None and out["failed"] > 0 and not out["correct"],
               f"{wl}: a corrupted output counts as failed")
    return json.loads((REPO / build.BUILD_DIR / "runs" / "corpus_loops" /
                       "oracle_sql.json").read_text())


def test_standings_check_bites():
    """Swap home and away of one scored match in the expectation: the
    published standings, now wrong for two clubs, must fail the check."""
    r = json.loads((REPO / build.BUILD_DIR / "runs" / "daily_pipeline" /
                    "result.json").read_text())["report"]
    spec = run.WORKLOADS["daily_pipeline"]
    d = inputs.ensure(REPO / build.BUILD_DIR / "inputs", spec["kind"], 3,
                      spec["size"], REPO)
    manifest = json.loads((d / "manifest.json").read_text())
    out, as_of = r["output_dir"], r["last_as_of"]
    expect(checks.check_pipeline(out, manifest, as_of) == [],
           "the pipeline check passes the published output")
    m = next(m for m in manifest["played"]["league_000"] if m[0] < as_of and m[3] != m[4])
    m[1], m[2] = m[2], m[1]
    expect(checks.check_pipeline(out, manifest, as_of) != [],
           "the pipeline check fails a win credited to the wrong club")


def test_fails_fast():
    code, out = bench("--workload", "no_such_workload", "--seed", "1",
                      "--seconds", "1", "--trace", "0")
    expect(code != 0 and out is None, "unknown workload fails without a result")
    bare = SCRATCH / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(REPO / "BENCHMARK.json", bare)
    for p in BENCH["paths"]:
        shutil.copytree(REPO / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    code, out = bench("--workload", BENCH["workloads"][0]["name"], "--seed", "1",
                      "--seconds", "1", "--trace", "0", cwd=bare)
    expect(code != 0 and out is None,
           "a directory holding only the benchmark fails without a result")


def main():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    test_fails_fast()
    test_inputs_are_seeded()
    sql = test_runs()
    test_oracle_hashes_are_seeded(sql)
    print(f"{len(failures)} failed" if failures else "all passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
