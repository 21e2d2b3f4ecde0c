"""Benchmark entry point: builds the engine, runs one workload, checks outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The workloads and metrics are listed in
BENCHMARK.json and explained in perfbench/README.md. With --trace 0 the last
stdout line reports the end-to-end metrics, with --trace 1 the per-layer ones:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value": v, "unit": u}}}

The line before it carries context: the box instruments (ALU and memory
calibration, steal), the quality outputs, the query checksums and any
failure messages. perfbench/expected.json holds the reference outputs runs
are checked against; it changes only by an edit to that file.
"""
import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # nothing written beside the sources
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def cpu_times():
    """(total, steal) jiffies from /proc/stat, or None where unavailable."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return sum(fields[:8]), fields[7] if len(fields) > 7 else 0
    except (OSError, ValueError):
        return None


def java(classpath, main, args, cwd, timeout, heap, log, cds=()):
    cmd = ["java", f"-Xmx{heap}", "-XX:-UsePerfData",
           "-Xlog:disable", "-Xlog:all=warning:stderr", *cds,
           f"-Djava.io.tmpdir={cwd / 'tmp'}",
           f"-Dderby.stream.error.file={cwd / 'derby.log'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(str(p) for p in classpath), main] + args
    # engine dials read from the environment stay at their defaults
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    (cwd / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "a") as err:
        r = subprocess.run(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                           stderr=err, text=True, timeout=timeout)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"{main} exited with {r.returncode}; see {log}")
    return json.loads(lines[-1])


def check_expected(expected, workload, seed, report):
    """Mismatches against the recorded reference outputs."""
    bad = []
    want = expected.get("quality", {}).get(workload, {}).get(str(seed))
    if want is not None:
        for k, v in want.items():
            got = report["quality"].get(k)
            if got != v:
                bad.append(f"{k}: {got} != recorded {v}")
    sums = expected.get("checksums", {}).get(workload)
    if sums is not None:
        for q, v in sums.items():
            got = report["checksums"].get(q)
            if got != v:
                bad.append(f"checksum {q}: {got} != recorded {v}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd().resolve()
    here = Path(__file__).resolve().parent
    spec = json.loads((root / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"unknown workload {a.workload}")
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    deadline = time.monotonic() + JVM_TIMEOUT_S

    work = build.build_dir(root) / "run" / a.workload
    subprocess.run(["rm", "-rf", str(work)], check=True)
    work.mkdir(parents=True)
    log = work.parent / f"{a.workload}.log"
    log.write_text("")
    # Class data sharing: the first run in a build dumps the classes it
    # loaded, later runs map them instead of loading them from the jars.
    archive = build.archive_path(root)
    dump = archive.with_suffix(".jsa.tmp")
    shared = [f"-XX:SharedArchiveFile={archive}"] if archive.is_file() else []
    t0 = time.monotonic()
    try:
        box = java(classpath, "perfbench.Box", [], work, 60, "1g", log, shared)
        box["box_s"] = time.monotonic() - t0
        cds = shared or [f"-XX:ArchiveClassesAtExit={dump}"]
        cpu0 = cpu_times()
        report = java(classpath, "perfbench.Main",
                      [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                       str(root), str(work)],
                      work, max(10, deadline - time.monotonic()), "4g", log, cds)
        cpu1 = cpu_times()
        if dump.is_file():
            dump.replace(archive)
    except (RuntimeError, subprocess.TimeoutExpired, json.JSONDecodeError) as e:
        sys.stderr.write(log.read_text()[-6000:])
        sys.exit(f"run failed: {e}")
    if cpu0 and cpu1 and cpu1[0] > cpu0[0]:
        box["steal_pct"] = 100.0 * (cpu1[1] - cpu0[1]) / (cpu1[0] - cpu0[0])

    expected_path = here / "expected.json"
    expected = json.loads(expected_path.read_text()) if expected_path.exists() else {}
    failures = report["failures"] + check_expected(expected, a.workload, a.seed, report)

    kind = "per_layer" if a.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    missing = set(units) - set(report["metrics"])
    if missing:
        sys.exit(f"run reported no value for {sorted(missing)}")
    failed = len(failures)
    attempted = max(report["attempted"], failed, 1)
    print(json.dumps({"box": box, "quality": report["quality"],
                      "checksums": report["checksums"],
                      "setup_reps_s": report["setup_reps_s"],
                      "calls": report["calls"],
                      "peak_rss_mb": report["peak_rss_mb"],
                      "run_s": time.monotonic() - t0, "failures": failures}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": report["metrics"][n], "unit": u} for n, u in units.items()},
    }))


if __name__ == "__main__":
    main()
