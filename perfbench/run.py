#!/usr/bin/env python3
"""Incremental star-ETL benchmark runner.

    python3 perfbench/run.py --workload incr_tick|backfill \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the library and the benchmark from
source (perfbench/build.py, into .bench_build/), then runs one JVM that
generates the seeded inputs, drives graft.operators.IncrementalStarJob and
checks its outputs. Spark runs as local[nproc] with a driver heap sized from
MemTotal; every file the run writes stays under .bench_build/.

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics (end-to-end metrics with --trace 0, per-layer metrics
with --trace 1). The line before it carries every metric plus details
(failed_ratio, mismatches, the tail percentile and sample count, set-up
parts). End-to-end metrics, all timed from outside with tracing off:

  run_s.p50, run_s.tail  wall time of IncrementalStarJob.run; the tail is the
                         highest of p50..p99.9 with ten samples beyond it, or
                         the largest sample below 20 samples
  rows_per_s             on-time fact rows ingested / summed run time
  read_s.p50             consumer read re-aggregating the appended partials
  heap_peak_mb           highest live heap (in use right after a collection)
                         during a measured run and its read
  setup_s                session start + cold warm-up + one repeat's set-up

With --trace 1 the spans and listener records are also written to
.bench_build/traces/<workload>-<seed>.jsonl.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("incr_tick", "backfill")
TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (same list as the repository build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def driver_heap() -> str:
    """MemTotal / 2, clamped to [2g, 8g], as the repository's test command sizes it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(max(kb // 2097152, 2), 8)}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = HERE.parent
    out = root / ".bench_build"
    try:
        classes = build.build(out)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    work = out / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    trace_out = out / "traces" / f"{a.workload}-{a.seed}.jsonl"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    n = cores()
    cmd = (["java", f"-Xmx{driver_heap()}", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*", "perfbench.StarBench",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", str(work), "--cores", str(n),
              "--trace-out", str(trace_out)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n), SPARK_LOCAL_DIRS=str(work / "spark-local"))
    log = work / "jvm.log"
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                    env=env, cwd=work)
            signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # runs the finally below
            try:
                stdout, _ = proc.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"benchmark timed out after {TIMEOUT_S} s", file=sys.stderr)
                return 3
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        lines = [ln for ln in stdout.splitlines() if ln.startswith("{")]
        if proc.returncode != 0 or len(lines) < 2:
            sys.stderr.write(log.read_text()[-6000:])
            print(f"benchmark JVM exited with {proc.returncode}", file=sys.stderr)
            return 4
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        print(json.dumps(detail))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
