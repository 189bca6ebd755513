"""Run one medbench workload and print its result.

    python3 medbench/run.py --workload medallion_daily --seed 1 --seconds 25 --trace 0

Builds the engine and the benchmark if their sources changed (build.py),
then starts one JVM on local[nproc] that sets up the workload, measures one
cold iteration of it (--seconds is recorded, not used to size the work),
checks its outputs and prints one JSON object as the last line of standard
output. --trace 0 reports the end-to-end metrics, --trace 1
the per-layer metrics of a traced run. The exit code is 0 only when every
output check passed.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("medallion_daily", "txlog_upkeep")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_mb() -> int:
    """Explicit heap: half of RAM, capped at 4 GiB (the workloads need far less)."""
    total_kb = 8 * 1024 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
    except OSError:
        pass
    return max(1024, min(4096, total_kb // 2048))


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "unknown"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be >= 1")

    try:
        cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[medbench] build failed: {e}", file=sys.stderr)
        return 2

    out = build.build_dir()
    # a fixed path, so path-derived bytes (bronze's source_file) repeat across runs
    work = out / "work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    xmx = heap_mb()
    src_stamp = (out / "stamp").read_text()[:16]
    cmd = (["java", f"-Xmx{xmx}m", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "medbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores()), "--work", str(work), "--xmx", f"{xmx}m",
              "--commit", commit(), "--source-hash", src_stamp])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[medbench] run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in stdout.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write(stdout)
        print(f"[medbench] no result line (exit code {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    if proc.returncode != 0 or not result["correct"]:
        return proc.returncode or 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
