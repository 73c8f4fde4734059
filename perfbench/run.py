"""Benchmark launcher.

    python3 perfbench/run.py --workload <ingest|queries|all> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. The launcher sizes the Spark session from the
machine (cores from the CPU affinity mask, driver memory from
/proc/meminfo), points Spark's temporary directories inside the checkout,
and runs each workload in its own Python process with the
repository on PYTHONPATH, so that Spark's Python workers import the package
from any working directory. The workload's result, one JSON object, is the
last line of standard output. The exit code is 0 only when every output
check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # import perfbench as a package; its trace.py is not stdlib's

from perfbench.trace import SHM, descendants, reap, shm_entries  # noqa: E402

WORKLOADS = ("ingest", "queries")
RUN_DIR = ".perfbench_run"  # everything a run writes; removed when it ends
PACKAGE = "kafka_connect_minio_pipeline_spark"
CHILD_TIMEOUT_S = 170
SCRATCH_PREFIX = "kcm_"  # the engine's scratch directories (scratch.py)


def machine() -> tuple[int, int]:
    """(cores, driver memory in MiB). The driver heap gets a quarter of
    physical memory, capped at 16 GiB: in local mode the Python workers,
    the JVM's off-heap memory and the page cache share the rest."""
    cores = len(os.sched_getaffinity(0))
    total_kib = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kib = int(line.split()[1])
    mem_mib = max(1024, min(16 * 1024, total_kib // 1024 // 4))
    return cores, mem_mib


def child_env(work: str) -> dict[str, str]:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    # Spark prefers this variable to spark.local.dir, so an inherited value
    # would send shuffle files outside the checkout
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["PYTHONHASHSEED"] = "0"
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def remove_scratch(before: set[str]) -> None:
    """The engine keeps its scratch in /dev/shm and removes it at exit; a
    run that was killed leaves it behind."""
    for name in shm_entries() - before:
        if name.startswith(SCRATCH_PREFIX):
            shutil.rmtree(os.path.join(SHM, name), ignore_errors=True)


def run_one(workload: str, args: argparse.Namespace) -> dict | None:
    cores, mem_mib = machine()
    os.makedirs(os.path.join(ROOT, RUN_DIR), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-", dir=os.path.join(ROOT, RUN_DIR))
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    cmd = [
        sys.executable, "-m", "perfbench.workloads",
        "--workload", workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--driver-memory-mb", str(mem_mib),
        "--work", work,
    ]
    print(f"machine: cores={cores} driver_memory={mem_mib}m workload={workload}",
          flush=True)
    seen: dict[int, str] = {}
    shm_before = shm_entries()
    try:
        with open(os.path.join(run_dir, "stdout"), "w+") as out:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=child_env(work), stdout=out,
                                    text=True)
            try:
                deadline = time.time() + CHILD_TIMEOUT_S
                while proc.poll() is None and time.time() < deadline:
                    # the JVM and Python workers outlive the child if it dies
                    seen.update(descendants(proc.pid))
                    time.sleep(0.5)
                if proc.poll() is None:
                    print(f"{workload}: timed out after {CHILD_TIMEOUT_S}s",
                          file=sys.stderr)
                    seen.update(descendants(proc.pid))
                    proc.kill()
                proc.wait()
            finally:
                reap(seen)
            out.seek(0)
            lines = out.read().strip().splitlines()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        remove_scratch(shm_before)
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines.pop())
    for line in lines:
        print(line, flush=True)
    if proc.returncode != 0:
        print(f"{workload}: exit code {proc.returncode}", file=sys.stderr)
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for name in names:
        res = run_one(name, args)
        if res is None:
            return 1
        results[name] = res
        if len(names) > 1:
            print(f"{name}: {json.dumps(res)}", flush=True)
    if len(names) == 1:
        final = results[names[0]]
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items()
                        for k, v in r["metrics"].items()},
        }
    print(json.dumps(final), flush=True)
    return 0 if final["correct"] and final["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
