"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The measurement itself runs in a child
process (``perfbench/worker.py``) placed in a session of its own, so the
Spark JVM and its Python workers can all be stopped and waited for when the
child ends or times out. Every file the run makes (inputs, buckets, Spark
scratch, temp files) lives under ``perfbench/.work/``; traced runs leave
their span artifact in ``perfbench/out/``. The last line of standard output
is the result JSON.

Extra flags, used by ``perfbench/selftest.py``: ``--tiny`` shrinks every
workload to seconds; ``--corrupt bucket|oracle`` seeds one wrong output so
the run must report it as failed.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("upload_resume", "query_floor")
CHILD_TIMEOUT_S = 170


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt", choices=("bucket", "oracle"))
    return ap.parse_args(argv)


def _session_members(sid: int) -> list[int]:
    """Live processes in session ``sid``. The child leads its own session;
    the Spark JVM and the PySpark daemon (which moves to a process group of
    its own) and its workers all stay in it."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the child's session, and
    wait until none is alive."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + 10.0
        while time.time() < deadline:
            members = _session_members(sid)
            if not members:
                return
            for pid in members:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "swiftbulkuploader_spark")):
        print("perfbench: the program package swiftbulkuploader_spark is not in "
              f"{ROOT}; run from the root of a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse", "cwd"):
        os.makedirs(os.path.join(work, sub))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        # temp files into the work dir; no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                             "-XX:+PerfDisableSharedMem",
        "PYTHONHASHSEED": "0",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--work", work,
           *(argv if argv is not None else sys.argv[1:])]
    child = subprocess.Popen(cmd, cwd=os.path.join(work, "cwd"), env=env,
                             stdout=subprocess.PIPE, start_new_session=True, text=True)
    try:
        out, _ = child.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        _stop_session(child.pid)
        child.wait()
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        _stop_session(child.pid)
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if child.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        print(f"perfbench: worker exited with code {child.returncode}", file=sys.stderr)
        return child.returncode or 4
    sys.stdout.write(out)
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
