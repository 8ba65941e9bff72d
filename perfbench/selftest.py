"""Self-test of the benchmark itself (not of the program).

    python3 perfbench/selftest.py

From the root of a checkout, it runs every workload at tiny size, plain and
traced, and checks that:

* each run exits 0 and prints every end-to-end (plain) or per-layer
  (traced) metric of ``BENCHMARK.json`` with its unit, and fails nothing;
* the traced artifact's per-layer self times plus ``trace.other_s`` add up
  to each traced operation's wall time;
* a seeded corruption is caught: one bucket object with flipped bytes, and
  one query whose expected hash is replaced, each raise the failed count;
* in a directory holding only ``BENCHMARK.json`` and ``perfbench/`` the
  benchmark exits non-zero without printing a result.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
problems: list[str] = []


def bench(workload: str, *extra: str, cwd: str = ROOT, trace: int = 0):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc.returncode, result


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        problems.append(what)


def check_metrics(tag: str, result: dict | None, kind: str) -> None:
    wanted = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = (result or {}).get("metrics", {})
    expect(set(got) == set(wanted), f"{tag}: prints exactly the {kind} metrics")
    expect(all(got.get(k, {}).get("unit") == u for k, u in wanted.items()),
           f"{tag}: every metric carries its unit")


def check_accounting(workload: str) -> None:
    path = os.path.join(HERE, "out", f"trace-{workload}-7.json")
    with open(path) as fh:
        art = json.load(fh)
    ops = art["ops"]
    ok = bool(ops) and all(abs(sum(op["self"].values()) - op["wall"]) < 1e-3 for op in ops)
    expect(ok, f"{workload} traced: layer self times + trace.other_s == op wall time")


def main() -> int:
    for wl in (w["name"] for w in SPEC["workloads"]):
        rc, res = bench(wl, "--tiny")
        expect(rc == 0 and res is not None and res["correct"] and res["failed"] == 0,
               f"{wl} tiny: runs clean (rc={rc})")
        check_metrics(f"{wl} tiny", res, "end_to_end")
        rc, res = bench(wl, "--tiny", trace=1)
        expect(rc == 0 and res is not None and res["failed"] == 0,
               f"{wl} tiny traced: runs clean (rc={rc})")
        check_metrics(f"{wl} tiny traced", res, "per_layer")
        if rc == 0:
            check_accounting(wl)

    for wl, corruption in (("upload_resume", "bucket"), ("query_floor", "oracle")):
        rc, res = bench(wl, "--tiny", "--corrupt", corruption)
        expect(res is not None and res["failed"] > 0 and not res["correct"],
               f"{wl} with a corrupted {corruption}: failed ops counted "
               f"({res and res['failed']}/{res and res['attempted']})")

    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    rc, res = bench("upload_resume", cwd=bare)
    expect(rc != 0 and res is None, f"bare directory: exits {rc} without a result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"\n{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
