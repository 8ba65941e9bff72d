"""One benchmark run in a fresh process; started by ``perfbench/run.py``.

Flow: make the inputs (no Spark) -> set up the program ``SETUPS`` times
(``get_spark`` plus one warm-up pass each; ``setup_s`` is the median) ->
run the workload's ``settle_passes`` untimed -> run whole passes of the
workload's operations in a seeded round-robin order until ``--seconds``
have passed -> check outputs -> print the run conditions, then the result
JSON as the last line.

Every operation is timed twice: wall time, and the CPU time the program
spent on it (``ProgramCpu``). The end-to-end pass metrics are CPU-based;
the wall-time figures are in the conditions line (see NOTES.md,
"Steadiness", for why).

With ``--trace 1`` the session writes a Spark event log, passes alternate
between instrumented and plain, and the per-layer metrics plus the span
artifact (``perfbench/out/trace-<workload>-<seed>.json``) come from the
instrumented ones; ``trace.overhead`` is instrumented/plain pass time.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict

import tracing
from benchstore import read_stats
from workloads import WORKLOADS, Failure

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 2
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _log(msg: str) -> None:
    print(f"perfbench: {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt")
    return ap.parse_args()


def _proc_stats() -> dict[int, list[str]]:
    """The fields after the command name of every /proc/<pid>/stat."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                out[int(name)] = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return out


def _tree(stats: dict[int, list[str]], root: int) -> list[int]:
    """``root`` and every live process below it."""
    children = defaultdict(list)
    for pid, f in stats.items():
        children[int(f[1])].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def host_steal_s() -> float:
    """CPU time the hypervisor has taken from this machine, summed over its
    CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


class ProgramCpu:
    """CPU seconds (user + system) the program spends: the Spark JVM and
    every process below it (the PySpark daemon and its workers; workers
    that have exited count through their parent's reaped-children time),
    plus this process's main thread, which runs the program's driver-side
    Python. Time the hypervisor steals is not in it.

    The JVM's JIT compiler threads are left out. They compile in the
    background for minutes after start, so how much of that lands inside a
    given operation depends on the warm-up schedule rather than on the
    operation, and it was the largest source of run-to-run spread.

    ``start()`` and ``stop()`` bracket one operation; each reads the /proc
    counters on the side of the main-thread clock that keeps the scan's own
    cost out of the operation."""

    def __init__(self, jvm_pid: int):
        self.root = jvm_pid
        self.jit0: dict[str, int] = {}

    def _tree_s(self) -> float:
        stats = _proc_stats()
        # utime, stime, cutime, cstime
        return sum(sum(map(int, stats[pid][11:15])) for pid in _tree(stats, self.root)) / CLK_TCK

    def _jit_ticks(self) -> dict[str, int]:
        """utime + stime of each live JIT compiler thread of the JVM."""
        out = {}
        task_dir = f"/proc/{self.root}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/stat") as fh:
                    comm, rest = fh.read().rsplit(")", 1)
            except OSError:
                continue
            if "CompilerThre" in comm:   # "C1 CompilerThre", "C2 CompilerThre"
                f = rest.split()
                out[tid] = int(f[11]) + int(f[12])
        return out

    def start(self) -> float:
        self.jit0 = self._jit_ticks()
        tree = self._tree_s()
        return tree + time.thread_time()

    def stop(self) -> float:
        main = time.thread_time()
        tree = self._tree_s()
        # a compiler thread started during the operation counts from zero
        jit = sum(t - self.jit0.get(tid, 0) for tid, t in self._jit_ticks().items())
        return tree + main - jit / CLK_TCK


class RssSampler(threading.Thread):
    """Peak summed RSS of the JVM and every process below it (the Python
    daemon and its workers), sampled every 0.5 s; a scan of /proc holds the
    driver's interpreter lock for a few milliseconds."""

    def __init__(self, root_pid: int):
        super().__init__(daemon=True)
        self.root, self.stopped = root_pid, threading.Event()
        self.peak = self.peak_root = self.peak_children = 0
        self.page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> tuple[int, int]:
        stats = _proc_stats()
        rss = {pid: int(stats[pid][21]) * self.page for pid in _tree(stats, self.root)}
        return rss.get(self.root, 0), sum(rss.values())

    def run(self) -> None:
        while not self.stopped.wait(0.5):
            root, total = self._tree_rss()
            self.peak = max(self.peak, total)
            self.peak_root = max(self.peak_root, root)
            self.peak_children = max(self.peak_children, total - root)


class Runner:
    def __init__(self, args):
        self.args = args
        self.w = WORKLOADS[args.workload](args.work, args.seed, args.tiny, args.corrupt)
        self.rng = random.Random(args.seed)
        self.attempted = self.failed = 0
        self.bad_queries: set[str] = set()
        self.spark = None
        self.trace = bool(args.trace)
        self.event_dir = os.path.join(args.work, "eventlog")
        self.spans = tracing.Spans()
        self.op_seq = 0
        self.op_records: list[dict] = []
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        self.e2e = [m["name"] for m in spec["end_to_end"]]
        self.per_layer = [m["name"] for m in spec["per_layer"]]

    # -- session --------------------------------------------------------
    def start_session(self) -> float:
        from swiftbulkuploader_spark.session import get_spark

        extra = None
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            extra = {"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + self.event_dir,
                     "spark.eventLog.compress": "false"}
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.w.name}", extra_conf=extra)
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cpu = ProgramCpu(self.spark.sparkContext._gateway.proc.pid)
        return elapsed

    # -- operations -----------------------------------------------------
    def _fail(self, what: str, err: BaseException) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}: {err}", file=sys.stderr)
        if not isinstance(err, Failure):
            traceback.print_exc(file=sys.stderr)

    def run_op(self, name: str, instrumented: bool = False) -> dict | None:
        """One measured operation; returns its record (``wall`` and ``cpu``
        seconds among others), or None if it failed."""
        self.attempted += 1
        spark, w = self.spark, self.w
        group = None
        if instrumented:
            self.op_seq += 1
            group = f"op{self.op_seq}"
            spark.sparkContext.setJobGroup(group, name)
        try:
            if w.kind == "upload":
                rec = self._upload_op(name, group)
            else:
                rec = self._query_op(name, group)
        except Exception as e:  # noqa: BLE001 - any error is a failed operation
            self._fail(name, e)
            return None
        finally:
            if instrumented:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        if name in self.bad_queries:
            self.failed += 1
        if group:
            rec.update(op=group, name=name)
            self.op_records.append(rec)
        return rec

    def _query_op(self, name: str, group: str | None) -> dict:
        c0 = self.cpu.start()
        t0 = time.time()
        df = self.w.build(self.spark, name)
        t1 = time.time()
        rec = {}
        if group:
            tracker = self.spark.sparkContext.statusTracker()
            rec["query.build_jobs"] = len(tracker.getJobIdsForGroup(group))
            phases = tracing.catalyst_phases(df)
        t2 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.time()
        rec["cpu"] = self.cpu.stop() - c0
        rec["wall"] = t3 - t0
        if group:
            self.spans.add("op", group, None, t0, t3)
            self.spans.add("query.build", group, "op", t0, t1)
            self.spans.add("catalyst.plan", group, "op", t1, t2)
            self.spans.add("query.exec", group, "op", t2, t3)
            analysis = phases.get("analysis", 0.0)
            rec["self"] = {
                "query.build_s": (t1 - t0) - analysis,
                "catalyst.analysis_s": analysis,
                "catalyst.optimization_s": phases.get("optimization", 0.0),
                "catalyst.planning_s": phases.get("planning", 0.0),
                "query.exec_s": t3 - t2,
            }
            rec["self"]["trace.other_s"] = rec["wall"] - sum(rec["self"].values())
            rec["span"] = (t0, t3)
        return rec

    def _upload_op(self, name: str, group: str | None) -> dict:
        import pyarrow.parquet as pq

        stats_dir = None
        if group:
            stats_dir = os.path.join(self.args.work, "stats", group)
            os.makedirs(stats_dir)
        out = self.w.run_op(self.spark, name, self.cpu, stats_dir)
        t0, t1 = out["span"]
        self.w.check(out)
        rec = {"wall": out["elapsed"], "cpu": out["cpu"]}
        if group:
            self.spans.add("op", group, None, t0, t1)
            self.spans.add("plans.upload.run_pipeline", group, "op", t0, t1)
            base, log = self.w.base_log, out["log"]
            prior = {f for f in os.listdir(base) if f.endswith(".parquet")}
            new = [f for f in os.listdir(log) if f.endswith(".parquet") and f not in prior]
            tbl = pq.read_table([os.path.join(log, f) for f in new], columns=["id", "try_no", "ok"])
            st = read_stats(stats_dir)
            rec["counts"] = {
                "ingest.files": out["result"]["total"],
                "pending.log_rows": sum(pq.ParquetFile(os.path.join(base, f)).metadata.num_rows
                                        for f in prior),
                "pending.rows_out": len(set(tbl.column("id").to_pylist())),
                "store.puts": st["puts"],
                "store.put_mb": st["bytes"] / 2**20,
                "store.put_busy_s": st["busy_s"],
                "upload.retries": sum(t > 1 for t in tbl.column("try_no").to_pylist()),
                "upload.ok_ratio": sum(tbl.column("ok").to_pylist()) / tbl.num_rows,
                "attempts.rows": tbl.num_rows,
                "attempts.files": len(new),
            }
            rec["span"] = (t0, t1)
        return rec

    # -- set-up ---------------------------------------------------------
    def warmup(self, first: bool) -> float:
        """One warm-up pass; returns its wall time. The first set-up's pass
        forces queries with collect() and checks them against the oracle
        (hashing is off the clock)."""
        total = 0.0
        for name in self.w.op_names():
            if first and self.w.kind == "query":
                self.attempted += 1
                try:
                    total += self.w.check_query(self.spark, name)
                except Exception as e:  # noqa: BLE001
                    self.bad_queries.add(name)
                    self._fail(name, e)
            else:
                rec = self.run_op(name)
                total += rec["wall"] if rec else 0.0
        return total

    # -- main -----------------------------------------------------------
    def run(self) -> dict:
        args, w = self.args, self.w
        w.prepare()
        os.sync()   # write the inputs back now, not during the measured passes
        _log("inputs ready")
        setups, sessions = [], []
        for k in range(SETUPS):
            t_sess = self.start_session()
            warm = None
            if k == 0:
                rss = RssSampler(self.spark.sparkContext._gateway.proc.pid)
                rss.start()
                warm = w.prepare_spark(self.spark)
                _log("program inputs ready")
            if warm is None:
                warm = self.warmup(first=(k == 0))
            setups.append(t_sess + warm)
            sessions.append(t_sess)
        _log(f"set-up done: {setups}")
        # The JIT keeps compiling for minutes; the steepest part of that
        # trend is spent here, off the clock, and by pass count rather than
        # by time so a slow host does not start measuring earlier in it.
        for _ in range(w.settle_passes):
            for name in self.rng.sample(w.op_names(), len(w.op_names())):
                self.run_op(name)

        os.sync()
        loads = [os.getloadavg()[0]]
        steal0 = host_steal_s()
        pass_walls: list[float] = []
        pass_cpus: list[float] = []
        per_op: dict[str, list[float]] = defaultdict(list)
        per_op_cpu: dict[str, list[float]] = defaultdict(list)
        traced_passes: list[list[dict]] = []
        plain_walls, traced_walls = [], []
        t_start = time.perf_counter()
        n, min_passes = 0, 2 if self.trace else 1
        while n < min_passes or time.perf_counter() - t_start < args.seconds:
            instrumented = self.trace and n % 2 == 1
            order = w.op_names()
            self.rng.shuffle(order)
            first_rec = len(self.op_records)
            wall = cpu = 0.0
            for name in order:
                rec = self.run_op(name, instrumented)
                if rec is not None:
                    per_op[name].append(rec["wall"])
                    per_op_cpu[name].append(rec["cpu"])
                    wall += rec["wall"]
                    cpu += rec["cpu"]
            pass_walls.append(wall)
            pass_cpus.append(cpu)
            (traced_walls if instrumented else plain_walls).append(wall)
            if instrumented:
                traced_passes.append(self.op_records[first_rec:])
            loads.append(os.getloadavg()[0])
            n += 1

        steal_s = host_steal_s() - steal0
        _log(f"measured {n} passes")
        noop_s = 0.0
        if w.kind == "upload":
            self.attempted += 1
            try:
                noop_s = w.noop_rerun(self.spark)
            except Exception as e:  # noqa: BLE001
                self._fail("no-op re-run", e)
        memo = tracing.storage_info(self.spark) if self.trace else (0.0, 0)
        sc = self.spark.sparkContext
        conditions = {
            "workload": w.name, "seed": args.seed, "seconds": args.seconds,
            "nproc": os.cpu_count(), "default_parallelism": sc.defaultParallelism,
            "upload_parallelism": getattr(w, "parallelism", None),
            "driver_memory": sc.getConf().get("spark.driver.memory", "(spark default)"),
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "loadavg_1m": [round(x, 2) for x in loads],
            "setup_s": setups, "session_start_s": sessions,
            "settle_passes": w.settle_passes,
            "passes": len(pass_walls), "pass_walls_s": pass_walls, "pass_cpus_s": pass_cpus,
            "host_steal_s": steal_s,
            "op_samples": sum(len(v) for v in per_op.values()),
            "python": platform.python_version(), "spark": self.spark.version,
            "pyarrow": __import__("pyarrow").__version__,
            "duckdb": __import__("duckdb").__version__,
            "tiny": args.tiny,
        }
        app_id = sc.applicationId
        self.spark.stop()
        rss.stopped.set()
        rss.join()

        # -- metrics ------------------------------------------------------
        samples = [x for v in per_op.values() for x in v]
        if not samples:
            raise RuntimeError("no operation succeeded")
        items = w.items * len(per_op) if w.kind == "query" else w.items
        mb = w.mb if w.kind == "upload" else sum(w.input_mb.get(q, 0.0) for q in per_op)

        def pass_figure(walls_or_cpus: list[float], ops: dict[str, list[float]]) -> float:
            # uploads: the median pass; queries: one pass over the set, as
            # the sum of each query's median, so one slow sample moves only
            # its own query
            if w.kind == "upload":
                return statistics.median(walls_or_cpus)
            return sum(statistics.median(v) for v in ops.values())

        def op_p50(ops: dict[str, list[float]]) -> float:
            # the typical operation: median over operations of each one's
            # median, so one query's few samples cannot tip it
            return statistics.median(statistics.median(v) for v in ops.values())

        pass_cpu = pass_figure(pass_cpus, per_op_cpu)
        metrics = {
            "setup_s": statistics.median(setups),
            "pass_cpu_s": pass_cpu,
            "op_cpu_p50_s": op_p50(per_op_cpu),
            "items_per_cpu_s": items / pass_cpu,
            "mb_per_cpu_s": mb / pass_cpu,
        }
        pass_s = pass_figure(pass_walls, per_op)
        conditions["wall"] = {
            "pass_s": pass_s, "op_p50_s": op_p50(per_op),
            "op_p90_s": statistics.quantiles(samples, n=10)[8] if len(samples) > 1 else samples[0],
            "items_per_s": items / pass_s, "mb_per_s": mb / pass_s,
        }
        conditions["op_samples_s"] = dict(per_op)
        conditions["op_cpu_samples_s"] = dict(per_op_cpu)
        conditions["peak_rss_mb"] = rss.peak / 2**20
        conditions["peak_rss_jvm_mb"] = rss.peak_root / 2**20
        conditions["peak_rss_workers_mb"] = rss.peak_children / 2**20
        if self.trace:
            metrics = self.layer_metrics(traced_passes, app_id, sessions, memo, noop_s,
                                         plain_walls, traced_walls, conditions)
            names = self.per_layer
        else:
            names = self.e2e
        print("perfbench-conditions " + json.dumps(conditions), flush=True)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": self.units[k]}
                        for k in names},
        }

    def layer_metrics(self, traced_passes, app_id, sessions, memo, noop_s,
                      plain_walls, traced_walls, conditions) -> dict:
        log = tracing.parse_event_log(tracing.event_log_lines(self.event_dir, app_id))
        groups = log["groups"]
        per_pass = []
        for recs in traced_passes:
            agg: dict[str, float] = defaultdict(float)
            for rec in recs:
                jobs = groups.get(rec["op"], [])
                for k, v in tracing.exec_totals(jobs).items():
                    agg[k] += v
                if self.w.kind == "upload":
                    selfs, counts, intervals = tracing.pipeline_layers(jobs, log["sql"], *rec["span"])
                    rec["self"] = selfs
                    rec.setdefault("counts", {}).update(counts)
                    for start, end, layer in intervals:
                        self.spans.add(layer, rec["op"], "plans.upload.run_pipeline", start, end)
                for k, v in rec["self"].items():
                    agg[k] += v
                for k, v in rec.get("counts", {}).items():
                    agg[k] += v
                if "query.build_jobs" in rec:
                    agg["query.build_jobs"] += rec["query.build_jobs"]
                agg["wall"] += rec["wall"]
            per_pass.append(agg)
        keys = {k for p in per_pass for k in p}
        out = {k: statistics.median(p.get(k, 0.0) for p in per_pass) for k in keys}
        out["session.start_s"] = sessions[0]   # the cold start, JVM launch included
        out["mem.peak_rss_mb"] = conditions["peak_rss_mb"]
        out["memo.cached_mb"], out["memo.cached_rdds"] = memo
        out["pipeline.noop_rerun_s"] = noop_s
        out["trace.overhead"] = statistics.median(traced_walls) / statistics.median(plain_walls)
        artifact = {
            "conditions": conditions,
            "layers": {k: out.get(k, 0.0) for k in self.per_layer},
            "combined": {
                "ingest.walk_s": "the walk stage also runs the anti-join probe and "
                                 "the round-robin shuffle write that feed the upload",
                "upload.stage_s": "the MapInPandas stage also writes the attempt-log "
                                  "files; attempts.commit_s is only the job commit after it",
                "report.s": "report() aggregate plus run_pipeline's closing manifest count",
            },
            "plain_pass_walls_s": plain_walls, "traced_pass_walls_s": traced_walls,
            "ops": [{k: v for k, v in r.items() if k != "span"} for r in self.op_records],
            "spans": self.spans.records,
        }
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{self.w.name}-{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump(artifact, fh, indent=1)
        conditions["trace_artifact"] = os.path.relpath(path, os.path.dirname(HERE))
        return out


def main() -> int:
    args = _args()
    _log("worker started")
    result = Runner(args).run()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
