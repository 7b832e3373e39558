"""Benchmark entry point: one workload, one closed-loop client, one process.

    python3 perfbench/run.py --workload sort --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds its inputs from ``--seed``,
starts a fresh local Spark session on every core of the host
(``local[nproc]``, 2g driver), runs passes over the workload's operations one
at a time until ``--seconds`` is used up (at least one pass), checks every
result outside the timed window, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.

- ``--trace 0`` reports the end-to-end metrics (see BENCHMARK.json).
- ``--trace 1`` reports the per-layer metrics. It first runs the same
  workload untraced in a child process as the baseline for
  ``tracing.overhead_frac``, then a traced pass, and writes the spans (with
  self time) and per-op counters to ``perfbench/out/trace-*.json``.

Each run gets its own ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and JVM temp dir under
``perfbench/out/`` and removes them at the end; its record (metrics plus the
host labels ``calib_ms`` and ``steal_frac``) is kept in ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
sys.path.insert(0, str(HERE))

import layers as tr  # noqa: E402
from workloads import FULL, TINY, WORKLOADS, clear_caches, registry_ops, sort_ops  # noqa: E402

DRIVER_MEMORY = "2g"
# A fixed heap and young generation, so the JVM's high-water RSS follows the
# data it retains rather than G1's adaptive sizing (with G1's defaults the
# spread of peak_rss_mb over ten seeds was 16-22% of its median).
JVM_HEAP_OPTS = "-Xms2g -Xmn384m"
END_TO_END = ("setup_s", "wall_s", "peak_rss_mb")
SORT_LAYER_OPS = {
    "partition_sort": "sorting.partition_sort_s",
    "total_sort": "sorting.total_sort_s",
    "write_sorted": "io.write_sorted_s",
    "ranked": "sorting.ranked_s",
    "top_k": "sorting.top_k_s",
    "hybrid_ranked": "hybrid.hybrid_ranked_s",
}
STREAM_PHASES = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.get_batch_ms": "getBatch",
}
PER_LAYER = (
    "session.get_spark_s", "session.first_job_s",
    "sources.input_bytes", "sources.input_rows",
    "plans.file_scans", "plans.exchanges", "plans.reused_exchanges",
    "queries.build_s", "queries.action_s", "queries.build_jobs", "queries.action_jobs",
    "queries.build_share", "queries.p50_s",
    "exec.jobs", "exec.stages", "exec.stages_skipped", "exec.tasks", "exec.driver_gap_s",
    "exec.core_util", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.deserialize_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.write_s", "shuffle.fetch_wait_s",
    "shuffle.spill_bytes",
    "sorting.total_sort_jobs", "sorting.ranked_jobs", *SORT_LAYER_OPS.values(),
    "python.worker_cpu_s", "python.driver_cpu_s", "jvm.cpu_s",
    "io.output_bytes", "io.output_files",
    "streaming.triggers", "streaming.trigger_p50_ms", *STREAM_PHASES,
    "streaming.input_rows", "streaming.state_rows", "streaming.state_memory_bytes",
    "streaming.outside_trigger_s",
    "host.calib_ms", "host.steal_frac", "tracing.overhead_frac",
)
UNITS = {"_s": "s", "_ms": "ms", "_bytes": "bytes", "_mb": "MiB", "_frac": "frac",
         "_util": "frac", "_share": "frac"}


def unit(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def op_s(rec: dict) -> float:
    """Timed seconds of one op: build plus action."""
    return rec["build_s"] + rec["action_s"]


def metric_block(values: dict[str, float], names) -> dict:
    return {n: {"value": values[n], "unit": unit(n)} for n in names}


def isolate(run_dir: Path) -> Path:
    """Point every temp location of this process, the JVM and the Python
    workers at a fresh directory of this run."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    tempfile.tempdir = None  # re-read TMPDIR
    return tmp


class Run:
    def __init__(self, args, run_dir: Path, tmp: Path):
        self.args, self.run_dir, self.tmp = args, run_dir, tmp
        self.scale = TINY if args.tiny else FULL
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = tr.Tracer() if args.trace else None
        self.progress: list[dict] = []
        self.layer: dict[str, float] = {}

    # -- set-up -------------------------------------------------------------

    def setup(self) -> float:
        """Import the engine, start its session, ship the package, run a
        first job on the Python workers. Returns the set-up seconds."""
        t0 = time.perf_counter()
        w0 = time.time()
        sys.path.insert(0, str(ROOT))
        from pyspark import SparkContext

        from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark import (
            session,
        )

        pkg = session.__name__.rsplit(".", 1)[0]
        g0 = time.perf_counter()
        self.spark = session.get_spark(
            app_name="perfbench",
            cpus=self.cpus,
            extra_conf={
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData {JVM_HEAP_OPTS}"
                ),
                "spark.sql.warehouse.dir": str(self.tmp / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        g1 = time.perf_counter()
        sc = self.spark.sparkContext
        shipped = sc.parallelize(range(self.cpus), self.cpus).map(
            lambda _: __import__(pkg).__name__
        ).collect()
        if set(shipped) != {pkg}:
            raise RuntimeError(f"package not importable on the workers: {shipped}")
        g2 = time.perf_counter()
        self.gateway = SparkContext._gateway
        self.jvm = tr.jvm_pid(self.gateway.proc)
        self.layer["session.get_spark_s"] = g1 - g0
        self.layer["session.first_job_s"] = g2 - g1
        if self.tracer:
            root = self.tracer.add("run", "run", w0, w0, None, workload=self.args.workload)
            self.root = root
            s = self.tracer.add("setup", "setup", w0, w0 + (g2 - t0), root)
            self.tracer.add("session.get_spark", "layer", w0 + (g0 - t0), w0 + (g1 - t0), s)
            self.tracer.add("session.first_job", "layer", w0 + (g1 - t0), w0 + (g2 - t0), s)
            self.store = tr.StatusStore(self.spark)
            self.spark.streams.addListener(tr.make_progress_listener(self.progress))
        return g2 - t0

    def make_ops(self) -> dict:
        from check import oracle_con

        con = oracle_con(self.data_dir, str(self.tmp / "duckdb"))
        if self.args.workload == "sort":
            return sort_ops(self.spark, self.args.seed, self.scale, self.cpus, str(self.tmp), con)
        return registry_ops(self.spark, WORKLOADS[self.args.workload], self.data_dir, con)

    # -- one op ---------------------------------------------------------------

    def _cpu(self) -> tuple[float, float, float]:
        return (tr.proc_cpu_s("self"), tr.proc_cpu_s(self.jvm), tr.python_worker_cpu_s(self.jvm))

    def run_op(self, op, pass_no: int, parent) -> dict:
        rec = {"op": op.name, "pass": pass_no, "ok": False}
        cpu0 = self._cpu() if self.tracer else None
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            handle = op.build()
            t1 = time.perf_counter()
            result = op.action(handle)
            t2 = time.perf_counter()
        except Exception as ex:  # noqa: BLE001 - a failed op is counted, not fatal
            rec.update(error=f"{type(ex).__name__}: {ex}"[:500], build_s=0.0, action_s=0.0)
            print(f"perfbench: {op.name} raised {rec['error']}", file=sys.stderr)
            self._forget_events()
            clear_caches(self.spark)
            return rec
        rec.update(build_s=t1 - t0, action_s=t2 - t1)
        if self.tracer:
            self._trace_op(rec, handle, cpu0, w0, parent)
        c0 = time.time()
        try:
            rec["ok"] = bool(op.check(handle, result))
        except Exception as ex:  # noqa: BLE001
            rec["error"] = f"check {type(ex).__name__}: {ex}"[:500]
        rec["check_s"] = time.time() - c0
        if not rec["ok"]:
            print(f"perfbench: {op.name} wrong result {rec.get('error', '')}", file=sys.stderr)
        if self.tracer:
            self.tracer.add(f"check {op.name}", "check", c0, time.time(), parent)
        self._forget_events()  # the check's own jobs are not the op's
        clear_caches(self.spark)
        return rec

    def _forget_events(self) -> None:
        if self.tracer:
            self.store.new_jobs()
            del self.progress[:]

    def _trace_op(self, rec, handle, cpu0, w0, parent) -> None:
        cpu1 = self._cpu()
        b_end, end = w0 + rec["build_s"], w0 + op_s(rec)
        t = self.tracer
        sid = t.add(rec["op"], "op", w0, end, parent)
        b = t.add("build", "build", w0, b_end, sid)
        a = t.add("action", "action", b_end, end, sid)
        jobs = self.store.new_jobs()
        stats = {k: 0.0 for k in tr.STAGE_FIELDS}
        stages, intervals = set(), []
        for job in jobs:
            js, je = job["start"] or w0, job["end"] or end
            intervals.append((max(js, w0), min(je, end)))
            phase = "build" if js < b_end else "action"
            rec[f"{phase}_jobs"] = rec.get(f"{phase}_jobs", 0) + 1
            jid = t.add(f"job {job['id']}", "job", js, je, b if phase == "build" else a)
            for st in job["stages"]:
                if st in stages or (sd := self.store.stage(st)) is None:
                    continue
                stages.add(st)
                t.add(f"stage {st}", "stage", sd["start"] or js, sd["end"] or je, jid)
                for k in stats:
                    stats[k] += sd[k]
        rec.update(stats)
        if isinstance(handle, str):  # write_sorted's sink directory
            rec["output_files"] = len(glob.glob(os.path.join(handle, "part-*")))
        rec["jobs"] = len(jobs)
        rec["stages"] = len(stages)
        rec["stages_skipped"] = sum(j["skipped"] for j in jobs)
        rec["driver_gap_s"] = (end - w0) - tr.union_s([i for i in intervals if i[1] > i[0]])
        rec["driver_cpu_s"], rec["jvm_cpu_s"], rec["worker_cpu_s"] = (
            c1 - c0 for c0, c1 in zip(cpu0, cpu1)
        )
        if hasattr(handle, "_jdf"):  # a DataFrame (write_sorted's handle is its sink path)
            from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.plans import (
                inspect,
            )

            rec.update(tr.plan_counts(inspect.formatted_plan(handle)))
        triggers = list(self.progress)
        del self.progress[:]
        trig_ms = [p["duration_ms"].get("triggerExecution", 0) for p in triggers]
        rec["triggers"] = trig_ms
        for name, key in STREAM_PHASES.items():
            rec[name] = sum(p["duration_ms"].get(key, 0) for p in triggers)
        last = {p["run_id"]: p for p in triggers}
        rec["stream_input_rows"] = sum(p["input_rows"] for p in triggers)
        rec["state_rows"] = sum(p["state_rows"] for p in last.values())
        rec["state_memory_bytes"] = sum(p["state_memory_bytes"] for p in last.values())
        rec["outside_trigger_s"] = (end - w0) - sum(trig_ms) / 1000 if triggers else 0.0

    # -- passes ---------------------------------------------------------------

    def run_passes(self, ops: dict) -> list[list[dict]]:
        passes, start = [], time.perf_counter()
        while True:
            w0 = time.time()
            parent = None
            if self.tracer:
                parent = self.tracer.add(f"pass {len(passes)}", "pass", w0, w0, self.root)
            recs = [self.run_op(op, len(passes), parent) for op in ops.values()]
            if self.tracer:
                self.tracer.spans[parent]["end"] = time.time()
            passes.append(recs)
            if time.perf_counter() - start + sum(map(op_s, recs)) > self.args.seconds:
                return passes

    def stop(self) -> None:
        """Stop Spark and wait until the JVM (and with it the workers) exits."""
        self.spark.stop()
        proc = self.gateway.proc
        self.gateway.shutdown()
        from pyspark import SparkContext

        SparkContext._gateway = SparkContext._jvm = None
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # -- metrics ---------------------------------------------------------------

    def end_to_end(self, setup_s: float, passes) -> dict[str, float]:
        return {
            "setup_s": setup_s,
            "wall_s": tr.p50([sum(map(op_s, p)) for p in passes]),
            "peak_rss_mb": tr.hwm_mb(self.jvm) + tr.hwm_mb("self"),
        }

    def per_layer(self, passes, wall_s: float, baseline_wall: float | None) -> dict[str, float]:
        recs = [r for p in passes for r in p]
        total = lambda k: float(sum(r.get(k, 0) for r in recs))  # noqa: E731
        wall = total("build_s") + total("action_s")
        m = dict(self.layer)
        m.update({
            "sources.input_bytes": total("input_bytes"),
            "sources.input_rows": total("input_rows"),
            "plans.file_scans": total("file_scans"),
            "plans.exchanges": total("exchanges"),
            "plans.reused_exchanges": total("reused_exchanges"),
            "queries.build_s": total("build_s"),
            "queries.action_s": total("action_s"),
            "queries.build_jobs": total("build_jobs"),
            "queries.action_jobs": total("action_jobs"),
            "queries.build_share": total("build_s") / wall if wall else 0.0,
            "queries.p50_s": tr.p50([op_s(r) for r in recs]),
            "exec.jobs": total("jobs"),
            "exec.stages": total("stages"),
            "exec.stages_skipped": total("stages_skipped"),
            "exec.tasks": total("tasks"),
            "exec.driver_gap_s": total("driver_gap_s"),
            "exec.core_util": total("task_run_s") / (wall * self.cpus) if wall else 0.0,
            "exec.task_run_s": total("task_run_s"),
            "exec.task_cpu_s": total("task_cpu_s"),
            "exec.gc_s": total("gc_s"),
            "exec.deserialize_s": total("deserialize_s"),
            "shuffle.write_bytes": total("shuffle_write_bytes"),
            "shuffle.read_bytes": total("shuffle_read_bytes"),
            "shuffle.write_s": total("shuffle_write_s"),
            "shuffle.fetch_wait_s": total("shuffle_fetch_wait_s"),
            "shuffle.spill_bytes": total("spill_bytes"),
            "python.worker_cpu_s": total("worker_cpu_s"),
            "python.driver_cpu_s": total("driver_cpu_s"),
            "jvm.cpu_s": total("jvm_cpu_s"),
            "io.output_bytes": total("output_bytes"),
            "io.output_files": total("output_files"),
        })
        for op, name in SORT_LAYER_OPS.items():
            m[name] = tr.p50([op_s(r) for r in recs if r["op"] == op])
        for op in ("total_sort", "ranked"):
            m[f"sorting.{op}_jobs"] = float(sum(r.get("jobs", 0) for r in recs if r["op"] == op))
        trig = [t for r in recs for t in r.get("triggers", [])]
        m["streaming.triggers"] = float(len(trig))
        m["streaming.trigger_p50_ms"] = float(tr.p50(trig))
        for name in STREAM_PHASES:
            m[name] = total(name)
        m["streaming.input_rows"] = total("stream_input_rows")
        m["streaming.state_rows"] = total("state_rows")
        m["streaming.state_memory_bytes"] = total("state_memory_bytes")
        m["streaming.outside_trigger_s"] = total("outside_trigger_s")
        m["host.calib_ms"] = self.labels["calib_ms"]
        m["host.steal_frac"] = self.labels["steal_frac"]
        m["tracing.overhead_frac"] = wall_s / baseline_wall - 1 if baseline_wall else 0.0
        return m

    # -- whole run ------------------------------------------------------------

    def execute(self) -> dict:
        self.data_dir = None
        if self.args.workload != "sort":
            import gen

            self.data_dir = gen.write_tables(str(self.run_dir / "data"), self.args.seed, self.scale.sf)
        baseline = self.baseline_wall() if self.args.trace else None
        setup_s = self.setup()
        try:
            ops = self.make_ops()
            calib0, cpu0 = tr.calib_ms(), tr.host_cpu_ticks()
            passes = self.run_passes(ops)
            calib1, cpu1 = tr.calib_ms(), tr.host_cpu_ticks()
            self.labels = {
                "calib_ms": (calib0 + calib1) / 2,
                "steal_frac": (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]),
                "cpus": self.cpus,
                "driver_memory": DRIVER_MEMORY,
                "jvm_heap_opts": JVM_HEAP_OPTS,
                "jvm_hwm_mb": tr.hwm_mb(self.jvm),
                "driver_hwm_mb": tr.hwm_mb("self"),
            }
            e2e = self.end_to_end(setup_s, passes)
            layer = self.per_layer(passes, e2e["wall_s"], baseline) if self.args.trace else None
        finally:
            self.stop()
        recs = [r for p in passes for r in p]
        failed = sum(not r["ok"] for r in recs)
        metrics = layer if self.args.trace else e2e
        names = PER_LAYER if self.args.trace else END_TO_END
        return {
            "result": {
                "correct": failed == 0,
                "attempted": len(recs),
                "failed": failed,
                "metrics": metric_block(metrics, names),
            },
            "record": {
                "workload": self.args.workload, "seed": self.args.seed,
                "trace": self.args.trace, "tiny": self.args.tiny,
                "sf": self.scale.sf, "sort_n": self.scale.sort_n,
                "labels": self.labels, "end_to_end": e2e, "per_layer": layer,
                "ops": recs,
            },
        }

    def baseline_wall(self) -> float | None:
        """Untraced ``wall_s`` of the same workload and seed, from a fresh
        child process: the reference for ``tracing.overhead_frac``."""
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", self.args.workload,
               "--seed", str(self.args.seed), "--seconds", str(self.args.seconds), "--trace", "0"]
        if self.args.tiny:
            cmd.append("--tiny")
        done = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=170)
        try:
            res = json.loads(done.stdout.strip().splitlines()[-1])
            return res["metrics"]["wall_s"]["value"]
        except (IndexError, ValueError, KeyError):
            return None


def parse(argv):
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="sf0.001 and small N (smoke tests)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    run_dir = OUT / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    try:
        run = Run(args, run_dir, isolate(run_dir))
        out = run.execute()
    except Exception:  # noqa: BLE001 - no result line on a broken set-up
        traceback.print_exc()
        return 2
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    OUT.mkdir(parents=True, exist_ok=True)
    record_path = OUT / f"record-{tag}.json"
    record_path.write_text(json.dumps(out["record"], indent=1, default=float))
    if args.trace:
        (OUT / f"trace-{tag}.json").write_text(json.dumps(run.tracer.finish(), default=float))
    print(f"perfbench: record {record_path.relative_to(ROOT)} labels {json.dumps(out['record']['labels'])}")
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
