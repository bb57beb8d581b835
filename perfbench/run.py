"""End-to-end and per-layer benchmark of the engine.

    python3 perfbench/run.py --workload observe_tick --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --compare runs_a.txt runs_b.txt

One process, one closed-loop client: each op starts when the previous one
has finished. Spark runs ``local[<cores>]`` through the engine's own session
factory and DuckDB, which computes the reference answers before the session
starts, runs on the same number of threads. See README.md in this directory
for the workloads, metrics and output format.
"""

import time

PROCESS_START = time.time()  # set-up is measured from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import socket  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import (  # noqa: E402
    ARROW_LAYERS,
    OBSERVE_CYCLE,
    OPERATOR_LAYERS,
    SENSOR_TICK,
    WORKLOADS,
    layer_of,
    per_layer_units,
)

STATE_DIR = os.path.join(ROOT, ".perfbench")  # oracle cache and span files
OP_TIMEOUT_S = 90
JOB_FLOOR_SAMPLES = 15
LOG_KEYS = ("entity_type", "entity_id", "update_id")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(work: str, cores: int) -> None:
    """Point the engine, its Python workers and every temporary file of
    Spark at this checkout, before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # Arrow builders unpickle engine functions in the Python workers
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        filter(None, (
            os.environ.get("SPARK_SUBMIT_OPTS"),
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        ))
    )
    sys.path.insert(0, ROOT)


def _hwm_mb(pid: str | int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _walk(root: str, since: float | None = None) -> tuple[int, int]:
    """(files, bytes) under ``root``, only files modified at or after
    ``since`` when given."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            if since is None or st.st_mtime >= since:
                files += 1
                size += st.st_size
    return files, size


class Bench:
    """Runs ops against one session and checks every output."""

    def __init__(self, spark, sf_dir, counts, arrivals, work):
        from databricks_observe_spark.registry import queries

        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = sf_dir
        self.counts = counts
        self.queries = queries()
        self.staged, self.prefix_keys = arrivals or ([], [])
        self.arrival_dir = os.path.join(work, "arrivals")
        self.sensor_ckpt = os.path.join(work, "sensor_ckpt")
        self.sensor_log = os.path.join(work, "sensor_log")
        self.observe_out = os.path.join(work, "observe_out")
        os.makedirs(self.arrival_dir)
        self.n_ops = self.cycles = self.ticks = 0
        self.failures: list[str] = []
        self.collector = None  # set for a traced pass

    # -- ops: each returns (construct_end, end, ok, detail) --------------

    def _query(self, name: str):
        df = self.queries[name](self.spark, self.sf_dir)
        construct_end = time.time()
        n = df.count()
        end = time.time()
        return construct_end, end, n == self.counts[name], {"rows": n}

    def _observe_cycle(self):
        from databricks_observe_spark.jobs import observe_cycle

        got = observe_cycle(self.spark, self.sf_dir, self.observe_out)
        end = time.time()
        self.cycles += 1
        want = {
            "asset_specs": self.counts["asset_specs"],
            "topo_levels": self.counts["topo_levels"],
            "materializations": self.counts["table_profiles"] * self.cycles,
        }
        return end, end, got == want, {"got": got, "want": want}

    def _sensor_tick(self):
        from databricks_observe_spark.streaming.state import transition_log_stream

        i = self.ticks
        if i >= len(self.staged):
            raise RuntimeError("arrival files exhausted")
        landed = os.path.join(self.arrival_dir, os.path.basename(self.staged[i]))
        os.rename(self.staged[i], landed)
        self.ticks += 1
        q = transition_log_stream(
            self.spark, self.arrival_dir, self.sensor_ckpt, self.sensor_log,
            glob="*.parquet",
        )
        construct_end = time.time()
        if not q.awaitTermination(OP_TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"sensor tick {i} did not finish in {OP_TIMEOUT_S} s")
        end = time.time()
        if q.exception() is not None:
            raise RuntimeError(f"sensor tick {i}: {q.exception()}")
        self.sc.setJobGroup("check", "output check")
        emitted = {
            tuple(r)
            for r in self.spark.read.parquet(self.sensor_log)
            .select(*LOG_KEYS).distinct().collect()
        }
        want = self.prefix_keys[i]
        detail = {
            "query": q, "landed": landed, "emitted": len(emitted), "want": len(want),
        }
        return construct_end, end, emitted == want, detail

    def run_op(self, op: str) -> dict | None:
        """Run one op under its own job group; None if it raised."""
        self.n_ops += 1
        op_id = f"op{self.n_ops}"
        self.sc.setJobGroup(op_id, op, interruptOnCancel=True)
        timer = threading.Timer(OP_TIMEOUT_S, self.sc.cancelJobGroup, [op_id])
        timer.daemon = True
        if self.collector:
            self.collector.begin()
        timer.start()
        start = time.time()
        try:
            if op == OBSERVE_CYCLE:
                construct_end, end, ok, detail = self._observe_cycle()
            elif op == SENSOR_TICK:
                construct_end, end, ok, detail = self._sensor_tick()
            else:
                construct_end, end, ok, detail = self._query(op)
        except Exception:  # an op that raises is a failed op; the run goes on
            self.failures.append(f"{op}: {traceback.format_exc(limit=3)}")
            print(f"op {op} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        finally:
            timer.cancel()
        if not ok:
            shown = {k: v for k, v in detail.items() if k != "query"}
            self.failures.append(f"{op}: output check failed {shown}")
        rec = {
            "op": op, "id": op_id, "layer": layer_of(op), "ok": ok,
            "latency_s": end - start, "construct_s": construct_end - start,
            "action_s": end - construct_end,
        }
        if self.collector:
            groups = [op_id]
            if op == SENSOR_TICK:
                groups.append(str(detail["query"].runId))
            rec.update(self.collector.collect(op_id, op, groups, start, construct_end, end))
            rec.update(self._sink_and_stream(op, detail, start, end - start))
        return rec

    def _sink_and_stream(self, op: str, detail: dict, start: float, latency: float) -> dict:
        if op == OBSERVE_CYCLE:
            files, _ = _walk(self.observe_out, since=start)
            return {"sink_files": files}
        if op != SENSOR_TICK:
            return {}
        files, written = _walk(self.sensor_log, since=start)
        progress = detail["query"].recentProgress
        dur = [p.durationMs for p in progress]
        trigger_s = sum(d.get("triggerExecution", 0) for d in dur) / 1e3
        return {
            "sink_files": files,
            "sink_bytes": written,
            "input_bytes": os.path.getsize(detail["landed"]),
            "stream": {
                "restart_s": latency - trigger_s,
                "batches_per_tick": len(progress),
                "trigger_s": trigger_s,
                "add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1e3,
                "query_planning_s": sum(d.get("queryPlanning", 0) for d in dur) / 1e3,
                "commit_s": sum(
                    d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur
                ) / 1e3,
                "state_rows": sum(s.numRowsTotal for s in progress[-1].stateOperators)
                if progress else 0,
                "state_commit_s": sum(
                    s.commitTimeMs for p in progress for s in p.stateOperators
                ) / 1e3,
                "checkpoint_bytes": _walk(self.sensor_ckpt)[1],
            },
        }

    def run_pass(self, ops: list[str]) -> tuple[list[dict | None], float]:
        """The pass's op records and its wall time, which includes the
        output checks and, in a traced pass, the collector's reads."""
        start = time.time()
        records = [self.run_op(op) for op in ops]
        return records, time.time() - start


# -- set-up ----------------------------------------------------------------


def setup(sf_dir: str) -> tuple[object, dict]:
    """Session start, engine.prepare and the warm-up job."""
    from databricks_observe_spark import registry
    from databricks_observe_spark.session import get_spark

    info = {}
    t = time.time()
    spark = get_spark("perfbench")
    info["session_start_s"] = time.time() - t
    sc = spark.sparkContext
    sc.setJobGroup("setup:prepare", "engine.prepare")
    t = time.time()
    registry._ctx(spark, sf_dir)
    info["prepare_s"] = time.time() - t
    sc.setJobGroup("setup:warmup", "warm-up")
    spark.range(1).count()
    return spark, info


def _setup_order() -> list[str]:
    """Builder names in SETUP_DEPS order: each after all its dependencies,
    ties kept in declaration order."""
    from databricks_observe_spark.setup_phase import SETUP_DEPS, SETUP_INDEX_NAMES

    done: list[str] = []
    while len(done) < len(SETUP_INDEX_NAMES):
        done.append(next(
            n for n in SETUP_INDEX_NAMES
            if n not in done and all(d in done for d in SETUP_DEPS[n])
        ))
    return done


def traced_setup_build(spark, sf_dir: str, collector) -> dict:
    """The shared index builds of a traced run. First the engine's pooled
    ``build_setup_indexes`` into the context the ops use, which also boots
    the Python workers the ops reuse. Then every index again, one builder
    at a time into a throwaway context, each under its own job group, so
    each build's cost is its own."""
    from databricks_observe_spark import registry
    from databricks_observe_spark.engine import prepare
    from databricks_observe_spark.setup_phase import (
        SETUP_DEPS,
        build_setup_indexes,
        setup_builders,
    )

    collector.python_since_last_read()  # forget the executions before it
    spark.sparkContext.setJobGroup("setup:indexes", "build_setup_indexes")
    t = time.time()
    build_setup_indexes(spark, registry._ctx(spark, sf_dir), sf_dir)
    wall_s = time.time() - t
    python_start_s = collector.python_since_last_read()[0]

    ctx = prepare(spark, sf_dir)
    builders = setup_builders()
    times: dict[str, float] = {}
    totals = {"spark_jobs": 0, "executor_cpu_s": 0.0, "shuffle_bytes": 0}
    order = _setup_order()
    for name in order:
        group = f"setup:{name}"
        spark.sparkContext.setJobGroup(group, f"setup: {name}")
        collector.begin()
        start = time.time()
        builders[name](ctx)
        end = time.time()
        times[name] = end - start
        rec = collector.collect(group, f"setup {name}", [group], start, end, end)
        totals["spark_jobs"] += rec["jobs"]
        totals["executor_cpu_s"] += rec["executor_cpu_s"]
        totals["shuffle_bytes"] += rec["shuffle_bytes"]
    finish: dict[str, float] = {}
    for name in order:
        finish[name] = times[name] + max(
            (finish[d] for d in SETUP_DEPS[name]), default=0.0
        )
    return {
        "wall_s": wall_s,
        "python_start_s": python_start_s,
        "serial_sum_s": sum(times.values()),
        "critical_path_s": max(finish.values()),
        "doc_tokens_s": times["doc_tokens"],
        "tfidf_tf_s": times["tfidf_tf"],
        **totals,
        "builders_s": times,
    }


def job_floor_ms(spark) -> float:
    spark.sparkContext.setJobGroup("job_floor", "job floor")
    samples = []
    for _ in range(JOB_FLOOR_SAMPLES):
        t = time.time()
        spark.range(1).count()
        samples.append((time.time() - t) * 1e3)
    return statistics.median(samples)


# -- metrics ---------------------------------------------------------------


def layer_metrics(records: list[dict], setup_info: dict, extra: dict) -> dict:
    """Every per-layer metric, summed over the traced pass's ops."""
    units = per_layer_units()
    values = dict.fromkeys(units, 0)
    for rec in records:
        layer = rec["layer"]
        if layer in OPERATOR_LAYERS:
            values[f"{layer}.construct_s"] += rec["construct_s"]
            values[f"{layer}.action_s"] += rec["action_s"]
            values[f"{layer}.spark_jobs"] += rec["jobs"]
            values[f"{layer}.tasks"] += rec["tasks"]
            values[f"{layer}.executor_cpu_s"] += rec["executor_cpu_s"]
            values[f"{layer}.shuffle_bytes"] += rec["shuffle_bytes"]
            if layer in ARROW_LAYERS:
                values[f"{layer}.python_start_s"] += rec["python_start_s"]
                values[f"{layer}.python_run_s"] += rec["python_run_s"]
        values["total.spark_jobs"] += rec["jobs"]
        values["total.tasks"] += rec["tasks"]
        values["sinks.files_written"] += rec.get("sink_files", 0)
    ticks = [rec["stream"] for rec in records if "stream" in rec]
    for key in ticks[0] if ticks else ():
        values[f"streaming.{key}"] = sum(t[key] for t in ticks) / len(ticks)
    sink_in = sum(rec.get("input_bytes", 0) for rec in records)
    if sink_in:
        values["sinks.bytes_per_input_byte"] = (
            sum(rec.get("sink_bytes", 0) for rec in records) / sink_in
        )
    build = setup_info.get("traced_build")
    if build:
        for key in ("wall_s", "serial_sum_s", "critical_path_s", "spark_jobs",
                    "executor_cpu_s", "shuffle_bytes", "python_start_s",
                    "doc_tokens_s", "tfidf_tf_s"):
            values[f"setup_phase.{key}"] = build[key]
    values["sources.prepare_s"] = setup_info["prepare_s"]
    values["sources.spark_jobs"] = setup_info["prepare_jobs"]
    values["session.start_s"] = setup_info["session_start_s"]
    values.update(extra)
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def _done_per_wall_s(records: list[dict | None], wall_s: float) -> float:
    return sum(r is not None for r in records) / wall_s


# -- main ------------------------------------------------------------------


def run(args) -> tuple[dict, dict]:
    """One benchmark run; returns (detail, result)."""
    workload = WORKLOADS[args.workload]
    cores = _cores()
    os.makedirs(STATE_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"work-{args.workload}-", dir=STATE_DIR)
    _isolate(work, cores)
    spark = None
    try:
        # the engine's import cost (pyspark, numpy, pandas, pyarrow and every
        # operator module) is part of set-up, so it happens before the
        # inputs window that set-up leaves out
        import databricks_observe_spark.registry  # noqa: F401
        from databricks_observe_spark.sources.tables import DEFAULT_SF_DIR as sf_dir
        from inputs import arrival_files, oracle_counts, pass_order

        # reference answers and generated inputs: outside every timed region
        t_inputs = time.time()
        counts = oracle_counts(
            workload.checked_queries, sf_dir,
            os.path.join(STATE_DIR, "oracle_counts.json"), cores,
        )
        arrivals = None
        if workload.sensor_tick:
            arrivals = arrival_files(
                sf_dir, os.path.join(work, "staging"), args.seed, cores
            )
        inputs_s = time.time() - t_inputs

        spark, info = setup(sf_dir)
        setup_s = time.time() - PROCESS_START - inputs_s
        sc = spark.sparkContext
        info["prepare_jobs"] = len(sc.statusTracker().getJobIdsForGroup("setup:prepare"))
        bench = Bench(spark, sf_dir, counts, arrivals, work)
        ops = workload.ops
        detail = {
            "perfbench": 1, "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "cores": cores, "host": socket.gethostname(),
            "sf_dir": sf_dir, "spark": spark.version,
            "driver_memory": sc.getConf().get("spark.driver.memory", None),
            "inputs_s": inputs_s, "setup_s": setup_s, "setup": info,
            "ops_per_pass": len(ops),
        }
        if args.trace:
            from collector import Collector

            collector = Collector(spark)
            extra = {"session.job_floor_ms": job_floor_ms(spark)}
            if workload.indexes:
                info["traced_build"] = traced_setup_build(spark, sf_dir, collector)
        # whole warm passes until --seconds have gone by since the cold pass
        # began, and at least the workload's warm_passes. At the --seconds of
        # BENCHMARK.json the cold pass alone takes longer, so every run makes
        # exactly warm_passes whatever the host's speed: op latencies still
        # fall from one warm pass to the next, and a pass count that followed
        # the host's speed would make them bimodal. A traced run makes one.
        t_passes = time.time()
        cold, _ = bench.run_pass(pass_order(ops, args.seed, 0))
        warm: list[dict | None] = []
        warm_wall_s = 0.0
        passes = 0
        fewest = 1 if args.trace else workload.warm_passes
        while passes < fewest or (not args.trace and time.time() - t_passes < args.seconds):
            passes += 1
            records, wall_s = bench.run_pass(pass_order(ops, args.seed, passes))
            warm += records
            warm_wall_s += wall_s
        done = [r for r in warm if r is not None]
        # each op's best warm latency: host interference only ever slows an
        # op down, and the best of a few passes drops most of it
        op_best_s = {
            op: min(r["latency_s"] for r in done if r["op"] == op)
            for op in ops if any(r["op"] == op for r in done)
        }
        detail.update({
            "cold_pass_s": sum(r["latency_s"] for r in cold if r is not None),
            "warm_passes": passes, "warm_ops": len(done),
            "op_geomean_s": statistics.geometric_mean(op_best_s.values()),
            "ops_per_s": len(op_best_s) / sum(op_best_s.values()),
            "cold_op_s": {r["op"]: r["latency_s"] for r in cold if r is not None},
            "op_best_s": op_best_s,
        })
        if args.trace:
            # same op order as the one untraced warm pass; both wall times
            # hold the output checks, and only the traced one the collector
            bench.collector = collector
            traced, traced_wall_s = bench.run_pass(pass_order(ops, args.seed, 1))
            extra["trace.overhead_frac"] = 1.0 - (
                _done_per_wall_s(traced, traced_wall_s)
                / _done_per_wall_s(warm, warm_wall_s)
            )
            if workload.observe_cycle:
                traced.append(bench.run_op(OBSERVE_CYCLE))
            bench.collector = None
            records = [r for r in traced if r is not None]
            metrics = layer_metrics(records, info, extra)
            spans = os.path.join(
                STATE_DIR, f"spans-{args.workload}-seed{args.seed}.json"
            )
            collector.write(spans)
            detail["spans_file"] = spans
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        hwm_mb = {"python": _hwm_mb("self"), "jvm": _hwm_mb(jvm_pid)}
        peak_rss_mb = sum(hwm_mb.values())
        if not args.trace:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "cold_pass_s": {"value": detail["cold_pass_s"], "unit": "s"},
                "op_geomean_s": {"value": detail["op_geomean_s"], "unit": "s"},
                "ops_per_s": {"value": detail["ops_per_s"], "unit": "1/s"},
            }
        attempted = bench.n_ops
        failed = len(bench.failures)
        detail.update({
            "peak_rss_mb": peak_rss_mb, "hwm_mb": hwm_mb,
            "attempted": attempted, "failed": failed,
            "failed_frac": failed / attempted, "failures": bench.failures[:10],
        })
        result = {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics,
        }
        return detail, result
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def compare(paths: list[str]) -> int:
    """Medians per workload and metric of saved outputs; refuses to put
    runs from different core counts side by side."""
    rows = []
    for path in paths:
        details, results = {}, []
        with open(path) as f:
            lines = [json.loads(x) for x in f if x.startswith("{")]
        for rec in lines:
            if rec.get("perfbench"):
                details = rec
            elif "metrics" in rec and details:
                results.append((details["cores"], details["workload"], rec["metrics"]))
        rows.append(results)
    cores = {c for results in rows for c, _, _ in results}
    if len(cores) != 1:
        print(f"refusing to compare runs made on different core counts: {sorted(cores)}")
        return 2
    for path, results in zip(paths, rows):
        by_wl: dict = {}
        for _, wl, metrics in results:
            for name, m in metrics.items():
                by_wl.setdefault((wl, name, m["unit"]), []).append(m["value"])
        for (wl, name, unit), vals in sorted(by_wl.items()):
            print(f"{path}\t{wl}\t{name}\t{statistics.median(vals):.6g} {unit}\tn={len(vals)}")
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs="+", metavar="OUTPUT_FILE")
    args = ap.parse_args(argv)
    if args.compare:
        return compare(args.compare)
    if not args.workload:
        ap.error("--workload is required")
    # a SIGTERM unwinds through run()'s cleanup: session, JVM, work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    detail, result = run(args)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
