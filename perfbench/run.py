#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 12 --trace 0

Run from the repository root.  One client runs the workload's ops in a
closed loop from this process on ``local[<cores>]``.  Set-up (imports,
session start, input generation, untimed warm passes) is timed as
``setup_s``; then at least one pass runs, and more while they fit in
``--seconds``.  Outputs are checked against DuckDB oracles after the
timed region.  End-to-end times are scaled to a reference host speed
measured between ops (``metrics.host_adjusted``); the context line keeps
them as measured.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run turns on Spark's event log, job groups, a
streaming listener and layer wrappers, and the last line carries the
per-layer metrics.  The line before it is a context record (seed, host
probe, failed ops, tail percentile); the full record, with spans and the
slowest-op table of a traced run, goes to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import time

_T_IMPORT = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402

SCALE = 0.01        # input scale factor (60k lineitem rows)
DATA_SEED = 42      # inputs are fixed; --seed only orders ops and picks predicates
PACKAGE = "data_eng_iceberg_demo_spark"
# After each op, host-speed probe samples are taken (untimed) for this
# share of the op's time, at least one: the samples then cover every
# workload's timed region evenly, and long ops weigh more.
PROBE_SHARE = 0.10


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return _T_IMPORT


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE,
                    help="input scale factor (tests use 0.001)")
    return ap.parse_args(argv)


def prepare_env(root: str, run_dir: str, trace: bool) -> int:
    """Point every scratch path of this process and its children into
    ``run_dir``; return the core count the session runs on."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    paths = [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, root)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # keeps every JVM's files (hsperfdata, the launcher's tmpdir) inside
    # run_dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # The one JVM setting the benchmark adds: a 2 GiB initial driver heap.
    # Left to grow from its small default, the heap's size at the end of a
    # run varies with GC timing and peak RSS spreads by ~20% between runs.
    # defaultJavaOptions is prepended to the session's own
    # extraJavaOptions; the session's -Xmx and GC settings stay as shipped.
    submit = ["--conf spark.driver.defaultJavaOptions=-Xms2g"]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": f"file://{log_dir}",
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
        submit += [f"--conf {k}={v}" for k, v in confs.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return cores


class Runner:
    """Runs ops and keeps their samples: ``samples[op] = [(pass, sec)]``,
    ``outputs[op] = [arrow table]`` and ``errors[op] = [reason]``;
    ``attempted`` counts the recorded op runs."""

    def __init__(self, spark, data_dir: str, tracer=None):
        self.spark = spark
        self.data_dir = data_dir
        self.tracer = tracer
        self.samples: dict[str, list] = {}
        self.outputs: dict[str, list] = {}
        self.errors: dict[str, list] = {}
        self.passes: list[dict] = []
        self.attempted = 0
        self.group_counts: dict[str, tuple] = {}
        # host-speed probe samples taken between ops, per window
        self.probes: dict[str, list] = {"setup": [], "timed": []}
        self.window = "setup"

    def _call(self, op: str, fn, record: bool, pass_no: int, instrument: bool):
        sc = self.spark.sparkContext
        tr = self.tracer
        gid = f"perfbench-{pass_no}-{op}"
        if instrument:
            sc.setJobGroup(gid, op)
            tr.op_id, tr.enabled = gid, True
            root = tr.begin(op)
        t0 = time.perf_counter()
        try:
            out = fn(instrument)
            ok = True
        except Exception as ex:  # an op that raises counts as failed
            out, ok = f"{type(ex).__name__}: {str(ex)[:300]}", False
        dt_s = time.perf_counter() - t0
        if instrument:
            tr.end(root)
            tr.enabled = False
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.group_counts[gid] = _group_counts(sc, gid)
        if record:
            self.attempted += 1
            if ok:
                self.samples.setdefault(op, []).append((pass_no, dt_s))
                if out is not None:
                    self.outputs.setdefault(op, []).append(out)
            else:
                self.errors.setdefault(op, []).append(out)
        return dt_s

    def untimed_output(self, op: str, fn) -> None:
        """Record ``fn()`` as a further output of ``op`` to check, or the
        error it raises."""
        try:
            self.outputs.setdefault(op, []).append(fn())
        except Exception as ex:
            self.errors.setdefault(op, []).append(
                f"{type(ex).__name__}: {str(ex)[:300]}")

    def registry_op(self, name: str, fn):
        def run(instrument: bool):
            if not instrument:
                return fn(self.spark, self.data_dir).toArrow()
            tr = self.tracer
            s = tr.begin("build")
            df = fn(self.spark, self.data_dir)
            tr.end(s)
            s = tr.begin("plan")
            df._jdf.queryExecution().executedPlan()
            tr.end(s)
            s = tr.begin("execute")
            out = df.toArrow()
            tr.end(s)
            return out
        return run

    def _probe(self, budget_s: float) -> None:
        samples = self.probes[self.window]
        end = time.perf_counter() + budget_s
        samples.append(M.speed_sample())
        while time.perf_counter() < end:
            samples.append(M.speed_sample())

    def run_pass(self, ops, pass_no: int, record: bool, instrument: bool = False,
                 after_op=None) -> float:
        """``ops``: list of ``(name, callable(instrument))``; ``after_op(name)``
        runs after each op, outside its timing and outside ``sec``."""
        dt_s = 0.0
        for name, fn in ops:
            op_s = self._call(name, fn, record, pass_no, instrument)
            dt_s += op_s
            self._probe(PROBE_SHARE * op_s)
            if after_op is not None:
                after_op(name)
        if record:
            self.passes.append({"pass": pass_no, "sec": dt_s, "instrumented": instrument})
        return dt_s


def _group_counts(sc, gid: str) -> tuple[int, int, int]:
    """Jobs, stages and tasks of a job group, from the status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(gid)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return len(jobs), stages, tasks


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t_proc = process_start()
    # a terminated run still stops Spark and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, "runs", f"{args.workload}-{os.getpid()}")
    cores = prepare_env(root, run_dir, bool(args.trace))
    try:
        return run(args, t_proc, work, run_dir, cores)
    finally:
        reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)


def reap_children() -> None:
    """Kill and wait for any child process still running, e.g. a driver
    JVM whose launch was interrupted before the session existed."""
    for pid in M.child_pids(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def run(args, t_proc: float, work: str, run_dir: str, cores: int) -> int:
    import numpy as np

    import datagen
    import report
    from oracle import OracleCache
    from workloads import QUERIES, WARM_PASSES, LifecycleRun, pass_order

    trace = bool(args.trace)
    setup: dict[str, float] = {}
    t = time.time()
    from data_eng_iceberg_demo_spark.plans import registry
    from data_eng_iceberg_demo_spark.session import get_spark
    queries = registry.query_map()
    setup["import_s"] = time.time() - t

    t = time.time()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    setup["session_start_s"] = time.time() - t

    try:
        tracer = listener = None
        load_counts: dict = {}
        if trace:
            import tracing
            tracer = tracing.Tracer()
            tracing.wrap_layers(tracer, load_counts)
            listener = tracing.StreamListener()
            spark.streams.addListener(listener)
            tracing.follow_sessions(listener)

        t = time.time()
        data_dir = os.path.join(run_dir, "data")
        input_id = datagen.write_tables(data_dir, args.scale, DATA_SEED)
        setup["stage_inputs_s"] = time.time() - t

        runner = Runner(spark, data_dir, tracer)
        rng = np.random.default_rng(args.seed)
        if args.workload == "queries":
            ops = [(n, runner.registry_op(n, queries[n])) for n in QUERIES]

            def make_pass(_i):
                return pass_order(ops, rng), None
            life = None
        else:
            life = LifecycleRun(spark, data_dir, run_dir, args.seed)

            def make_pass(i):
                p = life.new_pass(i)
                return [(op, _bind(p, op)) for op in life.ops], p

        def one_pass(i: int, record: bool, instrument: bool = False):
            pass_ops, p = make_pass(i)
            after = (lambda op: life.after_op(p, op)) if life is not None else None
            runner.run_pass(pass_ops, i, record, instrument, after)
            if life is not None:
                if record:
                    runner.untimed_output("expire_snapshots", p.final_read)
                life.finish_pass(p, record)
            return [n for n, _ in pass_ops]

        t = time.time()
        for w in range(WARM_PASSES[args.workload]):
            one_pass(-1 - w, record=False)
        setup["warm_passes_s"] = time.time() - t

        t_first = time.time()
        setup_s = t_first - t_proc
        runner.window = "timed"
        deadline = time.perf_counter() + args.seconds
        order_first = None
        i = 0
        last = 0.0
        # at least one pass; a traced run alternates plain and
        # instrumented passes in ABBA order (at least one block); passes
        # continue while the next one is expected to end in time
        while i < (4 if trace else 1) or time.perf_counter() + last <= deadline:
            t = time.perf_counter()
            order = one_pass(i, record=True, instrument=trace and i % 4 in (1, 2))
            last = time.perf_counter() - t
            order_first = order_first or order
            i += 1
        timed_s = time.time() - t_first
        if trace:
            time.sleep(1.0)  # let the listener bus deliver the last progress events

        pids = [os.getpid()] + M.jvm_pids(os.getpid())
        peak_rss = M.peak_rss_mb(pids)

        # correctness and byte baselines, outside the timed region
        t = time.time()
        if life is not None:
            life.measure_plain()
        cache = OracleCache(data_dir, input_id, os.path.join(work, "cache"))
        failures = report.check(runner, cache, registry.oracle_map(), life)
        cache.close()
        check_s = time.time() - t
    finally:
        stop_spark(spark)
    probe = M.host_probe(cores)

    ctx = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "scale": args.scale, "data_seed": DATA_SEED, "cores": cores,
           "calibration_sec": probe["calibration_sec"],
           "effective_cores": probe["effective_cores"],
           "setup": {k: round(v, 4) for k, v in setup.items()},
           "timed_s": round(timed_s, 3), "check_s": round(check_s, 3),
           "passes": len(runner.passes), "op_order_pass0": order_first}
    result = report.build(args, runner, failures, setup_s, peak_rss, ctx,
                          life=life, tracer=tracer, listener=listener,
                          load_counts=load_counts, run_dir=run_dir,
                          session_start_s=setup["session_start_s"])
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    out_path = os.path.join(work, "results",
                            f"{args.workload}-trace{args.trace}-seed{args.seed}.json")
    with open(out_path, "w") as f:
        json.dump(result["record"], f, indent=1, default=str)
    if result.get("op_table"):
        print(result["op_table"], file=sys.stderr)
    print(json.dumps({"context": result["context"]}, default=str))
    print(json.dumps(result["line"]))
    return 0


def _bind(p, op):
    return lambda _instrument: p.run(op)


if __name__ == "__main__":
    sys.exit(main())
