"""Correctness check and metric assembly for one run.

``END_TO_END`` and ``PER_LAYER`` are the metric names and units the run
prints (``BENCHMARK.json`` lists the same names); every name is printed
on every workload, with 0 where a workload never reaches that layer.
"""

from __future__ import annotations

import glob
import os
import statistics
from collections import defaultdict

import metrics as M
from oracle import canon, mismatch
from workloads import (LIFECYCLE_OPS, LIFECYCLE_READS, LIFECYCLE_WRITES,
                       OP_MODULES, lifecycle_replay, op_module)

END_TO_END = (("setup_s", "s"), ("pass_s", "s"), ("op_geomean_s", "s"),
              ("op_p50_s", "s"), ("peak_rss_mb", "MB"))

_EXEC = (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
         ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"), ("gc_ms", "ms"),
         ("input_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
         ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
         ("core_busy_ratio", "ratio"))
_UDF = (("python_rows", "count"), ("python_bytes_sent", "bytes"),
        ("python_bytes_received", "bytes"), ("python_ms", "ms"))
_STREAM = (("batches", "count"), ("startup_ms", "ms"), ("trigger_ms", "ms"),
           ("add_batch_ms", "ms"), ("wal_commit_ms", "ms"),
           ("query_planning_ms", "ms"), ("input_rows", "count"),
           ("state_rows", "count"))
_ICELITE = (("data_files", "count"), ("delete_files", "count"),
            ("metadata_files", "count"), ("scan_files_ratio", "ratio"),
            ("bytes_written", "bytes"), ("metadata_bytes_written", "bytes"),
            ("write_p50_s", "s"), ("read_p50_s", "s"), ("write_amp", "ratio"),
            ("space_amp", "ratio"))

PER_LAYER = (
    (("session.start_s", "s"), ("registry.build_s", "s"),
     ("registry.build_jobs", "count"), ("sources.load_calls", "count"),
     ("sources.load_s", "s"), ("plan.s", "s"), ("execute.s", "s"))
    + tuple((f"execute.{k}", u) for k, u in _EXEC)
    + tuple((f"{m}.{ph}_s", "s") for m in OP_MODULES for ph in ("build", "execute"))
    + tuple((f"udf.{k}", u) for k, u in _UDF)
    + tuple((f"streaming.{k}", u) for k, u in _STREAM)
    + tuple((f"icelite.{op}_s", "s") for op in LIFECYCLE_OPS)
    + tuple((f"icelite.{k}", u) for k, u in _ICELITE)
    + (("trace.pass_s", "s"), ("trace.overhead_ratio", "ratio")))


def check(runner, cache, oracles: dict, life=None) -> dict[str, list[str]]:
    """Every recorded output against its oracle; ``{op: [reasons]}``."""
    expected = lifecycle_replay(life.data_dir, life.params) if life else {}
    failures: dict[str, list[str]] = defaultdict(list)
    for op, outs in runner.outputs.items():
        want = expected[op] if life else cache.expected(oracles[op])
        for out in outs:
            reason = mismatch(canon(out), want)
            if reason:
                failures[op].append(reason)
    for op, errs in runner.errors.items():
        failures[op].extend(errs)
    return dict(failures)


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def lifecycle_latencies(samples: dict, passes: set) -> tuple[float, float]:
    """Median commit-op and read-op latency over the given passes."""
    def pick(ops):
        v = [s for op in ops for p, s in samples.get(op, []) if p in passes]
        return M.median(v) if v else 0.0
    return pick(LIFECYCLE_WRITES), pick(LIFECYCLE_READS)


def _lifecycle_stats(life, samples: dict, passes) -> dict:
    if life is None or not life.stats:
        return {}
    out = {k: M.median(s[k] for s in life.stats) for k in life.stats[0]}
    out["write_amp"] = M.write_amp(out["bytes_written"], life.plain_bytes)
    out["write_p50_s"], out["read_p50_s"] = lifecycle_latencies(samples, passes)
    return out


def build(args, runner, failures, setup_s, peak_rss, ctx, *, life, tracer,
          listener, load_counts, run_dir, session_start_s) -> dict:
    attempted = runner.attempted
    failed = sum(len(v) for v in failures.values())
    plain = {p["pass"] for p in runner.passes if not p["instrumented"]}
    plain_secs = [p["sec"] for p in runner.passes if not p["instrumented"]]
    op_secs = {op: [s for p, s in v if p in plain] for op, v in runner.samples.items()}
    all_secs = [s for v in op_secs.values() for s in v]
    pct, tail, n = M.tail_percentile(all_secs)
    ctx = dict(ctx, failed_ratio=failed / max(1, attempted),
               failed_ops={op: r[:3] for op, r in failures.items()},
               checked_outputs={op: len(v) for op, v in runner.outputs.items()},
               op_tail={"percentile": pct, "value_s": tail, "samples": n},
               op_median_s={op: M.median(v) for op, v in op_secs.items() if v},
               pass_secs=[round(p["sec"], 4) for p in runner.passes])
    if life is not None:
        ctx["lifecycle"] = dict(_lifecycle_stats(life, runner.samples, plain),
                                params=life.params.describe(),
                                plain_bytes=life.plain_bytes)
    probes = runner.probes
    ctx["host_probe_s"] = {w: statistics.fmean(v) for w, v in probes.items() if v}
    ctx["host_probe_samples"] = {w: len(v) for w, v in probes.items()}
    record = {"context": ctx}
    if not args.trace:
        op_medians = [M.median(v) for v in op_secs.values() if v]
        raw = {"setup_s": setup_s, "pass_s": M.median(plain_secs),
               "op_geomean_s": M.geomean(op_medians),
               "op_p50_s": M.median(op_medians)}
        ctx["raw"] = raw
        # times as they would read on the reference host; each is scaled
        # by the probe samples of the window it was measured in
        vals = {k: M.host_adjusted(v, probes["setup" if k == "setup_s" else "timed"])
                for k, v in raw.items()}
        vals["peak_rss_mb"] = peak_rss
        mets = {k: _metric(vals[k], u) for k, u in END_TO_END}
        result = {"context": ctx, "record": record}
    else:
        mets, op_table, extra = traced_metrics(runner, tracer, listener, load_counts,
                                               run_dir, ctx["cores"], life,
                                               session_start_s)
        record.update(extra)
        record["op_table"] = op_table
        result = {"context": ctx, "record": record, "op_table": op_table}
    record["metrics"] = mets
    result["line"] = {"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": mets}
    return result


def _event_log(run_dir: str) -> str | None:
    files = [f for f in glob.glob(os.path.join(run_dir, "eventlog", "*"))
             if os.path.isfile(f)]
    return max(files, key=os.path.getsize) if files else None


def traced_metrics(runner, tracer, listener, load_counts, run_dir, cores, life,
                   session_start_s):
    import tracing

    inst = [p for p in runner.passes if p["instrumented"]]
    plain = [p["sec"] for p in runner.passes if not p["instrumented"]]
    spans = tracer.spans
    index = tracing.SpanIndex(spans)
    gid_pass = {}
    per_op: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["parent"] is None and s["end"]:
            gid = s["op"]
            gid_pass[gid] = int(gid.split("-")[1])
            per_op[gid]["op"] = s["name"]
            per_op[gid]["total_s"] += s["end"] - s["start"]
    for s in spans:
        if s["name"] in tracing.SpanIndex.PHASES and s["parent"] is not None and s["end"]:
            per_op[s["op"]][f"{s['name']}_s"] += s["end"] - s["start"]
    for gid, d in per_op.items():
        if "execute_s" not in d:  # lifecycle ops have no build/plan split
            d["execute_s"] = d["total_s"]
        d["group_jobs"], d["group_stages"], d["group_tasks"] = runner.group_counts.get(gid, (0, 0, 0))
        d["load_calls"], d["load_s"] = load_counts.get(gid, (0, 0.0))

    log = _event_log(run_dir)
    jobs = tracing.parse_event_log(log) if log else []
    for j in jobs:
        op, phase = index.find(j["submit"])
        if j["group"] in per_op:
            op = j["group"]
        if op is None:
            continue
        d = per_op[op]
        where = "build" if phase == "build" else "execute"
        d[f"{where}_jobs"] += 1
        if where == "execute":
            d["execute_stages"] += len(j["stages"])
            d["execute_wall_ms"] += j["wall_ms"]
            for k in tracing.TASK_KEYS:
                d[f"execute_{k}"] += j[k]
        for k in ("python_rows", "python_bytes_sent", "python_bytes_received", "python_ms"):
            d[k] += j[k]
    streams = tracing.stream_totals(listener, index)
    for gid, t in streams.items():
        for k, v in t.items():
            per_op[gid][f"stream_{k}"] += v

    def pass_value(pass_no: int) -> dict[str, float]:
        v: dict[str, float] = defaultdict(float)
        for gid, d in per_op.items():
            if gid_pass.get(gid) != pass_no:
                continue
            v["registry.build_s"] += d["build_s"]
            v["registry.build_jobs"] += d["build_jobs"]
            v["sources.load_calls"] += d["load_calls"]
            v["sources.load_s"] += d["load_s"]
            v["plan.s"] += d["plan_s"]
            v["execute.s"] += d["execute_s"]
            v["execute.jobs"] += d["execute_jobs"]
            v["execute.stages"] += d["execute_stages"]
            v["_wall_ms"] += d["execute_wall_ms"]
            for k, _u in _EXEC:
                if k not in ("jobs", "stages", "core_busy_ratio"):
                    v[f"execute.{k}"] += d[f"execute_{k}"]
            for k, _u in _UDF:
                v[f"udf.{k}"] += d[k]
            for k, _u in _STREAM:
                v[f"streaming.{k}"] += d[f"stream_{k}"]
            name = d["op"]
            if life is not None:
                v[f"icelite.{name}_s"] += d["total_s"]
            else:
                mod = op_module(name)
                v[f"{mod}.build_s"] += d["build_s"]
                v[f"{mod}.execute_s"] += d["plan_s"] + d["execute_s"]
        wall = v.pop("_wall_ms")
        v["execute.core_busy_ratio"] = (v["execute.executor_run_ms"] / (wall * cores)
                                        if wall > 0 else 0.0)
        return v

    vals_by_pass = [pass_value(p["pass"]) for p in inst]
    names = [n for n, _u in PER_LAYER]
    vals = {n: M.median(v.get(n, 0.0) for v in vals_by_pass) for n in names}
    vals["session.start_s"] = session_start_s
    trace_pass = M.median(p["sec"] for p in inst)
    vals["trace.pass_s"] = trace_pass
    vals["trace.overhead_ratio"] = trace_pass / M.median(plain)
    if life is not None:
        stats = _lifecycle_stats(life, runner.samples, {p["pass"] for p in inst})
        for k, _u in _ICELITE:
            vals[f"icelite.{k}"] = stats.get(k, 0.0)
    mets = {n: _metric(vals[n], u) for n, u in PER_LAYER}
    table = op_table(per_op)
    extra = {"spans": spans, "per_op": {g: dict(d) for g, d in per_op.items()},
             "stream_progress": listener.progress, "stream_starts": listener.started}
    return mets, table, extra


def op_table(per_op: dict, top: int = 20) -> str:
    """The slowest ops (median over traced passes) with their build, plan
    and execute split and job counts."""
    by_name: dict[str, list] = defaultdict(list)
    for d in per_op.values():
        by_name[d["op"]].append(d)
    rows = []
    for name, ds in by_name.items():
        med = {k: M.median(d[k] for d in ds) for k in
               ("total_s", "build_s", "plan_s", "execute_s", "build_jobs",
                "execute_jobs", "group_jobs", "execute_stages", "execute_tasks")}
        rows.append((name, med))
    rows.sort(key=lambda r: -r[1]["total_s"])
    head = (f"{'op':34} {'total_s':>8} {'build_s':>8} {'plan_s':>7} {'exec_s':>7} "
            f"{'b_jobs':>6} {'e_jobs':>6} {'grp_jobs':>8} {'stages':>6} {'tasks':>6}")
    lines = [head]
    for name, m in rows[:top]:
        lines.append(
            f"{name:34} {m['total_s']:8.3f} {m['build_s']:8.3f} {m['plan_s']:7.3f} "
            f"{m['execute_s']:7.3f} {m['build_jobs']:6.0f} {m['execute_jobs']:6.0f} "
            f"{m['group_jobs']:8.0f} {m['execute_stages']:6.0f} {m['execute_tasks']:6.0f}")
    return "\n".join(lines)
