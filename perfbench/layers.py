"""Metrics of one run, computed from the JVM's raw run record.

``end_to_end`` turns the untraced samples into the end-to-end metrics;
``per_layer`` turns the traced samples and listener events into the
per-layer metrics. Layer totals are normalised to one pass (the summed
value over the traced samples, times ops per pass, divided by the number
of traced samples), so runs with different pass counts compare.
"""

import collections
import statistics

import stats

MB = 1024 * 1024


def _time(s):
    return s["build_s"] + s["action_s"] + s["release_s"] + s["drain_s"]


def _timed(run, traced):
    return [s for s in run["samples"]
            if s["pass"] >= 1 and s["traced"] == traced and not s["error"]]


def _pass_walls(run, traced):
    return [p["wall_s"] for p in run["passes"]
            if p["traced"] == traced]


def setup_s(run):
    """JVM start-up, plus the run's one session creation and table
    registration, plus the warm pass."""
    st = run["setup"]
    return st["jvm_s"] + st["session_s"] + st["register_s"] + st["warm_s"]


def end_to_end(run):
    samples = _timed(run, False)
    by_op = collections.defaultdict(list)
    for s in samples:
        by_op[s["op"]].append(_time(s))
    times = [_time(s) for s in samples]
    metrics = {
        "setup_s": setup_s(run),
        "pass_s": statistics.median(_pass_walls(run, False)),
        "op_geomean_s": stats.geomean(
            [statistics.median(v) for v in by_op.values()]),
    }
    artifact = {
        "op_p50_s": statistics.median(times),
        "op_tail": _tail(times),
        "op_median_s": {k: statistics.median(v) for k, v in by_op.items()},
        "op_samples": {k: len(v) for k, v in by_op.items()},
        "setup": run["setup"], "passes": run["passes"],
    }
    return {k: {"value": v, "unit": "s"} for k, v in metrics.items()}, artifact


def per_layer(run, kinds):
    cores = run["cores"]
    samples = _timed(run, True)
    if not samples:
        raise SystemExit("perfbench: no traced samples")
    per_pass = len(kinds) / len(samples)
    tr = run["trace"]
    spans = {s["id"] * 4 + phase for s in samples for phase in range(3)}

    def mine(events, phases=(0, 1, 2)):
        return [e for e in events if e["op"] in spans
                and e["op"] % 4 in phases]

    tasks = mine(tr["tasks"])
    task_iv = collections.defaultdict(list)
    for t in tasks:
        task_iv[t["op"]].append((t["launch_ms"], t["finish_ms"]))
    idle = gap = 0.0
    for s in samples:
        for phase, start, dur in ((0, s["build_ms"], s["build_s"]),
                                  (1, s["action_ms"], s["action_s"])):
            i, g = stats.idle_and_gap((start, start + dur * 1e3),
                                      task_iv[s["id"] * 4 + phase], cores)
            idle += i
            gap += g
    plans = mine(tr["plans"])
    batches = mine(tr["batches"])
    batch_s = [b["batch_ms"] / 1e3 for b in batches]
    writes = mine(tr["writes"])

    def total(xs):
        return sum(xs) * per_pass

    def by_kind(field, ks):
        return total(s[field] for s in samples if kinds[s["op"]] in ks)

    traced_pass = statistics.median(_pass_walls(run, True))
    plain_pass = statistics.median(_pass_walls(run, False))
    m = {
        "context.sql_s": (by_kind("build_s", ("sql",)), "s"),
        "context.register_s": (run["setup"]["register_s"], "s"),
        "operators.build_s": (by_kind("build_s", ("row", "sink")), "s"),
        "operators.build_jobs": (total(1 for _ in mine(tr["jobs"], (0,))),
                                 "count"),
        "catalyst.analysis_s": (total(p["analysis_ms"] for p in plans) / 1e3,
                                "s"),
        "catalyst.optimization_s": (
            total(p["optimization_ms"] for p in plans) / 1e3, "s"),
        "catalyst.planning_s": (total(p["planning_ms"] for p in plans) / 1e3,
                                "s"),
        "scheduler.jobs": (total(1 for _ in mine(tr["jobs"])), "count"),
        "scheduler.stages": (total(1 for _ in mine(tr["stages"])), "count"),
        "scheduler.tasks": (total(1 for _ in tasks), "count"),
        "scheduler.idle_slot_s": (total([idle]) / 1e3, "s"),
        "scheduler.gap_s": (total([gap]) / 1e3, "s"),
        "executor.run_s": (total(t["run_ms"] for t in tasks) / 1e3, "s"),
        "executor.cpu_s": (total(t["cpu_ns"] for t in tasks) / 1e9, "s"),
        "executor.gc_s": (total(t["gc_ms"] for t in tasks) / 1e3, "s"),
        "executor.input_rows": (total(t["input_rows"] for t in tasks),
                                "count"),
        "executor.peak_exec_mem_mb": (
            max([t["peak_mem_b"] for t in tasks] or [0]) / MB, "MB"),
        "executor.failed_tasks": (total(1 for t in tasks if t["failed"]),
                                  "count"),
        "shuffle.write_mb": (total(t["shuffle_write_b"] for t in tasks) / MB,
                             "MB"),
        "shuffle.read_mb": (total(t["shuffle_read_b"] for t in tasks) / MB,
                            "MB"),
        "shuffle.spill_disk_mb": (total(t["spill_disk_b"] for t in tasks) / MB,
                                  "MB"),
        "sink.commit_s": (total(w["commit_ms"] for w in writes) / 1e3, "s"),
        "sink.output_mb": (total(w["bytes"] for w in writes) / MB, "MB"),
        "sink.output_rows": (total(w["rows"] for w in writes), "count"),
        "streaming.batches": (total(1 for _ in batches), "count"),
        "streaming.batch_s": (total(batch_s), "s"),
        "streaming.batch_p50_s": (
            statistics.median(batch_s) if batch_s else 0.0, "s"),
        "streaming.wal_commit_s": (
            total(b["wal_commit_ms"] for b in batches) / 1e3, "s"),
        "streaming.state_commit_s": (
            total(b["state_commit_ms"] for b in batches) / 1e3, "s"),
        "scratch.layouts_built": (run["scratch"]["layouts_built"], "count"),
        "scratch.mb": (run["scratch"]["bytes"] / MB, "MB"),
        "caches.release_s": (total(s["release_s"] for s in samples), "s"),
        "process.peak_rss_mb": (run["peak_rss_kb"] / 1024, "MB"),
        "trace.overhead_s": (traced_pass - plain_pass, "s"),
    }
    span_recs = [{k: s[k] for k in ("id", "op", "pass", "build_ms", "build_s",
                                "action_ms", "action_s", "release_s",
                                "drain_s")}
             for s in samples]
    jobs_by_span = collections.defaultdict(list)
    for j in mine(tr["jobs"]):
        jobs_by_span[j["op"]].append(j["job"])
    stages_by_span = collections.defaultdict(list)
    for st in mine(tr["stages"]):
        stages_by_span[st["op"]].append(st["stage"])
    for sp in span_recs:
        for phase, name in ((0, "build"), (1, "action")):
            sp[f"{name}_jobs"] = jobs_by_span[sp["id"] * 4 + phase]
            sp[f"{name}_stages"] = stages_by_span[sp["id"] * 4 + phase]
    artifact = {
        "spans": span_recs,
        "overhead": {"traced_pass_s": traced_pass,
                     "untraced_pass_s": plain_pass},
        "per_layer": {k: v for k, (v, _) in m.items()},
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, artifact


def _tail(times):
    """The op-time tail by the 10-samples-beyond rule, when the run has
    enough samples for it."""
    try:
        pct, value, n = stats.tail(times)
    except ValueError:
        return None
    return {"percentile": pct, "value_s": value, "samples": n}
