"""Per-layer metrics of a traced run, from the spans (spans.py), the
status-store counters and the timed round the workload recorded.

A layer's self time excludes the spans nested in it, so inside a batch the
layers' self times add up to the batch span exactly, and
`run.unattributed_s` is what the critical-path spans do not cover. Names
and units are those of BENCHMARK.json's per_layer list (run.declared).
"""

from __future__ import annotations

import statistics

from spans import GROUP_BATCH, GROUP_CONTROL, GROUP_MONITOR, descendants, self_times
from workloads import percentile

def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _p(values, q: float) -> float:
    return percentile(values, q) if values else 0.0


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_metrics(rnd, spans: list[dict], groups: dict[str, dict],
                  decode_s: float, e2e: dict, wall_clock: dict) -> dict:
    a, b = rnd.t0 - 0.1, rnd.t_end + 0.1
    sp = [s for s in spans if a <= s["start"] and s["end"] <= b]
    selfs = self_times(sp)
    by_id = {s["id"]: s for s in sp}

    def named(name: str) -> list[dict]:
        return [s for s in sp if s["name"] == name]

    def self_sum(name: str) -> float:
        return sum(selfs[s["id"]] for s in named(name))

    def parent_name(s: dict) -> str | None:
        p = by_id.get(s["parent"])
        return p["name"] if p else None

    batches = named("streaming.pipeline.process_batch")
    top_merges = [s for s in named("sinks.table.merge_changes")
                  if parent_name(s) == "streaming.pipeline.apply_changes"]
    touched = [sum(1 for c in sp if c["parent"] == m["id"]
                   and c["name"] == "sinks.layout.promote_dir")
               for m in top_merges]
    promoted = sum(s["attrs"].get("bytes", 0)
                   for s in named("sinks.layout.promote_dir")
                   if parent_name(s) == "sinks.table.merge_changes")
    landed = rnd.log_bytes
    retry_calls = named("operators.retry.apply_with_retry")
    ticks = named("app.retry_pass")
    reads = rnd.reads
    sync_states = named("app.sync_state")

    def http_rest(x: dict) -> float | None:
        inner = [s for s in sync_states
                 if x["start"] <= s["start"] and s["end"] <= x["end"]]
        return (x["end"] - x["start"] - sum(_dur(s) for s in inner)
                if inner else None)

    http = [v for v in map(http_rest, reads) if v is not None]

    backlog = 0
    for due in rnd.due:
        landed_n = sum(1 for t in rnd.landed_at if t <= due + 1e-3)
        done_n = sum(1 for c in rnd.committed if c is not None and c <= due)
        backlog = max(backlog, landed_n - done_n)
    late = [t - d for t, d in zip(rnd.landed_at, rnd.due)]

    residual = 0.0
    for b in batches:
        tree = [b] + descendants(sp, b["id"])
        residual = max(residual, abs(_dur(b) - sum(selfs[s["id"]] for s in tree)))

    critical = [(s["start"], s["end"]) for s in sp if s["parent"] is None
                and s["name"] in ("streaming.pipeline.process_batch",
                                  "app.retry_pass", "app.retention_pass")]
    wall = rnd.wall_s

    tagged = [groups.get(g, {}) for g in (GROUP_BATCH, GROUP_CONTROL,
                                          GROUP_MONITOR)]

    def session(key: str) -> float:
        return sum(g.get(key, 0) for g in tagged)

    batch_grp = groups.get(GROUP_BATCH, {})
    mon_grp = groups.get(GROUP_MONITOR, {})
    nb = max(1, len(batches))

    return {
        "streaming.pipeline.batches": len(batches),
        "streaming.pipeline.batch_s.p50": _p([_dur(b) for b in batches], 50),
        "streaming.pipeline.batch_s.p80": _p([_dur(b) for b in batches], 80),
        "streaming.pipeline.self_s": self_sum("streaming.pipeline.process_batch"),
        "streaming.pipeline.ack_s": self_sum("streaming.pipeline.apply_changes"),
        "streaming.pipeline.trigger_overhead_s": sum(
            (p["trigger_ms"] - p["add_batch_ms"]) / 1000.0
            for p in rnd.progress),
        "streaming.pipeline.busy_share": rnd.busy_share,
        "streaming.pipeline.backlog_max_files": backlog,
        "streaming.pipeline.generator_late_s.max": max(late) if late else 0.0,
        "operators.apply.decode_reduce_s": decode_s,
        "sinks.table.merge_s.p50": _p([_dur(s) for s in top_merges], 50),
        "sinks.table.merge_self_s": self_sum("sinks.table.merge_changes"),
        "sinks.table.buckets_touched.mean":
            statistics.mean(touched) if touched else 0.0,
        "sinks.table.write_amp": promoted / landed if landed else 0.0,
        "sinks.table.target_bytes": rnd.target_bytes,
        "sinks.table.n_buckets": rnd.n_buckets,
        "sinks.table.rebuckets": len(named("sinks.table.rebucket")),
        "sinks.table.rebucket_s":
            sum(_dur(s) for s in named("sinks.table.rebucket")),
        "sinks.layout.promote_s": self_sum("sinks.layout.promote_dir"),
        "sinks.layout.compact_s":
            sum(_dur(s) for s in named("sinks.layout.compact")),
        "sinks.jdbc.merge_s.p50":
            _p([_dur(s) for s in named("sinks.jdbc.merge_changes")], 50),
        "sinks.jdbc.merge_self_s": self_sum("sinks.jdbc.merge_changes"),
        "sinks.jdbc.rows": rnd.jdbc_rows,
        "operators.retry.calls": len(retry_calls),
        "operators.retry.passes":
            sum(s["attrs"].get("passes", 0) for s in retry_calls),
        "operators.retry.s": self_sum("operators.retry.apply_with_retry"),
        "operators.retry.err_rows": rnd.err_rows,
        "operators.retry.blk_rows": rnd.blk_rows,
        "operators.retention.files_removed": rnd.maint["files_removed"],
        "operators.status.status_files": rnd.maint["status_files"],
        "app.retry_ticks": len(ticks),
        "app.retry_tick_s.p50": _p([_dur(s) for s in ticks], 50),
        "app.retention_s":
            sum(_dur(s) for s in named("app.retention_pass")),
        "monitor.reads": len(reads),
        "monitor.failed_reads": sum(1 for x in reads if not x["ok"]),
        "monitor.read_s.p50": _p([x["end"] - x["due"] for x in reads], 50),
        "monitor.maint_reads": len(rnd.maint_reads),
        "monitor.maint_failed_reads":
            sum(1 for x in rnd.maint_reads if not x["ok"]),
        "monitor.sync_state_s.p50": _p([_dur(s) for s in sync_states], 50),
        "monitor.http_s.p50": _p(http, 50),
        "session.jobs": session("jobs"),
        "session.stages": session("stages"),
        "session.tasks": session("tasks"),
        "session.task_s": session("task_s"),
        "session.gc_s": session("gc_s"),
        "session.shuffle_read_bytes": session("shuffle_read_bytes"),
        "session.shuffle_write_bytes": session("shuffle_write_bytes"),
        "session.jobs_per_batch": batch_grp.get("jobs", 0) / nb,
        "session.task_s_per_batch": batch_grp.get("task_s", 0) / nb,
        "session.monitor_jobs": mon_grp.get("jobs", 0),
        "session.monitor_task_s": mon_grp.get("task_s", 0),
        "run.wall_s": wall,
        "run.unattributed_s": wall - _union_s(critical),
        "trace.spans": len(sp),
        "trace.batch_residual_s": residual,
        "traced.changes_per_cpu_s": e2e["changes_per_cpu_s"],
        "traced.converge_cpu_s": e2e["converge_cpu_s"],
        "traced.batch_cpu_s": e2e["batch_cpu_s"],
        **{f"wall.{k}": v for k, v in wall_clock.items()},
    }
