"""Per-layer metrics of the traced pass.

Sources: spans from ``trace.Tracer`` on the program's public methods, the
progress listener, the tables' ``_metrics/epoch-N.json`` sidecars, and the
Spark event log (enabled for the traced pass only). Every metric is
reported on every workload; one whose layer a workload does not use reads
0 there.
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench import workloads

ADOPTERS = ("fanout.merge_batch", "dedup_index.merge_batch")

# name -> unit; the order is the order of BENCHMARK.json's per_layer list
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.gc_s": "s",
    "pipeline.epochs": "count",
    "pipeline.rows_in": "count",
    "pipeline.overhead_s": "s",
    "pipeline.latest_offset_s": "s",
    "pipeline.query_planning_s": "s",
    "pipeline.wal_commit_s": "s",
    "pipeline.jobs_per_epoch": "count",
    "pipeline.backlog_files_max": "count",
    "pipeline.generator_late_s_max": "s",
    "sink.merge_batch_s": "s",
    "sink.merge_batch_s_p50": "s",
    "sink.merge_calls": "count",
    "sink.batch_stats_s": "s",
    "sink.merge_write_s": "s",
    "sink.job1_write_s": "s",
    "sink.swap_s": "s",
    "sink.rows_merged": "count",
    "sink.buckets_touched_mean": "count",
    "sink.bytes_written": "bytes",
    "sink.shuffle_write_bytes": "bytes",
    "sink.spill_bytes": "bytes",
    "sink.run_files_max": "count",
    "sink.lookup_s_p50": "s",
    "sink.lookup_calls": "count",
    "sink.lookup_ids": "count",
    "sink.read_where_s": "s",
    "sink.read_where_calls": "count",
    "sink.read_retries": "count",
    "fanout.merge_batch_s": "s",
    "fanout.self_s": "s",
    "stateful.state_rows_max": "count",
    "stateful.state_bytes_max": "bytes",
    "stateful.state_commit_s": "s",
    "stateful.task_s": "s",
    "stateful.python_bytes_out": "bytes",
    "stateful.python_bytes_in": "bytes",
    "stateful.rows_out": "count",
    "stateful.rows_late_dropped": "count",
    "dedup_index.merge_batch_s": "s",
    "dedup_index.self_s": "s",
    "dedup_index.sink_calls_per_epoch": "count",
    "dedup_index.lookup_ids": "count",
    "dedup_index.pairs": "count",
    "trace.epoch_wall_s": "s",
    "trace.phase_over_wall": "ratio",
}
NAMES = tuple(LAYER_UNITS)


def unit(name: str) -> str:
    return LAYER_UNITS.get(name, "s")


def install(tracer) -> None:
    """Spans around the public methods each layer is entered through."""
    from aktuell_spark.streaming.dedup_index import StreamingDedupIndex
    from aktuell_spark.streaming.fanout import FanoutSink
    from aktuell_spark.streaming.sink import BucketedUpsertTable

    def n_keys(_self, key_values, *a, **k):
        return {"n": len(list(key_values))}

    tracer.wrap(BucketedUpsertTable, "merge_batch", "sink.merge_batch")
    tracer.wrap(BucketedUpsertTable, "lookup_many", "sink.lookup_many", n_keys)
    tracer.wrap(BucketedUpsertTable, "read_where", "sink.read_where")
    tracer.wrap(FanoutSink, "merge_batch", "fanout.merge_batch")
    tracer.wrap(StreamingDedupIndex, "merge_batch", "dedup_index.merge_batch")


def _durs(tracer, name: str, t0: float) -> list:
    return [s for s in tracer.named(name) if s.start >= t0]


def _sidecars(tables) -> list[dict]:
    out = []
    for t in tables:
        d = t.metrics_dir
        for f in sorted(os.listdir(d)):
            if f.startswith("epoch-") and f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    out.append(json.load(fh))
    return out


def _backlog_max(due: dict, epoch_of: dict, commits: dict) -> int:
    """Most files ever due but not yet committed."""
    events = []
    for n, t in due.items():
        events.append((t, 1))
        b = epoch_of.get(n)
        if b is not None and b in commits:
            events.append((commits[b], -1))
    cur = peak = 0
    for _, d in sorted(events):
        cur += d
        peak = max(peak, cur)
    return peak


def profile(res, tracer, t0: float) -> dict:
    """Layer metrics from spans, listener records and sidecars. Called
    while the session is still up; event-log figures are added after it
    stops (``add_event_log``)."""
    from perfbench.trace import self_times

    p = {k: 0.0 for k in NAMES}
    eps = res.epochs
    dur = [e["duration_ms"] for e in eps]
    p["pipeline.epochs"] = len(eps)
    p["pipeline.rows_in"] = sum(e["rows"] for e in eps)
    p["pipeline.overhead_s"] = sum(
        d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur) / 1000
    p["pipeline.latest_offset_s"] = sum(d.get("latestOffset", 0) for d in dur) / 1000
    p["pipeline.query_planning_s"] = sum(d.get("queryPlanning", 0) for d in dur) / 1000
    p["pipeline.wal_commit_s"] = sum(d.get("walCommit", 0) for d in dur) / 1000
    p["trace.epoch_wall_s"] = sum(d.get("triggerExecution", 0) for d in dur) / 1000

    selfs = self_times(tracer.spans)
    merges = _durs(tracer, "sink.merge_batch", t0)
    p["sink.merge_batch_s"] = sum(s.dur for s in merges)
    p["sink.merge_batch_s_p50"] = statistics.median([s.dur for s in merges]) if merges else 0.0
    p["sink.merge_calls"] = len(merges)
    looks = _durs(tracer, "sink.lookup_many", t0)
    p["sink.lookup_s_p50"] = statistics.median([s.dur for s in looks]) if looks else 0.0
    p["sink.lookup_calls"] = len(looks)
    p["sink.lookup_ids"] = sum(s.attrs.get("n", 0) for s in looks)
    rw = _durs(tracer, "sink.read_where", t0)
    p["sink.read_where_s"] = sum(s.dur for s in rw)
    p["sink.read_where_calls"] = len(rw)
    p["sink.read_retries"] = res.read_retries
    fan = _durs(tracer, "fanout.merge_batch", t0)
    p["fanout.merge_batch_s"] = sum(s.dur for s in fan)
    p["fanout.self_s"] = sum(selfs[s.id] for s in fan)
    idx = _durs(tracer, "dedup_index.merge_batch", t0)
    p["dedup_index.merge_batch_s"] = sum(s.dur for s in idx)
    p["dedup_index.self_s"] = sum(selfs[s.id] for s in idx)
    if idx:
        ids = {s.id for s in idx}
        kids = [s for s in tracer.spans if s.parent in ids]
        p["dedup_index.sink_calls_per_epoch"] = len(kids) / len(idx)
        p["dedup_index.lookup_ids"] = sum(
            s.attrs.get("n", 0) for s in kids if s.name == "sink.lookup_many")
    p["dedup_index.pairs"] = res.layer.get("pairs", 0)

    tables = res.layer.get("tables", [])
    # only the timed query's epochs: index_dedup's tables also hold the
    # set-up's base build
    timed = res.layer.get("table_epochs", set())
    cars = [c for c in _sidecars(tables) if c.get("epoch", -1) in timed]
    ph = [c.get("phases", {}) for c in cars]
    p["sink.batch_stats_s"] = sum(x.get("batch_stats_sec", 0) for x in ph)
    p["sink.merge_write_s"] = sum(x.get("merge_write_sec", 0) for x in ph)
    p["sink.job1_write_s"] = sum(x.get("job1_write_sec", 0) for x in ph)
    p["sink.swap_s"] = sum(x.get("swap_sec", 0) for x in ph)
    p["sink.rows_merged"] = sum(c.get("merged_rows", 0) for c in cars)
    if cars:
        p["sink.buckets_touched_mean"] = statistics.mean(
            len(c.get("touched_buckets", [])) for c in cars)
        walls = sum(c.get("merge_sec", 0) for c in cars)
        phase_sum = sum(sum(x.values()) for x in ph)
        p["trace.phase_over_wall"] = phase_sum / walls if walls else 0.0
    p["sink.run_files_max"] = max((t.max_runs_per_bucket() for t in tables), default=0)

    states = [s for e in eps for s in e["state"]]
    if states:
        p["stateful.state_rows_max"] = max(s["rows_total"] for s in states)
        p["stateful.state_bytes_max"] = max(s["memory_bytes"] for s in states)
        p["stateful.state_commit_s"] = sum(s["commit_ms"] for s in states) / 1000
        p["stateful.rows_late_dropped"] = sum(s["dropped_late"] for s in states)

    lay = res.layer
    p["stateful.rows_out"] = lay.get("cep_rows_out", 0)
    if "due" in lay:
        p["pipeline.backlog_files_max"] = _backlog_max(
            lay["due"], lay["epoch_of"], lay["commits"])
        p["pipeline.generator_late_s_max"] = max(lay["generator_late"], default=0.0)
    return p


def add_event_log(p: dict, log: dict, res, t0: float) -> None:
    """Stage figures of the timed window's pipeline jobs (subscriber reads,
    tagged by job description, are left out)."""
    from perfbench.harness import stage_totals

    jobs = log["jobs"]
    t0_ms, t1_ms = t0 * 1000, res.t_end * 1000
    timed = {k: j for k, j in jobs.items() if t0_ms <= j["submit_ms"] <= t1_ms}
    sub_log = {"jobs": timed, "stages": log["stages"]}

    def is_read(props):
        return props.get("spark.job.description") == workloads.READ_TAG

    pipe = stage_totals(sub_log, lambda pr: not is_read(pr))
    epochs = max(p["pipeline.epochs"], 1)
    p["pipeline.jobs_per_epoch"] = pipe["jobs"] / epochs
    p["session.gc_s"] = pipe.get("internal.metrics.jvmGCTime", 0.0) / 1000
    p["sink.bytes_written"] = pipe.get("internal.metrics.output.bytesWritten", 0.0)
    p["sink.shuffle_write_bytes"] = pipe.get("internal.metrics.shuffle.write.bytesWritten", 0.0)
    p["sink.spill_bytes"] = (pipe.get("internal.metrics.diskBytesSpilled", 0.0)
                             + pipe.get("internal.metrics.memoryBytesSpilled", 0.0))
    cep_q = res.layer.get("cep_query")
    if cep_q:
        cep = stage_totals(sub_log, lambda pr: pr.get("sql.streaming.queryId") == cep_q)
        p["stateful.task_s"] = cep.get("internal.metrics.executorRunTime", 0.0) / 1000
        p["stateful.python_bytes_out"] = cep.get("data sent to Python workers", 0.0)
        p["stateful.python_bytes_in"] = cep.get("data returned from Python workers", 0.0)
