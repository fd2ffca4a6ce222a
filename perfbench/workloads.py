"""The workloads. Each drives the program only through its public
functions and reads back only what a user of it would read.

Both are open loops: a generator thread moves pre-staged feed files into
the tailed dirs at fixed due times, set by a frozen rate (``RATES``). On
``cdc_live`` a reader thread reads already-due keys meanwhile, with a
short pause between reads.
A workload is a pair of functions: ``prepare`` is the set-up's warm-up
(timed into ``setup_s``), ``measure`` the timed window.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen, harness, stats

CHANGE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
PAIR_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "turn_ts",
             "call_id", "status", "call_ts"]
DEDUP_COLS = ["doc_a", "doc_b", "jaccard"]
DOC_COLS = ["doc_id", "text", "seq"]

# Reads a run must carry: a p50 needs 20 (ten beyond it).
MIN_READS = stats.min_samples(0.5)

KEYS_PER_READ, READ_PAUSE_S, READ_RETRIES = 1, 0.1, 3
READ_TAG = "perfbench-read"
LIVE_DRAIN_S = 60.0
# Trigger interval of the timed queries, in seconds. With a short trigger
# an epoch takes whatever arrived while the one before it ran, so which
# files share an epoch, and the lags, depend on where the first epoch
# happened to end: over ten seeds the lag median of cdc_live spread by
# 0.19 with a 200 ms trigger, and index_dedup's runs (10-20 s epochs)
# split into two groups 30 % apart. Each run's window starts 0.5 s after a
# trigger time, so a window of up to TRIGGER_S - 1 seconds lands whole in
# one epoch per query, due at a fixed trigger.
TRIGGER_S = 7.0
TIMED_TRIGGER = {"processingTime": f"{TRIGGER_S:g} seconds"}
WARM_TRIGGER = {"processingTime": "200 milliseconds"}

# Frozen open-loop rates, events/s per tailed feed ("turns" paces the
# turn and the tool-call feed together). "full" is half of the capacity
# measured on the seed commit with perfbench/capacity.py (4 cores; see
# perfbench/results/README.md). "tiny" only keeps the smoke runs short.
RATES = {
    "cdc_live": {"full": {"feed": 1200.0, "turns": 240.0},
                 "tiny": {"feed": 1500.0, "turns": 200.0}},
    "index_dedup": {"full": {"feed": 60.0},
                    "tiny": {"feed": 150.0}},
}
# Multiplier on RATES; perfbench/capacity.py raises it to find capacity.
RATE_SCALE = 1.0

TURN_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])
TOOL_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("tool", T.StringType()),
    T.StructField("call_id", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


@dataclass
class Ctx:
    spark: object
    work: str          # per-run scratch dir
    inputs: str        # cached input dir
    man: dict          # input manifest
    size: str          # "full" or "tiny"
    seconds: float
    seed: int
    mem: harness.PeakMem
    listener: harness.ProgressListener
    warm_inputs: str | None = None   # cdc_live's warm-up feed
    warm_man: dict | None = None


@dataclass
class Result:
    events: int = 0            # listener input rows of the timed queries
    expected_events: int = 0   # rows the placed files hold
    epochs: list = field(default_factory=list)    # listener records
    lags: list = field(default_factory=list)      # per feed file
    lag_due: list = field(default_factory=list)   # its due offset, same order
    reads: list = field(default_factory=list)     # per read
    read_rows: int = 0
    read_retries: int = 0
    read_failed: int = 0
    files_failed: int = 0
    checks: list = field(default_factory=list)    # (name, ok, detail)
    t_start: float = 0.0
    t_end: float = 0.0
    layer: dict = field(default_factory=dict)     # workload-specific facts


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _feed_names(d: str) -> list[str]:
    return sorted(os.path.basename(p) for p in glob.glob(os.path.join(d, "*.parquet")))


def _link(src: str, dst: str, names) -> None:
    os.makedirs(dst, exist_ok=True)
    for n in names:
        os.link(os.path.join(src, n), os.path.join(dst, n))


def _pick(rng, keys, k: int) -> list:
    return [x.item() if hasattr(x, "item") else x
            for x in rng.choice(keys, size=min(k, len(keys)), replace=False)]


def _check(res: Result, name: str, got: pd.DataFrame, want: pd.DataFrame,
           cols: list[str]) -> None:
    fg, fw = stats.fingerprint(got, cols), stats.fingerprint(want, cols)
    detail = {"got": fg, "want": fw}
    if fg != fw:
        detail.update(stats.diff_rows(got, want, cols))
    res.checks.append((name, fg == fw, detail))


def _timed_read(spark, res: Result, read, keys) -> None:
    """One subscriber read, timed from its call until its rows are
    collected. A failed read (a read racing a swap can see a torn view) is
    retried READ_RETRIES times, then counted as failed."""
    sc = spark.sparkContext
    sc.setJobDescription(READ_TAG)
    t0 = time.time()
    try:
        for attempt in range(READ_RETRIES + 1):
            try:
                rows = read(keys)
            except Exception:  # noqa: BLE001 - every failure is retried, then counted
                if attempt == READ_RETRIES:
                    res.read_failed += 1
                    return
                res.read_retries += 1
                continue
            res.read_rows += len(rows)
            res.reads.append(time.time() - t0)
            return
    finally:
        sc.setJobDescription(None)


class Reader:
    """One subscriber thread beside the live pipelines: once ``ready()``,
    read KEYS_PER_READ keys due ``keys_due(seconds since the first due
    time)`` with ``read``, pause READ_PAUSE_S, repeat. Once asked to stop,
    it still reads until it has MIN_READS reads (one when warm), so the
    median always has its sample."""

    def __init__(self, ctx: Ctx, res: Result, keys_due, ready, read,
                 warm: bool) -> None:
        self.ctx, self.res, self.warm = ctx, res, warm
        self.keys_due, self.ready, self.read = keys_due, ready, read
        self.t0 = 0.0
        self._stop = threading.Event()
        self._errors: list[BaseException] = []
        self._thread = threading.Thread(target=self._run, name="perfbench-read")

    def start(self, t0: float) -> None:
        self.t0 = t0
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=120)
        if self._thread.is_alive():
            raise RuntimeError("reader thread did not stop")
        if self._errors:
            raise self._errors[0]

    def _done(self) -> bool:
        need = 1 if self.warm else MIN_READS
        return self._stop.is_set() and len(self.res.reads) + self.res.read_failed >= need

    def _run(self) -> None:
        rng = np.random.default_rng(self.ctx.seed + 7)
        try:
            while not self._done():
                keys = self.keys_due(time.time() - self.t0)
                if self.ready() and len(keys):
                    _timed_read(self.ctx.spark, self.res, self.read,
                                _pick(rng, keys, KEYS_PER_READ))
                self._stop.wait(READ_PAUSE_S)
        except BaseException as e:  # noqa: BLE001 - re-raised by stop()
            self._errors.append(e)


# -- the open loop -------------------------------------------------------------

@dataclass
class Tail:
    """One tailed feed: the pre-staged files it places, their due offsets
    from the loop's start, the dir its query tails, and where that query
    logs which file went into which epoch and when each epoch committed."""
    kind: str
    src: str
    dst: str
    names: list
    due_off: np.ndarray
    ckpt: str = ""
    source: int = 0
    markers: list = field(default_factory=list)


def schedule(kind: str, src: str, dst: str, names: list, by_file: list,
             rate: float | None, seconds: float) -> Tail:
    """Files due once the events before them have arrived at ``rate``
    events/s; the run places those due within ``seconds``. Without a rate
    (a warm-up) every file is due at once."""
    if rate is None:
        return Tail(kind, src, dst, list(names), np.zeros(len(names)))
    due_off = np.concatenate([[0.0], np.cumsum(by_file)[:-1]]) / rate
    n = max(1, min(int(np.searchsorted(due_off, seconds)), len(names)))
    return Tail(kind, src, dst, list(names[:n]), due_off[:n])


def rate(ctx: Ctx, kind: str) -> float:
    return RATES[ctx.man["workload"]][ctx.size][kind] * RATE_SCALE



def _file_lags(tail: Tail, commits: dict, due: dict) -> tuple[list, list, int]:
    """Per placed file: latest commit marker of its epoch minus its due
    time. Returns (lags, due offsets, files never committed)."""
    files = harness.batch_files(tail.ckpt, tail.source)
    lags, offs, missing = [], [], 0
    for name, off in zip(tail.names, tail.due_off):
        b = files.get(name)
        if b is None or b not in commits:
            missing += 1
        else:
            lags.append(commits[b] - due[name])
            offs.append(float(off))
    return lags, offs, missing


def drive(ctx: Ctx, res: Result, tails: list[Tail], queries: list,
          reader: Reader | None, align: float | None = None) -> None:
    """Place every tail's files at their due times from one generator
    thread while ``reader`` (if any) reads, until every placed file is
    committed (or the drain deadline passes); then stop the reader and the
    queries and record per-file lags, failures and the generator's
    lateness.
    With ``align`` (a processing-time trigger interval in seconds) the
    first file is due 0.5 s after a trigger time: Spark fires such
    triggers at wall-clock multiples of the interval."""
    stage = os.path.join(ctx.work, "stage")
    for tail in tails:
        _link(tail.src, os.path.join(stage, tail.kind), tail.names)
    t0 = time.time() + 0.5
    if align:
        t0 = math.ceil(t0 / align) * align + 0.5
    due = {t.kind: {n: t0 + d for n, d in zip(t.names, t.due_off)} for t in tails}
    dst = {t.kind: t.dst for t in tails}
    order = sorted((t, kind, n) for kind, d in due.items() for n, t in d.items())
    placed: dict[tuple, float] = {}
    gen_errors: list[BaseException] = []

    def generate() -> None:
        try:
            for t_due, kind, n in order:
                wait = t_due - time.time()
                if wait > 0:
                    time.sleep(wait)
                p, now = os.path.join(stage, kind, n), time.time()
                os.utime(p, (now, now))
                os.replace(p, os.path.join(dst[kind], n))
                placed[(kind, n)] = time.time()
        except BaseException as e:  # noqa: BLE001 - re-raised on the main thread
            gen_errors.append(e)

    def all_committed() -> bool:
        for t in tails:
            files, commits = harness.batch_files(t.ckpt, t.source), harness.commit_times(t.markers)
            if not all(files.get(n) in commits for n in t.names):
                return False
        return True

    generator = threading.Thread(target=generate, name="perfbench-gen")
    res.t_start = t0
    generator.start()
    if reader:
        reader.start(t0)
    deadline = order[-1][0] + LIVE_DRAIN_S
    try:
        while time.time() < deadline and not gen_errors:
            ctx.mem.sample()
            for q in queries:
                if q.exception() is not None:
                    raise RuntimeError(f"live query failed: {q.exception()}")
            if not generator.is_alive() and all_committed():
                break
            time.sleep(0.1)
    finally:
        generator.join(timeout=LIVE_DRAIN_S)
        res.t_end = time.time()
        try:
            if reader:
                reader.stop()
        finally:
            for q in queries:
                _stop_when_idle(q)
    if gen_errors:
        raise gen_errors[0]
    for t in tails:
        commits = harness.commit_times(t.markers)
        lags, offs, missing = _file_lags(t, commits, due[t.kind])
        res.lags.extend(lags)
        res.lag_due.extend(offs)
        res.files_failed += missing
    first = tails[0]
    files = harness.batch_files(first.ckpt, first.source)
    res.layer.update(
        due=due[first.kind], commits=harness.commit_times(first.markers),
        epoch_of={n: files.get(n) for n in first.names},
        generator_late=[t - due[kind][n] for (kind, n), t in placed.items()],
    )


def _stop_when_idle(q, wait_s: float = 10.0) -> None:
    """Stop a query between triggers: the stateful query runs no-data
    batches to fire timeouts after its last input, and stopping one
    mid-batch aborts its write with a burst of errors."""
    t_end = time.time() + wait_s
    while q.isActive and q.status["isTriggerActive"] and time.time() < t_end:
        time.sleep(0.05)
    q.stop()


def _timed_epochs(ctx: Ctx, res: Result, queries: list) -> None:
    res.epochs = [e for q in queries for e in ctx.listener.epochs(str(q.runId))]
    res.events = sum(e["rows"] for e in res.epochs)


# -- index_dedup ---------------------------------------------------------------

def _dedup_stream(ctx: Ctx, st: dict, trigger: dict | None):
    from aktuell_spark.streaming.dedup_index import run_dedup_index_stream

    return run_dedup_index_stream(
        ctx.spark, st["feed"], st["idx"], st["ckpt"], threshold=gen.DEDUP_THRESHOLD,
        n_buckets=8, await_termination=False, trigger=trigger,
    )


def dedup_prepare(ctx: Ctx) -> dict:
    """Set-up: build the standing index from the base corpus in one
    availableNow epoch, on the index's empty-standing path. The timed
    window continues this index and checkpoint. Warming the standing path
    too would take one more epoch of 5-20 s per set-up, which the time
    budget cannot hold (see perfbench/README.md)."""
    root = _fresh(os.path.join(ctx.work, "index"))
    st = {"feed": os.path.join(root, "feed"), "idx": os.path.join(root, "idx"),
          "ckpt": os.path.join(root, "ckpt")}
    base = os.path.join(ctx.inputs, "base")
    _link(base, st["feed"], _feed_names(base))
    q, _ = _dedup_stream(ctx, st, None)
    harness.wait_query(q, ctx.mem)
    return st


def dedup_measure(ctx: Ctx, st: dict) -> Result:
    """Generations of documents with changed-text and stale redeliveries
    arrive at a frozen rate into the standing index's feed;
    ``run_dedup_index_stream`` (TRIGGER_S) merges them. No reader
    runs beside it: on 4 cores its reads made the one timed epoch's
    length swing further between runs."""
    res = Result()
    src = os.path.join(ctx.inputs, "feed")
    by_file = ctx.man["events_by_file"]
    tail = schedule("feed", src, st["feed"], _feed_names(src), by_file,
                    rate(ctx, "feed"), ctx.seconds)
    q, index = _dedup_stream(ctx, st, TIMED_TRIGGER)
    tables = [index.bands, index.docs, index.pairs]
    tail.ckpt, tail.markers = st["ckpt"], [t.commits_dir for t in tables]

    n_done = len(tail.names)
    base = pd.read_parquet(os.path.join(ctx.inputs, "base"))
    feed = pd.concat([base] + [pd.read_parquet(os.path.join(src, n)) for n in tail.names],
                     ignore_index=True)
    drive(ctx, res, [tail], [q], None, align=TRIGGER_S)
    _timed_epochs(ctx, res, [q])
    res.expected_events = int(sum(by_file[:len(tail.names)]))
    res.layer.update(tables=tables, table_epochs={e["batch_id"] for e in res.epochs})

    got = index.found_pairs().toPandas()
    res.layer["pairs"] = len(got)
    _check(res, "pairs", got, _dedup_expected(ctx, feed, n_done), DEDUP_COLS)
    got_docs = index.docs.read().select("doc_id", "text", F.col("doc_seq").alias("seq"))
    _check(res, "docs", got_docs.toPandas(), gen.dedup_latest(feed), DOC_COLS)
    return res


def _dedup_expected(ctx: Ctx, feed: pd.DataFrame, n_done: int) -> pd.DataFrame:
    """Pairs over the corpus after the base and the first ``n_done``
    update files; cached in the input dir per prefix length."""
    path = os.path.join(ctx.inputs, f"expected-pairs-n{n_done}.parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    want = gen.dedup_expected(feed)
    want.to_parquet(path, index=False)
    return want


# -- cdc_live ------------------------------------------------------------------

def _live(ctx: Ctx, inputs: str, man: dict, warm: bool) -> Result:
    """Two tails of one live engine in one session: the change feed fans
    out to three subscription tables, and turn / tool-call feeds go through
    the stateful CEP join into a parquet sink."""
    from aktuell_spark.streaming.fanout import Subscription, run_fanout_pipeline
    from aktuell_spark.streaming.stateful import join_turns_tools_stateful

    res = Result()
    spark = ctx.spark
    root = _fresh(os.path.join(ctx.work, "live"))

    def tail(kind: str, by_file: list, pace: str) -> Tail:
        src = os.path.join(inputs, kind)
        return schedule(kind, src, os.path.join(root, kind), _feed_names(src), by_file,
                        None if warm else rate(ctx, pace), ctx.seconds)

    fan = tail("feed", man["events_by_file"], "feed")
    turns = tail("turns", man["cep_events_by_file"], "turns")
    # tool-call file i covers the same time slice as turn file i
    tools = Tail("tools", os.path.join(inputs, "tools"), os.path.join(root, "tools"),
                 list(turns.names), turns.due_off)
    for t in (fan, turns, tools):
        os.makedirs(t.dst)
    convs = [pd.read_parquet(os.path.join(fan.src, n), columns=["conv_id"])
             ["conv_id"].unique() for n in fan.names]

    subs = [
        Subscription(name, database="aktuell", collection=coll,
                     predicate=None if pred is None else f"role = '{pred}'")
        for name, (coll, pred) in gen.LIVE_SUBS.items()
    ]
    trigger = WARM_TRIGGER if warm else TIMED_TRIGGER
    fan.ckpt = os.path.join(root, "fan-ckpt")
    fan_q, sink = run_fanout_pipeline(
        spark, fan.dst, os.path.join(root, "subs"), fan.ckpt, subs,
        n_buckets=16, merge_on_read=True, await_termination=False, trigger=trigger,
    )
    fan.markers = [t.commits_dir for t in sink.tables.values()]
    cep_out, cep_ckpt = os.path.join(root, "cep-out"), os.path.join(root, "cep-ckpt")
    cep_q = (
        join_turns_tools_stateful(
            spark.readStream.schema(TURN_SCHEMA).parquet(turns.dst),
            spark.readStream.schema(TOOL_SCHEMA).parquet(tools.dst))
        .writeStream.format("parquet").outputMode("append")
        .option("path", cep_out).option("checkpointLocation", cep_ckpt)
        .trigger(**trigger).start()
    )
    for i, t in enumerate((turns, tools)):
        t.ckpt, t.source, t.markers = cep_ckpt, i, [os.path.join(cep_out, "_spark_metadata")]

    def keys_due(elapsed: float):
        k = int(np.searchsorted(fan.due_off, elapsed, side="right"))
        return np.unique(np.concatenate(convs[:k])) if k else []

    table = sink.tables["all"]
    reader = Reader(ctx, res, keys_due, lambda: bool(os.listdir(table.commits_dir)),
                    lambda ks: table.lookup_many(ks).collect(), warm)
    drive(ctx, res, [fan, turns, tools], [fan_q, cep_q], reader,
          align=None if warm else TRIGGER_S)
    _timed_epochs(ctx, res, [fan_q, cep_q])
    res.expected_events = int(sum(man["events_by_file"][:len(fan.names)])
                              + sum(man["cep_events_by_file"][:len(turns.names)]))
    res.layer.update(
        tables=list(sink.tables.values()),
        table_epochs={e["batch_id"] for e in ctx.listener.epochs(str(fan_q.runId))},
        cep_query=str(cep_q.id),
    )
    if warm:
        return res
    want = _live_expected(ctx, len(fan.names), len(turns.names))
    for name in gen.LIVE_SUBS:
        _check(res, name, sink.read(name).toPandas(), want[name], CHANGE_COLS)
    got = spark.read.parquet(cep_out).toPandas()
    res.layer["cep_rows_out"] = len(got)
    got = got[got["turn_ts"].notna() & got["call_id"].notna()]
    _check(res, "cep_pairs", got, want["cep_pairs"], PAIR_COLS)
    return res


def live_prepare(ctx: Ctx) -> None:
    """Set-up: one epoch of both live pipelines on the small warm-up feed,
    every file due at once, one read, no output check."""
    _live(ctx, ctx.warm_inputs, ctx.warm_man, warm=True)


def live_measure(ctx: Ctx, _state) -> Result:
    return _live(ctx, ctx.inputs, ctx.man, warm=False)


def _live_expected(ctx: Ctx, n_fan: int, n_cep: int) -> dict:
    """Subscription views over the placed prefix of the change feed, and
    the CEP pairs over the placed prefix of the turn and tool feeds;
    cached in the input dir per prefix length."""
    out = {}
    paths = {name: os.path.join(ctx.inputs, f"expected-{name}-n{n_fan}.parquet")
             for name in gen.LIVE_SUBS}
    paths["cep_pairs"] = os.path.join(ctx.inputs, f"expected-cep_pairs-n{n_cep}.parquet")
    if all(os.path.exists(p) for p in paths.values()):
        return {k: pd.read_parquet(p) for k, p in paths.items()}

    def prefix(kind: str, n: int) -> pd.DataFrame:
        d = os.path.join(ctx.inputs, kind)
        return pd.concat([pd.read_parquet(os.path.join(d, f)) for f in _feed_names(d)[:n]],
                         ignore_index=True)

    ev = prefix("feed", n_fan)
    for name in gen.LIVE_SUBS:
        out[name] = gen.live_view(ev, name)
    out["cep_pairs"] = gen.cep_expected(prefix("turns", n_cep), prefix("tools", n_cep))
    for k, p in paths.items():
        out[k].to_parquet(p, index=False)
    return out


# name -> (prepare, measure)
WORKLOADS = {
    "cdc_live": (live_prepare, live_measure),
    "index_dedup": (dedup_prepare, dedup_measure),
}
