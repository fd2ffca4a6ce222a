"""Seeded input generator and expected outputs for the benchmark.

Everything here is numpy / pyarrow / pandas / DuckDB. It imports nothing
from ``aktuell_spark`` (not even its fixtures), so a change to the program
cannot change what a workload feeds it or what its output must equal.

Inputs and expected outputs are written once per (workload, seed, size)
into a cache directory and reused by later runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Epoch-seconds origin of all generated event times (2026-01-01 UTC).
T0_S = 1_767_225_600

CHANGE_ARROW = pa.schema([
    ("seq", pa.int64()),
    ("op", pa.string()),
    ("database", pa.string()),
    ("collection", pa.string()),
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("updated_fields", pa.map_(pa.string(), pa.string())),
    ("removed_fields", pa.list_(pa.string())),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("extra", pa.map_(pa.string(), pa.string())),
])

TURN_ARROW = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

TOOL_ARROW = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("tool", pa.string()),
    ("call_id", pa.string()),
    ("status", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

DOC_ARROW = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("seq", pa.int64()),
])

ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "python", "browser", "shell"])

# Shapes per workload and size. "full" is what the benchmark times;
# "tiny" is the smoke size the benchmark's tests run. The rates at which
# the open loops place these files are not input properties: they live in
# ``workloads.RATES``.
SIZES = {
    "cdc_live": {
        "full": dict(n_convs=2400, avg_turns=8, hot_turns=300, n_files=1200,
                     cep=dict(n_convs=500, avg_turns=10, hot_turns=200, n_files=200)),
        "tiny": dict(n_convs=300, avg_turns=6, hot_turns=30, n_files=120,
                     cep=dict(n_convs=100, avg_turns=5, hot_turns=20, n_files=40)),
    },
    "index_dedup": {
        "full": dict(n_base=300, n_base_files=4, n_new=1200, dup_frac=0.15,
                     changed_frac=0.25, stale_frac=0.1, n_files=600),
        "tiny": dict(n_base=60, n_base_files=2, n_new=200, dup_frac=0.2,
                     changed_frac=0.25, stale_frac=0.1, n_files=160),
    },
}

# cdc_live's warm-up feeds: the same shape as the workload, one epoch's
# worth. index_dedup warms up on its own inputs (see workloads.py).
WARMUP = {
    "cdc_live": dict(n_convs=20, avg_turns=4, hot_turns=10, n_files=2,
                     cep=dict(n_convs=10, avg_turns=4, hot_turns=8, n_files=1)),
}

GEN_VERSION = 3


def _vocab(rng: np.random.Generator, n: int = 3000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size=n)
    words = {"".join(rng.choice(letters, size=k)) for k in lens}
    return np.array(sorted(words))


def _texts(rng, vocab, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi, size=n)
    idx = rng.integers(0, len(vocab), size=int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(vocab[idx[pos:pos + k]]))
        pos += k
    return out


def _ts(seconds: np.ndarray) -> pd.Series:
    us = (T0_S * 1_000_000 + np.round(seconds * 1_000_000)).astype("int64")
    return pd.to_datetime(us, unit="us", utc=True)


def _keys(rng, n_convs: int, avg_turns: int, hot_turns: int):
    """Conversation keys; the first three conversations are hot. Returns
    (conv, turn_idx, hot mask over conversations)."""
    turns = 1 + rng.poisson(max(avg_turns - 1, 0), size=n_convs)
    hot = np.arange(n_convs) < min(3, n_convs)
    turns[hot] = hot_turns
    conv = np.repeat(np.arange(n_convs), turns)
    turn_idx = np.concatenate([np.arange(k) for k in turns]).astype("int32")
    return conv, turn_idx, hot


def cdc_events(seed: int, n_convs: int, avg_turns: int, hot_turns: int,
               n_files: int, collections: tuple[str, ...] = ("transcripts",),
               **_ignored) -> pd.DataFrame:
    """Full-image CDC feed: inserts, two update waves, deletes, ~5 %
    verbatim redeliveries and ~2 % late events, cut into ``n_files``
    arrival-ordered files (column ``file``)."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    conv, turn_idx, hot = _keys(rng, n_convs, avg_turns, hot_turns)
    n = len(conv)
    horizon = 3600.0
    # hot conversations run from the start, so every prefix of the feed
    # (what a time-boxed live run places) carries them
    start = np.where(hot, 0.0, rng.uniform(0, horizon, size=n_convs))
    t_ins = start[conv] + turn_idx * 5.0
    role = ROLES[rng.integers(0, 3, size=n)]
    tool = np.where(rng.random(n) < 0.3, TOOLS[rng.integers(0, 4, size=n)], None)
    coll_of_conv = np.array(collections)[rng.integers(0, len(collections), size=n_convs)]
    coll = coll_of_conv[conv]

    parts = [pd.DataFrame({"k": np.arange(n), "t": t_ins, "op": "insert"})]
    last = t_ins.copy()
    for frac in (0.30, 0.15):
        sel = np.flatnonzero(rng.random(n) < frac)
        t = last[sel] + rng.uniform(1.0, horizon / 4, size=len(sel))
        last[sel] = t
        parts.append(pd.DataFrame({"k": sel, "t": t, "op": "update"}))
    sel = np.flatnonzero(rng.random(n) < 0.05)
    t = last[sel] + rng.uniform(1.0, horizon / 8, size=len(sel))
    parts.append(pd.DataFrame({"k": sel, "t": t, "op": "delete"}))
    ev = pd.concat(parts, ignore_index=True).sort_values(["t", "k"], kind="stable")
    ev["seq"] = np.arange(1, len(ev) + 1, dtype="int64")
    k = ev["k"].to_numpy()
    is_del = (ev["op"] == "delete").to_numpy()
    texts = np.array(_texts(rng, vocab, len(ev), 8, 24), dtype=object)
    ev = pd.DataFrame({
        "seq": ev["seq"].to_numpy(),
        "op": ev["op"].to_numpy(),
        "database": "aktuell",
        "collection": coll[k],
        "conv_id": np.char.add("c", np.char.zfill(conv[k].astype(str), 6)).astype(object),
        "turn_idx": turn_idx[k],
        "role": np.where(is_del, None, role[k]),
        "text": np.where(is_del, None, texts),
        "tool": np.where(is_del, None, tool[k]),
        "ts": _ts(ev["t"].to_numpy()),
    })
    # arrival order is seq order, cut into equal files
    ev["file"] = (np.arange(len(ev)) * n_files // len(ev)).astype("int64")
    m = len(ev)
    late = rng.random(m) < 0.02
    ev.loc[late, "file"] = np.minimum(
        ev.loc[late, "file"] + rng.integers(1, 4, size=int(late.sum())), n_files - 1
    )
    dup_idx = np.flatnonzero(rng.random(m) < 0.05)
    dups = ev.iloc[dup_idx].copy()
    dups["file"] = np.minimum(
        dups["file"] + rng.integers(0, 3, size=len(dups)), n_files - 1
    )
    ev = pd.concat([ev, dups], ignore_index=True)
    return ev.sort_values(["file", "seq"], kind="stable").reset_index(drop=True)


def lww_image(events: pd.DataFrame, keep=None) -> pd.DataFrame:
    """Last-writer-wins final image: newest event per key by seq,
    deleted keys dropped. ``keep`` is an optional event mask applied
    first (a subscription's filter)."""
    ev = events if keep is None else events[keep]
    newest = ev.sort_values("seq", kind="stable").drop_duplicates(
        ["conv_id", "turn_idx"], keep="last"
    )
    return newest[newest["op"] != "delete"][
        ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ]


def cep_feeds(seed: int, n_convs: int, avg_turns: int, hot_turns: int,
              n_files: int, **_ignored):
    """Turn and tool-call feeds in event-time order. A third of turns
    call a tool; each call lands 1-30 s after its turn, and ~3 % of
    calls never arrive (unmatched turns)."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    conv, turn_idx, hot = _keys(rng, n_convs, avg_turns, hot_turns)
    n = len(conv)
    start = np.where(hot, 0.0, rng.uniform(0, 1800.0, size=n_convs))
    t_turn = start[conv] + turn_idx * 20.0 + rng.uniform(0, 5, size=n)
    conv_id = np.char.add("c", np.char.zfill(conv.astype(str), 6)).astype(object)
    turns = pd.DataFrame({
        "conv_id": conv_id,
        "turn_idx": turn_idx,
        "role": ROLES[rng.integers(0, 4, size=n)],
        "text": _texts(rng, vocab, n, 6, 20),
        "tool": TOOLS[rng.integers(0, 4, size=n)],
        "t": t_turn,
    })
    called = np.flatnonzero(rng.random(n) < 0.34)
    arrive = called[rng.random(len(called)) >= 0.03]
    tools = pd.DataFrame({
        "conv_id": conv_id[arrive],
        "turn_idx": turn_idx[arrive],
        "tool": turns["tool"].to_numpy()[arrive],
        "call_id": [f"call-{seed}-{i}" for i in arrive],
        "status": np.where(rng.random(len(arrive)) < 0.9, "ok", "error"),
        "t": t_turn[arrive] + rng.uniform(1.0, 30.0, size=len(arrive)),
    })
    # both feeds are cut on one arrival order (event time over the union),
    # into equal-count slices, so file i of each feed covers the same
    # time slice and a trigger reads matching slices of both
    both = np.concatenate([turns["t"].to_numpy(), tools["t"].to_numpy()])
    rank = np.empty(len(both), dtype="int64")
    rank[np.argsort(both, kind="stable")] = np.arange(len(both))
    slice_of = rank * n_files // len(both)
    out = []
    for df, sl in ((turns, slice_of[:n]), (tools, slice_of[n:])):
        df = df.assign(file=sl, ts=_ts(df["t"].to_numpy()))
        out.append(df.sort_values("t", kind="stable").drop(columns="t")
                   .reset_index(drop=True))
    return out[0], out[1]


def cep_expected(turns: pd.DataFrame, tools: pd.DataFrame) -> pd.DataFrame:
    """Matched pairs by a plain inner join on (conv_id, turn_idx)."""
    t = turns.rename(columns={"ts": "turn_ts"})[
        ["conv_id", "turn_idx", "role", "text", "tool", "turn_ts"]]
    c = tools.rename(columns={"ts": "call_ts"})[
        ["conv_id", "turn_idx", "call_id", "status", "call_ts"]]
    return t.merge(c, on=["conv_id", "turn_idx"], how="inner")


def dedup_feed(seed: int, n_base: int, n_base_files: int, n_new: int,
               dup_frac: float, changed_frac: float, stale_frac: float,
               n_files: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Document generations for the dedup index, as (base, updates).

    ``base`` is the standing corpus (``n_base`` documents in
    ``n_base_files`` files). ``updates`` is the stream that follows it, cut
    into ``n_files`` files in arrival order. It mixes ``n_new`` new
    documents, ``changed_frac`` of that many changed-text redeliveries of
    documents that arrived earlier (new ``seq``), and ``stale_frac`` of it
    verbatim redeliveries of earlier versions (their old ``seq``, which
    the index's stale gate must drop). A ``dup_frac`` share of new
    documents, and half of the changed texts, are near-copies (a few
    words edited) of a document that arrived earlier."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 20000)
    n_docs = n_base + n_new
    ids = rng.permutation(n_docs).astype("int64")
    fresh = _texts(rng, vocab, n_docs, 40, 80)

    def near_copy(src: str) -> str:
        w = src.split(" ")
        for j in rng.choice(len(w), size=min(3, len(w)), replace=False):
            w[j] = vocab[rng.integers(0, len(vocab))]
        return " ".join(w)

    n_changed, n_stale = int(n_new * changed_frac), int(n_new * stale_frac)
    # the update stream: 0 = new document, 1 = changed text, 2 = stale copy
    kinds = np.concatenate([np.zeros(n_new, "int8"), np.ones(n_changed, "int8"),
                            np.full(n_stale, 2, "int8")])
    kinds = np.concatenate([np.zeros(n_base, "int8"), rng.permutation(kinds)])
    latest: dict[int, str] = {}
    events: list[tuple[int, str, int]] = []   # (doc_id, text, seq)
    seq, arrived = 0, 0
    for kind in kinds:
        if kind == 0:
            d = int(ids[arrived])
            if arrived and rng.random() < dup_frac:
                text = near_copy(latest[int(ids[rng.integers(0, arrived)])])
            else:
                text = fresh[arrived]
            arrived += 1
        elif kind == 1:
            d = int(ids[rng.integers(0, arrived)])
            if rng.random() < 0.5:
                text = near_copy(latest[int(ids[rng.integers(0, arrived)])])
            else:
                text = _texts(rng, vocab, 1, 40, 80)[0]
        else:
            events.append(events[int(rng.integers(0, len(events)))])
            continue
        seq += 1
        latest[d] = text
        events.append((d, text, seq))
    ev = pd.DataFrame(events, columns=["doc_id", "text", "seq"])
    base, upd = ev.iloc[:n_base].copy(), ev.iloc[n_base:].reset_index(drop=True)
    base["file"] = (np.arange(n_base) * n_base_files // n_base).astype("int64")
    upd["file"] = (np.arange(len(upd)) * n_files // len(upd)).astype("int64")
    return base.reset_index(drop=True), upd


# MinHash constants of the engine's LSH (16 permutations, 4 bands of 4
# rows, md5-prefix shingle hashes): the output contract the oracle pins.
_PRIME = 4_294_967_311
_NUM_PERM, _NUM_BANDS = 16, 4
_PERM_A = [2 * i * i + 3 * i + 1 for i in range(1, _NUM_PERM + 1)]
_PERM_B = [7919 * i + 104729 for i in range(_NUM_PERM)]


def minhash_pairs_sql(threshold: float) -> str:
    """The repo's DuckDB MinHash-LSH oracle: LSH candidates over word
    3-shingles, verified by exact Jaccard."""
    perms = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(zip(_PERM_A, _PERM_B))
    )
    rpb = _NUM_PERM // _NUM_BANDS
    shingles = """
  SELECT doc_id, unnest(list_distinct(
           [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]
         )) AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents)"""
    # the signature is the oracle's list_min over permuted hashes, computed
    # as a join + group-by (the per-element list-literal form is ~100x slower)
    return f"""
WITH sh AS ({shingles}),
hx AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS x FROM sh
),
perm(i, a, b) AS (VALUES {perms}),
mins AS (
  SELECT doc_id, i, min((a * x + b) % {_PRIME}) AS m
  FROM hx, perm GROUP BY doc_id, i
),
sig AS (SELECT doc_id, list(m ORDER BY i) AS s FROM mins GROUP BY doc_id),
bands AS (
  SELECT doc_id, band_idx,
         array_to_string(s[band_idx * {rpb} + 1 : band_idx * {rpb} + {rpb}], ',')
           AS band_key
  FROM sig, (SELECT unnest(range({_NUM_BANDS})) AS band_idx)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM cand c
JOIN common ON common.doc_a = c.doc_a AND common.doc_b = c.doc_b
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= {threshold}
"""


DEDUP_THRESHOLD = 0.2


def dedup_latest(feed: pd.DataFrame) -> pd.DataFrame:
    """The corpus after ``feed``: the newest version of each document."""
    return feed.sort_values("seq", kind="stable").drop_duplicates("doc_id", keep="last")


def dedup_expected(feed: pd.DataFrame) -> pd.DataFrame:
    import duckdb

    final = dedup_latest(feed)
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.register("documents", final[["doc_id", "text"]])
        return con.execute(minhash_pairs_sql(DEDUP_THRESHOLD)).df()
    finally:
        con.close()


# -- writing ---------------------------------------------------------------

def _write_files(df: pd.DataFrame, schema: pa.Schema, out_dir: str,
                 n_files: int, prefix: str = "part") -> None:
    """One parquet file per slice 0..n_files-1 of column ``file``; a slice
    with no rows still gets its (empty) file, so slice i of parallel
    feeds is always file i of each. The frame is converted to Arrow once
    and cut by zero-copy slices."""
    os.makedirs(out_dir, exist_ok=True)
    df = df.sort_values("file", kind="stable")
    tbl = pa.Table.from_pandas(df[[f.name for f in schema]], schema=schema,
                               preserve_index=False)
    bounds = np.searchsorted(df["file"].to_numpy(), np.arange(n_files + 1))
    for i in range(n_files):
        pq.write_table(tbl.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out_dir, f"{prefix}-{i:05d}.parquet"))


def _with_nulls(ev: pd.DataFrame) -> pd.DataFrame:
    ev = ev.copy()
    for c in ("updated_fields", "removed_fields", "extra"):
        ev[c] = None
    return ev


def _n_by_file(df: pd.DataFrame, n_files: int) -> list[int]:
    counts = df.groupby("file").size()
    return [int(counts.get(i, 0)) for i in range(n_files)]


def build(workload: str, seed: int, params: dict, out: str) -> dict:
    """Write the inputs (and the expected outputs that do not depend on
    the run's length) of one workload into ``out``; return its manifest."""
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    man: dict = {"workload": workload, "seed": seed, "params": params,
                 "gen_version": GEN_VERSION}
    if workload == "cdc_live":
        ev = cdc_events(seed, collections=("transcripts", "annotations"), **params)
        _write_files(_with_nulls(ev), CHANGE_ARROW, os.path.join(tmp, "feed"),
                     params["n_files"])
        man["events"] = len(ev)
        man["events_by_file"] = _n_by_file(ev, params["n_files"])
        cep = params["cep"]
        turns, tools = cep_feeds(seed, **cep)
        _write_files(turns, TURN_ARROW, os.path.join(tmp, "turns"), cep["n_files"])
        _write_files(tools, TOOL_ARROW, os.path.join(tmp, "tools"), cep["n_files"])
        man["cep_events_by_file"] = [
            a + b for a, b in zip(_n_by_file(turns, cep["n_files"]),
                                  _n_by_file(tools, cep["n_files"]))]
    elif workload == "index_dedup":
        base, upd = dedup_feed(seed, **params)
        _write_files(base, DOC_ARROW, os.path.join(tmp, "base"), params["n_base_files"],
                     prefix="base")
        _write_files(upd, DOC_ARROW, os.path.join(tmp, "feed"), params["n_files"])
        man["events"] = len(base) + len(upd)
        man["base_events"] = len(base)
        man["events_by_file"] = _n_by_file(upd, params["n_files"])
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return man


# cdc_live subscriptions: name -> (collection or "" for wildcard,
# role predicate or None). Overlapping: all ⊃ transcripts ⊃ user_turns.
LIVE_SUBS = {
    "all": ("", None),
    "transcripts": ("transcripts", None),
    "user_turns": ("transcripts", "user"),
}


def live_view(events: pd.DataFrame, name: str) -> pd.DataFrame:
    """What subscription ``name`` must hold after ``events``: its
    namespace filter, its predicate (deletes bypass it), then LWW."""
    coll, role = LIVE_SUBS[name]
    keep = pd.Series(True, index=events.index)
    if coll:
        keep &= events["collection"] == coll
    if role is not None:
        keep &= (events["op"] == "delete") | (events["role"] == role)
    return lww_image(events, keep)


def cached(cache_root: str, workload: str, seed: int, size: str,
           params: dict | None = None) -> tuple[str, dict]:
    """Return (dir, manifest) of the inputs for (workload, seed, size),
    building them on first use."""
    params = params if params is not None else SIZES[workload][size]
    key = hashlib.md5(json.dumps([params, GEN_VERSION], sort_keys=True).encode()).hexdigest()[:10]
    out = os.path.join(cache_root, f"{workload}-{size}-s{seed}-{key}")
    man_path = os.path.join(out, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            return out, json.load(f)
    man = build(workload, seed, params, out)
    # flush the new files now, so their write-back does not run inside
    # the timed window
    os.sync()
    return out, man
