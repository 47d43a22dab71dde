"""Seeded input generators for the benchmark.

Everything here is numpy + pyarrow in the benchmark's own process; the
program under test only ever sees the files written here. The same seed and
size give byte-identical inputs.

`make_feed` builds a CDC change feed over conversation transcripts with the
properties the engine depends on: hot conversations with thousands of turns,
1-3 revisions on a share of keys (revisions of one key are adjacent, so they
share a batch and exercise in-batch last-writer-wins), deletes and
re-inserts, a v1 -> v2 schema-evolution point (the `tool` column), and
redelivery of ~1% of each batch's events in the next batch.

`make_tables` builds the two tables the registry-query subset reads
(documents, events) with the schemas of the repository's scale-factor test
tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "tool", "system"], dtype=object)
TOOLS = np.array(["bash", "search", ""], dtype=object)
TS0_US = int(datetime(2025, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)
# NFC-composed words only: the engine's codegen normalize path collapses
# whitespace but does not NFC-compose, by design.
WORDS = (
    "the a of to and in turn model user tool query plan merge window batch "
    "spark stream lake table bucket commit segment compact read write scan "
    "shuffle sort join key value row column event feed replay café naïve "
    "größe données 東京 データ ок привет"
).split()
# separators between words: mostly one space, plus the whitespace runs the
# normalize step has to collapse (double/triple spaces, tabs, newlines,
# carriage returns, and U+00A0)
SEPS = np.array([" "] * 24 + ["  ", "   ", "\t", "\n", " \n ", "\r\n", "\u00a0", " \u00a0 "], dtype=object)

OP_I, OP_U, OP_D = 0, 1, 2
OP_NAMES = np.array(["I", "U", "D"], dtype=object)


def normalize(s: str | None) -> str | None:
    """The benchmark's own whitespace canonicalization: every run of
    unicode whitespace becomes one space, then strip. Same result as
    `re.sub(r"\\s+", " ", s).strip()` (str.split and re's \\s agree on every
    code point), at a tenth of the cost."""
    return None if s is None else " ".join(s.split())


def _text_pool(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """`n` random bodies of roughly lo..hi UTF-8 bytes."""
    pool = []
    for _ in range(n):
        target = int(rng.integers(lo, hi))
        words = rng.choice(WORDS, size=target // 4 + 8)
        seps = rng.choice(SEPS, size=len(words))
        out, size = [], 0
        for w, s in zip(words, seps):
            out.append(w)
            out.append(s)
            size += len(w.encode()) + len(s.encode())
            if size >= target:
                break
        body = "".join(out)
        if rng.random() < 0.1:
            body = " \t" + body
        pool.append(body)
    return pool


@dataclass(frozen=True)
class FeedSize:
    """Shape of one feed. Batches are contiguous lsn ranges of about equal
    event count; `files_per_batch` files per batch directory."""

    n_convs: int
    n_hot: int
    hot_turns: tuple[int, int]
    n_batches: int
    files_per_batch: int


@dataclass
class Feed:
    events: pd.DataFrame  # one row per distinct lsn (redeliveries excluded)
    n_delivered: int  # events written, redeliveries included
    batch_events: list[int]  # delivered events per batch, replay order
    n_files: int
    evolution_lsn: int
    hot_convs: list[str]
    cold_convs: list[str]


def make_feed(seed: int, size: FeedSize, out_dir: str) -> Feed:
    """Write `<out_dir>/v1|v2/batch=bNNNNNNNNN/part-NNNNN.parquet` and
    return the events (for the expected state) and the feed's shape."""
    rng = np.random.default_rng(seed)
    turns = rng.integers(4, 17, size.n_convs)
    hot = rng.choice(size.n_convs, size=size.n_hot, replace=False)
    turns[hot] = rng.integers(size.hot_turns[0], size.hot_turns[1], size.n_hot)
    conv = np.repeat(np.arange(size.n_convs), turns)
    turn = np.concatenate([np.arange(t) for t in turns]).astype(np.int32)
    n_keys = len(conv)

    # phase 1: every key inserted once, in shuffled key order
    k1 = rng.permutation(n_keys)
    op1 = np.full(n_keys, OP_I)
    rev1 = np.zeros(n_keys, dtype=np.int64)
    # phase 2: ~20% of keys get 1-3 adjacent revisions
    upd = rng.permutation(np.flatnonzero(rng.random(n_keys) < 0.2))
    nrev = rng.integers(1, 4, len(upd))
    k2 = np.repeat(upd, nrev)
    rev2 = np.concatenate([np.arange(1, r + 1) for r in nrev]) if len(upd) else np.zeros(0, np.int64)
    op2 = np.full(len(k2), OP_U)
    # phase 3: ~4% of keys deleted, half of those re-inserted right after
    dels = rng.permutation(np.flatnonzero(rng.random(n_keys) < 0.04))
    reborn = rng.random(len(dels)) < 0.5
    k3 = np.repeat(dels, 1 + reborn)
    op3 = np.concatenate([[OP_D, OP_I] if r else [OP_D] for r in reborn]).astype(np.int64) if len(dels) else np.zeros(0, np.int64)
    rev3 = np.where(op3 == OP_I, 100, 0)

    key = np.concatenate([k1, k2, k3])
    op = np.concatenate([op1, op2, op3])
    rev = np.concatenate([rev1, rev2, rev3])
    n = len(key)
    lsn = 1000 + np.cumsum(rng.integers(1, 4, n))  # sparse, strictly increasing

    pool = _text_pool(rng, 4096, 90, 580)
    body = rng.integers(0, len(pool), n)
    cid = [f"conv-{c:08d}" for c in range(size.n_convs)]
    conv_id = np.array(cid, dtype=object)[conv[key]]
    tix = turn[key]
    text = np.array(
        [
            None if o == OP_D else f"{c} turn {t} rev {r}:{pool[b]}"
            for c, t, r, o, b in zip(conv_id, tix, rev, op, body)
        ],
        dtype=object,
    )
    role = np.where(op == OP_D, None, ROLES[tix % 4])

    bounds = np.linspace(0, n, size.n_batches + 1).astype(np.int64)
    evo_batch = int(np.searchsorted(bounds, int(0.75 * n)))
    evo_batch = min(max(evo_batch, 1), size.n_batches - 1)
    evolution_lsn = int(lsn[bounds[evo_batch]])
    tool = np.where((lsn >= evolution_lsn) & (op != OP_D), TOOLS[rng.integers(0, 3, n)], None)

    events = pd.DataFrame(
        {
            "lsn": lsn.astype(np.int64),
            "op": OP_NAMES[op],
            "conv_id": conv_id,
            "turn_idx": tix.astype(np.int32),
            "role": role,
            "text": text,
            "ts": TS0_US + lsn.astype(np.int64) * 1000,
            "tool": tool,
        }
    )

    batch_events: list[int] = []
    n_files = 0
    mtime = 1_700_000_000
    prev: np.ndarray | None = None
    for b in range(size.n_batches):
        idx = np.arange(bounds[b], bounds[b + 1])
        if prev is not None:
            redeliver = prev[rng.random(len(prev)) < 0.01]
            idx = np.concatenate([idx, redeliver])
        prev = np.arange(bounds[b], bounds[b + 1])
        part = events.iloc[idx]
        v = "v2" if b >= evo_batch else "v1"
        bdir = os.path.join(out_dir, v, f"batch=b{b:09d}")
        os.makedirs(bdir, exist_ok=True)
        for i, chunk in enumerate(np.array_split(np.arange(len(part)), size.files_per_batch)):
            tb = _event_table(part.iloc[chunk], with_tool=(v == "v2"))
            path = os.path.join(bdir, f"part-{i:05d}.parquet")
            pq.write_table(tb, path)
            # the file-stream source orders files by modification time
            os.utime(path, (mtime + n_files, mtime + n_files))
            n_files += 1
        batch_events.append(len(part))

    hot_ids = [cid[c] for c in sorted(hot)]
    cold_pick = rng.choice(np.setdiff1d(np.arange(size.n_convs), hot), size=8, replace=False)
    return Feed(
        events=events,
        n_delivered=sum(batch_events),
        batch_events=batch_events,
        n_files=n_files,
        evolution_lsn=evolution_lsn,
        hot_convs=hot_ids,
        cold_convs=[cid[c] for c in sorted(cold_pick)],
    )


def _event_table(df: pd.DataFrame, with_tool: bool) -> pa.Table:
    cols = {
        "lsn": pa.array(df["lsn"].to_numpy(), pa.int64()),
        "op": pa.array(df["op"].tolist(), pa.string()),
        "conv_id": pa.array(df["conv_id"].tolist(), pa.string()),
        "turn_idx": pa.array(df["turn_idx"].to_numpy(), pa.int32()),
        "role": pa.array(df["role"].tolist(), pa.string()),
        "text": pa.array(df["text"].tolist(), pa.string()),
        "ts": pa.array(df["ts"].to_numpy(), pa.timestamp("us", tz="UTC")),
    }
    if with_tool:
        cols["tool"] = pa.array(df["tool"].tolist(), pa.string())
    return pa.table(cols)


def expected_state(events: pd.DataFrame) -> pd.DataFrame:
    """Final table content: last writer by lsn per (conv_id, turn_idx),
    deleted keys dropped, text whitespace-normalized."""
    last = events.sort_values("lsn", kind="stable").drop_duplicates(
        ["conv_id", "turn_idx"], keep="last"
    )
    live = last[last["op"] != "D"].copy()
    live["text"] = [normalize(t) for t in live["text"]]
    return live[["conv_id", "turn_idx", "role", "text", "ts", "tool"]].reset_index(drop=True)


# --------------------------------------------------------------------------
# registry-query input tables
# --------------------------------------------------------------------------
DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column order small join customer query filter group "
    "stream vector big"
).split()
LANGS = np.array(["en", "en", "zh", "de", "fr", "es"], dtype=object)
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"], dtype=object)


@dataclass(frozen=True)
class TableSize:
    docs: int
    events: int
    users: int


def make_tables(seed: int, size: TableSize, out_dir: str) -> dict[str, int]:
    """Write `<out_dir>/documents.parquet` and `<out_dir>/events.parquet`
    with the schemas of the repository's scale-factor test tables; returns
    row counts per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    nd = size.docs
    texts = [" ".join(rng.choice(DOC_WORDS, size=k)) for k in rng.integers(8, 100, nd)]
    # planted near-duplicates (one word changed)
    for i in rng.choice(nd, size=nd // 50, replace=False):
        words = texts[int(rng.integers(0, nd))].split(" ")
        words[int(rng.integers(0, len(words)))] = str(rng.choice(DOC_WORDS))
        texts[i] = " ".join(words)
    nv = size.events
    ts0 = int(datetime(2024, 1, 1).timestamp() * 1_000_000)
    tables = {
        "documents": pa.table(
            {
                "doc_id": pa.array(np.arange(nd), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(LANGS[rng.integers(0, len(LANGS), nd)].tolist(), pa.string()),
                "source": pa.array([f"src{i % 20}" for i in range(nd)], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(nv), pa.int64()),
                "ts": pa.array(
                    np.sort(ts0 + rng.integers(0, 30 * 86400 * 1_000_000, nv)), pa.timestamp("us")
                ),
                "user_id": pa.array(rng.integers(0, size.users, nv), pa.int64()),
                "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, nv)].tolist(), pa.string()),
                "value": pa.array(np.round(rng.uniform(0, 100, nv), 2), pa.float64()),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, nv)], pa.string()),
            }
        ),
    }
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tb.num_rows for name, tb in tables.items()}
