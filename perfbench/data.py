"""Seeded input generation for the benchmark workloads.

Everything here is numpy + pyarrow; no Spark. The program under test only
ever sees the files these functions write.

* :func:`write_tables` writes the star schema + ``events`` + LLM tables in
  the package's table-directory layout (``<dir>/<name>.parquet``), with
  the row counts and value domains of the package's own test tables at
  the same scale factor. The dashboard reads these.
  :func:`write_corpus` writes its ``documents``/``embeddings`` pair,
  with a near-duplicate share set by the caller. Near-duplicates
  are edited copies of an earlier document, never byte-identical copies:
  exact copies make pair-wise dedup quadratic in the copy count.
* :func:`ingest_plan` draws the keyed readings of a device fleet that the
  ingest workload writes as JSON-lines files, with a fixed share of
  updates to a device's earlier readings.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EMBED_DIM = 64
N_LABELS = 10

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts_us(start: str, n: int, span_days: int, rng: np.random.Generator, whole_days: bool) -> pa.Array:
    base = (np.datetime64(start, "us") - _EPOCH).astype(np.int64)
    if whole_days:
        off = rng.integers(0, span_days + 1, n) * 86_400_000_000
    else:
        off = rng.integers(0, span_days * 86_400_000_000, n)
    return pa.array(base + off, pa.timestamp("us"))


def _pick(values, n: int, rng: np.random.Generator, p=None) -> pa.Array:
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)], pa.string())


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table at scale factor ``sf``; return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 15)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 150)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(-999.99, 9999.99, n_cust, rng)),
        "c_mktsegment": _pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust, rng),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(-999.99, 9999.99, n_supp, rng)),
    })
    adj = np.array(["large", "hot", "blue", "cold", "old", "small"])
    noun = np.array(["ring", "bolt", "gear", "plate", "nut"])
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "), noun[rng.integers(0, 5, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": _pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part, rng),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
        "o_totalprice": pa.array(_money(1000.0, 500000.0, n_ord, rng)),
        "o_orderdate": _ts_us("1995-01-01", n_ord, 2404, rng, whole_days=True),
        "o_orderpriority": _pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord, rng),
    })
    lines = rng.integers(1, 8, n_ord)
    n_line = int(lines.sum())
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord, dtype=np.int64), lines)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(n_line) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(18.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(["A", "N", "R"], n_line, rng),
        "l_linestatus": _pick(["F", "O"], n_line, rng),
        "l_shipdate": _ts_us("1995-01-02", n_line, 2498, rng, whole_days=True),
    })
    ev_ts = np.sort((_ts_us("2024-01-01", n_ev, 30, rng, whole_days=False)).to_numpy(zero_copy_only=False))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": _pick(EVENT_TYPES, n_ev, rng),
        "value": pa.array(_money(0.0, 560.0, n_ev, rng)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    counts = write_corpus(out_dir, max(int(50_000 * sf), 50), max(int(20_000 * sf), 500), 0.05, rng)
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_line, "events": n_ev, **counts}


def _doc_text(words: np.ndarray) -> str:
    return " ".join(VOCAB[i] for i in words)


def write_corpus(
    out_dir: str, n_docs: int, n_vecs: int, dup_share: float, rng: np.random.Generator
) -> dict[str, int]:
    """Write ``documents`` and ``embeddings``; return their sizes.

    ``dup_share`` of the documents are near-duplicates: a copy of an
    earlier document with one to three words substituted and the marker
    word ``dup`` appended. No two documents are byte-identical.
    """
    texts: list[str] = []
    seen: set[str] = set()
    word_lists: list[np.ndarray] = []
    is_dup = rng.random(n_docs) < dup_share
    is_dup[0] = False
    for i in range(n_docs):
        while True:
            if is_dup[i]:
                src = int(rng.integers(0, i))
                words = word_lists[src].copy()
                pos = rng.choice(len(words), size=int(rng.integers(1, 4)), replace=False)
                words[pos] = rng.integers(0, len(VOCAB), len(pos))
                text = _doc_text(words) + " dup"
            else:
                words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
                text = _doc_text(words)
            if text not in seen:
                break
        seen.add(text)
        word_lists.append(words)
        texts.append(text)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(LANGS, n_docs, rng, p=LANG_P),
        "source": pa.array(np.char.add("src", (np.arange(n_docs) % 20).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n_vecs)
    vecs = (0.35 * centers[labels] + rng.normal(scale=0.13, size=(n_vecs, EMBED_DIM))).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return {"documents": n_docs, "near_dups": int(is_dup.sum()), "embeddings": n_vecs}


#: event-time origin of generated ingest records; a record's ``ts`` (its
#: creation stamp) is origin + its tick index x tick interval
INGEST_ORIGIN = dt.datetime(2024, 1, 1)


@dataclass(frozen=True)
class IngestPlan:
    """Every ingest record, grouped into the files the generator writes.

    ``files[i]`` is a list of records (dicts in the wire schema). The
    first ``n_backlog`` files are the pre-written drain backlog; live
    file ``j`` after them is due to be written ``(j + 1) *
    file_interval_s`` after the open loop starts.
    """

    files: list[list[dict]]
    n_backlog: int
    file_interval_s: float


def ingest_plan(
    seed: int,
    devices: int,
    tick_s: float,
    report_p: float,
    n_backlog: int,
    backlog_ticks: int,
    n_live: int,
    live_ticks: int,
    update_share: float,
) -> IngestPlan:
    """Draw a device fleet's keyed readings, grouped into files.

    Every ``tick_s`` each of ``devices`` devices reports one reading with
    probability ``report_p``; a file holds the readings of consecutive
    ticks (``backlog_ticks`` per backlog file, ``live_ticks`` per live
    file), as one batched put per flush. ``user_id`` carries the device
    number. A reading gets a new ``event_id``, except ``update_share`` of
    each file's readings, which rewrite an earlier reading of the same
    device from an earlier file (a late correction).

    Keys are unique within a file (the upsert sink keeps an arbitrary row
    when one micro-batch holds a key twice, so a file is the unit of
    ordering), and files are consumed one per micro-batch in write order.
    No field is ever null, so the sink's coalesce merge equals
    last-write-wins.
    """
    rng = np.random.default_rng(seed)
    files: list[list[dict]] = []
    dev_keys: list[list[int]] = [[] for _ in range(devices)]
    next_key = 0
    tick = 0
    for i in range(n_backlog + n_live):
        n_ticks = backlog_ticks if i < n_backlog else live_ticks
        dev_l, tick_l = [], []
        for _ in range(n_ticks):
            reporting = np.flatnonzero(rng.random(devices) < report_p)
            dev_l.append(reporting)
            tick_l.append(np.full(len(reporting), tick))
            tick += 1
        dev = np.concatenate(dev_l)
        ticks = np.concatenate(tick_l)
        size = len(dev)
        keys = np.full(size, -1, np.int64)
        if i > 0:
            used: set[int] = set()
            for r in rng.choice(size, int(round(size * update_share)), replace=False):
                earlier = dev_keys[dev[r]]
                for _ in range(8):
                    k = earlier[int(rng.integers(0, len(earlier)))]
                    if k not in used:
                        used.add(k)
                        keys[r] = k
                        break
        fresh = keys < 0
        keys[fresh] = np.arange(next_key, next_key + int(fresh.sum()))
        next_key += int(fresh.sum())
        for d, k in zip(dev[fresh], keys[fresh]):
            dev_keys[d].append(int(k))
        types = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size)]
        values = _money(0.0, 560.0, size, rng)
        ks = rng.integers(0, 100, size)
        recs = []
        for r in range(size):
            ts = INGEST_ORIGIN + dt.timedelta(seconds=float(ticks[r]) * tick_s)
            recs.append({
                "event_id": int(keys[r]),
                "ts": ts.isoformat(timespec="microseconds"),
                "user_id": int(dev[r]),
                "event_type": str(types[r]),
                "value": float(values[r]),
                "props": f'{{"k": {int(ks[r])}}}',
            })
        files.append(recs)
    return IngestPlan(files, n_backlog, live_ticks * tick_s)


def encode_file(records: list[dict]) -> bytes:
    return ("\n".join(json.dumps(r) for r in records) + "\n").encode()


def last_write_wins(plan: IngestPlan) -> dict[int, dict]:
    """Replay every record in file order; the last write of a key wins."""
    state: dict[int, dict] = {}
    for recs in plan.files:
        for r in recs:
            state[r["event_id"]] = r
    return state
