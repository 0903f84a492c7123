"""Seeded input generators for the benchmark. Everything is written with
pyarrow from this process (no Spark job), so staging cost and file layout
do not depend on the engine under test.

- ``page_rows``: MATLAB-heavy crawl pages. Every MATLAB page carries a
  distinct class name, so no two texts are equal and a text-keyed parse
  cache cannot fake a gain. A fixed share is non-MATLAB (prefilter path)
  and a fixed share has a broken classdef header (dead-letter path).
- ``event_table``: the out-of-order CEP stream (arrival = event time
  +/- jitter, range-sharded into files by arrival), plus a heartbeat.
- ``write_tables``: the ten relational/corpus tables of the batch
  queries at a fixed scale factor shape.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from maxx_spark.gen import FILLER_WORDS, LANGS, synth_class_source

UTC = dt.timezone.utc
PAGES_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
EVENTS_ARROW = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
    ]
)
PAGE_EPOCH = dt.datetime(2024, 3, 1, tzinfo=UTC)
NON_MATLAB_EVERY = 10  # page i with i % 10 == 3 is a non-MATLAB page
MALFORMED_EVERY = 20  # page i with i % 20 == 7 has a broken classdef header
MALFORMED_MARK = "classdef (Sealed "


def page_kind(i: int) -> str:
    if i % MALFORMED_EVERY == 7:
        return "malformed"
    if i % NON_MATLAB_EVERY == 3:
        return "text"
    return "matlab"


def page_rows(seed: int, start: int, n: int, skew: bool) -> list[dict]:
    """Pages ``start .. start+n-1`` of the seed's page sequence. ``skew``
    sends half the pages to one mega host and gives every fifth MATLAB page
    a class four times the usual size."""
    rng = random.Random(seed * 1_000_003 + start)
    rows = []
    for i in range(start, start + n):
        kind = page_kind(i)
        host = (
            "mega-mat.example.com"
            if skew and rng.random() < 0.5
            else f"proj{rng.randrange(64)}.example.org"
        )
        ts = PAGE_EPOCH + dt.timedelta(seconds=i + rng.uniform(0, 30))
        if kind == "text":
            words = " ".join(rng.choice(FILLER_WORDS) for _ in range(rng.randrange(40, 120)))
            rows.append({"url": f"https://{host}/page/{seed}_{i}", "warc_ts": ts,
                         "html": None, "text": words, "lang": rng.choice(LANGS)})
            continue
        name = f"Cls{seed}x{i}"
        n_methods = 16 + 4 * rng.randrange(4)
        if skew and i % 5 == 0:
            n_methods *= 4
        text = synth_class_source(name, n_methods, seed=rng.randrange(1 << 30))
        if kind == "malformed":
            text = text.replace(f"classdef {name}", MALFORMED_MARK + name, 1)
        rows.append({"url": f"https://{host}/toolbox/{name}.m", "warc_ts": ts,
                     "html": None, "text": text, "lang": "matlab"})
    return rows


def write_pages(path: str, rows: list[dict]) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_ARROW), path)


def page_traffic(rows: list[dict]) -> dict:
    """Traffic properties of a page set: size, kind mix and the share of
    distinct texts (1.0: no two pages share a text)."""
    texts = [r["text"] for r in rows]
    return {
        "pages": len(rows),
        "distinct_text_share": len(set(texts)) / max(len(texts), 1),
        "matlab_share": sum(r["lang"] == "matlab" for r in rows) / max(len(rows), 1),
        "malformed_share": sum(MALFORMED_MARK in t for t in texts) / max(len(rows), 1),
        "text_bytes": sum(len(t) for t in texts),
    }


def stage_pages(src: str, seed: int, n_files: int, per_file: int,
                skew: bool) -> tuple[list[str], list[dict]]:
    """Write the backlog as ``n_files`` parquet files with pinned, strictly
    increasing mtimes, so the file source forms the same micro-batches for
    the same seed. Returns the file paths in batch order and the rows."""
    os.makedirs(src, exist_ok=True)
    base = int(os.path.getmtime(src)) - 10 * n_files
    paths, rows = [], []
    for k in range(n_files):
        p = os.path.join(src, f"pages-{k:05d}.parquet")
        part = page_rows(seed, k * per_file, per_file, skew)
        write_pages(p, part)
        os.utime(p, (base + k, base + k))
        paths.append(p)
        rows += part
    return paths, rows


EVENT_TYPES = np.array(["view", "click", "purchase", "noop"])
EVENT_EPOCH_S = 1_722_500_000
HEARTBEAT_USER = -1


def event_table(seed: int, n_events: int, n_users: int, span_s: int,
                jitter_s: int, skew: bool) -> pa.Table:
    """Events in arrival order (arrival = event time +/- ``jitter_s``).
    ``skew`` gives 30% of all events to user 0."""
    rng = np.random.default_rng(seed)
    ts_s = EVENT_EPOCH_S + rng.integers(0, span_s, n_events)
    ts_us = ts_s * 1_000_000 + rng.integers(0, 1_000_000, n_events)
    users = rng.integers(0, n_users, n_events)
    if skew:
        users = np.where(rng.random(n_events) < 0.3, 0, users)
    types = EVENT_TYPES[rng.integers(0, 4, n_events)]
    arrival = ts_us + rng.integers(-jitter_s, jitter_s + 1, n_events) * 1_000_000
    order = np.argsort(arrival, kind="stable")
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)[order]),
            "ts": pa.array(ts_us[order], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(users[order].astype(np.int64)),
            "event_type": pa.array(types[order]),
        },
        schema=EVENTS_ARROW,
    )
    return table


def stage_events(src: str, table: pa.Table, n_files: int, span_s: int) -> None:
    """Range-shard ``table`` (already in arrival order) into ``n_files``
    files, then append one heartbeat file whose far-future event time
    advances the watermark past every real event. Mtimes are pinned in
    arrival order."""
    os.makedirs(src, exist_ok=True)
    base = int(os.path.getmtime(src)) - 10 * (n_files + 1)
    n = table.num_rows
    edges = [n * k // n_files for k in range(n_files + 1)]
    parts = [table.slice(edges[k], edges[k + 1] - edges[k]) for k in range(n_files)]
    parts.append(pa.table(
        {"event_id": pa.array([n], pa.int64()),
         "ts": pa.array([(EVENT_EPOCH_S + span_s + 86_400) * 1_000_000], pa.timestamp("us", tz="UTC")),
         "user_id": pa.array([HEARTBEAT_USER], pa.int64()),
         "event_type": pa.array(["noop"])},
        schema=EVENTS_ARROW,
    ))
    for k, part in enumerate(parts):
        p = os.path.join(src, f"events-{k:05d}.parquet")
        pq.write_table(part, p)
        os.utime(p, (base + k, base + k))


# -- batch tables (the TESTDATA.md shape: region .. embeddings) -------------

WORDS = (
    "query row stream the spark line small fast group customer batch sort value "
    "hash filter big data dup part column order scan a slow agg key window table "
    "merge vector join"
).split()


def _ts_days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    d0 = (start - dt.date(1970, 1, 1)).days
    days = rng.integers(0, (end - start).days + 1, n) + d0
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def write_tables(out: str, seed: int, sf: float, skew: bool) -> None:
    """Seeded tables with the TESTDATA.md schemas and value domains.
    Row counts follow the testdata's per-sf sizes (lineitem 6M x sf).
    ``skew`` puts 30% of events on one user and 20% of lineitems on one
    part."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = n_vecs = 500
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), i32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), i32),
                   "n_name": [f"NATION_{k}" for k in range(25)],
                   "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    put("customer", {"c_custkey": pa.array(np.arange(n_cust), i64),
                     "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                     "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
                     "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    put("supplier", {"s_suppkey": pa.array(np.arange(n_supp), i64),
                     "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                     "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)})
    adj = np.array(["small", "large", "red", "hot", "cold", "old", "new", "blue"])
    noun = np.array(["ring", "anvil", "plate", "gizmo", "widget", "gear", "bolt", "valve"])
    ptypes = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    put("part", {"p_partkey": pa.array(np.arange(n_part), i64),
                 "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                       noun[rng.integers(0, 8, n_part)]),
                 "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                 "p_type": ptypes[rng.integers(0, 6, n_part)],
                 "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                 "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2), f64)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {"o_orderkey": pa.array(np.arange(n_ord), i64),
                   "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                   "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                   "o_totalprice": pa.array(money(1000, 500_000, n_ord), f64),
                   "o_orderdate": _ts_days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                   "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    partkey = rng.integers(0, n_part, n_line)
    if skew:
        partkey = np.where(rng.random(n_line) < 0.2, 7, partkey)
    put("lineitem", {"l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
                     "l_partkey": pa.array(partkey, i64),
                     "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
                     "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                     "l_quantity": pa.array(qty, f64),
                     "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2), f64),
                     "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
                     "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
                     "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                     "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
                     "l_shipdate": _ts_days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    ev_s = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    ev_us = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    users = rng.integers(0, n_users, n_ev)
    if skew:
        users = np.where(rng.random(n_ev) < 0.3, 0, users)
    etypes = np.array(["view", "click", "purchase", "signup", "error"])
    put("events", {"event_id": pa.array(np.arange(n_ev), i64),
                   "ts": pa.array(ev_us + (ev_s * 1e6).astype(np.int64), pa.timestamp("us")),
                   "user_id": pa.array(users, i64),
                   "event_type": etypes[rng.integers(0, 5, n_ev)],
                   "value": pa.array(np.round(rng.exponential(50, n_ev) + 0.01, 2), f64),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts: list[str] = []
    for k in range(n_docs):
        if k >= 20 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, k))].split(" ")
            for _ in range(int(rng.integers(0, 4))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 101)))))
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    put("documents", {"doc_id": pa.array(np.arange(n_docs), i64),
                      "text": texts,
                      "lang": langs[rng.integers(0, 7, n_docs)],
                      "source": [f"src{k % 20}" for k in range(n_docs)],
                      "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_vecs, 64)) + 0.6 * centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {"vec_id": pa.array(np.arange(n_vecs), i64),
                       "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
                       "label": pa.array(labels, i32)})
