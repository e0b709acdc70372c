"""Deterministic inputs for the benchmark.

Two families, both pure numpy + pyarrow (no Spark, so generation time
is the benchmark's own and never the engine's):

* ``write_fixture`` — an sf0.1-shaped copy of the synthetic tables in
  ``TESTDATA.md`` (TPC-H-ish star schema and ``events``) with the same schemas
  and value domains, plus a small ``documents`` table for the graph
  query (``graph_documents``).  The batch workload pins its query hashes to
  ``FIXTURE_SEED``.
* ``event_files`` — the KPI stream's input: event files cut from the
  same ``events`` generator, each covering the next slice of event
  time, with out-of-order rows that stay well inside the stream's
  30-minute watermark.  The seed sets the time shift and every value.
  ``late_event_file`` is one file of rows far behind that watermark.
* ``ingest_batches`` and ``graph_documents`` — ``documents``-shaped
  tables (random texts over a small word list, as in the reference
  table) with injected exact duplicates, near-duplicate edits, edited
  copies of a frozen benchmark set and texts too short for the gate,
  each recorded as ground truth.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
)

#: seed of the batch fixture; ``expected_hashes.json`` is pinned to it
FIXTURE_SEED = 20240101

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])

_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_US_PER_MIN = 60_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, lo: str, hi: str, n: int):
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (hi_d - lo_d).astype(np.int64) + 1, n)
    return (lo_d + days).astype("datetime64[us]")


def events_table(
    rng: np.random.Generator,
    n: int,
    start_us: int,
    span_us: int,
    first_id: int = 0,
    late_frac: float = 0.0,
    late_us: int = 0,
) -> pa.Table:
    """``n`` events spread over ``[start, start + span)`` microseconds
    after 2024-01-01, sorted by time; ``late_frac`` of them are moved
    up to ``late_us`` earlier (out-of-order arrival)."""
    offs = np.sort(rng.integers(0, span_us, n))
    if late_frac:
        late = rng.random(n) < late_frac
        offs = offs - late * rng.integers(0, late_us + 1, n)
    ts = _EPOCH_2024 + (start_us + offs).astype("timedelta64[us]")
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
        }
    )


def fixture_tables() -> dict:
    """The sf0.1-shaped tables as pyarrow Tables."""
    rng = np.random.default_rng(FIXTURE_SEED)
    n_cust, n_supp, n_part = 15000, 1000, 20000
    n_ord, n_li, n_ev = 150000, 600000, 100000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    retail = 900.0 + (np.arange(n_part) % 1000) / 10.0
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                noun[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
            )[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }
    )
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(
                qty * retail[partkey] * rng.uniform(0.95, 1.05, n_li), 2
            ),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    t["events"] = events_table(rng, n_ev, 0, 30 * 24 * 60 * _US_PER_MIN)
    t["documents"] = graph_documents()
    return t


def write_fixture(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


#: event time one KPI stream file covers; 5 files fill a quarter hour
FILE_SPAN_MIN = 3
#: rows moved earlier than their file's slice, and by how much at most
#: (10 min, a third of the stream's 30-minute watermark, so no row is
#: ever dropped as late)
LATE_FRAC, LATE_MAX_MIN = 0.1, 10


def event_files(seed: int, n_files: int, rows_per_file: int) -> list[pa.Table]:
    """The KPI stream's input files, in landing order.  File ``i``
    covers event time ``[T + 3i min, T + 3(i+1) min)`` where the seed
    picks ``T`` (a minute offset into 2024)."""
    rng = np.random.default_rng(seed)
    t0_min = _origin_min(rng)
    return [
        events_table(
            rng,
            rows_per_file,
            (t0_min + i * FILE_SPAN_MIN) * _US_PER_MIN,
            FILE_SPAN_MIN * _US_PER_MIN,
            first_id=i * rows_per_file,
            late_frac=LATE_FRAC,
            late_us=LATE_MAX_MIN * _US_PER_MIN,
        )
        for i in range(n_files)
    ]


def _origin_min(rng: np.random.Generator) -> int:
    return int(rng.integers(0, 300 * 24 * 60))


#: rows of the late file, and how far before the stream's first file
#: they lie
LATE_FILE_ROWS, LATE_FILE_LEAD_MIN = 50, 120


def late_event_file(seed: int) -> pa.Table:
    """``LATE_FILE_ROWS`` events in the 3 minutes starting
    ``LATE_FILE_LEAD_MIN`` before the origin of ``event_files(seed,
    ...)``: landed after that stream has advanced its watermark, every
    one of them is late."""
    t0_min = _origin_min(np.random.default_rng(seed)) - LATE_FILE_LEAD_MIN
    return events_table(
        np.random.default_rng(seed + 1),
        LATE_FILE_ROWS,
        t0_min * _US_PER_MIN,
        FILE_SPAN_MIN * _US_PER_MIN,
        first_id=-LATE_FILE_ROWS,
    )


def write_event_files(tables: list[pa.Table], out_dir: str, prefix: str) -> list[str]:
    """Write each table as ``<prefix>-<i>.parquet``; returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, table in enumerate(tables):
        path = os.path.join(out_dir, f"{prefix}-{i:05d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


# --------------------------------------------------------------------------
# documents

#: the words of every generated text, joined by single spaces like the
#: reference ``documents`` table's texts
WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window".split()
)
DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _texts(rng: np.random.Generator, n: int, lo: int = 20, hi: int = 70) -> list[str]:
    """``n`` texts of ``lo``-``hi`` random words (never under 60 chars
    for ``lo`` >= 20)."""
    return [
        " ".join(WORDS[rng.integers(0, len(WORDS), int(k))])
        for k in rng.integers(lo, hi + 1, n)
    ]


def _edit(text: str, word: str, at_end: bool = True) -> str:
    """``text`` with one word replaced by ``word`` (a word outside
    ``WORDS``): the last one, or the middle one."""
    w = text.split(" ")
    w[-1 if at_end else len(w) // 2] = word
    return " ".join(w)


def _doc_table(rng: np.random.Generator, ids, texts) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(["en", "fr", "de", "zh"])[rng.integers(0, 4, n)]),
            "source": pa.array(np.char.add("src", rng.integers(0, 10, n).astype(str))),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=DOC_SCHEMA,
    )


#: documents of the graph fixture, and how many of them head a family
GRAPH_DOCS, GRAPH_FAMILIES = 600, 40


def graph_documents() -> pa.Table:
    """The graph query's ``documents`` (fixed, ``FIXTURE_SEED``):
    ``GRAPH_DOCS`` random texts, ``GRAPH_FAMILIES`` of which are
    followed by 1-4 copies that differ from it, and from each other,
    only in the last word.  Such a family is a near-duplicate clique,
    so the 2-core is not empty."""
    rng = np.random.default_rng(FIXTURE_SEED)
    texts = _texts(rng, GRAPH_DOCS, 40, 80)
    out = []
    heads = set(rng.choice(GRAPH_DOCS, GRAPH_FAMILIES, replace=False).tolist())
    for i, t in enumerate(texts):
        out.append(t)
        if i in heads:
            out += [_edit(t, f"v{k}") for k in range(int(rng.integers(1, 5)))]
    return _doc_table(rng, np.arange(len(out)), out)


#: ingest batches, their size, and the documents injected into every
#: batch per kind
INGEST_BATCHES, INGEST_DOCS, INJECT = 2, 60, 4


def ingest_batches(seed: int) -> dict:
    """Inputs of the curation ingest and their ground truth.

    Returns ``{"reference", "benchmark", "batches", "truth"}``: a
    reference corpus for the drift and BM25 statistics, a frozen
    benchmark set, and ``INGEST_BATCHES`` batches of ``INGEST_DOCS``
    documents.  Each batch
    holds ``INJECT`` each of: texts too short for the gate, copies of
    benchmark documents with their middle word edited, copies of
    earlier documents with their last word edited and (after the first
    batch) exact copies of earlier admitted documents; the rest are
    fresh.  ``truth`` maps batch index → ``{"short", "dups"}`` doc id
    sets: what the gate must quarantine and what exact dedup must
    flag (dedup is batch-vs-corpus-so-far, so only later copies)."""
    rng = np.random.default_rng(seed)
    reference = _doc_table(rng, np.arange(300), _texts(rng, 300))
    bench_texts = _texts(rng, 20, 60, 80)
    benchmark = _doc_table(rng, np.arange(20), bench_texts)
    next_id, seen, batches, truth = 1000, [], [], {}
    for b in range(INGEST_BATCHES):
        short = [" ".join(WORDS[rng.integers(0, len(WORDS), 3)]) for _ in range(INJECT)]
        contam = [
            _edit(bench_texts[i], f"c{b}", at_end=False)
            for i in rng.choice(len(bench_texts), INJECT, replace=False)
        ]
        dups = [seen[i] for i in rng.choice(len(seen), INJECT, replace=False)] if seen else []
        fresh = _texts(rng, INGEST_DOCS - 3 * INJECT - len(dups))
        pool = seen + fresh
        near = [
            _edit(pool[i], f"n{b}") for i in rng.choice(len(pool), INJECT, replace=False)
        ]
        texts = fresh + near + contam + dups + short
        ids = list(range(next_id, next_id + len(texts)))
        next_id += len(texts)
        truth[b] = {
            "short": set(ids[len(texts) - len(short):]),
            "dups": set(ids[len(texts) - len(short) - len(dups): len(texts) - len(short)]),
        }
        order = rng.permutation(len(texts))
        batches.append(
            _doc_table(rng, [ids[i] for i in order], [texts[i] for i in order])
        )
        seen += fresh
    return {"reference": reference, "benchmark": benchmark, "batches": batches, "truth": truth}


def jaccard(a: str, b: str) -> float:
    """Exact Jaccard of two texts' distinct word 3-gram sets, the
    shingles of ``functions.text.word_shingles``."""

    def sh(t: str) -> set:
        w = t.split(" ")
        return {" ".join(w[i: i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else {t}

    x, y = sh(a), sh(b)
    return len(x & y) / len(x | y)
