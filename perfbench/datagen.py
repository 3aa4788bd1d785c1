"""Seeded input generation for the benchmark.

Everything the engine reads during a run is made here from ``--seed``
with NumPy and written with PyArrow, so the same seed gives the same
bytes and no run depends on files outside the checkout.

- ``write_tables``: the star schema the registry queries read (TPC-H
  style dimensions and facts, an ``events`` table, a ``documents``
  corpus with planted near-duplicates and an ``embeddings`` table with
  weak label clusters), one ``<name>.parquet`` per table, in the same
  schema and value domains as the repository's fixture tables.
- ``write_index_corpus`` / ``index_pass``: the written-index corpus
  (documents and unit embeddings with clear clusters) and, per pass,
  the probe queries, the daily increment and the ids one erasure
  request names;
- ``LiveSchedule``: the open-loop clickstream for ``clickstream_live``:
  fixed-size parquet files on a fixed period, Zipf-skewed users and
  pages in the reference generator's value domains, bounded
  out-of-order jitter, a share of late rows, a catch-up burst and a
  closing sentinel.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts per table at scale factor 1 (the fixture tables use the
# same ratios: lineitem = 4 x orders = 40 x customer ...)
_ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "nut", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TABLE_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = (["en"] * 41) + (["zh"] * 15) + (["es"] * 15) + (["fr"] * 15) + (["de"] * 14)
EMBED_DIMS = 64
TABLE_SF = 0.01  # scale of the registry tables, relative to the fixture ratios
INDEX_ROWS = 2000  # documents and vectors in the written-index corpus
INCREMENT_ROWS = 100  # documents and vectors in one daily increment
ERASE_IDS = 20  # ids named by one erasure request
ZIPF_S = 1.1  # skew of live users and pages
# live stream: the rate, the file period and the share of late rows
LIVE_RATE_EPS = 5000
LIVE_PERIOD_S = 0.25
LIVE_USERS = 1000
LATE_FRAC = 0.01
WARM_S = 2.0  # files written before the measured phase
BURST_EVENTS = 200_000

# reference generator value domains (sources/generator.py), with the
# app's page_view -> view mapping applied (app.py)
LIVE_EVENT_TYPES = [
    "view", "button_click", "add_to_cart", "remove_from_cart", "checkout_progress",
    "purchase", "search", "login", "logout", "signup",
]
LIVE_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("page", pa.string()),
    ]
)


def _ts(days: np.ndarray, base: str) -> pa.Array:
    micros = (np.datetime64(base, "us").astype(np.int64) + days.astype(np.int64) * 86_400_000_000)
    return pa.array(micros, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random word sequences over a small vocabulary; about 5% of the
    documents are edited copies of an earlier one (a few words swapped,
    a ``dup`` marker appended) so every dedup family finds pairs."""
    docs: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            words = docs[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), size=max(1, len(words) // 20), replace=False):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            words.append("dup")
        else:
            words = [_WORDS[k] for k in rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]
        docs.append(" ".join(words))
    return docs


def _centers(rng: np.random.Generator) -> np.ndarray:
    centers = rng.normal(size=(10, EMBED_DIMS))
    return centers / np.linalg.norm(centers, axis=1, keepdims=True)


def _embeddings(rng: np.random.Generator, n: int, centers: np.ndarray,
                center_weight: float) -> tuple[np.ndarray, np.ndarray]:
    """(unit float32 vectors, labels): noise pulled towards one of the
    ``centers`` by ``center_weight``."""
    labels = rng.integers(0, len(centers), n)
    noise = rng.normal(size=(n, EMBED_DIMS))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vecs = center_weight * centers[labels] + noise
    return (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32), labels


def _embedding_cols(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> dict:
    return {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def _document_cols(ids: np.ndarray, texts: list[str]) -> dict:
    return {
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [_LANGS[k % len(_LANGS)] for k in ids],
        "source": [f"src{k % 20}" for k in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every registry table at ``TABLE_SF``; returns row counts by
    table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * TABLE_SF)) for k, v in _ROWS_AT_SF1.items()}
    n["documents"] = max(200, n["documents"])
    n["embeddings"] = max(200, n["embeddings"])
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()), "r_name": _REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    nc, ns, npart, no, nl = n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [_SEGMENTS[k] for k in rng.integers(0, 5, nc)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    price = 900.0 + (np.arange(npart) % 1000) / 10.0
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": [_PART_TYPES[k] for k in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": price,
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, no), "1995-01-01"),
        "o_orderpriority": [_PRIORITIES[k] for k in rng.integers(0, 5, no)],
    })
    partkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(rng.integers(1, 2500, nl), "1995-01-01"),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(start + np.sort(rng.integers(0, 30 * 86_400_000_000, ne)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, ne // 66), ne), pa.int64()),
        "event_type": [_TABLE_EVENT_TYPES[k] for k in rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    _write(out_dir, "documents", _document_cols(np.arange(nd), _documents(rng, nd)))
    nv = n["embeddings"]
    # weak clusters, as in the fixture tables the registry queries assume
    vecs, labels = _embeddings(rng, nv, _centers(rng), 0.15)
    _write(out_dir, "embeddings", _embedding_cols(np.arange(nv), vecs, labels))
    return n


# ---- written-index corpus ----------------------------------------------------

# clear clusters, so an approximate probe has neighbours worth finding
INDEX_CENTER_WEIGHT = 1.0
BM25_VOCAB = _WORDS + ["dup"]


def _index_centers(seed: int) -> np.ndarray:
    return _centers(np.random.default_rng([seed, 4]))


def write_index_corpus(out_dir: str, seed: int) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` with
    ``INDEX_ROWS`` rows each, ids ``0 .. INDEX_ROWS - 1``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    ids = np.arange(INDEX_ROWS)
    _write(out_dir, "documents", _document_cols(ids, _documents(rng, INDEX_ROWS)))
    vecs, labels = _embeddings(rng, INDEX_ROWS, _index_centers(seed), INDEX_CENTER_WEIGHT)
    _write(out_dir, "embeddings", _embedding_cols(ids, vecs, labels))


@dataclass
class IndexPass:
    """What one pass of the index client does: probe inputs, the daily
    increment (written to ``docs_path``/``vecs_path``) and the ids of
    one erasure request."""

    query_vecs: np.ndarray  # one unit vector per vector probe
    query_labels: np.ndarray  # the cluster each query vector was drawn from
    bm25_terms: list[str]
    docs_path: str
    vecs_path: str
    increment_ids: np.ndarray
    erase_ids: list[int]


def index_pass(out_dir: str, seed: int, pass_no: int, erased: set[int]) -> IndexPass:
    """Inputs of pass ``pass_no``.  Increment ids start past the corpus
    and every earlier increment; erased ids are corpus ids not erased
    before."""
    rng = np.random.default_rng([seed, 3, pass_no])
    start = INDEX_ROWS + pass_no * INCREMENT_ROWS
    ids = np.arange(start, start + INCREMENT_ROWS)
    docs_path = os.path.join(out_dir, f"inc-docs-{pass_no}.parquet")
    vecs_path = os.path.join(out_dir, f"inc-vecs-{pass_no}.parquet")
    pq.write_table(pa.table(_document_cols(ids, _documents(rng, INCREMENT_ROWS))), docs_path)
    centers = _index_centers(seed)
    vecs, labels = _embeddings(rng, INCREMENT_ROWS, centers, INDEX_CENTER_WEIGHT)
    pq.write_table(pa.table(_embedding_cols(ids, vecs, labels)), vecs_path)
    live = np.array(sorted(set(range(INDEX_ROWS)) - erased))
    queries, labels = _embeddings(rng, 5, centers, INDEX_CENTER_WEIGHT)
    return IndexPass(
        query_vecs=queries,
        query_labels=labels,
        bm25_terms=[BM25_VOCAB[k] for k in rng.choice(len(BM25_VOCAB), 3, replace=False)],
        docs_path=docs_path,
        vecs_path=vecs_path,
        increment_ids=ids,
        erase_ids=sorted(int(i) for i in rng.choice(live, ERASE_IDS, replace=False)),
    )


def _zipf_index(rng: np.random.Generator, n_items: int, size: int) -> np.ndarray:
    weights = 1.0 / np.arange(1, n_items + 1) ** ZIPF_S
    return rng.choice(n_items, size=size, p=weights / weights.sum())


@dataclass
class LiveFile:
    """One input file of the live stream: offsets are seconds relative
    to the file's scheduled creation time."""

    name: str
    due_s: float  # schedule offset from the start of generation
    event_id: np.ndarray
    ts_offset_s: np.ndarray
    user_id: np.ndarray
    event_type: list
    value: np.ndarray
    page: list
    late: np.ndarray  # bool mask of rows stamped beyond every watermark

    def table(self, created_at: float) -> pa.Table:
        micros = np.round((created_at + self.ts_offset_s) * 1e6).astype(np.int64)
        return pa.table(
            [
                pa.array(self.event_id, pa.int64()),
                pa.array(micros, pa.timestamp("us", tz="UTC")),
                pa.array(self.user_id, pa.int64()),
                pa.array(self.event_type, pa.string()),
                pa.array(self.value, pa.float64()),
                pa.array(self.page, pa.string()),
            ],
            schema=LIVE_SCHEMA,
        )


@dataclass
class LiveSchedule:
    """The open-loop input of ``clickstream_live``: warm-phase files,
    steady-phase files (the ones freshness is measured on), tail files
    (written while the dashboard is measured), one catch-up burst and one
    closing sentinel."""

    warm: list[LiveFile] = field(default_factory=list)
    steady: list[LiveFile] = field(default_factory=list)
    tail: list[LiveFile] = field(default_factory=list)
    burst: LiveFile | None = None
    sentinel: LiveFile | None = None


def live_schedule(seed: int, steady_s: float, tail_s: float) -> LiveSchedule:
    """``WARM_S`` of warm files, ``steady_s`` of measured files and
    ``tail_s`` of tail files at ``LIVE_RATE_EPS``, then the burst and the
    sentinel."""
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.generator import PAGES

    rng = np.random.default_rng([seed, 1])
    period_s = LIVE_PERIOD_S
    per_file = int(LIVE_RATE_EPS * period_s)
    sched = LiveSchedule()
    next_id = 1

    def make(name: str, due: float, rows: int, jitter_s: float, late: float) -> LiveFile:
        nonlocal next_id
        ids = np.arange(next_id, next_id + rows, dtype=np.int64)
        next_id += rows
        etype = rng.integers(0, len(LIVE_EVENT_TYPES), rows)
        is_late = rng.random(rows) < late
        offset = -rng.uniform(0.0, jitter_s, rows)
        # two hours back: older than every watermark delay plus the
        # longest window (1 h tumbling, 30 min session gap), so every
        # pipeline drops the row instead of folding it into a window
        # that is still open
        offset[is_late] = -2 * 3600.0
        purchase = etype == LIVE_EVENT_TYPES.index("purchase")
        value = np.where(purchase, np.round(rng.uniform(19.99, 1999.99, rows), 2), 0.0)
        return LiveFile(
            name=name,
            due_s=due,
            event_id=ids,
            ts_offset_s=offset,
            user_id=_zipf_index(rng, LIVE_USERS, rows) + 1,
            event_type=[LIVE_EVENT_TYPES[k] for k in etype],
            value=value,
            page=[PAGES[k] for k in _zipf_index(rng, len(PAGES), rows)],
            late=is_late,
        )

    n_warm = int(round(WARM_S / period_s))
    n_steady = int(round(steady_s / period_s))
    n_tail = int(round(tail_s / period_s))
    for i in range(n_warm + n_steady + n_tail):
        steady = n_warm <= i < n_warm + n_steady
        f = make(f"part-{i:05d}.parquet", i * period_s, per_file, 10.0,
                 LATE_FRAC if steady else 0.0)
        (sched.warm if i < n_warm else sched.steady if steady else sched.tail).append(f)
    sched.burst = make("part-burst.parquet", 0.0, BURST_EVENTS, 30.0, 0.0)
    # one signup by user 0 (outside the generated user range), stamped
    # 45 minutes ahead: it moves every watermark past every open session
    # window so the append-mode sessions pipeline emits everything
    sched.sentinel = make("part-sentinel.parquet", 0.0, 1, 0.0, 0.0)
    sched.sentinel.ts_offset_s[:] = 45 * 60.0
    sched.sentinel.user_id[:] = 0
    sched.sentinel.event_type = ["signup"]
    sched.sentinel.value[:] = 0.0
    return sched
