"""Written-index serving, the index side of ``analyst_mix``.

Set-up builds the five written layouts (BM25, LSH, IVF, PQ, IVFPQ) from
a seeded corpus and copies the corpus into two datasets (documents and
vectors).  Each pass of the analyst then runs eight index ops among its
queries:

- six probes (``probe.<layout>``, one per layout plus the filtered IVF
  probe), each a top-10 collect;
- one daily ingest: the pass's increment appended to all five layouts,
  then ``maintain_index`` on each (the default segment policy);
- one erasure: ``forget_ids`` over the five roots and the two datasets.

Recall@10 of every probe is checked after the pass against an exact
top-10 over the corpus as it stood when the probe ran (NumPy cosine for
the vector layouts, the engine's on-the-fly ``bm25_topk`` for BM25),
and no probe may return an id erased before it.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import datagen

LAYOUTS = ["bm25", "lsh", "ivf", "pq", "ivfpq"]
PROBES = ["bm25", "lsh", "ivf", "ivf_filtered", "pq", "ivfpq"]
# segment root of each layout, relative to its index root
SEGMENT_ROOT = {"bm25": "", "lsh": "", "ivf": "vectors", "pq": "codes", "ivfpq": "codes"}
K = 10
# lowest recall@10 a run's probes may average before the run fails.
# Single probes over 18 seeded queries measured: bm25 1.0, lsh 0.3-1.0,
# ivf, ivf_filtered and ivfpq 0.8-1.0, pq 0.7-1.0; each floor sits
# below that range, so it fails a broken probe, not an unlucky query
RECALL_FLOOR = {"bm25": 0.9, "lsh": 0.1, "ivf": 0.5, "ivf_filtered": 0.5, "pq": 0.4, "ivfpq": 0.5}


def op_names() -> list[str]:
    return [f"probe.{p}" for p in PROBES] + ["ingest", "forget"]


@dataclass
class ProbeRecord:
    layout: str
    vec: np.ndarray | None
    label: int | None  # the filtered probe's label
    terms: list[str] | None
    got: list[int]
    erased: frozenset
    ingested: tuple  # pass numbers whose increments were in the index


@dataclass
class IndexState:
    """The corpus as the client believes it is: base rows plus ingested
    increments minus erased ids."""

    vecs: dict[int, np.ndarray] = field(default_factory=dict)
    labels: dict[int, int] = field(default_factory=dict)
    erased: set[int] = field(default_factory=set)
    ingested: list[int] = field(default_factory=list)

    def add_vectors(self, path: str) -> None:
        t = pq.read_table(path).to_pydict()
        for i, v, lab in zip(t["vec_id"], t["embedding"], t["label"]):
            self.vecs[i] = np.asarray(v, dtype=np.float32)
            self.labels[i] = lab


def _brute_top(state_vecs: dict[int, np.ndarray], labels: dict[int, int], erased: frozenset,
               q: np.ndarray, label: int | None) -> set[int]:
    ids = [i for i in state_vecs if i not in erased and (label is None or labels[i] == label)]
    m = np.stack([state_vecs[i] for i in ids])
    scores = m @ q.astype(np.float32)
    top = np.argsort(-scores, kind="stable")[:K]
    return {ids[j] for j in top}


class IndexClient:
    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.dir = os.path.join(work, "index")
        self.corpus = os.path.join(self.dir, "corpus")
        self.roots = {lay: os.path.join(self.dir, lay) for lay in LAYOUTS}
        self.docs_ds = os.path.join(self.dir, "docs_ds")
        self.vecs_ds = os.path.join(self.dir, "vecs_ds")
        self.state = IndexState()
        self.passes: dict[int, datagen.IndexPass] = {}
        self.probes: list[ProbeRecord] = []
        self.compactions = 0
        self.increment_bytes: list[int] = []

    # ---- set-up ----------------------------------------------------------

    def build(self) -> float:
        """Seeded corpus, dataset copies and the five layouts, built
        concurrently (the builds are independent).  Returns the build
        wall time."""
        from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
            retrieval as R, similarity as S)

        datagen.write_index_corpus(self.corpus, self.seed)
        for src, ds in (("documents", self.docs_ds), ("embeddings", self.vecs_ds)):
            os.makedirs(ds)
            shutil.copy(os.path.join(self.corpus, f"{src}.parquet"), os.path.join(ds, "part-base.parquet"))
        self.state.add_vectors(os.path.join(self.corpus, "embeddings.parquet"))
        docs = self.spark.read.parquet(os.path.join(self.corpus, "documents.parquet"))
        vecs = self.spark.read.parquet(os.path.join(self.corpus, "embeddings.parquet"))
        r = self.roots
        # one k-means iteration and 8x16 PQ codebooks keep the builds, which
        # are set-up, inside the run budget; recall stays above the floors
        builds = [
            lambda: R.write_bm25_index(docs, r["bm25"], n_buckets=64),
            lambda: S.write_lsh_index(vecs, r["lsh"], planes=4, dims=datagen.EMBED_DIMS),
            lambda: S.write_ivf_index(vecs, r["ivf"], n_clusters=16, iterations=1),
            lambda: S.write_pq_index(vecs, r["pq"], m=8, k=16, iterations=1),
            lambda: S.write_ivfpq_index(vecs, r["ivfpq"], n_clusters=16, m=8, codes_k=16,
                                        coarse_iterations=1, pq_iterations=1, assign_n=1),
        ]
        t0 = time.time()
        with ThreadPoolExecutor(len(builds)) as pool:
            for f in [pool.submit(b) for b in builds]:
                f.result()
        return time.time() - t0

    def prepare_pass(self, pass_no: int) -> None:
        """Write the pass's increment files (untimed, before the pass)."""
        self.passes[pass_no] = datagen.index_pass(self.dir, self.seed, pass_no, self.state.erased)

    # ---- ops ---------------------------------------------------------------

    def run(self, name: str, pass_no: int) -> list[tuple[str, float, float]]:
        """Run one op; returns its layer calls as (span name, start, end)."""
        if name == "ingest":
            return self._ingest(pass_no)
        if name == "forget":
            return self._forget(pass_no)
        return self._probe(name.split(".", 1)[1], pass_no)

    def _probe(self, layout: str, pass_no: int) -> list:
        from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
            retrieval as R, similarity as S)

        inp = self.passes[pass_no]
        spark, r = self.spark, self.roots
        i = PROBES.index(layout) - 1  # vector probes take query vectors 0..4
        vec = inp.query_vecs[i] if layout != "bm25" else None
        q = [float(x) for x in vec] if vec is not None else None
        label = int(inp.query_labels[i]) if layout == "ivf_filtered" else None
        t0 = time.time()
        if layout == "bm25":
            rows = R.bm25_topk_indexed(spark, r["bm25"], inp.bm25_terms, k=K).collect()
        elif layout == "lsh":
            # half of the 16 buckets: at 4 the clusters' spread over the
            # hyperplanes leaves single-query recall as low as 0.1
            rows = S.lsh_topk_indexed(spark, r["lsh"], query_vec=q, k=K, nprobe=8).collect()
        elif layout == "ivf":
            rows = S.ivf_topk_indexed(spark, r["ivf"], q, k=K, nprobe=4).collect()
        elif layout == "ivf_filtered":
            # metadata filter to the query's own label (one in ten rows);
            # nprobe oversampled for that selectivity
            rows = S.ivf_topk_indexed_filtered(spark, r["ivf"], q, f"label = {label}", k=K,
                                               nprobe=8).collect()
        elif layout == "pq":
            corpus = spark.read.parquet(self.vecs_ds)
            rows = S.pq_topk_indexed(spark, r["pq"], corpus, q, k=K, shortlist=100).collect()
        else:
            corpus = spark.read.parquet(self.vecs_ds)
            rows = S.ivfpq_topk_indexed(spark, r["ivfpq"], corpus, q, k=K, nprobe=4,
                                        shortlist=200).collect()
        t1 = time.time()
        id_col = "doc_id" if layout == "bm25" else "vec_id"
        self.probes.append(ProbeRecord(layout, vec, label, inp.bm25_terms if vec is None else None,
                                       [int(row[id_col]) for row in rows],
                                       frozenset(self.state.erased), tuple(self.state.ingested)))
        return [("operators.probe", t0, t1)]

    def _ingest(self, pass_no: int) -> list:
        from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
            retrieval as R, similarity as S)
        from clickstreaming_end_to_end_data_engineering_project_spark.operators.maintenance import (
            maintain_index)

        inp = self.passes[pass_no]
        parts = []
        docs = self.spark.read.parquet(inp.docs_path)
        vecs = self.spark.read.parquet(inp.vecs_path)
        appends = {"bm25": lambda: R.append_bm25_index(docs, self.roots["bm25"]),
                   "lsh": lambda: S.append_lsh_index(vecs, self.roots["lsh"]),
                   "ivf": lambda: S.append_ivf_index(vecs, self.roots["ivf"]),
                   "pq": lambda: S.append_pq_index(vecs, self.roots["pq"]),
                   "ivfpq": lambda: S.append_ivfpq_index(vecs, self.roots["ivfpq"])}
        for lay in LAYOUTS:
            t0 = time.time()
            appends[lay]()
            parts.append((f"operators.append_{lay}", t0, time.time()))
        for lay in LAYOUTS:
            t0 = time.time()
            self.compactions += bool(maintain_index(self.spark, self.roots[lay])["compacted"])
            parts.append(("operators.maintain_index", t0, time.time()))
        # the corpus datasets take the increment too (outside the layer
        # calls; a file copy)
        for src, ds in ((inp.docs_path, self.docs_ds), (inp.vecs_path, self.vecs_ds)):
            shutil.copy(src, os.path.join(ds, f"part-inc-{pass_no}.parquet"))
        self.state.add_vectors(inp.vecs_path)
        self.state.ingested.append(pass_no)
        self.increment_bytes.append(os.path.getsize(inp.docs_path) + os.path.getsize(inp.vecs_path))
        return parts

    def _forget(self, pass_no: int) -> list:
        from clickstreaming_end_to_end_data_engineering_project_spark.operators.maintenance import (
            forget_ids)

        ids = self.passes[pass_no].erase_ids
        t0 = time.time()
        forget_ids(self.spark, ids, index_roots=[self.roots[lay] for lay in LAYOUTS],
                   datasets=[(self.docs_ds, "doc_id"), (self.vecs_ds, "vec_id")])
        t1 = time.time()
        self.state.erased.update(ids)
        return [("operators.forget_ids", t0, t1)]

    # ---- storage ---------------------------------------------------------------

    def snapshot(self) -> dict[str, tuple[int, int]]:
        """path -> (size, mtime_ns) of every data file under the roots."""
        out = {}
        for root in self.roots.values():
            for base, _, names in os.walk(root):
                for n in names:
                    if n.startswith((".", "_")):
                        continue
                    p = os.path.join(base, n)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    def segments(self) -> list[int]:
        """Segment directories per layout, by listing the roots."""
        out = []
        for lay in LAYOUTS:
            seg = os.path.join(self.roots[lay], SEGMENT_ROOT[lay])
            out.append(sum(1 for n in os.listdir(seg)
                           if n.startswith("batch=") and n.split("=", 1)[1].isdigit()))
        return out

    def index_bytes(self) -> int:
        return sum(size for size, _ in self.snapshot().values())

    # ---- correctness gate ------------------------------------------------------

    def gate(self) -> tuple[dict[str, str], dict[str, float]]:
        """({check: failure}, {probe layout: mean recall@10})."""
        from pyspark.sql import functions as F

        from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
            retrieval as R)

        failures: dict[str, str] = {}
        recall: dict[str, list[float]] = {p: [] for p in PROBES}
        for i, rec in enumerate(self.probes):
            leaked = set(rec.got) & rec.erased
            if leaked:
                failures[f"probe {i} {rec.layout}"] = f"returned erased ids {sorted(leaked)[:5]}"
            if rec.layout == "bm25":
                paths = [os.path.join(self.corpus, "documents.parquet")] + [
                    self.passes[p].docs_path for p in rec.ingested]
                docs = self.spark.read.parquet(*paths)
                if rec.erased:
                    docs = docs.filter(~F.col("doc_id").isin(list(rec.erased)))
                want = {int(r["doc_id"]) for r in R.bm25_topk(docs, rec.terms, k=K).collect()}
            else:
                vecs = {i: v for i, v in self.state.vecs.items()
                        if i < datagen.INDEX_ROWS or _pass_of(i) in rec.ingested}
                want = _brute_top(vecs, self.state.labels, rec.erased, rec.vec, rec.label)
            recall[rec.layout].append(len(set(rec.got) & want) / len(want))
        means = {p: sum(v) / len(v) for p, v in recall.items() if v}
        for p, m in means.items():
            if m < RECALL_FLOOR[p]:
                failures[f"recall {p}"] = f"recall@10 {m:.2f} below the floor {RECALL_FLOOR[p]}"
        return failures, means


def _pass_of(vec_id: int) -> int:
    return (vec_id - datagen.INDEX_ROWS) // datagen.INCREMENT_ROWS


def diff(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) that are new or changed between two snapshots."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    return len(changed), sum(after[p][0] for p in changed)
