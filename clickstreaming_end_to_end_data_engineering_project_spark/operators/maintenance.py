"""The segmented written-index core: one layout table and one
implementation of the build, append, delete, compact and ingest
mechanics the five written layouts share (BM25 in operators/
retrieval.py; LSH, IVF, PQ and IVFPQ in operators/similarity.py).

Every layout is the same on-disk shape, so each is described by ONE
``Layout`` record in ``LAYOUTS``:

- a params sidecar that identifies it (``maintain_index`` and
  ``forget_ids`` detect the layout from it, so there is no layout
  argument to get wrong);
- a segment root (``""`` = the index root, ``vectors``, ``codes``)
  holding one ``batch=<id>`` directory per build or append, with an
  optional second-level partition column (``bucket``, ``lsh_bucket``,
  ``cluster``) that probes prune on across every segment;
- a thin membership table with one ``batch=<id>`` slice per segment
  (``_doclens``, ``_id_map``) that appends validate id overlap against
  and deletes discover touched segments through — PQ and IVFPQ codes
  are thin enough to serve as their own, and an IVF layout without
  ``_id_map`` falls back to its vector store;
- trained sidecars that compaction copies unchanged (nothing is ever
  retrained by maintenance), and BM25's per-segment derived stats
  (``_termstats``, ``_bm25_params``), recomputed from the postings by
  every delete and compaction.

Sidecar schemas live once, in ``SCHEMAS``.  The layout modules keep
only their math (tokenizing, hashing, training, assignment, encoding,
probing); the crash discipline is here, written once:

- **write order**: params, then the thin slice, then the store segment
  (the dir ``existing_batch_ids`` lists), then derived stats.  A crash
  before the store lands leaves the segment undiscoverable, so a
  default-id retry replays the SAME id and overwrites every slice; a
  crash after it leaves the segment discoverable AND validated, so the
  retry raises the (correct) duplicate error and the healing replay is
  an explicit same-id append, exactly what the ingest sinks do.
- **rebuild**: heal, then a staged swap when the index exists (the old
  index stays probe-able until the new one fully lands), else a direct
  build.
- **delete**: O(touched segments).  Each touched segment is rewritten
  minus the ids through per-segment staged swaps: store, derived
  stats, and the thin slice strictly LAST, because it is the discovery
  table — every earlier crash point leaves the ids listed there, so a
  re-run finds the segment again and heals it.  A segment left empty
  is dropped whole.
- **compact**: one staged swap of the whole root that rewrites the
  store as ``batch=0`` and REBUILDS the thin table and derived stats
  from the store, so slices a crashed append orphaned (thin or stats
  rows whose store segment never landed) can never fold into the
  compacted index.

Every swap is a ``fsutil.swap_with_staging``, so maintenance inherits
its terminal-runs-only rule: never compact or delete while an ingest
stream is writing the index — and NOT from inside the stream's own
foreachBatch either.  The reason is replay idempotence, not
concurrency: a replayed batch id overwrites its own segment, but
compaction FOLDS every segment into ``batch=0``; if the stream crashes
after an in-batch compaction but before the checkpoint commits that
batch, the replay finds no segment under its own id, takes the append
path, and the overlap check sees its rows already folded into
``batch=0`` — the stream wedges on the (correct) duplicate-id error.
Safe cadences: a scheduled job while the stream is stopped, or any
moment the checkpoint is known to be committed past the newest
segment.

No reference counterpart: the reference
(salmansajidsattar/ClickStreaming_End_to_End_Data_Engineering_Project)
has no written-index surface; this module exists for the
LLM-data-pipeline extension mandate's 100 TB serving story.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCHEMAS = {
    "_bm25_params": "n_docs long, sum_dl long, n_buckets int",
    "_termstats": "_t string, _df long",
    "_lsh_params": "planes int, dims int",
    "_ivf_params": "n_clusters int, dims int",
    "_ivf_centroids": "cluster int, centroid array<double>",
    "_pq_params": "m int, k int, dims int",
    "_pq_codebooks": "s int, c int, cv array<double>",
    "_ivfpq_params": "n_clusters int, m int, k int, dims int, assign_n int",
    "_ivfpq_centroids": "cluster int, centroid array<double>",
}


def _bm25_stats(postings: DataFrame, doclens: DataFrame, params: DataFrame):
    """BM25's derived sidecars for the docs in ``postings``/``doclens``:
    per-term df (postings hold one row per (doc, term)), and one
    (n_docs, sum_dl, n_buckets) params row.  n_buckets is carried over
    from the old ``params`` rows inside the same aggregate, so the row
    costs one aggregation and no driver round-trip."""
    rows = doclens.select(
        F.lit(1).alias("_d"), "_dl", F.lit(None).cast("int").alias("n_buckets")
    ).unionByName(
        params.select(
            F.lit(0).alias("_d"), F.lit(None).cast("int").alias("_dl"), "n_buckets"
        )
    )
    return (
        postings.groupBy("_t").agg(F.count(F.lit(1)).alias("_df")),
        rows.agg(
            F.sum("_d").cast("long").alias("n_docs"),
            F.sum("_dl").cast("long").alias("sum_dl"),
            F.max("n_buckets").alias("n_buckets"),
        ),
    )


@dataclass(frozen=True)
class Layout:
    kind: str
    params: str  # the params sidecar that identifies the layout
    segments: str = ""  # segment root relative to the index root
    part_col: "str | None" = None  # second-level partition column
    thin: "str | None" = None  # membership table (None: the store is thin)
    thin_cols: "tuple[str, ...]" = ()  # its columns beside the id
    trained: "tuple[str, ...]" = ()  # unsegmented sidecars, copied by compact
    derived: "tuple[str, ...]" = ()  # per-segment stats, recomputed from the store
    stats: "Callable | None" = None  # (store, thin, params) -> derived frames
    postings: "tuple[str, ...]" = ()  # a posting store's columns beside the id
    id_col: str = "vec_id"
    unit: str = "vectors"  # report keys: n_<unit>, <unit>_deleted
    bootstrap: bool = False  # a stream may build it from its first batch


LAYOUTS = {
    lay.kind: lay
    for lay in (
        Layout(
            "bm25", "_bm25_params", part_col="bucket", thin="_doclens",
            thin_cols=("_dl",), derived=("_termstats", "_bm25_params"),
            stats=_bm25_stats, postings=("_t", "_tf", "_dl"), id_col="doc_id",
            unit="docs", bootstrap=True,
        ),
        Layout(
            "lsh", "_lsh_params", part_col="lsh_bucket", thin="_id_map",
            thin_cols=("lsh_bucket",), trained=("_lsh_params",), bootstrap=True,
        ),
        Layout(
            "ivf", "_ivf_params", "vectors", "cluster", "_id_map", ("cluster",),
            trained=("_ivf_centroids", "_ivf_params"),
        ),
        Layout(
            "ivfpq", "_ivfpq_params", "codes", "cluster",
            trained=("_ivfpq_centroids", "_pq_codebooks", "_ivfpq_params"),
        ),
        Layout("pq", "_pq_params", "codes", trained=("_pq_codebooks", "_pq_params")),
    )
}


def segment_root(root: str, lay: Layout) -> str:
    return os.path.join(root, lay.segments) if lay.segments else root


def read_sidecar(spark, root: str, name: str, seg: "str | None" = None) -> DataFrame:
    """The ``name`` sidecar of the index at ``root`` (one segment's
    slice when ``seg`` is given), read with its declared schema."""
    path = os.path.join(root, name, seg) if seg else os.path.join(root, name)
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def sidecar_df(spark, name: str, rows: list) -> DataFrame:
    """A driver-built sidecar frame with the declared schema."""
    from ..sources.formats import local_rows_df

    return local_rows_df(spark, rows, SCHEMAS[name])


def store_id_column(lay: Layout, columns: "list[str]") -> str:
    """The id column of a posting store, from its fixed schema."""
    return next(c for c in columns if c not in (*lay.postings, lay.part_col, "batch"))


def _exists(spark, path: str) -> bool:
    from ..fsutil import fs_for

    _, fs, hpath = fs_for(spark, path)
    return fs.exists(hpath)


def _thin_root(spark, root: str, lay: Layout) -> str:
    """The membership table to validate and discover against: the thin
    sidecar when the layout has one on disk, else the store itself."""
    if lay.thin and _exists(spark, os.path.join(root, lay.thin)):
        return os.path.join(root, lay.thin)
    return segment_root(root, lay)


def _write_parquet(df: DataFrame, path: str, part_col: "str | None", mode="error") -> None:
    w = df.write.mode(mode)
    if part_col:
        w = w.partitionBy(part_col)
    w.parquet(path)


def heal(spark, root: str, lay: Layout) -> None:
    """A crashed per-segment swap leaves ``batch=<id>.erase_*`` debris
    that would poison partition discovery — heal every segmented dir of
    the layout before any listing or read."""
    from ..fsutil import heal_segment_debris

    for sub in (lay.segments, lay.thin, *lay.derived):
        heal_segment_debris(spark, os.path.join(root, sub) if sub else root)


def detect_index_kind(spark, root: str) -> "Layout | None":
    """The layout of the index at ``root``, identified by its params
    sidecar — None if ``root`` is not a recognized written index."""
    for lay in LAYOUTS.values():
        if _exists(spark, os.path.join(root, lay.params)):
            return lay
    return None


def rebuild(spark, root: str, build: "Callable[[str], None]") -> None:
    """Run ``build(target)`` as a crash-safe (re)build of ``root``:
    heal, then a staged swap when an index already exists — a failure
    anywhere in training or the build writes leaves the old index live
    and probe-able — else a direct build."""
    from ..fsutil import heal_swap_crash, swap_with_staging

    heal_swap_crash(spark, root)
    if _exists(spark, root):
        swap_with_staging(spark, root, build, job="compact")
    else:
        build(root)


def write_segment(
    root: str,
    kind: str,
    batch_id: int,
    store: DataFrame,
    id_col: str,
    params: "tuple[tuple[str, DataFrame], ...]" = (),
    thin: "DataFrame | None" = None,
    derived: "tuple[tuple[str, DataFrame], ...]" = (),
) -> None:
    """Write one ``batch=<id>`` segment in the one crash-safe order:
    ``params`` sidecars (builds and bootstraps; BM25's per-segment
    params slice), the thin slice (default: the store's id and thin
    columns), the store segment, then ``derived`` stats.  Every write
    overwrites, so replaying a batch id rewrites its own segment."""
    lay = LAYOUTS[kind]
    seg = f"batch={batch_id}"
    for name, df in params:
        path = os.path.join(root, name, seg) if name in lay.derived else os.path.join(root, name)
        df.coalesce(1).write.mode("overwrite").parquet(path)
    if lay.thin:
        if thin is None:
            thin = store.select(id_col, *lay.thin_cols)
        thin.write.mode("overwrite").parquet(os.path.join(root, lay.thin, seg))
    _write_parquet(store, os.path.join(segment_root(root, lay), seg), lay.part_col, "overwrite")
    for name, df in derived:
        df.write.mode("overwrite").parquet(os.path.join(root, name, seg))


def existing_segments(spark, root: str, kind: str, verb: str) -> "list[int]":
    """The index's segment ids; raises when there is no index."""
    from ..fsutil import existing_batch_ids

    existing = existing_batch_ids(spark, segment_root(root, LAYOUTS[kind]))
    if not existing:
        raise ValueError(
            f"{verb}: no index at {root} — build one with write_{kind}_index first"
        )
    return existing


def check_overlap(
    spark, root: str, kind: str, new_ids: DataFrame, prior: "list[int]", id_col: str,
    verb: str,
) -> None:
    """Raise if any id in ``new_ids`` already sits in a ``prior``
    segment — checked against the thin membership table, never the
    store's payload (an increment-sized semi-join)."""
    if not prior:
        return
    old = spark.read.parquet(_thin_root(spark, root, LAYOUTS[kind]))
    old = old.filter(F.col("batch").isin(prior)).select(F.col(id_col))
    # isEmpty scans every partition in one job; limit(1).count() runs two
    if not (
        new_ids.select(F.col(id_col).alias("_nid"))
        .join(old, F.col("_nid") == old[id_col], "left_semi")
        .isEmpty()
    ):
        raise ValueError(
            f"{verb}: some new ids already exist in the index — appending "
            "them again would double-count them; delete them first or rebuild"
        )


def begin_append(
    new: DataFrame, root: str, kind: str, id_col: str, col: str,
    batch_id: "int | None", verb: str,
):
    """The append preamble every layout shares: list the segments
    (raises on a missing index), default ``batch_id`` to max+1, read
    the params row, answer "is the increment empty?" and "what are its
    dims?" with ONE first-row probe of the vector column ``col``, and
    validate the new ids against every OTHER segment (an explicit
    ``batch_id`` replays its own segment).  Returns ``(batch_id,
    params)``; params is None for an empty increment, which writes
    nothing (a data-less segment dir breaks schema inference for every
    later probe).  A layout without ``dims`` (BM25) skips the probe:
    its writer sees emptiness after tokenizing anyway."""
    spark = new.sparkSession
    existing = existing_segments(spark, root, kind, verb)
    if batch_id is None:
        batch_id = existing[-1] + 1
    params = read_sidecar(spark, root, LAYOUTS[kind].params).head()
    dims = getattr(params, "dims", None)
    if dims is not None:
        # limit(1).rdd runs the limit as one single-partition job over
        # every partition; head(1) takes incrementally and launches up to
        # three jobs when the leading partitions are empty
        head = new.select(col).limit(1).rdd.collect()
        if not head:
            return batch_id, None
        if len(head[0][0]) != dims:
            raise ValueError(
                f"{verb}: vectors have {len(head[0][0])} dims, index expects {dims}"
            )
    prior = [b for b in existing if b != batch_id]
    check_overlap(spark, root, kind, new.select(id_col), prior, id_col, verb)
    return batch_id, params


def delete(spark, root: str, kind: str, ids: "list", id_col: str) -> "dict[str, int]":
    """Delete ``ids`` from the index at ``root`` — see the module
    docstring for the crash discipline.  Returns
    ``{"segments_rewritten", "segments_removed", "<unit>_deleted"}``;
    unknown ids are a no-op, so a crashed delete heals by re-running."""
    from pyspark.sql.types import StructType

    from ..fsutil import fs_for, swap_with_staging

    lay = LAYOUTS[kind]
    counted = f"{lay.unit}_deleted"
    report = {"segments_rewritten": 0, "segments_removed": 0, counted: 0}
    if not ids:
        return report
    ids = list(ids)
    heal(spark, root, lay)
    existing_segments(spark, root, kind, f"delete_from_{kind}_index")
    seg_root = segment_root(root, lay)
    thin_root = _thin_root(spark, root, lay)
    thin = spark.read.parquet(thin_root)
    # the thin tables hold one row per id and segment; IVFPQ's codes
    # (its own thin table) hold assign_n
    per_seg = F.count(F.lit(1)) if thin_root != seg_root else F.countDistinct(id_col)
    hit = (
        thin.filter(F.col(id_col).isin(ids))
        .groupBy("batch")
        .agg(per_seg.alias("_n"))
        .collect()
    )
    report[counted] = int(sum(r["_n"] for r in hit))
    thin_schema = StructType([f for f in thin.schema if f.name != "batch"])
    gone = ~F.col(id_col).isin(ids)
    jvm, fs, _ = fs_for(spark, root)

    def drop(paths) -> None:
        for p in paths:
            fs.delete(jvm.org.apache.hadoop.fs.Path(p), True)

    def swap(path: str, df: DataFrame, part_col: "str | None" = None) -> None:
        swap_with_staging(
            spark, path, lambda staging: _write_parquet(df, staging, part_col), job="erase"
        )

    thin_kept = None
    for b in sorted(int(r["batch"]) for r in hit):
        seg = f"batch={b}"
        seg_path = os.path.join(seg_root, seg)
        # derived slices, then the thin slice LAST (the discovery table)
        slices = [os.path.join(root, d, seg) for d in lay.derived]
        if thin_root != seg_root:
            slices.append(os.path.join(thin_root, seg))
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(seg_path)):
            # a whole-segment removal crashed between its dir deletes
            drop(slices)
            report["segments_removed"] += 1
            continue
        survivors = spark.read.parquet(seg_path).filter(gone)
        if survivors.isEmpty():
            drop([seg_path, *slices])
            report["segments_removed"] += 1
            continue
        swap(seg_path, survivors, lay.part_col)
        if thin_root != seg_root:
            thin_kept = spark.read.schema(thin_schema).parquet(slices[-1]).filter(gone)
        if lay.stats:
            kept = spark.read.schema(survivors.schema).parquet(seg_path)
            old = read_sidecar(spark, root, lay.params, seg)
            for name, df in zip(lay.derived, lay.stats(kept, thin_kept, old)):
                swap(os.path.join(root, name, seg), df)
        if thin_root != seg_root:
            swap(slices[-1], thin_kept)
        report["segments_rewritten"] += 1
    return report


def compact(spark, root: str, kind: str) -> None:
    """Collapse the index at ``root`` to ONE segment (``batch=0``) in
    one staged swap of the whole root: the store is rewritten, the
    thin table and derived stats are rebuilt from it, and the trained
    sidecars are copied.  Probes are identical before and after (rows
    move, nothing is retrained, every statistic is an exact count or
    integer sum).  Bounds the probe's listing cost after many appends
    (SCALING.md r13: ~7 segments keep probes within ~25% of the
    single-segment floor)."""
    from ..fsutil import fs_for, swap_with_staging

    lay = LAYOUTS[kind]
    heal(spark, root, lay)
    seg_root = segment_root(root, lay)
    thin_root = _thin_root(spark, root, lay)
    jvm, fs, _ = fs_for(spark, root)
    conf = spark._jsc.hadoopConfiguration()

    def _write(staging: str) -> None:
        seg0 = "batch=0"
        store = spark.read.parquet(seg_root).drop("batch")
        _write_parquet(store, os.path.join(staging, lay.segments, seg0), lay.part_col)
        if thin_root != seg_root:
            if lay.postings:
                idc = store_id_column(lay, store.columns)
            else:
                thin_cols = spark.read.parquet(thin_root).columns
                idc = next(c for c in thin_cols if c not in (*lay.thin_cols, "batch"))
            thin = store.select(idc, *lay.thin_cols)
            if lay.postings:  # several rows per id
                thin = thin.distinct()
            thin_path = os.path.join(staging, lay.thin, seg0)
            thin.write.parquet(thin_path)
        if lay.stats:
            # the just-written membership, read back (no re-aggregation)
            written = spark.read.schema(thin.schema).parquet(thin_path)
            old = read_sidecar(spark, root, lay.params)
            for name, df in zip(lay.derived, lay.stats(store, written, old)):
                df.write.parquet(os.path.join(staging, name, seg0))
        for name in lay.trained:
            jvm.org.apache.hadoop.fs.FileUtil.copy(
                fs, jvm.org.apache.hadoop.fs.Path(os.path.join(root, name)),
                fs, jvm.org.apache.hadoop.fs.Path(os.path.join(staging, name)),
                False, conf,
            )

    swap_with_staging(spark, root, _write, job="compact")


def maintain_index(
    spark, root: str, max_segments: int = 7
) -> "dict[str, object]":
    """Apply the recorded compaction policy to the written index at
    ``root``: if its ``batch=<id>`` segment count exceeds
    ``max_segments`` (default 7 — the SCALING.md r13 operating point:
    probes within ~25% of the single-segment floor), ``compact`` it;
    otherwise do nothing.  Returns ``{"kind", "segments_before",
    "segments_after", "compacted"}``.  Raises on a path that is not a
    recognized index — a silent no-op on a typo'd path would read as
    "maintained".  Idempotent and safe on every ingest cadence tick,
    under the terminal-runs-only rule of the module docstring."""
    from ..fsutil import existing_batch_ids

    if max_segments < 1:
        raise ValueError(f"max_segments must be >= 1, got {max_segments}")
    lay = detect_index_kind(spark, root)
    if lay is None:
        raise ValueError(
            f"maintain_index: no recognized written-index layout at {root} "
            "(expected a _bm25/_lsh/_ivf/_ivfpq/_pq params sidecar)"
        )
    heal(spark, root, lay)
    before = len(existing_batch_ids(spark, segment_root(root, lay)))
    compacted = before > max_segments
    if compacted:
        compact(spark, root, lay.kind)
    return {
        "kind": lay.kind,
        "segments_before": before,
        "segments_after": len(existing_batch_ids(spark, segment_root(root, lay))),
        "compacted": compacted,
    }


def forget_ids(
    spark,
    ids: "list",
    index_roots: "tuple[str, ...] | list[str]" = (),
    datasets: "tuple[tuple[str, str], ...] | list[tuple[str, str]]" = (),
    id_col_overrides: "dict[str, str] | None" = None,
) -> "dict[str, dict]":
    """Right-to-be-forgotten CASCADE: erase ``ids`` from every given
    written index (layout auto-detected, then ``delete``) and from
    every ``(parquet_path, id_col)`` dataset (staged-swap row rewrite
    via ``etl.delete_user_data``) — the capstone verb over the
    per-store deletes, for the erasure-request case where one id must
    vanish from the corpus AND every derived serving store in one
    operation.

    Crash/replay discipline: every step is individually crash-safe
    (staged swaps) and IDEMPOTENT (deleting absent ids is a no-op), so
    the cascade's contract is run-to-completion-or-re-run — keep the
    erasure request (the ids) until a full pass completes, exactly the
    GDPR request-log practice.  Derived stores are erased BEFORE the
    datasets: a crash mid-cascade then leaves the corpus row present
    as the discoverable record that the request is unfinished, rather
    than indexes silently serving ids whose source row is already
    gone.

    Returns {("index"|"dataset", target_path): report} with each
    delete's own counts plus {"rows_removed": n} per dataset — keys are
    ROLE-NAMESPACED tuples, not bare paths, so a path appearing both as
    an index root and a dataset can never silently overwrite an
    earlier report entry and hide erasure evidence.  Raises, before
    anything is erased, on a root with no recognized layout (a typo'd
    path must not read as "forgotten"), on a target listed twice, and
    on NESTED index roots (one inside another).

    Concurrency: the per-store deletes target DISJOINT roots — every
    staged-swap artifact is path-scoped (``<path>.<job>_staging`` /
    ``.<job>_old``), so two deletes can only race when one root is the
    other or lies inside it, which the validation above rejects.  Index
    deletes therefore run through a small driver thread pool (each
    delete's own swap sequence stays serial inside its thread), and
    the dataset rewrites do the same AFTER all index deletes complete
    — the indexes-before-datasets crash ordering is a barrier between
    the two pools, not a serialization within them.  Every submitted
    delete is awaited (no store is left mid-swap by an abandoned
    future), then the first failure in input order is re-raised."""
    # validate BEFORE the first delete runs: a bad target must fail
    # with zero side effects, not after earlier stores were already
    # irreversibly erased
    norm = [os.path.normpath(r) for r in index_roots]
    for i, a in enumerate(norm):
        for b in norm[i + 1:]:
            if a == b:
                raise ValueError(f"forget_ids: index root listed twice: {a}")
            if b.startswith(a + os.sep) or a.startswith(b + os.sep):
                raise ValueError(f"forget_ids: nested index roots: {a} and {b}")
    seen_ds = set()
    for path, _ in datasets:
        if path in seen_ds:
            raise ValueError(f"forget_ids: dataset listed twice: {path}")
        seen_ds.add(path)
    overrides = id_col_overrides or {}
    index_jobs = []
    for root in index_roots:
        lay = detect_index_kind(spark, root)
        if lay is None:
            raise ValueError(
                f"forget_ids: no recognized written-index layout at {root}"
            )
        index_jobs.append((root, lay))

    def _run_index(job):
        root, lay = job
        res = delete(spark, root, lay.kind, ids, overrides.get(root, lay.id_col))
        return ("index", root), {"kind": lay.kind, **res}

    def _run_dataset(ds):
        path, id_col = ds
        from ..etl import delete_user_data

        removed = delete_user_data(spark, path, ids, user_col=id_col)
        return ("dataset", path), {"kind": "dataset", "rows_removed": removed}

    report: "dict[tuple[str, str], dict]" = {}
    report.update(run_pooled(index_jobs, _run_index))
    # barrier: datasets start only after every index delete finished
    report.update(run_pooled(list(datasets), _run_dataset))
    return report


def run_pooled(jobs: list, runner) -> list:
    """``[runner(j) for j in jobs]`` through a pool of up to 3 driver
    threads — inline for a single job, so its Spark jobs keep the
    caller's job group.  Every future is awaited before the first
    failure (in input order) is re-raised, so no job is abandoned
    mid-write."""
    from concurrent.futures import ThreadPoolExecutor

    if len(jobs) <= 1:
        return [runner(j) for j in jobs]
    with ThreadPoolExecutor(max_workers=min(3, len(jobs))) as pool:
        futures = [pool.submit(runner, j) for j in jobs]
        results, first_err = [], None
        for fut in futures:
            try:
                results.append(fut.result())
            except BaseException as exc:  # noqa: BLE001
                if first_err is None:
                    first_err = exc
        if first_err is not None:
            raise first_err
        return results
