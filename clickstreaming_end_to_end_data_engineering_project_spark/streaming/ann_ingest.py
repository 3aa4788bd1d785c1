"""Streaming ANN index ingestion — the live half of the segmented
written-vector layouts in operators/similarity.py, completing the
ingest-twin pattern (near_dedup → MinHash-LSH bands, sketch_ingest →
HLL rollups, bm25_ingest → inverted index, this module → the vector
indexes):

- ``LshIngestSink``: each micro-batch of vectors becomes one
  ``batch=<id>`` segment of a ``write_lsh_index`` layout.  Hyperplanes
  are content-deterministic (xxhash64 seeds, nothing trained), so the
  sink can BOOTSTRAP the index from its first micro-batch and the
  streamed index is bit-identical to a batch build over the same
  vectors — pinned by test.
- ``IvfIngestSink``: requires a PRE-TRAINED ``write_ivf_index`` layout
  (centroids are learned — a stream cannot train them before seeing
  data); each micro-batch is assigned to the stored centroids and
  appended as one segment (Faiss's add-after-train model).  Probe
  exactness over probed clusters is unconditional; recall at serving
  nprobe drifts only as far as the streamed data drifts from the
  training sample — retraining is a rebuild, exactly as in batch.
- ``PqIngestSink`` / ``IvfpqIngestSink`` (r14, with the batch appends
  they wrap): pre-trained layouts required for the same reason
  (codebooks — and for IVFPQ the coarse centroids — are trained
  state); each micro-batch is encoded against the STORED codebooks
  into one ``codes/batch=<id>`` segment.  A streamed PQ index equals
  a same-codebook batch build bit-for-bit (encoding is deterministic
  given the codebooks); IVFPQ additionally inherits the IVF recall
  caveat under distribution drift.

All of them (and streaming/bm25_ingest.Bm25IngestSink) are one
``SegmentIngestSink`` over the operators/maintenance layout table,
and inherit replay idempotence from the explicit ``batch_id``
overwrite semantics of ``append_*_index``: a re-delivered micro-batch
rewrites its own segment's directories, so crashed or replayed
batches can never double-insert a vector.  Compaction must NOT run
from inside a live stream's cadence — see the operators/maintenance
module docstring for the replay-wedge analysis.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame

from ..operators import similarity as S


class SegmentIngestSink:
    """foreachBatch callable: each non-empty micro-batch becomes one
    ``batch=<micro-batch id>`` segment of the written index at
    ``index_dir`` through the layout's ``append`` verb, under the
    explicit id (replay-idempotent).  A layout that needs no training
    (``Layout.bootstrap``) is built by the ``bootstrap`` writer from the
    first micro-batch — also when the only segment is this batch's own
    and the params sidecar is missing, the replay of a first batch that
    crashed before its params landed.  ``geometry`` is the bootstrap
    writer's build parameters; later segments read them back from the
    params sidecar, so they can never drift."""

    kind = ""
    append = None
    bootstrap = None

    def __init__(
        self,
        index_dir: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        **geometry,
    ) -> None:
        self.index_dir = index_dir
        self.id_col = id_col
        self.vec_col = vec_col
        self.geometry = geometry

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        import os

        from ..fsutil import existing_batch_ids, fs_for
        from ..operators.maintenance import LAYOUTS, segment_root

        spark = batch.sparkSession
        lay = LAYOUTS[self.kind]
        if lay.bootstrap:
            existing = existing_batch_ids(spark, segment_root(self.index_dir, lay))
            _, fs, params = fs_for(spark, os.path.join(self.index_dir, lay.params))
            if not existing or (existing == [batch_id] and not fs.exists(params)):
                type(self).bootstrap(
                    batch, self.index_dir, batch_id, self.id_col, self.vec_col,
                    **self.geometry,
                )
                return
        type(self).append(batch, self.index_dir, self.id_col, self.vec_col, batch_id)


class LshIngestSink(SegmentIngestSink):
    """Micro-batches of (id, vector) rows → LSH index segments;
    bootstraps the layout from the first batch (hyperplanes are
    content-deterministic, so the streamed index is bit-identical to a
    batch build over the same vectors)."""

    kind = "lsh"
    append = S.append_lsh_index
    bootstrap = partial(S._write_lsh_segment, write_params=True)

    def __init__(
        self,
        index_dir: str,
        planes: int = 4,
        dims: int = 64,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        super().__init__(index_dir, id_col, vec_col, planes=planes, dims=dims)


class IvfIngestSink(SegmentIngestSink):
    """Micro-batches → segments of a PRE-TRAINED IVF layout (raises if
    the index does not exist — train first with ``write_ivf_index``)."""

    kind = "ivf"
    append = S.append_ivf_index


class PqIngestSink(SegmentIngestSink):
    """Micro-batches → ``codes/batch=<id>`` segments of a PRE-TRAINED
    PQ layout, encoded against the stored codebooks."""

    kind = "pq"
    append = S.append_pq_index


class IvfpqIngestSink(SegmentIngestSink):
    """Micro-batches → ``codes/batch=<id>/cluster=<c>/`` segments of a
    PRE-TRAINED IVFPQ layout (assignment to the stored coarse
    centroids + residual encoding against the stored codebooks)."""

    kind = "ivfpq"
    append = S.append_ivfpq_index
