"""Incremental MinHash-LSH near-dup index — the TEXT member of the
streaming index family, and the engine's one streaming MinHash near-dup
path: ``streaming_neardup`` drains a document stream through it.

The index runs the per-wave protocol of ``wave_index.WaveIndex`` with
MinHash banding for candidates and EXACT shingle-Jaccard verification,
so text pairs feed the composed pipeline (dedup_pipeline.py), a
replayed wave is never folded twice, and takedown is surgical.

Per wave: texts shingle (dedupe.shingle_index — 8-byte hashed 3-grams
+ per-doc counts), sign (k MIN-aggregates in one codegen'd hash
aggregation), band (xxhash64 over signature slices), and join ONLY
against state bands in the buckets the wave touches; candidates verify
exactly (dedupe.verify_pairs) over the wave's shingles plus the state
shingles of candidate docs only. The drained pair set equals the batch
banding answer, which equals the exact-Jaccard pair set the
recursive-CTE DuckDB oracle computes (the same oracle batch
dedup_clusters is green against).

The intra-wave guard runs on the RAW wave (hashed texts): a doc id
delivered twice in one batch with two different texts would have both
texts' grams silently merged by ``shingle_index`` into one doc, and the
union of grams is indistinguishable after shingling.

No exact-duplicate class collapse: every doc is signed and banded
individually, which makes ``forget`` exact and trivial (every ledger
row is a raw per-doc fact) — at the cost that a boilerplate class of C
identical texts occupies its buckets C-deep instead of 1-deep. That
only matters once one class of identical texts approaches
``max_bucket`` (10,000 by default); the test corpora sit far below it
(at sf0.1, 16 of 5,000 docs are in exact-dup classes, the largest has
2 docs). Past the cap the class overflows loudly like any hot bucket,
with the skipped volume quantified; corpora with classes that large
should collapse exact dups upstream (functions/dedupe.dedup_exact is
one groupBy).

State = three raw-fact ledgers: bands (~3 longs × bands/doc), shingles
(∝ corpus distinct grams — the same LSM shape as the substring ledger),
pairs. The SHINGLE ledger is the guard's seen-docs source (overflow
exclusion never removes shingle rows, so even a fully-overflowed doc
stays visible to the guard; zero-shingle docs store nothing and can
never pair, so their invisibility is harmless). A doc updated to a text
with NO shingles is excised and stores nothing. The shingle ledger is
corpus-sized, which is why ``update``'s merge-on-read excision matters
most here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_playground_spark.functions.dedupe import (
    DEFAULT_MAX_BUCKET,
    _band_signatures,
    minhash_signatures,
    shingle_index,
    verify_pairs,
)
from flink_playground_spark.session import scratch_dir
from flink_playground_spark.streaming.wave_index import (
    BandedWaveIndex,
    Ledger,
    _with_candidates,
)


class StreamingMinHashIndex(BandedWaveIndex):
    """Feed ``ingest`` one wave of (doc, text) rows at a time; read
    ``pairs`` for every (id_a, id_b, jaccard) with exact shingle-Jaccard
    >= threshold emitted so far. Implements the shared streaming-index
    surface (``WaveIndex``), so it composes into
    StreamingNearDupPipeline."""

    _LEDGERS = (
        Ledger("bands", ("band", "bucket", "doc"), ("since_batch",), "bands_removed"),
        Ledger("shingles", ("doc", "shingle"), ("n_sh",), "shingles_removed"),
    )
    _SCORE = ("jaccard", "double")
    _CONTENT = "xxhash64(text)"
    _PAYLOAD = "text"

    def __init__(
        self,
        workdir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 128,
        bands: int = 32,
        n: int = 3,
        threshold: float = 0.8,
        max_bucket: int | None = DEFAULT_MAX_BUCKET,
        on_conflict: str = "error",
    ):
        if k % bands:
            raise ValueError(f"k={k} must divide into bands={bands}")
        super().__init__(workdir, on_conflict, max_bucket)
        self.id_col, self.text_col = id_col, text_col
        self.k, self.bands, self.n = k, bands, n
        self.threshold = threshold

    def _source(self, docs: DataFrame) -> DataFrame:
        return docs.select(F.col(self.id_col).alias("doc"), F.col(self.text_col).alias("text"))

    def _prepare(self, docs: DataFrame) -> dict:
        """Shingle (checkpointed — every read below hits it), sign, band
        (checkpointed)."""
        wave_sh = self._pin(shingle_index(docs, "doc", "text", self.n))
        sigs = minhash_signatures(None, "doc", None, self.k, self.n, index=wave_sh)
        banded = self._pin(_band_signatures(sigs, self.bands, self.k // self.bands))
        return {"docs": wave_sh.select("doc").distinct(), "bands": banded, "shingles": wave_sh}

    def _verify(self, w: dict, cand: DataFrame, dead: DataFrame | None, cross: bool) -> DataFrame:
        idx = w["shingles"]
        if cross:
            idx = _with_candidates(idx, self._live_state(idx.sparkSession, dead), cand)
        return verify_pairs(
            idx.select("doc", "n_sh", "shingle"), cand.distinct(), self.threshold
        )


def streaming_neardup(
    doc_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 128,
    bands: int = 32,
    n: int = 3,
    threshold: float = 0.8,
    work_dir: str | None = None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Drain ``doc_stream`` (availableNow) through a fresh
    ``StreamingMinHashIndex``, one micro-batch per wave; returns the
    accumulated (id_a, id_b, jaccard) pairs, which equal the batch
    answer under the cap (no exact-dup class collapse: module
    docstring). Each doc id must arrive in one wave only: a doc
    re-delivered in a later wave fails the stream with the index's
    ``OneWavePerDocViolation``. The drain keeps no stream checkpoint,
    so batch ids restart at 0 and an explicit ``work_dir`` that already
    holds index state is refused."""
    if work_dir and os.path.exists(f"{work_dir}/manifest.json"):
        raise ValueError(f"work_dir {work_dir} already holds index state")
    idx = StreamingMinHashIndex(
        work_dir or scratch_dir("fps_neardup_"),
        id_col, text_col, k, bands, n, threshold, max_bucket,
    )
    writer = doc_stream.writeStream.foreachBatch(lambda b, i: idx.ingest(b, i))
    writer.trigger(availableNow=True).start().awaitTermination()
    if not idx.committed(0):
        raise RuntimeError("document stream produced no data")
    return idx.pairs(doc_stream.sparkSession)
