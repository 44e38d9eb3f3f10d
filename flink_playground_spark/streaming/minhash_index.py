"""Incremental MinHash-LSH near-dup index on the shared pipeline
surface — the TEXT member of the streaming index family.

The text modality already had a streaming near-dup operator
(streaming/neardup.py), but it predates the shared streaming-index
contract: a foreachBatch closure over plain append-only parquet with an
exact-dup class registry, no ``committed``/``pairs_for_batch``/
``forget`` surface — so text pairs could not feed the composed
pipeline (dedup_pipeline.py), and takedown could not be surgical (a
class registry folds doc identity into rep identity). This index is
the contract-complete counterpart: the per-wave protocol of
``wave_index.WaveIndex``, with MinHash banding for candidates and EXACT
shingle-Jaccard verification.

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

Design choice vs streaming/neardup.py: NO exact-duplicate class
collapse. Every doc is signed and banded individually, which makes
``forget`` exact and trivial (every ledger row is a raw per-doc fact)
and the pipeline surface uniform — at the cost that a boilerplate
class of C identical texts occupies its buckets C-deep instead of
1-deep. The bucket cap keeps that loud and bounded (a class crossing
``max_bucket`` overflows exactly like any hot bucket, with the skipped
volume quantified); corpora where boilerplate classes approach the cap
should collapse exact dups upstream (functions/dedupe.exact_dedup is
one groupBy) or use streaming/neardup.py's rep-collapsed fold.

State = three raw-fact ledgers: bands (~3 longs × bands/doc), shingles
(∝ corpus distinct grams — the same LSM shape as the substring
ledger), pairs. The SHINGLE ledger is the wave's commit point and the
guard's seen-docs source (overflow exclusion never removes shingle
rows, so even a fully-overflowed doc stays visible to the guard;
zero-shingle docs store nothing and can never pair, so their
invisibility is harmless). A doc updated to a text with NO shingles is
excised and stores nothing. The shingle ledger is corpus-sized, which
is why ``update``'s merge-on-read excision matters most here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_playground_spark.functions.dedupe import (
    DEFAULT_MAX_BUCKET,
    _band_signatures,
    minhash_signatures,
    shingle_index,
    verify_pairs,
)
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
        Ledger("bands", "bands", ("band", "bucket", "doc"), ("since_batch",)),
        Ledger("shingles", "shingles", ("doc", "shingle"), ("n_sh",)),
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
        wave_sh = shingle_index(docs, "doc", "text", self.n).localCheckpoint(eager=True)
        sigs = minhash_signatures(None, "doc", None, self.k, self.n, index=wave_sh)
        banded = _band_signatures(sigs, self.bands, self.k // self.bands).localCheckpoint(
            eager=True
        )
        return {"docs": wave_sh.select("doc").distinct(), "bands": banded, "shingles": wave_sh}

    def _verify(self, w: dict, cand: DataFrame, dead: DataFrame | None, cross: bool) -> DataFrame:
        idx = w["shingles"]
        if cross:
            idx = _with_candidates(idx, self._live_state(idx.sparkSession, dead), cand)
        return verify_pairs(
            idx.select("doc", "n_sh", "shingle"), cand.distinct(), self.threshold
        )
