"""Incremental Hamming-fingerprint near-dup index (image phash, audio
fingerprints — any 64-bit modality).

The batch queries (queries.phash_image_neardup /
audio_fingerprint_neardup) answer "which pairs in this corpus sit
within Hamming 3". This index answers the pipeline question: *as media
batches arrive, which of them duplicate anything seen so far* — the
streaming counterpart the text families already have
(minhash_index.py for MinHash, substring_dedup.py for exact
substrings). The index never sees pixels or PCM: callers hash upstream
(multimodal.perceptual_hash, multimodal.audio_fingerprint) and feed
(doc, sh) 64-bit fingerprints, so ONE index implementation serves every
Hamming-fingerprint modality. The per-wave protocol (replay probe,
guards, bucket cap, one commit, ``update``, ``forget``) is
``wave_index.WaveIndex``'s.

Kernel: the wave's fingerprints band into 4 rows/doc
(dedupe.simhash_chunks — the same 4x16 pigeonhole grid as the batch
path); candidates carry both fingerprints through the bucket join and
verify with an exact bit_count, so state is never re-read for
verification. State: 4 x (band, bucket, doc, 8-byte hash) rows per doc
— ~48B/doc regardless of media payload size.

The guard's seen-docs source is a committed-docs ledger (8B/doc), not
the bands ledger: a doc whose every bucket overflowed (N all-black
images hashing to one value) stores zero band rows yet was absolutely
seen, and silently re-folding it later is exactly the wrong answer the
guard exists to refuse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.functions.dedupe import (
    DEFAULT_MAX_BUCKET,
    simhash_chunks,
)
from flink_playground_spark.streaming.wave_index import (  # noqa: F401 — re-exported
    BandedWaveIndex,
    IntraWaveConflict,
    Ledger,
    OneWavePerDocViolation,
)


class StreamingPhashIndex(BandedWaveIndex):
    """Keyed on 64-bit fingerprints: feed ``ingest`` one wave of
    (doc, sh) rows at a time (media -> hash happens upstream), read
    ``pairs`` for every near-dup pair emitted so far. Modality-agnostic
    — the same index instance serves image perceptual hashes and audio
    energy-envelope fingerprints (``StreamingHammingIndex`` is the
    honest alias)."""

    _LEDGERS = (
        # docs keeps a doc whose bands all overflowed visible to the
        # guard (module docstring)
        Ledger("docs", ("doc",), ("since_batch",), None),
        Ledger("bands", ("band", "bucket", "doc"), ("sh",), "bands_removed"),
    )
    _SCORE = ("hamming", "int")
    _CONTENT = "sh"
    _PAYLOAD = "fingerprint"
    _CARRY = ("sh",)

    def __init__(
        self,
        workdir: str,
        max_hamming: int = 3,
        max_bucket: int | None = DEFAULT_MAX_BUCKET,
        on_conflict: str = "error",
    ):
        """``on_conflict`` arms the one-wave-per-doc guard: a wave doc
        already committed in an earlier wave either raises (``"error"``,
        default — the loudest correct behavior) or is routed whole to a
        quarantine ledger and excluded from the wave (``"quarantine"``,
        for pipelines that must keep draining; the ledger is surfaced
        in ``ops_metrics`` so the violation is never silent)."""
        super().__init__(workdir, on_conflict, max_bucket)
        self.max_hamming = max_hamming

    def _source(self, fp: DataFrame) -> DataFrame:
        # the 48B/doc banded rows carry ``sh``, so every guard and join
        # reads this checkpoint, never the caller's lineage
        return self._pin(simhash_chunks(fp.select("doc", "sh")))

    def _prepare(self, banded: DataFrame) -> dict:
        docs = banded.select("doc").distinct()
        return {"docs": docs, "bands": banded}

    def _seen_docs(self, spark: SparkSession) -> DataFrame | None:
        return self._docs.read(spark)

    def _verify(self, w: dict, cand: DataFrame, dead: DataFrame | None, cross: bool) -> DataFrame:
        ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        return (
            cand.distinct()
            .withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= self.max_hamming)
            .select("id_a", "id_b", "hamming")
            .distinct()
        )


# the index is fingerprint-agnostic; the historical name says "phash"
# because images shipped first — audio callers use this alias
StreamingHammingIndex = StreamingPhashIndex
