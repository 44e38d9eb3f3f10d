"""Incremental hyperplane-LSH cosine near-dup index — the EMBEDDING
member of the streaming index family (the fifth modality on the shared
pipeline surface, after image/audio Hamming, video framesets and text
MinHash).

The batch query (queries.embedding_neardup_lsh) answers "which vector
pairs in this corpus sit at cosine >= threshold" via hyperplane-LSH
bucket collisions + exact cosine re-scoring. This index answers the
pipeline question — *as embedding batches arrive, which of them
near-duplicate anything embedded so far* — with the per-wave protocol
of ``wave_index.WaveIndex``. Every qualifying pair is emitted exactly
once, in the wave of its later member, so the drained pair set equals
the batch answer (embedding_neardup_lsh's bit-exact Python oracle
re-checks exactly that in the parity queries).

Per wave: vectors hash through the SAME ``similarity.lsh_buckets``
expression the batch path uses (deterministic xxhash64-derived
hyperplanes, codegen'd conditional-sum dot products — one bucket per
hash table per vector) and join ONLY against state band rows in the
buckets the wave touches; candidates re-score with the SAME
``similarity.cosine`` left-fold expression over the stored float32
vectors, so streaming and batch sims are bit-identical doubles.

State = three raw-fact ledgers: bands (tables rows/doc of
(table, bucket, doc) — ~24 B each), vectors (the float32 embedding,
once per doc — d×4 B; the wave's COMMIT POINT and the guard's
seen-docs source), pairs. Verification never scans the vector ledger:
it reads the wave's vectors plus the state vectors of candidate docs
only (one semi-join). A doc with a NULL or empty embedding hashes to
no bucket and stores nothing — it can never pair, so its invisibility
to the guard is harmless (same contract as the MinHash index's
zero-shingle docs); a doc updated to one is excised.

Banding recall: identical to the batch operator's — a pair whose
vectors collide in none of the ``tables`` hash tables is missed by
BOTH sides equally (stated per-query, as for MinHash/SimHash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_playground_spark.functions.similarity import cosine, lsh_buckets
from flink_playground_spark.streaming.wave_index import (
    BandedWaveIndex,
    Ledger,
    _with_candidates,
)

# the batch query's own defaults (queries.embedding_neardup_lsh)
DEFAULT_TABLES = 8
DEFAULT_PLANES = 4
DEFAULT_THRESHOLD = 0.4


class StreamingCosineLSHIndex(BandedWaveIndex):
    """Feed ``ingest`` one wave of (doc, embedding) rows at a time;
    read ``pairs`` for every (id_a, id_b, sim) with exact cosine >=
    threshold emitted so far. Implements the shared streaming-index
    surface (``WaveIndex``), so it composes into
    StreamingNearDupPipeline."""

    _LEDGERS = (
        Ledger("bands", "bands", ("table", "bucket", "doc"), ("since_batch",)),
        Ledger("vectors", "vecs", ("doc",), ("vec", "since_batch")),
    )
    _SCORE = ("sim", "double")
    _CONTENT = "xxhash64(vec)"
    _PAYLOAD = "embedding"
    _BAND = "table"

    def __init__(
        self,
        workdir: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        tables: int = DEFAULT_TABLES,
        planes: int = DEFAULT_PLANES,
        threshold: float = DEFAULT_THRESHOLD,
        max_bucket: int | None = None,
        on_conflict: str = "error",
    ):
        """``max_bucket`` defaults to None (no cap) because the batch
        operator this index must drain equal to has none; arm it for
        corpora with degenerate embedding clusters (N identical
        vectors occupy each of their buckets N-deep) — crossings are
        loud and quantified exactly like the other families."""
        super().__init__(workdir, on_conflict, max_bucket)
        self.id_col, self.vec_col = id_col, vec_col
        self.tables, self.planes = tables, planes
        self.threshold = threshold

    def _source(self, docs: DataFrame) -> DataFrame:
        return docs.select(
            F.col(self.id_col).alias("doc"), F.col(self.vec_col).alias("vec")
        ).localCheckpoint(eager=True)

    def _prepare(self, wave: DataFrame) -> dict:
        """Band rows through the SAME lsh_buckets expression as the
        batch path, checkpointed (the vector payload is dropped — band
        rows stay ~24 B)."""
        wave_vecs = wave.dropDuplicates(["doc"])
        banded = (
            lsh_buckets(wave_vecs, "doc", "vec", self.tables, self.planes)
            .select("table", "bucket", F.col("vid").alias("doc"))
            .localCheckpoint(eager=True)
        )
        return {
            "docs": wave_vecs.select("doc").distinct(),
            "bands": banded,
            # a null/empty-embedding doc hashes to no bucket: it stores
            # nothing and can never pair (module docstring)
            "vectors": wave_vecs.join(
                F.broadcast(banded.select("doc").distinct()), "doc", "left_semi"
            ),
        }

    def _verify(self, w: dict, cand: DataFrame, dead: DataFrame | None, cross: bool) -> DataFrame:
        idx = w["vectors"].select("doc", "vec")
        if cross:
            state = self._live_state(idx.sparkSession, dead).select("doc", "vec")
            idx = _with_candidates(idx, state, cand)
        return (
            cand.distinct()
            .join(idx.select(F.col("doc").alias("id_a"), F.col("vec").alias("va")), "id_a")
            .join(idx.select(F.col("doc").alias("id_b"), F.col("vec").alias("vb")), "id_b")
            .withColumn("sim", F.round(cosine(F.col("va"), F.col("vb")), 6))
            .filter(F.col("sim") >= self.threshold)
            .select("id_a", "id_b", "sim")
            .distinct()
        )
