"""Incremental corpus signatures: per-source MinHash maintained over
document waves.

``corpus_similarity`` (queries.py) compresses each source's shingle SET
to a K-permutation MinHash signature and compares sources
signature-to-signature. The per-permutation statistic is a MIN —
associative and commutative — so the signature folds incrementally:
each wave contributes its per-(source, permutation) partial mins, and
the state merge is ``min(old, new)``. Nothing ever re-reads old
documents; after any number of waves the stored signature is
bit-identical to the batch signature over the union corpus (asserted in
tests), because min is order- and batching-insensitive.

State is ``TransactionalKeyState`` keyed on (source, perm): per-batch IO
touches only the hash buckets the wave's sources land in, and replays
of a delivered wave are skipped exactly once per (writer, batch) — a
replayed min would be HARMLESS (idempotent), the skip just makes it
free and keeps the wave ledger truthful.

At 100 TB this is the shape a corpus-drift monitor runs: signatures are
a few KB per source, waves stream in from ingestion, and the pairwise
similarity matrix is recomputed from signatures alone — the documents
are never touched again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.functions.dedupe import shingle_index
from flink_playground_spark.streaming.txn_state import TransactionalKeyState


class StreamingCorpusSignature:
    """Maintain per-source corpus MinHash signatures over document waves."""

    def __init__(
        self,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        source_col: str = "source",
        k: int = 64,
        n: int = 3,
        writer_id: str = "corpus-sig",
    ):
        self.id_col = id_col
        self.text_col = text_col
        self.source_col = source_col
        self.k = k
        self.n = n
        self.writer_id = writer_id
        self.state = TransactionalKeyState(path, [source_col, "perm"])

    def _partials(self, batch: DataFrame) -> DataFrame:
        """(source, perm, m): the wave's per-permutation min over its
        shingles — one shingle pass, K min-aggregates with map-side
        combine, then a stack to the narrow (perm, m) relation."""
        sh = shingle_index(batch, self.id_col, self.text_col, self.n).join(
            batch.select(
                F.col(self.id_col).alias("doc"),
                F.col(self.source_col).alias("__src"),
            ),
            "doc",
        )
        mins = sh.groupBy("__src").agg(
            *[
                F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"m{i}")
                for i in range(self.k)
            ]
        )
        stacked = mins.select(
            F.col("__src").alias(self.source_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("perm"), F.col(f"m{i}").alias("m")
                        )
                        for i in range(self.k)
                    ]
                )
            ).alias("pm"),
        )
        return stacked.select(self.source_col, "pm.perm", "pm.m")

    def ingest(self, batch: DataFrame, batch_id: int) -> bool:
        """Fold a document wave in; exactly once per (writer, batch)."""
        return self.state.merge_aggregate(
            self.writer_id,
            batch_id,
            self._partials(batch),
            [F.min("m").alias("m")],
        )

    def signatures(self, spark: SparkSession) -> DataFrame:
        """(source, sig array<bigint>) — current corpus signatures."""
        st = self.state.read(spark)
        if st is None:
            raise RuntimeError("no waves ingested")
        return (
            st.groupBy(self.source_col)
            .agg(
                F.array_sort(F.collect_list(F.struct("perm", "m"))).alias("pm")
            )
            .select(
                self.source_col,
                F.transform(F.col("pm"), lambda s: s["m"]).alias("sig"),
            )
        )

    def similarity(self, spark: SparkSession) -> DataFrame:
        """(src_a, src_b, est_jaccard): signature-only pairwise estimate —
        the matrix a drift monitor recomputes per wave without touching
        any document."""
        sig = self.signatures(spark)
        a = sig.select(
            F.col(self.source_col).alias("src_a"), F.col("sig").alias("sa")
        )
        b = sig.select(
            F.col(self.source_col).alias("src_b"), F.col("sig").alias("sb")
        )
        pairs = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
        matches = F.aggregate(
            F.zip_with("sa", "sb", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        return pairs.select(
            "src_a", "src_b", (matches / F.lit(self.k)).alias("est_jaccard")
        )
