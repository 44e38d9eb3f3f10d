"""Day-2 operations capstone: the maintenance jobs around a live table.

Queries are day 1. A table that ingests forever needs the operational
loop this example runs end to end:

1. OBSERVE — ingest a fragmented write with in-flight quality metrics
   (``observability.py``): row counts and null rates from the ingest
   job's own tasks, no second scan;
2. COMPACT — collapse the small files to byte-targeted, sorted files
   (``operators/layout.py: compact_files``), atomically;
3. SNAPSHOT — publish the compacted table as a manifest-committed
   version (``operators/snapshots.py``), then publish an updated v2 and
   time-travel back to v1;
4. EXACTLY-ONCE AGG — maintain a running per-user aggregate over change
   batches through the transactional state (``streaming/txn_state.py``),
   surviving a replayed batch without double counting;
5. RESCALE — rewrite the state under more buckets in one transaction;
6. INDEX OPS — poll every streaming dedup ledger's day-2 metrics in
   one call per pipeline: the substring ledger, the composed near-dup
   pipeline (Hamming index + incremental clusters), and the video
   frameset index;
7. TAKEDOWN — forget a canonical doc through BOTH pipeline stages and
   verify the cascade relabeled its cluster — both stages land in one
   commit, so an interrupted takedown is simply repeated;
8. UPDATE — the changed-doc flow an operator actually runs: detect
   drifted content via an exact-fingerprint mismatch, fold the changed
   docs through ``pipe.update`` (one batch id, atomic per-ledger
   rewrites), and verify the before/after ops metrics and cluster
   moves.

Run: ``python examples/pipeline_day2_ops.py``
"""

import pathlib
import sys
import tempfile

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from flink_playground_spark import get_spark
from flink_playground_spark.observability import observed, quality_metrics
from flink_playground_spark.operators.layout import compact_files
from flink_playground_spark.operators.snapshots import (
    read_snapshot,
    snapshot_history,
    snapshot_write,
)
from flink_playground_spark.sources.tables import load_table
from flink_playground_spark.streaming.txn_state import TransactionalKeyState

SF = "/root/testdata/sf0.01"


def main() -> None:
    spark = get_spark()
    work = tempfile.mkdtemp(prefix="day2_")

    # 1. observed ingest (deliberately fragmented: 48 writers)
    events, obs = observed(
        load_table(spark, SF, "events"), *quality_metrics(["props"], "value")
    )
    frag = f"{work}/events_raw"
    events.repartition(48).write.parquet(frag)
    print(f"ingested with metrics (no second scan): {obs.get}")

    # 2. compaction: byte-targeted, clustered on user_id
    stats = compact_files(spark, frag, target_bytes=1 << 20, sort_by=["user_id"])
    print(f"compacted {stats['files_before']} files -> {stats['files_after']}")

    # 3. versioned publish + time travel
    table = f"{work}/events_table"
    v1 = snapshot_write(spark.read.parquet(frag), table, ts=1000.0)
    v2 = snapshot_write(
        spark.read.parquet(frag).filter(F.col("event_type") != "error"), table, ts=2000.0
    )
    n_v1 = read_snapshot(spark, table, version=v1).count()
    n_latest = read_snapshot(spark, table).count()
    n_asof = read_snapshot(spark, table, as_of_ts=1500.0).count()
    print(f"history={snapshot_history(table)}")
    print(f"v1 rows={n_v1}, latest (v{v2}) rows={n_latest}, as-of t=1500 rows={n_asof}")
    assert n_asof == n_v1 > n_latest

    # 4. exactly-once running aggregate under a replayed batch
    st = TransactionalKeyState(f"{work}/agg_state", ["user_id"], n_buckets=8)
    agg = [F.sum("n").alias("n"), F.sum("v").alias("v")]

    def partials(wave):
        return wave.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")
        )

    w0 = events.filter(F.col("event_id") % 2 == 0)
    w1 = events.filter(F.col("event_id") % 2 == 1)
    st.merge_aggregate("ingestq", 0, partials(w0), agg)
    st.merge_aggregate("ingestq", 1, partials(w1), agg)
    replay = st.merge_aggregate("ingestq", 1, partials(w1), agg)  # crash replay
    total = st.read(spark).agg(F.sum("n")).first()[0]
    print(f"replayed batch applied={replay}; state rows total n={total}")
    assert replay is False and total == events.count()

    # 5. rescale the state's bucket count (savepoint rescale-on-restore):
    # the stream outgrew 8 buckets; rewrite under 32 in one transaction.
    # Content, totals, and the replay ledger all survive — the replayed
    # batch is STILL a no-op afterwards.
    st.rebucket(spark, 32)
    still_skipped = st.merge_aggregate("ingestq", 1, partials(w1), agg)
    total2 = st.read(spark).agg(F.sum("n")).first()[0]
    print(f"rescaled 8->32 buckets; replay skipped={not still_skipped}; n={total2}")
    assert still_skipped is False and total2 == total

    # 6. streaming-index day-2 metrics: the dedup ledgers expose the
    # same operational surface the PQ index's metrics log does — live
    # delta count (read fan-in, bounded by compact_every), committed
    # bytes/rows, per-writer replay ledger, overflow. All file-level:
    # a dashboard polls them without a Spark session.
    from flink_playground_spark.functions.multimodal import (
        perceptual_hash,
        synth_block_image,
    )
    from flink_playground_spark.streaming.phash_index import StreamingPhashIndex
    from flink_playground_spark.streaming.substring_dedup import StreamingSubstringLedger

    docs = load_table(spark, SF, "documents").select("doc_id", "text")

    led = StreamingSubstringLedger(f"{work}/substr_ledger")
    led.ingest(docs.filter(F.col("doc_id") % 2 == 0), writer_id="ingestq", batch_id=0)
    led.ingest(docs.filter(F.col("doc_id") % 2 == 1), writer_id="ingestq", batch_id=1)
    led.ingest(docs.filter(F.col("doc_id") % 2 == 1), writer_id="ingestq", batch_id=1)  # replay
    lm = led.ops_metrics()
    print(f"substring ledger ops: {lm}")
    assert lm["grams"]["rows"] > 0 and lm["grams"]["writers"] == {"ingestq": 1}
    assert lm["grams"]["live_deltas"] <= led.state.compact_every

    # the image path runs as the full COMPOSED pipeline: doc waves ->
    # Hamming index -> wave pairs -> incremental clusters, one fold per
    # wave; ops_metrics covers every ledger of both stages in one call
    from flink_playground_spark.streaming.dedup_pipeline import (
        StreamingNearDupPipeline,
    )

    pipe = StreamingNearDupPipeline(StreamingPhashIndex(f"{work}/neardup_pipe/idx"))
    small = docs.select("doc_id").filter(F.col("doc_id") < 120)

    def synth(batches):
        for pdf in batches:
            blobs = [synth_block_image(int(d)) for d in pdf["doc_id"]]
            yield pdf[["doc_id"]].assign(blob=blobs)

    for wave in range(3):
        blobs = small.filter(F.col("doc_id") % 3 == wave).mapInPandas(
            synth, schema="doc_id bigint, blob binary"
        )
        fp = perceptual_hash(blobs, kind="ahash").selectExpr(
            "doc_id AS doc", "phash AS sh"
        ).where("phash IS NOT NULL")
        pipe.ingest(fp, batch_id=wave)
    pm = pipe.ops_metrics()
    n_pairs = pipe.pairs(spark).count()
    n_clusters = pipe.mapping(spark).select("comp").distinct().count()
    print(f"neardup pipeline ops (index + clusters): {pm}")
    print(f"pairs so far: {n_pairs}; duplicate clusters: {n_clusters}")
    assert pm["index"]["bands"]["rows"] > 0 and n_pairs > 0 and n_clusters > 0
    assert pm["index"]["overflow"]["rows"] == 0  # healthy corpus: nothing traded
    assert pm["index"]["overflow_rows_skipped"] == 0
    assert pm["index"]["quarantine"]["rows"] == 0  # no one-wave-per-doc violations
    assert pm["clusters"]["mapping"]["rows"] > 0

    # the video modality's index exposes the identical surface
    from flink_playground_spark.streaming.frameset_index import StreamingFrameSetIndex

    fs = StreamingFrameSetIndex(f"{work}/frameset_index", threshold=0.8)
    shingles = [(1, list(range(10))), (2, list(range(10))), (3, [99, 98, 97])]
    for wave, (doc, sh) in enumerate(shingles):
        fs.ingest(
            spark.createDataFrame([(doc, s) for s in sh], "doc long, shingle long"),
            batch_id=wave,
        )
    fm = fs.ops_metrics()
    print(f"frameset index ops: {fm}")
    assert fm["grams"]["rows"] > 0 and fm["quarantine"]["rows"] == 0

    # 7. takedown CASCADE: forget one canonical doc through BOTH stages
    # — its bands/pairs leave the index, its cluster survivors relabel
    # to the new minimum, and no forgotten id survives even as a label
    victim = pipe.mapping(spark).agg(F.min("comp")).first()[0]
    fstats = pipe.forget(spark, [victim])
    print(f"takedown of doc {victim}: {fstats}")
    left = pipe.mapping(spark)
    assert left.filter(
        (F.col("node") == victim) | (F.col("comp") == victim)
    ).count() == 0
    # both stages landed in ONE manifest replace: a crash anywhere in
    # the takedown leaves it wholly unapplied, and repeating it heals
    assert fstats["clusters"]["forgotten"] == 1

    # 8. UPDATE — the changed-doc flow. Upstream re-extracted the
    # corpus and some docs' content DRIFTED. Detect them the way an
    # operator does — hash today's snapshot and diff against
    # yesterday's fingerprints (exact mismatch, one join) — then fold
    # the changed docs through pipe.update: ONE batch id, per-ledger
    # atomic rewrites, stale pairs retracted, new pairs emitted,
    # clusters relabeled. Here doc 9 (class {9,10,11}) drifts to the
    # content of class {15,16,17}.
    def synth_drifted(batches):
        for pdf in batches:
            blobs = [
                synth_block_image(16 if int(d) == 9 else int(d))
                for d in pdf["doc_id"]
            ]
            yield pdf[["doc_id"]].assign(blob=blobs)

    def fps_of(synth_fn):
        blobs = small.mapInPandas(synth_fn, schema="doc_id bigint, blob binary")
        return perceptual_hash(blobs, kind="ahash").selectExpr(
            "doc_id AS doc", "phash AS sh"
        ).where("phash IS NOT NULL")

    today = fps_of(synth_drifted)
    yesterday = fps_of(synth)
    changed = (
        today.alias("t")
        .join(yesterday.alias("y"), "doc")
        .filter(F.col("t.sh") != F.col("y.sh"))
        .select("doc", F.col("t.sh").alias("sh"))
    )
    changed_ids = sorted(r["doc"] for r in changed.select("doc").collect())
    print(f"content drift detected (exact fingerprint mismatch): docs {changed_ids}")
    assert changed_ids == [9]

    before_pairs = {
        (r["id_a"], r["id_b"]) for r in pipe.pairs(spark).collect() if 9 in (r["id_a"], r["id_b"])
    }
    pipe.update(changed, batch_id=3)
    after = {r["node"]: r["comp"] for r in pipe.mapping(spark).collect()}
    after_pairs = {
        (r["id_a"], r["id_b"]) for r in pipe.pairs(spark).collect() if 9 in (r["id_a"], r["id_b"])
    }
    print(f"doc 9 pairs before update: {sorted(before_pairs)}; after: {sorted(after_pairs)}")
    print(f"doc 9 cluster after update: {after.get(9)} (class 15..17 label: {after.get(16)})")
    # old class pairs retracted, new class joined, labels consistent —
    # and the metrics stayed clean (no quarantine)
    assert before_pairs == {(9, 10), (9, 11)} and after_pairs == {(9, 15), (9, 16), (9, 17)}
    assert after[9] == after[16] == after[15] == after[17] == 9  # min id is the label
    assert after[10] == after[11] == 10  # the old class relabeled without 9
    pm2 = pipe.ops_metrics()
    assert pm2["index"]["quarantine"]["rows"] == 0

    print(
        "day-2 loop complete: observe -> compact -> snapshot -> "
        "exactly-once agg -> rescale -> pipeline + index ops metrics -> "
        "takedown (one commit) -> changed-doc update"
    )


if __name__ == "__main__":
    main()
