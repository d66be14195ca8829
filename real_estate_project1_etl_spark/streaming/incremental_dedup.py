"""Continuous-ingestion near-dup filtering — the streaming form of
two-phase minhash dedup (operators/dedup.py), the steady-state shape of a
100 TB training-data pipeline: new documents arrive continuously, are mined
against the MATERIALIZED corpus signature store (never against raw corpus
text), and only survivors' signatures are appended to the store.

Extends the reference's poll-loop ingest protocol (reference: dag.py:45-53)
from "load every new file" to "load every new file that is not a near-dup
of anything already loaded".

Scale shape per micro-batch: signatures are computed for the batch only;
the corpus contributes banding keys (16-byte buckets) plus the shingles of
actual candidates — work is O(batch + collisions), not O(corpus). The
signature store is parquet partitioned by batch_id, so replayed batches
overwrite their own partition (exactly-once under the checkpoint's replay
contract) and a 1000-executor reader prunes to nothing when re-reading.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import incremental_minhash_pairs, minhash_signature_table


def _load_signature_store(spark: SparkSession, store_path: str, like: DataFrame) -> DataFrame:
    """The accumulated survivor signatures, or an empty frame with the same
    schema on the bootstrap batch (store not yet created).  Only the
    missing-path case bootstraps — a corrupt or unreadable store must
    FAIL the batch (silently deduping against nothing would re-admit the
    whole corpus)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(store_path).select("id", "sh", "sig")
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            return like.limit(0)
        raise


def incremental_dedup_batch(
    batch_df: DataFrame,
    base_sig: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int | None = None,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.6,
) -> tuple[DataFrame, DataFrame]:
    """One ingest step: mine the batch against the corpus signatures and
    return ``(survivors, survivor_signatures)``.

    Drop rule (first-wins, matching ``operators.cleaning.dedup_first``'s
    determinism contract): a new document is dropped iff it is a verified
    near-dup of a corpus document, or of a SMALLER-id document in its own
    batch.  Within-batch chains resolve greedily by id — the lowest id of
    a dup cluster always survives, replays included, so the decision is a
    pure function of (batch, store) and micro-batch replay is idempotent.
    """
    new_sig = minhash_signature_table(
        batch_df, text_col, id_col, num_hashes, shingle_n
    )
    from pyspark import StorageLevel

    new_sig = new_sig.persist(StorageLevel.MEMORY_AND_DISK)
    pairs = incremental_minhash_pairs(
        new_sig, base_sig, num_hashes, bands, jaccard_threshold
    )
    new_ids = new_sig.select("id")
    # canonical pairs (id_a < id_b): the greater side of any pair touching a
    # new id is dropped when it is new; additionally a new id_a loses to a
    # GREATER-id corpus id_b (the corpus always wins regardless of id order).
    drop_hi = pairs.join(new_ids.withColumnRenamed("id", "id_b"), "id_b").select(
        F.col("id_b").alias("id")
    )
    drop_lo = (
        pairs.join(
            base_sig.select(F.col("id").alias("id_b")), "id_b", "left_semi"
        )
        .join(new_ids.withColumnRenamed("id", "id_a"), "id_a")
        .select(F.col("id_a").alias("id"))
    )
    dup_ids = drop_hi.unionByName(drop_lo).distinct()
    survivors = batch_df.join(
        dup_ids.withColumnRenamed("id", id_col), id_col, "left_anti"
    ).localCheckpoint(eager=True)
    survivor_sig = new_sig.join(dup_ids, "id", "left_anti").localCheckpoint(eager=True)
    new_sig.unpersist()
    return survivors, survivor_sig


def start_incremental_dedup(
    spark: SparkSession,
    inbox_path: str,
    schema,
    text_col: str,
    id_col: str,
    store_path: str,
    survivors_path: str,
    checkpoint_path: str,
    num_hashes: int = 32,
    bands: int | None = None,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.6,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    batch_id_offset: int = 0,
) -> StreamingQuery:
    """readStream over a JSON inbox -> per-batch near-dup filter against the
    signature store -> append survivors + their signatures.

    Exactly-once: both sinks partition by batch_id with dynamic overwrite,
    so a replayed micro-batch (same batch_id after a crash) rewrites its own
    partition instead of double-appending; the drop decision itself is a
    deterministic function of (batch, store-before-batch), and replays see
    the same store state for their own ids because self-pairs are excluded
    by id inside :func:`incremental_minhash_pairs`.

    ``batch_id_offset`` shifts the SINK partition ids: a rebuilt (fresh)
    checkpoint restarts Spark's batch counter at 0, and without the shift
    its dynamic-overwrite would clobber the partitions the RETIRED
    checkpoint already wrote (tools/migrate_state_checkpoint.py passes
    ``last committed batch + 1``).

    Signatures hash shingles with md5_60. Earlier versions defaulted to
    xxhash64, so a store written by them does not match the signatures of
    new batches: rebuild the store (and start a fresh checkpoint) before
    resuming ingestion on it.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_id = batch_id + batch_id_offset
        sess = batch_df.sparkSession
        like = minhash_signature_table(
            batch_df.limit(0), text_col, id_col, num_hashes, shingle_n
        )
        base_sig = _load_signature_store(sess, store_path, like)
        survivors, survivor_sig = incremental_dedup_batch(
            batch_df,
            base_sig,
            text_col,
            id_col,
            num_hashes,
            bands,
            shingle_n,
            jaccard_threshold,
        )
        (
            survivors.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(survivors_path)
        )
        (
            survivor_sig.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(store_path)
        )

    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(inbox_path)
    )
    writer = (
        reader.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
