"""Train-while-ingest: the quality classifier trains CONTINUOUSLY as
documents arrive — the streaming twin of
``operators.quality.train_hashed_classifier``'s deterministic mini-batch
SGD (round-10 verdict item 7), mirroring the incremental-dedup ingest
loop (streaming/incremental_dedup.py): each micro-batch folds one
training step over the arriving documents, starting from the weight
table the PREVIOUS batch committed.

Extends the reference's poll-loop ingest protocol (reference:
dag.py:45-53) from "load every new file" to "update the quality model on
every new file".

Determinism / replay contract: the weight table after batch ``b`` is a
pure function of (weights after ``b-1``, batch ``b``'s rows) — the SGD
step is the scaled-integer hard-sigmoid gradient of the batch trainer,
exact cross-engine, and within-batch mini-batch order is the
content-hash draw (``hash60(doc_id) mod n_batches``), never arrival
order.  The weight store is parquet partitioned by ``batch_id`` with
dynamic overwrite, so a REPLAYED micro-batch (same batch_id after a
crash) reads its predecessor's unchanged partition, recomputes the same
step, and overwrites its own partition with identical bytes —
exactly-once under the checkpoint's replay contract, the
incremental-dedup pattern.

Scale shape per micro-batch: the batch is tokenized/hashed once
(batch-sized), each step is two equi-keyed aggregations, and the weight
table is ``dim`` rows (model-sized, not data-sized) — so steady-state
training cost is O(batch), independent of how much corpus has flowed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.quality import train_hashed_classifier


def load_classifier_weights(
    spark: SparkSession, store_path: str, batch_id: int
) -> DataFrame:
    """The committed weight table of ``batch_id``'s partition.

    Raises (fails the batch) on a missing or unreadable partition — a
    micro-batch silently restarting from zeros would fork the training
    trajectory, the same loud-failure rule as the dedup signature
    store."""
    df = spark.read.parquet(store_path).filter(
        F.col("batch_id") == int(batch_id)
    )
    out = df.select("feature_id", "weight_milli").localCheckpoint(eager=True)
    if out.limit(1).count() == 0:
        raise RuntimeError(
            f"classifier weight store {store_path} has no partition for "
            f"batch_id={batch_id} — refusing to restart training from "
            "zeros mid-stream"
        )
    return out


def start_incremental_classifier_training(
    spark: SparkSession,
    inbox_path: str,
    schema,
    *,
    dim: int,
    store_path: str,
    checkpoint_path: str,
    n_iters: int = 1,
    n_batches: int = 1,
    lr_num: int = 1,
    lr_den: int = 64,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    fit_bias: bool = False,
    l2_num: int = 0,
    l2_den: int = 1,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    batch_id_offset: int = 0,
) -> StreamingQuery:
    """readStream over a JSON inbox -> one deterministic SGD update per
    micro-batch -> commit the full weight table under the batch's own
    ``batch_id`` partition.

    The final model is the highest committed ``batch_id`` partition; by
    the replay contract it equals folding
    :func:`~..operators.quality.train_hashed_classifier` with
    ``initial_weights=`` over the same batches in batch mode
    (stream == batch, proven across a restart in
    tests/test_streaming_training.py).

    ``n_iters``/``n_batches`` are per-micro-batch epoch and
    content-hash mini-batch counts — they shape the WITHIN-batch
    schedule exactly as in the batch trainer.  ``batch_id_offset``
    shifts sink partition ids for a rebuilt checkpoint
    (tools/migrate_state_checkpoint.py passes last committed + 1),
    same as the dedup store.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id) + int(batch_id_offset)
        sess = batch_df.sparkSession
        prev = (
            None
            if bid == 0
            else load_classifier_weights(sess, store_path, bid - 1)
        )
        w = train_hashed_classifier(
            batch_df,
            dim,
            n_iters=n_iters,
            lr_num=lr_num,
            lr_den=lr_den,
            label_col=label_col,
            text_col=text_col,
            id_col=id_col,
            fit_bias=fit_bias,
            l2_num=l2_num,
            l2_den=l2_den,
            n_batches=n_batches,
            initial_weights=prev,
        )
        (
            w.withColumn("batch_id", F.lit(bid))
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
