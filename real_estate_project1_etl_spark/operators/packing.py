"""Sequence packing for pretraining exports: lay a tokenized corpus out
as a deterministic token stream and derive which fixed-length training
sequences each document occupies (concat-and-chunk packing, the GPT-style
recipe: documents are concatenated in training order and the stream is
cut every ``seq_len`` tokens, so a document may span sequence
boundaries).

Why an engine operator: the packing layout is the contract between the
data pipeline and the trainer — shard assignment IS the corpus shuffle,
offsets decide batch composition, and boundary-crossing stats drive the
seq_len/efficiency tradeoff. Computing it inside the engine keeps it
deterministic (hash order, no RNG), resumable, and cheap: token COUNTS
shuffle, text never does.

Scale shape: one exchange on the shard key + one in-shard window sort
over (hash, id) — the shard count is the parallelism unit, so at 100 TB
you raise ``n_shards`` with the cluster and every shard's window stays
executor-sized. The whole construction is expressions (mirrorable in
SQL for the oracle gate); extends the reference's single-file TSV export
(reference: transform.py:60-62) to training-shard layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from real_estate_project1_etl_spark.functions.columns import md5_60
from real_estate_project1_etl_spark.operators.quality import _hash60


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    seq_len: int,
    n_shards: int,
    epoch: int = 0,
) -> DataFrame:
    """Packing plan: one row per document with its position in the
    deterministic token stream.

    - ``shard`` = hash60(id) % n_shards — the corpus shuffle and the
      parallelism unit in one deterministic draw (stable under retries,
      repartitioning, and engine changes, like every sampling op here);
    - within a shard, documents concatenate in (hash60(id), id) order —
      a stable pseudo-random training order with an explicit tiebreak;
    - ``offset`` = tokens before this document in its shard's stream;
    - ``first_seq``/``last_seq`` = the fixed-length sequences the
      document's tokens land in (``floor(offset/seq_len)`` to
      ``floor((offset+tokens-1)/seq_len)``), ``n_seqs`` their count —
      ``n_seqs > 1`` means the document crosses a boundary.

    Documents with ``tokens_col <= 0`` (or NULL) occupy no stream space
    and are dropped from the plan — emitting them would pin a zero-width
    position that shifts nothing and means nothing to the trainer.
    Documents with a NULL id are dropped too: every NULL id hashes to
    the SAME placement key and ties in the ordering, so their offsets
    would depend on physical partition order — exactly the
    nondeterminism this operator exists to prevent (a corpus with NULL
    ids needs :func:`~.util.assign_global_ids` first).

    ``epoch`` reshuffles the layout per training epoch: a non-zero epoch
    salts the hash (``id#epoch``), giving every epoch a fresh
    deterministic global order (shard assignment AND in-shard order both
    move) with zero RNG — re-running epoch ``e`` always reproduces epoch
    ``e``'s layout.  ``epoch=0`` is bit-identical to the unsalted form
    (the oracle-gated construction).
    """
    if seq_len <= 0:
        raise ValueError(f"pack_sequences: seq_len must be > 0, got {seq_len}")
    if n_shards <= 0:
        raise ValueError(
            f"pack_sequences: n_shards must be > 0, got {n_shards}"
        )
    if epoch == 0:
        ph = _hash60([id_col])
    else:
        key = F.concat_ws(
            "#", F.col(id_col).cast("string"), F.lit(str(int(epoch)))
        )
        ph = md5_60(key)
    toks = F.col(tokens_col).cast("long")
    d = (
        df.filter(toks > 0)
        .filter(F.col(id_col).isNotNull())
        .withColumn("_ph", ph)
        .withColumn("shard", F.pmod(F.col("_ph"), F.lit(n_shards)).cast("int"))
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("_ph"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("offset", F.sum(toks).over(w) - toks)
    first_seq = F.floor(F.col("offset") / seq_len)
    last_seq = F.floor((F.col("offset") + toks - F.lit(1)) / seq_len)
    return d.select(
        F.col(id_col),
        toks.alias("n_tokens"),
        "shard",
        "offset",
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
        (last_seq - first_seq + 1).alias("n_seqs"),
    )


def packing_summary(packed: DataFrame, seq_len: int) -> DataFrame:
    """Per-shard packing economics from a :func:`pack_sequences` plan:
    document/token totals, emitted sequence count
    (``ceil(total_tokens/seq_len)`` — only the final sequence pads),
    pad tokens, packing efficiency, and how many documents cross a
    sequence boundary (the attention-contamination knob: trainers either
    mask across the joins or accept the bleed)."""
    if seq_len <= 0:
        raise ValueError(
            f"packing_summary: seq_len must be > 0, got {seq_len}"
        )
    total = F.sum("n_tokens")
    n_seqs = F.floor((total + seq_len - 1) / seq_len)
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        total.alias("total_tokens"),
        n_seqs.alias("n_seqs"),
        (n_seqs * seq_len - total).alias("pad_tokens"),
        (total / (n_seqs * seq_len)).alias("efficiency"),
        F.sum(F.when(F.col("n_seqs") > 1, 1).otherwise(0)).alias(
            "boundary_docs"
        ),
    )


def next_event_training_pairs(
    events: DataFrame,
    gap_ms: int = 1_800_000,
    max_context: int = 8,
) -> DataFrame:
    """Sequence-model training examples from behavioral sessions: for
    every event after the first in a 30-min-gap session, emit the
    ordered context of preceding event types and the event type to
    predict — the (context, label) pairs a next-action / session-LM
    model trains on (the dataset-assembly step between sessionization
    and the trainer, same family as :func:`pack_sequences`).

    Returns ``(user_id, session_id, step, context_path, label)`` where
    ``step`` is the 1-based position in the session (examples start at
    step 2), ``context_path`` joins the last ``max_context`` preceding
    event types with ``>``, and ``label`` is the type at ``step``.
    Ordering inside a session is ``(ts, event_id)`` — a total order, so
    the emitted dataset is a pure function of the events table.

    Scale shape: ONE exchange on the user key serves the gap detection,
    session numbering, step numbering, and the running-context window
    (all share the partitioning); contexts are bounded arrays
    (``max_context`` types), so row width is capped regardless of
    session length. Output is events-sized minus session heads.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ems = F.unix_millis(F.col("ts").cast("timestamp"))
    gap = ems - F.lag(ems).over(w)
    s = events.withColumn(
        "_ns", F.when(gap > gap_ms, 1).otherwise(0)
    ).withColumn("session_id", F.sum("_ns").over(wsum).cast("bigint"))
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    prev = ws.rowsBetween(Window.unboundedPreceding, -1)
    ctx = F.collect_list("event_type").over(prev)
    trimmed = F.slice(
        ctx,
        F.greatest(F.size(ctx) - F.lit(max_context) + 1, F.lit(1)),
        F.lit(max_context),
    )
    return (
        s.withColumn("step", F.row_number().over(ws))
        .withColumn("_ctx", trimmed)
        .filter(F.col("step") >= 2)
        .select(
            "user_id",
            "session_id",
            F.col("step").cast("bigint").alias("step"),
            F.array_join(F.col("_ctx"), ">").alias("context_path"),
            F.col("event_type").alias("label"),
        )
    )
