"""Structured Streaming variants of the event operators.

The reference has no streaming — its two-phase barrier
(``src/mr/coordinator.rs:342-345``) is the opposite of pipelined
execution. Here the batch windows from operators/events.py re-express as
readStream → event-time window agg with watermark → sink, which is how
the same query runs continuously at scale (checkpointed state store
replaces the reference's write-ahead log, ``src/mr/coordinator.rs:134-199``,
whose recovery was a stub anyway).

Tested locally with a file source + ``availableNow`` trigger (processes
all existing input then stops), which exercises the real streaming
engine — state store, watermark bookkeeping, checkpoint — without an
unbounded run.

The sink twins (windowed counts, sessions, OHLC bars, trend sums, HLL
registers, CMS counters) all drain through ``run_stream``: an op over
a file stream, into a parquet path (append) or a memory table
(complete).

Epoch-state contract. The continuous-ingest loops (IVF maintenance,
graph admission, decontamination, semdedup admission, refit serving)
keep state that must OUTLIVE the stream, so they land it as tables via
foreachBatch rather than in the state store. They are ONE loop,
``run_ingest_loop``, whose per-micro-batch body ``ingest_epoch`` is the
only place the discipline below is applied; a loop differs only in its
``step``, which maps the batch to state rows and never writes them. The
discipline is stated once, on the private helpers below:

* drain-and-stop (``_drain``): every query runs checkpointed with the
  ``availableNow`` trigger, so a restart resumes from the committed
  source offsets;
* per-epoch overwrite (``_write_epoch``): a batch lands under
  ``state_dir/epoch=<id>`` in overwrite mode, so a same-epoch replay
  rewrites byte-identical rows instead of double-counting them;
* ``src_file`` provenance (``_file_stream(provenance=True)``,
  ``_with_src_file``): each row carries the input file it came from,
  selected on the source scan; a direct caller whose frame is not
  file-backed gets an epoch-qualified sentinel instead;
* one row per vec_id per micro-batch (``_one_row_per_vec``): a vector
  delivered in two files of one batch reaches the step once, as the
  batch operators see it;
* latest-epoch-wins read (``_latest_epoch``): readers keep, per key
  (``src_file``, or ``q_id`` for the admitted-edge table), only the
  newest epoch's rows, so a re-delivered file reads as one logical
  contribution.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from mapreduce_rs_spark.operators.materialize import materialize
from mapreduce_rs_spark.operators.relational import money, stable_sum
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Error conditions that mean "the store does not exist yet" — the ONLY
# AnalysisExceptions a first-batch store probe may swallow. PATH_NOT_FOUND
# is the missing directory; UNABLE_TO_INFER_SCHEMA is the created-but-empty
# directory (a checkpoint dir landed before any data file). Anything else
# (e.g. schema inference failing on a corrupted/partially-written store)
# re-raises so the batch fails and the replay retries (ADVICE r09).
_MISSING_STORE_CONDITIONS = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _is_missing_store(e: AnalysisException) -> bool:
    cond = e.getCondition() if hasattr(e, "getCondition") else e.getErrorClass()
    return cond in _MISSING_STORE_CONDITIONS


def _file_stream(
    spark: SparkSession,
    schema: StructType,
    input_dir: str,
    max_files_per_trigger: int | None = None,
    provenance: bool = False,
) -> DataFrame:
    """Parquet file-source stream over ``input_dir``.
    ``max_files_per_trigger`` forces multiple micro-batches (the tests
    use it to exercise real cross-batch state). ``provenance`` adds
    ``_metadata.file_path`` as ``src_file`` HERE, on the source scan:
    it is the only place ``_metadata`` resolves — inside foreachBatch
    the micro-batch is a plain RDD-backed frame without it."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    if provenance:
        stream = stream.withColumn("src_file", F.col("_metadata.file_path"))
    return stream


def _drain(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """Run a configured ``DataStreamWriter`` drain-and-stop: checkpointed,
    ``availableNow`` trigger (process all existing input, then stop).
    The file source + checkpoint gives exactly-once: the checkpoint
    records which input files each batch consumed, so a restart resumes
    without duplicating — the guarantee the reference's WAL aimed at
    (``src/mr/coordinator.rs:134-199``) but never finished."""
    (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _with_src_file(batch_df: DataFrame, epoch_id: int) -> DataFrame:
    """Ensure a micro-batch carries the ``src_file`` provenance key.
    The streaming loops already selected it on the source scan
    (``_file_stream(provenance=True)``); a direct batch-read caller (the
    replay test path) gets it from its own file scan. A direct caller
    whose frame is NOT file-backed (createDataFrame) has no resolvable
    ``_metadata``: it gets an EPOCH-QUALIFIED sentinel instead of an
    AnalysisException (r10 ADVICE #2) — unique per epoch, so
    ``_latest_epoch`` never collapses two distinct direct-batch epochs,
    while same-epoch replay overwrite still holds."""
    if "src_file" in batch_df.columns:
        return batch_df
    try:
        return batch_df.withColumn("src_file", F.col("_metadata.file_path"))
    except AnalysisException:
        return batch_df.withColumn(
            "src_file", F.lit(f"<direct-batch-epoch-{epoch_id}>")
        )


def _write_epoch(df: DataFrame, state_dir: str, epoch_id: int) -> None:
    """Land one micro-batch's state under ``state_dir/epoch=<epoch_id>``.

    OVERWRITE per epoch directory is what makes a loop
    restart-idempotent: Structured Streaming replays a micro-batch
    under the SAME epoch id when the sink wrote but the offset commit
    didn't land, and a replay then overwrites its own rows with
    byte-identical ones instead of double-counting them. Append plus a
    left_anti-on-key dedup would instead lose rows on a partial append,
    need an error-swallowing first-batch probe, and scan the full
    history per batch."""
    df.write.mode("overwrite").parquet(os.path.join(state_dir, f"epoch={epoch_id}"))


def _latest_epoch(state: DataFrame, key: str = "src_file") -> DataFrame:
    """Latest-epoch-wins read over per-epoch state: keep, per ``key``,
    only the rows of the newest epoch that holds it (the CDC
    latest_state discipline). Same-epoch replays already overwrite in
    place; this additionally makes an upstream RE-DELIVERY (the same
    file path, or for the edge table the same ``q_id``, in a later
    epoch) read as ONE logical contribution, never a double-count
    (ADVICE r09). The file source assigns whole files to micro-batches,
    so a file's rows are always complete within one epoch. Re-delivery
    of the same rows under a NEW path is indistinguishable from new
    data — that case is governed by the exactly-once-input contract:
    the input directory is append-only and a path's content is
    immutable once written."""
    return (
        state.withColumn("max_epoch", F.max("epoch").over(Window.partitionBy(key)))
        .where(F.col("epoch") == F.col("max_epoch"))
        .drop("max_epoch")
    )


EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def streaming_tumbling_counts(
    stream: DataFrame, *, watermark: str = "2 hours", window: str = "1 hour"
) -> DataFrame:
    """Event-time tumbling window counts with a watermark.

    The watermark bounds state: windows older than max(event time) -
    watermark are finalized and evicted, so state size is O(active
    windows · keys) — the property that keeps an unbounded stream at
    bounded memory. Late rows inside the watermark still update their
    window; later ones are dropped (the documented late-data contract).

    Checkpoint compatibility note: ``sum_value`` accumulates in DECIMAL
    (the repo-wide money rule) — a deployment that checkpointed the
    pre-decimal double form of this aggregate cannot restart onto this
    code (state-store schema check fails); start a fresh checkpoint
    when adopting it. New deployments are unaffected.
    """
    return (
        stream.withWatermark("ts", watermark)
        # Group on the window column itself — projecting .start inside the
        # groupBy severs the watermark association and Spark rejects
        # append mode; extract start after the aggregate.
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # Decimal accumulation (the repo-wide money rule, as in
            # streaming_sessions): exact and order-independent, so the
            # maintained window totals are byte-identical to the batch
            # twin whatever the micro-batch boundaries — the property
            # the hash-compared parity family asserts.
            stable_sum(money("value")).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    stream: DataFrame, *, watermark: str = "2 hours", keys: list[str] | None = None
) -> DataFrame:
    """Streaming deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key's state only until
    the watermark passes it, so duplicate events arriving within the
    watermark window are dropped while state stays O(keys in the
    watermark horizon) — the streaming twin of the batch exact-dedup
    operator (operators/dedup.py), and the standard front guard of an
    event ingestion pipeline (at-least-once sources like Kafka replay
    on rebalance; this makes the pipeline effectively-once per key).
    Plain ``dropDuplicates`` on a stream would grow state forever."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def streaming_click_purchase_join(
    clicks: DataFrame, purchases: DataFrame, *, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-STREAM inner join with event-time bounds: each purchase
    joined to the same user's clicks from the preceding hour.

    Both sides carry watermarks and the join condition bounds the
    event-time distance — the two requirements that let the engine
    EXPIRE join state (a click older than purchase-watermark − 1h can
    never match again and is dropped from the state store). Without the
    time bound, stream-stream join state grows forever. This is the
    attribution-join shape (ad click → conversion) at its streaming
    core; the batch as-of variant is operators/events.py's
    ``asof_last_click_before_purchase``.
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("click_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts"), "value"
    )
    return p.join(
        c,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("user_id", "purchase_id", "purchase_ts", "click_id", "click_ts", "value")


def run_foreach_batch_upsert(
    spark: SparkSession, input_dir: str, target_dir: str, checkpoint_dir: str
) -> None:
    """foreachBatch sink: per-micro-batch UPSERT of windowed counts into
    a keyed parquet target — the idempotent-merge pattern for sinks
    without native streaming support (JDBC, key-value stores).

    Exactly-once here = source offsets in the checkpoint x an
    idempotent merge keyed on (window_start, event_type): replaying a
    batch overwrites the same keys with the same values. (Without
    Delta/Iceberg in this image the merge is read-union-rewrite; the
    pattern, not the file shuffle, is the point.)"""

    def upsert(batch_df, epoch_id: int) -> None:
        incoming = batch_df.groupBy("window_start", "event_type").agg(
            F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value")
        )
        try:
            current = batch_df.sparkSession.read.parquet(target_dir)
            merged = (
                current.join(incoming, ["window_start", "event_type"], "left_anti")
                .unionByName(incoming)
            )
        # ONLY the first-batch missing target; any other read error (a
        # corrupt part file) fails the batch so the replay retries,
        # instead of overwriting the target with this batch alone
        except AnalysisException as e:
            if not _is_missing_store(e):
                raise
            merged = incoming
        # Materialize before overwriting the directory we just read.
        materialize(merged).write.mode("overwrite").parquet(target_dir)

    stream = _file_stream(spark, EVENT_SCHEMA, input_dir)
    _drain(
        streaming_tumbling_counts(stream)
        .writeStream.outputMode("update")
        .foreachBatch(upsert),
        checkpoint_dir,
    )


def streaming_sessions(
    stream: DataFrame, *, watermark: str = "2 hours", gap_min: int = 30
) -> DataFrame:
    """Streaming sessionization with the NATIVE session_window — the
    stream form of ``operators/events.session_window_stats`` (same
    groupBy expression, verbatim). State per (user, open session) lives
    until the watermark passes the session's gap-extended end, then the
    session is finalized, emitted once (append mode), and evicted —
    unbounded-stream sessionization at bounded memory, which the
    lag-cumsum batch formulation fundamentally can't express (window
    functions aren't allowed in streaming aggs)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", f"{gap_min} minutes"))
        .agg(
            F.count("*").alias("n_events"),
            # Decimal accumulation (the repo-wide money rule): exact and
            # order-independent, so streamed sessions match the batch
            # twin bit-for-bit regardless of micro-batch splits.
            stable_sum(money("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def streaming_ohlc(stream: DataFrame) -> DataFrame:
    """Streaming OHLC bars: per event-time hour and type, open/high/
    low/close + volume, with a 2-hour watermark bounding state.

    Open/close use ``min_by``/``max_by`` over the (ts, event_id) order
    struct — the streaming-legal formulation (row_number windows, the
    batch operator's cross-ENGINE-portable form, aren't allowed in
    streaming aggregations; within one engine min_by on a total-order
    struct is deterministic, and the equivalence test pins it against
    the identical batch expression).
    """
    order_key = F.struct("ts", "event_id")
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.min_by("value", order_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order_key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("window").start.alias("bucket_ts"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def run_stream(
    spark: SparkSession,
    op,
    input_dir: str,
    checkpoint_dir: str,
    *,
    path: str | None = None,
    query_name: str | None = None,
    schema: StructType = EVENT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> None:
    """The one runner of the sink twins: drain-and-stop (``_drain``)
    ``op`` over a file stream of ``schema``.

    * a parquet ``path`` sink runs in APPEND mode: the watermarked ops
      (``streaming_tumbling_counts``, ``streaming_sessions``,
      ``streaming_ohlc``) emit only finalized windows, each exactly
      once via the checkpoint;
    * a memory ``query_name`` sink runs in COMPLETE mode: the all-time
      running aggregates (``events.trend_sums``,
      ``events.hll_registers``, ``text_analysis.cms_counters``, run
      verbatim under readStream) keep state bounded by their key space
      or sketch, not by a watermark, and the table is what a
      stream-equals-batch test reads.

    ``max_files_per_trigger`` forces several micro-batches so a test
    exercises real cross-batch state."""
    if (path is None) == (query_name is None):
        raise ValueError("run_stream takes exactly one of path and query_name")
    writer = op(_file_stream(spark, schema, input_dir, max_files_per_trigger)).writeStream
    if path is not None:
        writer = writer.outputMode("append").format("parquet").option("path", path)
    else:
        writer = writer.outputMode("complete").format("memory").queryName(query_name)
    _drain(writer, checkpoint_dir)


def run_streaming_neardup_ingest(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    admitted_dir: str,
    checkpoint_dir: str,
) -> None:
    """The near-dup admission loop in its CONTINUOUS form: each
    micro-batch of documents is admitted against a persisted band/
    fingerprint store via ``dedup.admit_batch`` — the SAME cascade the
    batch operator runs (one implementation, two arrival modes), with
    the store playing the standing corpus.

    foreachBatch is the honest shape for this op: the admission
    decision needs a keyed probe against ever-growing state that must
    OUTLIVE the stream (the next nightly batch, an ad-hoc backfill and
    the streaming loop all probe the same store), which is a table
    concern, not a state-store concern — the run_foreach_batch_upsert
    pattern. Per batch:

    * the store is read as (doc_id, fingerprint) + (doc_id, band,
      band_key) parquet — the ONLY corpus state; admitted text lands in
      ``admitted_dir`` but is never re-read by admission;
    * the store view EXCLUDES rows contributed by this batch's own
      doc_ids before probing, so a replayed micro-batch (restart after
      a sink write but before offset commit) reaches the same
      decisions — idempotent admission, keyed on doc_id;
    * admitted docs append their text to ``admitted_dir`` and their
      fingerprint + band rows to the store.

    At 100 TB the store is partitioned parquet/Delta keyed by band —
    the probe is the same (band, band_key) equi-join; nothing here
    assumes the store fits anywhere.
    """
    from mapreduce_rs_spark.functions.hashing import text_fingerprint
    from mapreduce_rs_spark.operators.dedup import (
        _banded,
        admit_batch,
        minhash_signatures,
    )

    fps_dir = os.path.join(store_dir, "fps")
    bands_dir = os.path.join(store_dir, "bands")

    def admit(batch_df, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        batch = materialize(batch_df.select("doc_id", "lang", "text"))
        batch_ids = batch.select("doc_id")
        try:
            store_fps = sess.read.parquet(fps_dir)
            store_bands = sess.read.parquet(bands_dir)
        # ONLY the first-batch empty-store case; any other read error
        # must FAIL the batch so the replay retries — swallowing it
        # would admit the whole batch against an empty corpus view
        # (duplicate admissions forever; review-finding class r09).
        # Matched by ERROR CONDITION, not exception class (ADVICE r09:
        # AnalysisException also covers schema-inference failure on a
        # corrupted/partially-written store — the same failure class).
        except AnalysisException as e:
            if not _is_missing_store(e):
                raise
            store_fps = sess.createDataFrame([], "doc_id long, fingerprint string")
            store_bands = sess.createDataFrame(
                [], "doc_id long, band int, band_key string"
            )
        # replay idempotency: a restarted batch must not collide with
        # its own earlier store contributions
        corpus_fps = (
            store_fps.join(batch_ids, "doc_id", "left_anti")
            .select("fingerprint")
            .distinct()
        )
        corpus_bands = (
            store_bands.join(batch_ids, "doc_id", "left_anti")
            .select("band", "band_key")
            .distinct()
        )
        # bands computed ONCE per batch: admit_batch probes with them
        # and the store write below reuses the same checkpointed rows
        # (recomputing signatures for the admitted subset would run the
        # shingle->md5 pipeline a second time per micro-batch)
        batch_bands = materialize(_banded(minhash_signatures(batch)))
        flagged = admit_batch(
            batch, corpus_fps, corpus_bands, batch_bands=batch_bands
        )
        admitted_ids = flagged.where(
            ~F.col("exact_corpus")
            & ~F.col("exact_batch")
            & ~F.col("near_corpus")
            & ~F.col("near_batch")
        ).select("doc_id")
        admitted = materialize(batch.join(admitted_ids, "doc_id", "left_semi"))
        # append admitted docs + their admission artifacts; replays
        # append duplicate doc_id rows, which every reader (including
        # the left_anti above) treats as one key — idempotent by key
        admitted.write.mode("append").parquet(admitted_dir)
        admitted.select(
            "doc_id", text_fingerprint("text").alias("fingerprint")
        ).write.mode("append").parquet(fps_dir)
        batch_bands.join(admitted_ids, "doc_id", "left_semi").write.mode(
            "append"
        ).parquet(bands_dir)

    stream = _file_stream(spark, DOC_SCHEMA, input_dir)
    _drain(stream.writeStream.outputMode("append").foreachBatch(admit), checkpoint_dir)


# Embeddings arrive as vector micro-batches in the ingest loop; label
# is irrelevant to index maintenance and deliberately absent.
EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def _one_row_per_vec(batch_df: DataFrame) -> DataFrame:
    """One decision row per vec_id per micro-batch (r11 ADVICE #2): if
    upstream delivers the SAME vec_id in more than one file within a
    single micro-batch, a step would otherwise see the vector once PER
    COPY — ``decon_gate_batch``'s per-vec_id aggregate double-counts
    its hits, the src_file join-back duplicates a decision row, the
    IVF partials count the vector twice and the graph admission emits
    its edges twice — so the drained report diverges from the batch
    operator, which sees each vec_id once. Keep the deterministic
    first copy: min (src_file, embedding) per vec_id (arrays order
    lexicographically, so even a same-file duplicate with differing
    payloads picks one copy reproducibly). Cross-EPOCH re-delivery is
    the reader's latest-wins-per-src_file job, not this one."""
    w = Window.partitionBy("vec_id").orderBy("src_file", "embedding")
    return (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def ingest_epoch(
    batch_df: DataFrame,
    state_dir: str,
    epoch_id: int,
    step: Callable[[DataFrame], DataFrame],
) -> None:
    """One micro-batch of every store-backed ingest loop, and the only
    place the epoch-state contract is applied: ``src_file`` provenance
    (``_with_src_file``), one row per vec_id (``_one_row_per_vec``),
    ``step`` mapping the (vec_id, embedding, src_file) batch to its
    state rows, and the per-epoch overwrite (``_write_epoch``). A step
    only returns rows; it never writes. Module-level so a test can
    replay one epoch directly with the file the checkpoint assigned it."""
    _write_epoch(
        step(_one_row_per_vec(_with_src_file(batch_df, epoch_id))),
        state_dir,
        epoch_id,
    )


def run_ingest_loop(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    step: Callable[[DataFrame], DataFrame],
    max_files_per_trigger: int | None = None,
) -> None:
    """The continuous-ingest loop: vector micro-batches from
    ``input_dir`` (``EMB_SCHEMA``, ``src_file`` selected on the source
    scan) run through ``ingest_epoch`` into per-epoch state under
    ``state_dir``, drain-and-stop (``_drain``). The five loops are this
    one with a different ``step`` — ``ivf_step``, ``graph_step``,
    ``decon_step``, ``semdedup_step``, ``refit_step`` — and each has a
    report reading the state latest-epoch-wins.

    foreachBatch is the honest shape for the same reason as the
    near-dup loop: the state must OUTLIVE the stream (the nightly
    refit or rebuild decision, an ad-hoc audit and the loop itself all
    read the same table), which is a table concern, not a state-store
    concern. Every step reads only the batch and persisted standing
    state, so any micro-batching yields the batch operator's report
    byte-for-byte (pinned by the parity tests), and per-batch work is
    batch-proportional, never corpus-proportional."""
    stream = _file_stream(
        spark, EMB_SCHEMA, input_dir, max_files_per_trigger, provenance=True
    )
    _drain(
        stream.writeStream.outputMode("append").foreachBatch(
            lambda batch_df, epoch_id: ingest_epoch(
                batch_df, state_dir, epoch_id, step
            )
        ),
        checkpoint_dir,
    )


def ivf_step(batch_df: DataFrame) -> DataFrame:
    """The IVF maintenance step: the batch's per-source-file
    (src_file, centroid_id, pos, s, nb, nn) partials — the IDENTICAL
    ``ivf_maintenance_partials`` the batch operator runs, with the
    ``src_file`` provenance key threaded through. The report reads
    them through ``_latest_epoch`` per ``src_file``."""
    from mapreduce_rs_spark.operators.similarity import ivf_maintenance_partials

    return ivf_maintenance_partials(batch_df, extra_keys=("src_file",))


def streaming_ivf_state_report(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintenance report over the accumulated streaming state:
    merge the per-epoch partials (integer sums — order- and
    batching-independent, so the merge equals the single-pass batch
    aggregate bit-for-bit) and run the SAME rollup as
    ``ivf_index_maintenance``. Cross-batch state is |centroids| x dim
    integer rows per epoch — the bounded-state story: at any corpus
    size the state table grows with EPOCHS, not with vectors."""
    from mapreduce_rs_spark.operators.similarity import ivf_maintenance_rollup

    # mergeSchema: a state directory written by the pre-provenance code
    # has epochs WITHOUT src_file; merged reads give those rows NULL.
    # Backfill an EPOCH-QUALIFIED sentinel (r10 ADVICE #2): unique per
    # legacy epoch, so latest-wins keeps every legacy epoch's partials
    # — exactly the pre-provenance blind-sum semantics for old rows,
    # real per-file dedup for new ones. No silent upgrade break.
    state = spark.read.option("mergeSchema", "true").parquet(state_dir)
    if "src_file" not in state.columns:
        state = state.withColumn("src_file", F.lit(None).cast("string"))
    state = state.withColumn(
        "src_file",
        F.coalesce(
            "src_file",
            F.concat(
                F.lit("<legacy-epoch-"), F.col("epoch").cast("string"), F.lit(">")
            ),
        ),
    )
    merged = (
        _latest_epoch(state)
        .groupBy("centroid_id", "pos")
        .agg(
            F.sum("s").alias("s"),
            F.sum("nb").alias("nb"),
            F.sum("nn").alias("nn"),
        )
    )
    return ivf_maintenance_rollup(merged)


def build_graph_store(spark: SparkSession, corpus: DataFrame, store_dir: str) -> None:
    """Materialize the standing graph-ANN serving artifacts to parquet —
    the state the continuous admission loop reads: the enriched corpus
    frame (vec_id, embd, c_norm, bucket), the per-bucket h32-capped
    reps, and the NN-Descent edge list. In production this runs on the
    rebuild cadence ``knn_graph_ingest``'s ledger decides; the
    streaming loop between rebuilds reads these artifacts only."""
    from mapreduce_rs_spark.operators.similarity import (
        _nnd_corpus,
        _nnd_reps,
        hyperplanes,
        nn_descent_knn_graph,
        NND_SEED_CAP,
    )

    planes = hyperplanes()
    v = _nnd_corpus(corpus, planes)
    v.write.mode("overwrite").parquet(os.path.join(store_dir, "corpus"))
    reps = materialize(_nnd_reps(v, NND_SEED_CAP))
    reps.write.mode("overwrite").parquet(os.path.join(store_dir, "reps"))
    nn_descent_knn_graph(corpus, planes=planes, corpus=v, reps=reps).select(
        F.col("vec_id").alias("gsrc"), F.col("nbr_id").alias("gdst")
    ).write.mode("overwrite").parquet(os.path.join(store_dir, "edges"))


def graph_step(store_dir: str) -> Callable[[DataFrame], DataFrame]:
    """The graph-admission step: beam-search the batch through the
    PERSISTED standing artifacts (``build_graph_store``, refreshed on
    the rebuild cadence the batch ledger decides) via
    ``admitted_edges_from_store`` and return the found edges.
    Admission reads ONLY standing state, so a same-epoch replay
    re-derives byte-identical edges; consumers read through
    ``read_admitted_edges`` (``_latest_epoch`` per q_id)."""
    return lambda batch_df: admitted_edges_from_store(batch_df, store_dir)


def admitted_edges_from_store(batch_df: DataFrame, store_dir: str) -> DataFrame:
    """Beam-admit a vector batch against the PERSISTED standing
    artifacts (``build_graph_store``'s corpus/reps/edges) and return
    the found (q_id, cand, cs) edges — the store-backed admission step
    itself, shared by the streaming loop (``graph_ingest_update``
    writes it per epoch) and the bench's admission member (which must
    price admission SEPARATELY from the standing rebuild it avoids —
    r09 verdict #5). Per-batch work is O(|batch| · beam · k · hops):
    batch-proportional, never corpus-proportional."""
    from mapreduce_rs_spark.operators.similarity import (
        _bucket_expr,
        _embd,
        _l2_raw,
        graph_admit_batch,
        hyperplanes,
    )

    sess = batch_df.sparkSession
    planes = hyperplanes()
    nq = materialize(
        batch_df.select(
            F.col("vec_id").alias("q_id"), _embd().alias("q_embd")
        ).select(
            "q_id",
            "q_embd",
            _l2_raw(F.col("q_embd")).alias("q_norm"),
            _bucket_expr("q_embd", planes).alias("q_bucket"),
        )
    )
    v = sess.read.parquet(os.path.join(store_dir, "corpus"))
    reps = sess.read.parquet(os.path.join(store_dir, "reps"))
    ge = sess.read.parquet(os.path.join(store_dir, "edges"))
    return graph_admit_batch(nq, v, reps, ge, planes=planes)


def read_admitted_edges(spark: SparkSession, edges_dir: str) -> DataFrame:
    """The edge table's READER contract: per-epoch directories merged
    by ``_latest_epoch`` keyed on q_id. An upstream RE-DELIVERY of a
    vec_id in a later file (two epochs both holding its edges —
    admission is deterministic, so the rows are byte-identical unless
    the standing store was rebuilt between them, in which case newest
    is the correct answer) reads as ONE logical row set per q_id.
    O(edges) at read, zero per-batch history scans in the hot loop."""
    return _latest_epoch(spark.read.parquet(edges_dir), "q_id").select(
        "q_id", "cand", "cs"
    )


# ---------------------------------------------------------------------------
# Decontamination gate, continuous form (r10 verdict #5): a fixed-eval
# decontamination check is exactly what a streaming ingest pipeline runs
# per micro-batch — every incoming train vector is scored against the
# STANDING eval artifact before admission.
# ---------------------------------------------------------------------------


def build_decon_store(spark: SparkSession, corpus: DataFrame, store_dir: str) -> None:
    """Materialize the fixed eval artifact ``semantic_decontaminate_fixed``
    defines — the DECON_EVAL_CAP h32-smallest eval-split vectors, already
    enriched (e_id, e_emb, e_norm, e_bucket) — to parquet. In production
    this is the shipped benchmark test split: computed once, never
    tracking the corpus; the streaming gate between refreshes reads this
    artifact only. Building it through the operator's own projection
    (same KMV cap, same enrichment) is what makes the streaming gate's
    per-vector scores byte-identical to the batch operator's."""
    from mapreduce_rs_spark.functions.hashing import h32
    from mapreduce_rs_spark.operators.similarity import (
        DECON_EVAL_CAP,
        _nnd_corpus,
        hyperplanes,
    )

    planes = hyperplanes()
    v = _nnd_corpus(corpus, planes)
    (
        v.where(F.col("vec_id") % 10 >= 8)
        .select(
            F.col("vec_id").alias("e_id"),
            F.col("embd").alias("e_emb"),
            F.col("c_norm").alias("e_norm"),
            F.col("bucket").alias("e_bucket"),
            h32(F.col("vec_id").cast("string")).alias("eh"),
        )
        .orderBy("eh", "e_id")
        .limit(DECON_EVAL_CAP)
        .select("e_id", "e_emb", "e_norm", "e_bucket")
        .write.mode("overwrite")
        .parquet(os.path.join(store_dir, "eval"))
    )


def decon_gate_batch(batch_df: DataFrame, store_dir: str) -> DataFrame:
    """Score one train-vector batch against the persisted eval artifact
    — the per-vector core of ``semantic_decontaminate_fixed``, shared
    by the streaming loop and its batch twin. Returns every flagged
    vector's (vec_id, n_eval_hits, max_cos). Scores depend only on the
    vector and the FIXED artifact, so any micro-batching yields the
    batch operator's per-vector rows bit-for-bit. Per-batch work is
    O(|batch| · probes): batch-proportional, never corpus-proportional;
    the eval side is eval_cap·(planes+1) rows, always broadcast."""
    from mapreduce_rs_spark.operators.similarity import (
        DECON_TAU,
        _cos_pair,
        _embd,
        _lsh_rows,
        _probe_masks,
        hyperplanes,
    )

    sess = batch_df.sparkSession
    planes = hyperplanes()
    train = _lsh_rows(
        batch_df.where(F.col("vec_id") % 10 < 8).select("vec_id", _embd().alias("embd")),
        planes,
    )
    ev_capped = sess.read.parquet(os.path.join(store_dir, "eval"))
    probe_arr = F.array(
        *[F.expr(f"e_bucket ^ {m}") for m in _probe_masks(planes)]
    )
    ev = F.broadcast(
        ev_capped.select(
            "e_id", "e_emb", "e_norm", F.explode(probe_arr).alias("bucket")
        )
    )
    return (
        train.join(ev, "bucket")
        .select(
            "vec_id",
            _cos_pair(
                F.col("e_emb"), F.col("embd"), F.col("e_norm"), F.col("c_norm")
            ).alias("cs"),
        )
        .where(F.col("cs") >= DECON_TAU)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval_hits"),
            F.max("cs").alias("max_cos"),
        )
    )


def decon_step(store_dir: str) -> Callable[[DataFrame], DataFrame]:
    """The decontamination step: flag the batch's train vectors
    against the persisted eval artifact (``build_decon_store``,
    refreshed only when the benchmark split changes) and return
    (vec_id, n_eval_hits, max_cos, src_file). Per-vector scores read
    only the batch row + the fixed artifact, so a vector's flag row is
    complete within one epoch; ``streaming_decon_report`` reads the
    merged state."""

    def step(batch_df: DataFrame) -> DataFrame:
        return decon_gate_batch(
            batch_df.select("vec_id", "embedding"), store_dir
        ).join(batch_df.select("vec_id", "src_file"), "vec_id")

    return step


def streaming_decon_report(spark: SparkSession, state_dir: str) -> DataFrame:
    """The decontamination triage report over the accumulated streaming
    state: merge per-epoch flag rows with ``_latest_epoch`` per
    src_file and emit the SAME top-k contract as
    ``semantic_decontaminate_fixed`` —
    (vec_id, n_eval_hits, max_cos) ordered (max_cos DESC, vec_id),
    DECON_TOP_K rows. Per-vector rows are batching-independent, so the
    drained report equals the batch operator bit-for-bit (pinned by the
    parity test). State grows with FLAGGED vectors, not the corpus."""
    from mapreduce_rs_spark.operators.similarity import DECON_TOP_K

    merged = _latest_epoch(spark.read.parquet(state_dir)).select(
        "vec_id", "n_eval_hits", "max_cos"
    )
    return merged.orderBy(F.col("max_cos").desc(), "vec_id").limit(DECON_TOP_K)


# ---------------------------------------------------------------------------
# Semantic-dedup ingest admission, continuous form (r10 verdict #5): the
# derived-k model is fit on the standing corpus (the rebuild cadence);
# between rebuilds, every ingested vector is assigned through the
# persisted model and admitted only if no standing member of its cluster
# is within tau — the SemDeDup gate a continuous ingest pipeline runs.
# Cross-ingest dedup (new vs new) is the next full recluster's job, the
# same division of labor as the graph tier's ingest/rebuild split.
# ---------------------------------------------------------------------------


def build_semdedup_store(
    spark: SparkSession, corpus: DataFrame, store_dir: str
) -> None:
    """Fit the derived-k model on the STANDING corpus and persist the
    serving state the admission loop reads: the centroid table
    (cid, cq) and the standing assignment (vec_id, qv, cid, nrm2).
    The fit is ``semdedup_derived_k``'s own derivation chain (k =
    ivf_k_for(N), p = sdk_planes_for(k), data-seeded bucket-blocked
    Lloyd rounds) — the model the batch query would fit over the same
    corpus, so admission decisions are the batch gate's bit-for-bit."""
    from mapreduce_rs_spark.operators.similarity import (
        _sdk_blocked_assign,
        _sdk_fit,
        _with_nrm2,
    )

    q, cent, planes = _sdk_fit(corpus)
    cent.select("cid", "cq").write.mode("overwrite").parquet(
        os.path.join(store_dir, "centroids")
    )
    _with_nrm2(_sdk_blocked_assign(q, cent, planes)).write.mode(
        "overwrite"
    ).parquet(os.path.join(store_dir, "standing"))


def semdedup_admit_batch(batch_df: DataFrame, store_dir: str) -> DataFrame:
    """Admission-gate one ingested-vector batch against the persisted
    derived-k model: quantize, bucket with the STORE-DERIVED plane
    count, blocked-assign to the stored centroids, and drop any vector
    with a STANDING same-cluster member at cos >= tau (integer
    cross-multiply, zero-norm guard — base semdedup's NULL-cosine keep
    semantics). Returns (vec_id, cid, is_dropped). Decisions read only
    the vector + the persisted state, so any micro-batching yields the
    one-shot gate's rows bit-for-bit; per-batch work is O(|batch| ·
    (candidates + E[cluster])): batch-proportional, never
    corpus-proportional.

    The plane count re-derives through the FIT's own chain —
    p = sdk_planes_for(ivf_k_for(|standing|)) — with |standing| read
    from the persisted assignment table, which ``_sdk_fit`` built over
    exactly the corpus whose count sized k (one row per standing
    vector, zero-norm rows included). Deriving from the CENTROID row
    count instead (the pre-r12 form) silently diverges on degenerate
    corpora: the fit's data-seeded init filters zero-norm seeds, so a
    corpus with fewer nonzero-norm vectors than k yields fewer than k
    centroid rows, and the reconstructed bucket space would no longer
    match the model's (r11 ADVICE #1; pinned by the degenerate-corpus
    parity test)."""
    from mapreduce_rs_spark.operators.similarity import (
        _sdk_admit,
        _sdk_blocked_assign,
        _sdk_quantize,
        _with_nrm2,
        hyperplanes,
        ivf_k_for,
        sdk_planes_for,
    )

    sess = batch_df.sparkSession
    cent = sess.read.parquet(os.path.join(store_dir, "centroids"))
    standing = sess.read.parquet(os.path.join(store_dir, "standing"))
    k = ivf_k_for(standing.count())
    planes = hyperplanes(sdk_planes_for(k))
    q = _sdk_quantize(batch_df, planes)
    assigned = materialize(_with_nrm2(_sdk_blocked_assign(q, cent, planes)))
    return _sdk_admit(assigned, standing)


def semdedup_step(store_dir: str) -> Callable[[DataFrame], DataFrame]:
    """The semantic-dedup admission step: gate the batch through
    ``semdedup_admit_batch`` against the persisted derived-k model
    (``build_semdedup_store``, refreshed on the recluster cadence) and
    return (vec_id, cid, is_dropped, src_file). Decisions read only
    persisted state, so a same-epoch replay lands byte-identical rows;
    ``streaming_semdedup_ingest_report`` reads the merged state."""

    def step(batch_df: DataFrame) -> DataFrame:
        return semdedup_admit_batch(
            batch_df.select("vec_id", "embedding"), store_dir
        ).join(batch_df.select("vec_id", "src_file"), "vec_id")

    return step


def streaming_semdedup_ingest_report(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Per-cluster admission audit over the accumulated ingest state:
    merge per-epoch decision rows with ``_latest_epoch`` per src_file
    and roll up (centroid_id, n_ingested, n_dropped, n_admitted,
    drop_ratio) — the ``semdedup`` audit shape at the ingest grain.
    Decision rows are batching-independent, so the drained report
    equals the one-shot gate's audit bit-for-bit (the parity test). The
    rollup is ``semdedup_ingest_audit``'s own ``_ingest_report``."""
    from mapreduce_rs_spark.operators.similarity import _ingest_report

    return _ingest_report(_latest_epoch(spark.read.parquet(state_dir)))


# ---------------------------------------------------------------------------
# Refit-model serving, continuous form (r11 verdict #3): the model
# lifecycle the similarity tier documents — fit (kmeans_refit_distributed)
# -> eval (kmeans_refit_eval) -> SWAP -> serve (knn_ivf_refit) — gets its
# streaming half. The swap is build_refit_store persisting the winning
# centroid state; from then on, corpus micro-batches are assigned under
# the PERSISTED refit model (the hot-swapped serving table a production
# index maintains), and the drained serve report answers the capped query
# set against the accumulated assignment — knn_ivf_refit's contract
# bit-for-bit. Rebuilding the model is the next refit cadence's job, the
# same fit/serve division of labor as the semdedup and graph-tier stores.
# ---------------------------------------------------------------------------


def build_refit_store(
    spark: SparkSession,
    corpus: DataFrame,
    store_dir: str,
    rounds: int | None = None,
    init: list[list[int]] | None = None,
) -> None:
    """Execute the SWAP: run the distributed refit
    (``_kmeans_rounds`` — the exact engine ``knn_ivf_refit`` runs
    inside its self-contained query) on the standing corpus and
    persist the winning centroid state (cid, cq) as the serving
    model. ``knn_ivf_refit`` re-fits per query by the family's
    self-contained-query convention; a serving pipeline performs the
    fit ONCE here and every admission/serve step reads the store."""
    from mapreduce_rs_spark.operators.similarity import (
        KMEANS_DIST_ROUNDS,
        _kmeans_rounds,
        kmeans_init_q,
    )

    rounds = KMEANS_DIST_ROUNDS if rounds is None else rounds
    init = init or kmeans_init_q()
    _q, cent = _kmeans_rounds(corpus, rounds, init)
    cent.select("cid", "cq").write.mode("overwrite").parquet(
        os.path.join(store_dir, "centroids")
    )


def _refit_rolled(spark: SparkSession, store_dir: str) -> DataFrame:
    """The persisted refit model re-rolled into the one-row broadcast
    state every assignment consumer shares (``_rolled_state`` —
    array_sort makes the roll independent of parquet row order)."""
    from mapreduce_rs_spark.operators.similarity import _rolled_state

    return _rolled_state(
        spark.read.parquet(os.path.join(store_dir, "centroids"))
    )


def refit_assign_batch(batch_df: DataFrame, store_dir: str) -> DataFrame:
    """Assign one corpus micro-batch under the persisted refit model:
    (vec_id, centroid_id) via the family's exact BIGINT argmax against
    the broadcast rolled state (``_refit_assign`` — the identical
    expression ``knn_ivf_refit`` runs, so the serving table can never
    disagree with the query's own assignment). Per-batch work is
    O(|batch| · k) integer dots: batch-proportional, never
    corpus-proportional."""
    from mapreduce_rs_spark.operators.similarity import _refit_assign

    rolled = _refit_rolled(batch_df.sparkSession, store_dir)
    return _refit_assign(batch_df.select("vec_id", "embedding"), rolled).select(
        "vec_id", "centroid_id"
    )


def refit_step(store_dir: str) -> Callable[[DataFrame], DataFrame]:
    """The refit-serving step: assign the batch under the persisted
    model (``build_refit_store`` — the swap; refreshed on the refit
    cadence) and return (vec_id, embedding, centroid_id, src_file).
    Assignments read only persisted state, so a same-epoch replay
    lands byte-identical rows. The state row carries the embedding
    because it IS the serving table — the re-rank reads raw vectors,
    so the assignment store is the (vector, list) inverted index a
    production IVF server maintains; ``streaming_refit_serve_report``
    answers queries over it."""

    def step(batch_df: DataFrame) -> DataFrame:
        return (
            refit_assign_batch(batch_df, store_dir)
            .join(batch_df.select("vec_id", "embedding", "src_file"), "vec_id")
            .select("vec_id", "embedding", "centroid_id", "src_file")
        )

    return step


def streaming_refit_serve_report(
    spark: SparkSession, state_dir: str, store_dir: str, k: int = 10
) -> DataFrame:
    """The serve report over the accumulated assignment state: merge
    per-epoch rows with ``_latest_epoch`` per src_file and answer the
    KMV-capped query
    set through ``_refit_serve_topk`` — nprobe=1 probe against the
    stored model, exact cosine re-rank, per-query top-k:
    ``knn_ivf_refit``'s (q_id, vec_id, cos_sim, rnk) contract. Each
    vector's assignment reads only the vector + the persisted model,
    so once the corpus is drained the report equals the batch query
    bit-for-bit (the parity test). State grows with the corpus — it is
    the serving index itself, not per-stream bookkeeping."""
    from mapreduce_rs_spark.operators.similarity import (
        _embd,
        _l2_raw,
        _refit_serve_topk,
    )

    merged = _latest_epoch(spark.read.parquet(state_dir)).select(
        "vec_id", "embedding", "centroid_id"
    )
    assigned = merged.select("vec_id", _embd().alias("embd"), "centroid_id").select(
        "vec_id",
        "embd",
        _l2_raw(F.col("embd")).alias("c_norm"),
        "centroid_id",
    )
    return _refit_serve_topk(
        assigned,
        merged.select("vec_id", "embedding"),
        _refit_rolled(spark, store_dir),
        k,
    )
