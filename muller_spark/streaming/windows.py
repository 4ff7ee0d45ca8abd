"""Structured-Streaming extension (SURVEY §2.12: the reference has no
streaming; its closest analogue is append-only ingestion with periodic
checkpoint commits, ``pipeline.py:149``).  We expose the natural Spark
generalization: file-source streams, event-time tumbling/sliding windows
with watermarks for late data, and a foreachBatch sink that lands
micro-batches as dataset commits — append-only ingestion with
checkpoints, exactly the reference's pattern but incremental.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _start_foreach_batch(
    stream: DataFrame,
    make_land,
    checkpoint_dir: str,
    trigger_seconds: int,
    available_now: bool,
):
    """Start a ``foreachBatch`` query: ``make_land(run_ns)`` builds the
    batch handler, where ``run_ns`` is a hash of ``checkpoint_dir`` that
    namespaces the handler's batch directories (micro-batch ids restart
    at 0 for every fresh checkpoint, so two queries landing under one
    path would otherwise collide on ``ingest_batch=0``).
    ``available_now=True`` drains all available input then stops."""
    import hashlib

    run_ns = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:10]
    writer = stream.writeStream.foreachBatch(make_land(run_ns)).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def stream_from_directory(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int = 10,
) -> DataFrame:
    """File-source stream: new files appearing under ``path`` become
    micro-batches."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def windowed_aggregate(
    stream: DataFrame,
    ts_col: str,
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
    group_cols: tuple[str, ...] = (),
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Event-time windowed aggregation with a late-data watermark.

    ``aggs`` maps column → {count|sum|avg|min|max}; defaults to count(*).
    Works identically on batch DataFrames (window() is just an expression),
    which is how the batch/stream parity tests check it.
    """
    win = F.window(F.col(ts_col), window_duration, slide or window_duration)
    out = stream
    if stream.isStreaming:
        out = out.withWatermark(ts_col, watermark)
    agg_exprs, agg_names = [], []
    for col, how in (aggs or {}).items():
        fn = {"count": F.count, "sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max}[how]
        name = f"{how}_{col}"
        agg_exprs.append(fn(col).alias(name))
        agg_names.append(name)
    if not agg_exprs:
        agg_exprs = [F.count(F.lit(1)).alias("n_events")]
        agg_names = ["n_events"]
    return out.groupBy(win.alias("window"), *group_cols).agg(*agg_exprs).select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *group_cols,
        *agg_names,
    )


def expectations_stream(
    stream: DataFrame,
    rules: "dict[str, Column]",
    ts_col: str,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming data-quality monitor: per event-time window, row count
    plus one violation count per named expectation (NULL predicates
    count as violations, same contract as ``operators.validate``).

    Use over an ingestion stream to catch schema drift / corruption as
    it lands instead of in the next batch audit.  Works identically on
    batch frames (window() is an expression) — that is the parity test.
    Output: (window_start, window_end, n_rows, viol_<rule>...).
    """
    if not rules:
        raise ValueError("expectations_stream needs at least one rule")
    out = stream
    if stream.isStreaming:
        out = out.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window_duration)
    viols = [
        F.sum(F.when(~cond | cond.isNull(), 1).otherwise(0)).alias(f"viol_{name}")
        for name, cond in sorted(rules.items())
    ]
    return (
        out.groupBy(win.alias("window"))
        .agg(F.count(F.lit(1)).alias("n_rows"), *viols)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_rows",
            *[f"viol_{name}" for name in sorted(rules)],
        )
    )


def write_stream_to_dataset(stream: DataFrame, ds, checkpoint_dir: str, trigger_seconds: int = 5):
    """foreachBatch sink: each micro-batch lands as one dataset commit —
    the streaming generalization of the reference's checkpointed
    transform pipeline (``pipeline.py:149``).

    Replay-safe: foreachBatch is at-least-once (a crash between commit
    and checkpoint re-invokes the handler with the same batch_id), so
    the handler skips any batch whose marker commit already exists in
    the dataset log — the commit log is the idempotence journal, same
    pattern as checkpointed ``ComputeFunction.eval``.  The handler is
    exposed as :func:`make_dataset_batch_handler` so the replay
    contract is directly testable."""
    return _start_foreach_batch(
        stream, lambda _: make_dataset_batch_handler(ds), checkpoint_dir,
        trigger_seconds, available_now=False,
    )


def make_dataset_batch_handler(ds):
    """The foreachBatch handler behind :func:`write_stream_to_dataset`:
    skips any batch whose ``stream batch <id>`` marker commit already
    exists (at-least-once replay guard), else appends + commits."""

    def land(batch_df: DataFrame, batch_id: int) -> None:
        marker = f"stream batch {batch_id}"
        for snap in ds.log_history():
            if getattr(snap, "message", None) == marker:
                return  # crash-replay of an already-committed batch
        if batch_df.isEmpty():
            return
        ds.extend_df(batch_df)
        ds.commit(marker)

    return land


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: "str | list[str]",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (small) static dimension, broadcast so the stream side never
    shuffles.  The classic "attach user/product attributes to an event
    stream" shape; works identically on batch DataFrames, which is how
    the parity test checks it."""
    return stream.join(F.broadcast(dim), on, how)


def join_streams(
    left: DataFrame,
    right: DataFrame,
    on: "str | list[str]",
    left_ts: str,
    right_ts: str,
    within: str = "10 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: rows match when their keys
    are equal AND the right event lands within ``[left_ts - within,
    left_ts + within]``.  Both sides carry watermarks so Spark can bound
    the join state (events older than watermark + within are evicted) —
    the state-store footprint is O(events in the time band), independent
    of stream length.

    ``how`` ∈ {inner, left_outer, right_outer, full_outer}.  For outer
    joins the unmatched rows are emitted only once the watermark passes
    the end of their time band (that is when Spark can prove no future
    match exists), so outer results trail the watermark by ``within`` +
    ``watermark``.

    On batch DataFrames the same key + band predicate runs as a plain
    join of the same type, which is how the parity tests pin semantics."""
    on = [on] if isinstance(on, str) else list(on)
    l, r = left.alias("l"), right.alias("r")
    if left.isStreaming:
        l = left.withWatermark(left_ts, watermark).alias("l")
    if right.isStreaming:
        r = right.withWatermark(right_ts, watermark).alias("r")
    band = F.expr(
        f"r.{right_ts} BETWEEN l.{left_ts} - INTERVAL {within} "
        f"AND l.{left_ts} + INTERVAL {within}"
    )
    cond = band
    for k in on:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    return l.join(r, cond, how)


def dedup_stream(
    stream: DataFrame,
    key_cols: "tuple[str, ...]",
    ts_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact deduplication — the ingest-time twin of
    ``operators/dedup.exact_dups`` for a training-data firehose: rows
    whose ``key_cols`` already appeared are dropped as they stream in.

    With ``ts_col`` set, state is watermark-bounded
    (``dropDuplicatesWithinWatermark``): a duplicate arriving within the
    watermark horizon of its first occurrence is dropped, and state for
    keys older than the watermark is evicted — bounded memory forever,
    the only shape that survives an unbounded 100 TB/day stream.
    Without ``ts_col`` it falls back to global ``dropDuplicates``
    (state grows with distinct keys — fine for bounded backfills).
    """
    if ts_col is not None:
        return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(key_cols)
        )
    return stream.dropDuplicates(list(key_cols))


def ledger_dedup_stream(
    stream: DataFrame,
    text_col: str,
    ledger_path: str,
    out_path: str,
    checkpoint_dir: str,
    normalize: bool = True,
    keep_by=None,
    trigger_seconds: int = 5,
    available_now: bool = False,
):
    """Restart-durable streaming dedup: each micro-batch anti-joins the
    persistent hash ledger (``operators/dedup.dedup_against_ledger``),
    survivors append to ``out_path`` parquet and their hashes to the
    ledger.  The complement of :func:`dedup_stream` — watermark state
    dies with the query, the ledger survives restarts AND is shared
    with batch ingest, so a firehose and a backfill dedup against the
    same history.

    foreachBatch serializes micro-batches, which satisfies the ledger's
    single-writer contract.  Crash class: heal-or-advance
    (``operators/ledger.py``) — survivors land exactly once under
    ``out_path/ingest_run=<ns>/ingest_batch=<id>/`` and keep their
    ``content_hash`` column, so the hashes always (re-)append from the
    landed parquet; duplicate hash rows are harmless (the ledger is
    read as an anti-join set) — compact with ``compact_dedup_ledger``.
    The ledger must exist (``init_dedup_ledger``, possibly on an empty
    frame).

    Batch directories are namespaced by a hash of ``checkpoint_dir``
    (:func:`_start_foreach_batch`): deleting the checkpoint but keeping
    ``out_path`` is safe as long as the checkpoint path CHANGES; reusing
    the identical path string after deleting its contents resurrects
    the old markers — use a new checkpoint dir instead."""
    return _start_foreach_batch(
        stream,
        lambda run_ns: make_ledger_batch_handler(
            text_col, ledger_path, out_path, run_ns,
            normalize=normalize, keep_by=keep_by,
        ),
        checkpoint_dir, trigger_seconds, available_now,
    )


def _landed_output(spark, out_path: str, run_ns: str, batch_id: int):
    """``(batch directory, whether its _SUCCESS marker exists)`` for a
    heal-or-advance twin's exactly-once output under ``out_path``."""
    batch_out = (
        f"{out_path.rstrip('/')}/ingest_run={run_ns}/ingest_batch={batch_id}"
    )
    marker = spark._jvm.org.apache.hadoop.fs.Path(batch_out + "/_SUCCESS")
    fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
    return batch_out, fs.exists(marker)


def make_ledger_batch_handler(
    text_col: str,
    ledger_path: str,
    out_path: str,
    run_ns: str,
    normalize: bool = True,
    keep_by=None,
):
    """The foreachBatch handler behind :func:`ledger_dedup_stream`,
    exposed so the crash-replay contract is directly testable: calling
    the handler twice with the same ``batch_id`` must not rewrite the
    landed output (marker skip) and must re-append its hashes (ledger
    heal).

    Content identity (NULL-text drop, normalization, intra-batch
    winner) comes from the SAME code as the batch path —
    ``operators/dedup.ledger_fresh_rows`` — so the two can never drift
    again."""
    from muller_spark.operators.dedup import ledger_fresh_rows

    def land(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_out, done = _landed_output(spark, out_path, run_ns, batch_id)
        if not done:
            if batch_df.filter(F.col(text_col).isNotNull()).isEmpty():
                return
            ledger = spark.read.parquet(ledger_path)
            fresh = ledger_fresh_rows(
                batch_df, text_col, ledger, normalize=normalize, keep_by=keep_by
            )
            fresh.write.mode("overwrite").parquet(batch_out)
        # heal-or-advance: hashes always (re-)append from the LANDED
        # parquet, so a replay after a crash between land and append
        # still completes the ledger write
        spark.read.parquet(batch_out).select("content_hash").write.mode(
            "append"
        ).parquet(ledger_path)

    return land


def neardup_dedup_stream(
    stream: DataFrame,
    text_col: str,
    id_col: str,
    ledger_path: str,
    out_path: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    trigger_seconds: int = 5,
    available_now: bool = False,
):
    """Restart-durable streaming NEAR-dup dedup — the
    :func:`ledger_dedup_stream` contract over the MinHash near-dup
    ledger (``operators/dedup.neardup_against_ledger``): each
    micro-batch is filtered to rows with no ledger document at exact
    hashed-shingle Jaccard ≥ ``threshold``; survivors land exactly-once
    under ``out_path`` and their bands + shingles append to the ledger
    so later batches (and batch ingest sharing the same ledger) see
    them.  Crash class: heal-or-advance (``operators/ledger.py``) —
    candidates and dup ids are distinct-folded, so replayed ledger rows
    are decision-harmless; compact offline if churn accumulates.  The
    ledger must exist (``init_neardup_ledger``, possibly on an empty
    frame)."""
    return _start_foreach_batch(
        stream,
        lambda run_ns: make_neardup_batch_handler(
            text_col, id_col, ledger_path, out_path, run_ns,
            threshold=threshold,
        ),
        checkpoint_dir, trigger_seconds, available_now,
    )


def make_neardup_batch_handler(
    text_col: str,
    id_col: str,
    ledger_path: str,
    out_path: str,
    run_ns: str,
    threshold: float = 0.5,
):
    """foreachBatch handler behind :func:`neardup_dedup_stream`,
    exposed for the crash-replay contract test: a second call with the
    same ``batch_id`` must not rewrite the landed output (marker skip)
    and must re-append the ledger state (heal).  The batch decision is
    the SAME code as batch ingest —
    ``operators/dedup.neardup_against_ledger(update=False)`` — so
    stream and batch can never drift; the ledger append is re-derived
    from the LANDED survivors (which keep ``text_col``), the
    heal-or-advance discipline."""
    import os as _os

    from muller_spark.operators.dedup import (
        _append_to_neardup_ledger,
        _portable_signature_frame,
        neardup_against_ledger,
    )

    def land(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_out, done = _landed_output(spark, out_path, run_ns, batch_id)
        if not done:
            if batch_df.filter(F.col(text_col).isNotNull()).isEmpty():
                return
            survivors = neardup_against_ledger(
                batch_df, text_col, id_col, ledger_path,
                threshold=threshold, update=False,
            )
            survivors.write.mode("overwrite").parquet(batch_out)
        meta = spark.read.parquet(_os.path.join(ledger_path, "meta")).first()
        sig = _portable_signature_frame(
            spark.read.parquet(batch_out), text_col, id_col,
            meta["num_hashes"], meta["shingle_size"],
        ).localCheckpoint()
        _append_to_neardup_ledger(
            sig, ledger_path, meta["num_hashes"], meta["bands"]
        )

    return land


def hamming_dedup_stream(
    stream: DataFrame,
    hash_col: str,
    id_col: str,
    ledger_path: str,
    out_path: str,
    checkpoint_dir: str,
    trigger_seconds: int = 5,
    available_now: bool = False,
):
    """Restart-durable streaming MEDIA near-dup dedup — the Hamming
    fingerprint ledger's streaming twin (round 10, closing the
    neardup/hamming asymmetry): each micro-batch of ``(id_col,
    hash_col)`` perceptual fingerprints (``image_dhash``,
    ``audio_fingerprint``, or ``video_frame_hashes`` output computed
    upstream or inside the source query) is filtered to rows with NO
    ledger fingerprint within the ledger's Hamming radius
    (``operators/dedup.hamming_against_ledger(update=False)`` — the
    SAME decision code as batch ingest, so stream and batch can never
    drift); survivors land exactly-once under ``out_path`` and their
    pigeonhole block postings append to the ledger so later batches
    and batch ingest see them.  Crash class: heal-or-advance
    (``operators/ledger.py``), as :func:`neardup_dedup_stream`.  The
    ledger must exist (``init_hamming_ledger``, possibly on an empty
    frame) — its meta pins (max_hamming, nbits) so mixed-geometry
    state is impossible."""
    return _start_foreach_batch(
        stream,
        lambda run_ns: make_hamming_batch_handler(
            hash_col, id_col, ledger_path, out_path, run_ns
        ),
        checkpoint_dir, trigger_seconds, available_now,
    )


def make_hamming_batch_handler(
    hash_col: str,
    id_col: str,
    ledger_path: str,
    out_path: str,
    run_ns: str,
):
    """foreachBatch handler behind :func:`hamming_dedup_stream`,
    exposed for the crash-replay contract test (mirrors
    :func:`make_neardup_batch_handler`)."""
    import os as _os

    from muller_spark.operators.dedup import (
        _hamming_block_rows,
        hamming_against_ledger,
    )

    def land(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_out, done = _landed_output(spark, out_path, run_ns, batch_id)
        fp = batch_df.select(
            F.col(id_col).alias("id"), F.col(hash_col).alias("dhash")
        )
        if not done:
            if fp.filter(F.col("dhash").isNotNull()).isEmpty():
                return
            survivors = hamming_against_ledger(
                fp, ledger_path, update=False
            )
            survivors.write.mode("overwrite").parquet(batch_out)
        meta = spark.read.parquet(
            _os.path.join(ledger_path, "meta")
        ).first()
        landed = spark.read.parquet(batch_out).localCheckpoint()
        _hamming_block_rows(
            landed, meta["nbits"], meta["max_hamming"]
        ).write.mode("append").parquet(_os.path.join(ledger_path, "blocks"))

    return land


def embedding_dedup_stream(
    stream: DataFrame,
    vec_col: str,
    id_col: str,
    ledger_path: str,
    out_path: str,
    checkpoint_dir: str,
    threshold: float = 0.95,
    trigger_seconds: int = 5,
    available_now: bool = False,
):
    """Restart-durable streaming SEMANTIC dedup — the
    :func:`ledger_dedup_stream` contract over the embedding near-dup
    ledger (``operators/dedup.embedding_against_ledger``): each
    micro-batch is filtered to rows with no ledger vector at exact
    cosine ≥ ``threshold``; survivors land exactly-once under
    ``out_path`` and their SRP buckets + unit vectors append to the
    ledger so later batches (and batch ingest sharing the same ledger)
    see them.  Completes the streaming ledger family's modality matrix
    next to the text (:func:`neardup_dedup_stream`) and media
    (:func:`hamming_dedup_stream`) twins.  Crash class:
    heal-or-advance (``operators/ledger.py``).  The ledger must
    exist (``init_embedding_ledger`` — on an empty frame pass ``dim=``).
    NULL-vector rows are DROPPED here (a poison row must not kill the
    stream); a wrong-width vector still raises, because silently
    bucketing corrupted geometry would poison every later verify."""
    return _start_foreach_batch(
        stream,
        lambda run_ns: make_embedding_batch_handler(
            vec_col, id_col, ledger_path, out_path, run_ns,
            threshold=threshold,
        ),
        checkpoint_dir, trigger_seconds, available_now,
    )


def make_embedding_batch_handler(
    vec_col: str,
    id_col: str,
    ledger_path: str,
    out_path: str,
    run_ns: str,
    threshold: float = 0.95,
):
    """foreachBatch handler behind :func:`embedding_dedup_stream`,
    exposed for the crash-replay contract test: a second call with the
    same ``batch_id`` must not rewrite the landed output (marker skip)
    and must re-append the ledger state (heal).  The batch decision is
    the SAME code as batch ingest —
    ``operators/dedup.embedding_against_ledger(update=False)`` — so
    stream and batch can never drift; the ledger append is re-derived
    from the LANDED survivors (which keep ``vec_col``), the
    heal-or-advance discipline."""
    import os as _os

    from muller_spark.operators.dedup import (
        _srp_bucket_frame,
        _unit_vec_frame,
        embedding_against_ledger,
    )

    def land(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_out, done = _landed_output(spark, out_path, run_ns, batch_id)
        batch_df = batch_df.filter(F.col(vec_col).isNotNull())
        if not done:
            if batch_df.isEmpty():
                return
            survivors = embedding_against_ledger(
                batch_df, vec_col, id_col, ledger_path,
                threshold=threshold, update=False,
            )
            survivors.write.mode("overwrite").parquet(batch_out)
        meta = spark.read.parquet(_os.path.join(ledger_path, "meta")).first()
        landed = spark.read.parquet(batch_out)
        _unit_vec_frame(
            landed, vec_col, id_col, meta["dim"]
        ).select("id", "vec").write.mode("append").parquet(
            _os.path.join(ledger_path, "vectors")
        )
        _srp_bucket_frame(
            landed, vec_col, id_col, meta["num_planes"], meta["num_tables"],
            int(meta["seed"]), meta["dim"], with_vec=False,
        ).select("table", "bucket", "id").write.mode("append").parquet(
            _os.path.join(ledger_path, "buckets")
        )

    return land


def drift_monitor_stream(
    stream: DataFrame,
    ref_df: DataFrame,
    value_col: str,
    out_path: str,
    checkpoint_dir: str,
    buckets: int = 10,
    trigger_seconds: int = 5,
    available_now: bool = False,
):
    """Streaming feature-drift monitor: every micro-batch computes its
    Population Stability Index against a STATIC reference snapshot and
    lands one row (batch_id, psi, n_rows) under ``out_path`` — the
    live "has the feed distribution moved" dashboard feed.

    The reference side (exact quantile cuts + per-bucket counts) is
    precomputed ONCE at monitor start (:func:`muller_spark.operators.
    quality.psi_reference` — bounded driver state), so a micro-batch
    pays exactly one scan of ITSELF: the per-batch PSI and the
    non-NULL row count come from the same aggregate
    (:func:`psi_against_reference`, pinned row-for-row equal to the
    batch operator by the test).

    Exactly-once per batch: rows land in
    ``out_path/monitor_batch=<ns>_<id>/`` with overwrite — a replay
    after a crash between the write and the checkpoint commit
    rewrites the same directory instead of appending a duplicate (the
    ledger handler's namespacing rule: batch ids restart at 0 for a
    fresh checkpoint, so the directory is namespaced by a hash of the
    checkpoint path).  Batches with no non-NULL values record
    psi=NULL rather than 0.0 — "no signal" must not read as "no
    drift".  Bucket contributions sum in bucket order in Python so
    the headline PSI is bit-stable run-to-run."""
    from muller_spark.operators.quality import (
        psi_against_reference, psi_reference,
    )

    spark = ref_df.sparkSession
    ref_state = psi_reference(ref_df, value_col, buckets=buckets)

    def make_land(run_ns: str):
        def land(batch_df: DataFrame, batch_id: int) -> None:
            rows = psi_against_reference(
                batch_df, value_col, ref_state
            ).collect()  # bounded: one row per bucket, already bucket-ordered
            n = sum(r["cur_count"] for r in rows)
            psi_val = (
                round(sum(r["psi_contrib"] for r in rows), 6)
                if n > 0 else None
            )
            spark.createDataFrame(
                [(int(batch_id), psi_val, int(n))],
                "batch_id long, psi double, n_rows long",
            ).write.mode("overwrite").parquet(
                f"{out_path}/monitor_batch={run_ns}_{batch_id}"
            )

        return land

    return _start_foreach_batch(
        stream, make_land, checkpoint_dir, trigger_seconds, available_now
    )


def incremental_dedup_flow_stream(
    stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    trigger_seconds: int = 5,
    available_now: bool = False,
):
    """Restart-durable STREAMING twin of the round-12 incremental dedup
    flow facade (``operators/flow.IncrementalDedupFlow`` — same ledger
    layout at ``root``: ``neardup`` + ``clusters`` + exactly-once
    ``admitted`` output): each micro-batch runs pairs → cluster ingest →
    admission, so a firehose maintains BOTH the near-dup ledger and the
    cluster labels without any batch job.

    Crash classes compose cleanly, per stage:

    - cluster ingest first, and it is replay-ABSORBING by the
      components ledger's semilattice theorem — a replayed batch's
      pair edges (even the superset a replay derives after admission
      mutated the near-dup ledger: self-loops vanish in
      canonicalization, survivor-vs-its-own-ledger-copy edges
      re-contract to existing roots) change no label;
    - admission is the proven neardup handler verbatim
      (:func:`make_neardup_batch_handler`): marker-guarded exactly-once
      output, heal-or-advance ledger append.

    Note the replay nondeterminism this inherits (documented, not a
    correctness issue): two same-batch survivors that are near-dups of
    EACH OTHER pair only on a replay (the first pass sees neither in
    the ledger) — cluster state is monotone under the flow's
    semantics either way.  ``flow.init(seed)`` (or the two ledger init
    calls) must run before the stream starts."""
    return _start_foreach_batch(
        stream,
        lambda run_ns: make_flow_batch_handler(
            text_col, id_col, root, run_ns, threshold=threshold
        ),
        checkpoint_dir, trigger_seconds, available_now,
    )


def make_flow_batch_handler(
    text_col: str,
    id_col: str,
    root: str,
    run_ns: str,
    threshold: float = 0.5,
):
    """foreachBatch handler behind :func:`incremental_dedup_flow_stream`,
    exposed for the crash-replay contract test.  Stage order is pinned:
    pair discovery BEFORE admission mutates the near-dup ledger (same
    ordering the batch facade pins), cluster ingest before the landed
    write so a crash anywhere leaves only replay-absorbable state."""
    import os as _os

    from muller_spark.operators.components import components_ledger_ingest
    from muller_spark.operators.dedup import neardup_pairs_against_ledger

    nd_path = _os.path.join(root, "neardup")
    cl_path = _os.path.join(root, "clusters")
    admit = make_neardup_batch_handler(
        text_col, id_col, nd_path, _os.path.join(root, "admitted"),
        run_ns, threshold=threshold,
    )

    def land(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.filter(F.col(text_col).isNotNull()).isEmpty():
            return
        pairs = neardup_pairs_against_ledger(
            batch_df, text_col, id_col, nd_path, threshold=threshold
        ).localCheckpoint()
        components_ledger_ingest(pairs, cl_path, src="id_a", dst="id_b")
        admit(batch_df, batch_id)

    return land


def semantic_dedup_flow_stream(
    stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    trigger_seconds: int = 5,
    available_now: bool = False,
):
    """Restart-durable streaming twin of the EMBEDDING dedup flow
    facade (``operators/flow.IncrementalSemanticDedupFlow`` — same
    ledger layout at ``root``: ``embeddings`` + ``clusters`` +
    exactly-once ``admitted`` output): each micro-batch runs semantic
    pairs → cluster ingest → admission, so a firehose of embeddings
    maintains BOTH the SRP ledger and the cluster labels without any
    batch job.  The crash-class composition is
    :func:`incremental_dedup_flow_stream`'s verbatim — cluster ingest
    first (replay-absorbing by the semilattice theorem), admission via
    the marker-guarded embedding handler
    (:func:`make_embedding_batch_handler`) — and the same documented
    replay nondeterminism for intra-batch mutual near-dups.
    ``flow.init(seed)`` must run before the stream starts."""
    return _start_foreach_batch(
        stream,
        lambda run_ns: make_semantic_flow_batch_handler(
            vec_col, id_col, root, run_ns, threshold=threshold
        ),
        checkpoint_dir, trigger_seconds, available_now,
    )


def make_semantic_flow_batch_handler(
    vec_col: str,
    id_col: str,
    root: str,
    run_ns: str,
    threshold: float = 0.95,
):
    """foreachBatch handler behind :func:`semantic_dedup_flow_stream`,
    exposed for the crash-replay contract test.  Stage order pinned as
    in :func:`make_flow_batch_handler`: pair discovery BEFORE admission
    mutates the embedding ledger, cluster ingest before the landed
    write so a crash anywhere leaves only replay-absorbable state.
    NULL-vector rows are dropped up front (handler contract shared
    with :func:`make_embedding_batch_handler`)."""
    import os as _os

    from muller_spark.operators.components import components_ledger_ingest
    from muller_spark.operators.dedup import embedding_pairs_against_ledger

    emb_path = _os.path.join(root, "embeddings")
    cl_path = _os.path.join(root, "clusters")
    admit = make_embedding_batch_handler(
        vec_col, id_col, emb_path, _os.path.join(root, "admitted"),
        run_ns, threshold=threshold,
    )

    def land(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.filter(F.col(vec_col).isNotNull())
        if batch_df.isEmpty():
            return
        pairs = embedding_pairs_against_ledger(
            batch_df, vec_col, id_col, emb_path, threshold=threshold
        ).select("id_a", "id_b").localCheckpoint()
        components_ledger_ingest(pairs, cl_path, src="id_a", dst="id_b")
        admit(batch_df, batch_id)

    return land


def _stats_ledger_batch_handler(family, ledger_path: str, run_ns: str):
    """The marker + landed-manifest handler shared by the statistics
    ledgers' stream twins (crash class in ``operators/ledger.py``):
    each micro-batch's partial lands as the ``_SUCCESS``-marked
    ``<log>/ingest_run=<ns>/ingest_batch=<id>`` subdirectory, then its
    ``landed/<ns>_<id>`` entry is touched.  A replay that finds the
    entry does nothing; one that finds only the marker (crash between
    the two writes) records the entry without rewriting.  Grouping and
    parameters come from the ledger meta, never the caller."""
    import os as _os

    def land(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_dir = _os.path.join(
            ledger_path,
            family.log,
            f"ingest_run={run_ns}",
            f"ingest_batch={batch_id}",
        )
        hpath = spark._jvm.org.apache.hadoop.fs.Path
        landed = hpath(
            _os.path.join(ledger_path, "landed", f"{run_ns}_{batch_id}")
        )
        fs = landed.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(landed):
            return  # replayed batch: manifest outlives compaction
        if not fs.exists(hpath(batch_dir + "/_SUCCESS")):
            keys, meta = family.load_meta(spark, ledger_path)
            family.partials(batch_df, keys, meta).write.mode(
                "overwrite"
            ).parquet(batch_dir)
        fs.mkdirs(landed.getParent())
        fs.createNewFile(landed)

    return land


def agg_ledger_stream(
    stream: DataFrame,
    ledger_path: str,
    checkpoint_dir: str,
    trigger_seconds: int = 5,
    available_now: bool = False,
):
    """Restart-durable streaming ingest into the incremental AGGREGATE
    ledger (``operators/aggregate``) — materialized-view maintenance
    over a stream: each micro-batch folds to ONE partial-aggregate row
    per key (map-side, O(batch)) landed as a batch-namespaced
    subdirectory of the ledger's partial log.  Partials are NOT
    duplicate-tolerant, so this twin takes the marker + landed
    manifest crash class (``operators/ledger.py``) instead of the
    dedup twins' heal-or-advance."""
    return _start_foreach_batch(
        stream,
        lambda run_ns: make_agg_ledger_batch_handler(ledger_path, run_ns),
        checkpoint_dir, trigger_seconds, available_now,
    )


def make_agg_ledger_batch_handler(ledger_path: str, run_ns: str):
    """foreachBatch handler behind :func:`agg_ledger_stream`, exposed
    for the crash-replay contract test (:func:`_stats_ledger_batch_handler`
    over the aggregate ledger)."""
    from muller_spark.operators.aggregate import _AGG_LEDGER

    return _stats_ledger_batch_handler(_AGG_LEDGER, ledger_path, run_ns)


def quantile_ledger_stream(
    stream: DataFrame,
    ledger_path: str,
    checkpoint_dir: str,
    trigger_seconds: int = 5,
    available_now: bool = False,
):
    """Restart-durable streaming ingest into the incremental QUANTILE
    ledger (``operators/quantiles``) — per-key percentile state
    maintained over a stream.  Sketch rows are weight-carrying, so the
    crash class is :func:`agg_ledger_stream`'s: each micro-batch's own
    bounded MRL sketch lands as a marker-guarded subdirectory of the
    sketch log."""
    return _start_foreach_batch(
        stream,
        lambda run_ns: make_quantile_ledger_batch_handler(ledger_path, run_ns),
        checkpoint_dir, trigger_seconds, available_now,
    )


def make_quantile_ledger_batch_handler(ledger_path: str, run_ns: str):
    """foreachBatch handler behind :func:`quantile_ledger_stream`,
    exposed for the crash-replay contract test."""
    from muller_spark.operators.quantiles import _QUANTILE_LEDGER

    return _stats_ledger_batch_handler(_QUANTILE_LEDGER, ledger_path, run_ns)


def mg_ledger_stream(
    stream: DataFrame,
    ledger_path: str,
    checkpoint_dir: str,
    trigger_seconds: int = 5,
    available_now: bool = False,
):
    """Restart-durable streaming ingest into the incremental
    HEAVY-HITTERS ledger (``operators/heavyhitters``) — per-key top-k
    state maintained over a stream.  Misra–Gries summaries are
    mergeable but NOT replay-tolerant, so the crash class is
    :func:`agg_ledger_stream`'s: each micro-batch's own merged summary
    lands as a marker-guarded subdirectory of the summary log."""
    return _start_foreach_batch(
        stream,
        lambda run_ns: make_mg_ledger_batch_handler(ledger_path, run_ns),
        checkpoint_dir, trigger_seconds, available_now,
    )


def make_mg_ledger_batch_handler(ledger_path: str, run_ns: str):
    """foreachBatch handler behind :func:`mg_ledger_stream`, exposed
    for the crash-replay contract test."""
    from muller_spark.operators.heavyhitters import _MG_LEDGER

    return _stats_ledger_batch_handler(_MG_LEDGER, ledger_path, run_ns)


def components_ledger_stream(
    stream: DataFrame,
    ledger_path: str,
    checkpoint_dir: str,
    src: str = "src",
    dst: str = "dst",
    trigger_seconds: int = 5,
    available_now: bool = False,
):
    """Restart-durable streaming ingest into the incremental
    CONNECTED-COMPONENTS ledger (``operators/components``): each
    micro-batch of candidate-pair edges folds into the persisted star
    forest in O(affected).  Crash class: no guard
    (``operators/ledger.py``, see :func:`muller_spark.operators.
    components.init_components_ledger`), so the twin is a plain
    per-batch ingest.  Composes with the near-dup ledger streams: their
    landed survivor pairs are this stream's edges — ingest →
    candidate pairs → cluster maintenance, all O(batch)."""
    from muller_spark.operators.components import components_ledger_ingest

    def land(batch_df: DataFrame, batch_id: int) -> None:
        components_ledger_ingest(batch_df, ledger_path, src=src, dst=dst)

    return _start_foreach_batch(
        stream, lambda _: land, checkpoint_dir, trigger_seconds,
        available_now,
    )
