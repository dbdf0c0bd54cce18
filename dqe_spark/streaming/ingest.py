"""Structured Streaming: the streaming analogue of the batch engine.

The reference is pull-based batch over a time range — no watermarks or
late-data semantics exist there (SURVEY.md §2.10); this module is the
natural extension for continuous ingestion at scale: the SAME window
aggregates (§2.4), expressed over readStream with event-time watermarks
so state stores stay bounded.

Design for scale:
  * event-time tumbling windows == the batch engine's wts bucketing, so
    a backfilled batch query and the live stream agree on results.
  * watermark bounds the state store: late points beyond it are
    dropped (the batch path remains the source of truth for reruns).
  * sink layout = the materialized metric store layout, so streamed
    and ingested data are queried identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the driver's parquet has flipped between int64-nanosecond ts (read as
# long under nanosAsLong) and timestamp[us] across data generations —
# both schemas are accepted; the derivation below adapts to whichever
# the landing files actually carry (same drift the batch path absorbs
# in sources/metric_store.ts_ms_col).
STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

STREAM_SCHEMA_NANOS = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def stream_metrics(
    spark: SparkSession,
    source_dir: str,
    schema: str = STREAM_SCHEMA,
    with_dims: bool = False,
) -> DataFrame:
    """readStream over a landing directory of parquet event files,
    mapped to the metric-store shape (same derivation as batch).

    ``ts`` may be declared timestamp (used as event time directly) or
    long nanoseconds (rebuilt via timestamp_micros) — pass the schema
    matching the landing files' encoding. ``with_dims`` adds the tag
    dimension columns (host/dc/user, same derivation as
    sources/metric_store) for tagged-partial maintenance.
    """
    ev = spark.readStream.schema(schema).parquet(source_dir)
    if dict(ev.dtypes)["ts"].startswith("timestamp"):
        ts = F.col("ts").cast("timestamp")
    else:
        ts = F.expr("timestamp_micros(ts div 1000)")
    metric = F.concat(F.lit("events."), F.col("event_type"))
    cols = [
        F.lit("events").alias("bucket"),
        metric.alias("metric"),
        ts.alias("ts"),
        F.col("value").cast("double").alias("value"),
        ((F.col("event_id") % 11) / F.lit(10.0)).alias("confidence"),
    ]
    if with_dims:
        cols[2:2] = [
            F.concat(F.lit("h"), (F.col("user_id") % 3).cast("string")).alias("host"),
            F.when(F.col("user_id") % 2 == 0, F.lit("east"))
            .otherwise(F.lit("west")).alias("dc"),
            F.concat(F.lit("u"), (F.col("user_id") % 5).cast("string")).alias("user"),
        ]
    return ev.select(*cols)


def windowed_stream_agg(
    metrics: DataFrame,
    window: str = "1 minute",
    watermark: str | None = "5 minutes",
    agg: str = "avg",
) -> DataFrame:
    """Streaming §2.4 aggregate: per (metric, tumbling window), with an
    event-time watermark bounding state. Output matches the batch
    engine's (metric, wts, value) shape.

    watermark=None skips the withWatermark call for inputs that
    already carry one (e.g. stream_dedup output — Spark forbids
    redefining the watermark on one stream)."""
    fns = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
           "count": F.count, "stddev": F.stddev_pop}
    if agg not in fns:
        raise ValueError(f"unsupported streaming aggregate: {agg}")
    src = metrics.withWatermark("ts", watermark) if watermark else metrics
    out = (
        src.groupBy("metric", F.window("ts", window).alias("w"))
        .agg(F.round(fns[agg]("value"), 4).alias("value"))
    )
    return out.select(
        "metric",
        (F.unix_millis(F.col("w.start"))).alias("wts"),
        "value",
    )


def write_to_store(
    agg: DataFrame, out_dir: str, checkpoint_dir: str, available_now: bool = True
):
    """Sink the streaming aggregate as parquet in the store layout.
    availableNow=True drains the backlog then stops (used by tests and
    backfill jobs); continuous deployments drop it."""
    w = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_rollup_partials(
    metrics: DataFrame,
    res: str = "1 minute",
    watermark: str = "5 minutes",
    dims: tuple[str, ...] = (),
) -> DataFrame:
    """Continuous rollup maintenance: the streaming twin of the batch
    scalar ladder (sources/rollup.py, with ``dims`` the tagged one) —
    per (metric, dims, base-window) the same mergeable partials
    (rollup.point_aggs) with an event-time watermark bounding state.
    Appended windows land in the same layout the batch rollup writes,
    so the query-side rollup rewrite reads streamed and backfilled
    partials identically; late points beyond the watermark belong to
    the batch backfill path. Tagged input must come from
    stream_metrics(with_dims=True); dims are low-cardinality, so state
    stays a small constant factor over the plain streaming rollup."""
    from dqe_spark.sources.rollup import point_aggs

    return (
        metrics.withWatermark("ts", watermark)
        .groupBy("bucket", "metric", *dims, F.window("ts", res).alias("w"))
        .agg(*point_aggs())
        .select(
            "bucket", "metric", *dims,
            F.unix_millis(F.col("w.start")).alias("wts"),
            "cnt", "sum", "sum_sq", "min", "max", "sum_conf",
        )
    )


def stream_hist_partials(
    metrics: DataFrame,
    res: str = "1 minute",
    watermark: str = "5 minutes",
    dims: tuple[str, ...] = (),
) -> DataFrame:
    """Streaming twin of the batch histogram ladder (and, with
    ``dims``, the tagged histogram): per-(window, v100) exact value
    counts. State per open window is bounded by the value DOMAIN seen
    in that window, not its point count — the same compression argument
    as the batch histogram ladder."""
    from dqe_spark.sources.rollup import v100

    return (
        metrics.withWatermark("ts", watermark)
        .select("bucket", "metric", *dims, "ts", v100())
        .groupBy("bucket", "metric", *dims, "v100", F.window("ts", res).alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "bucket", "metric", *dims,
            F.unix_millis(F.col("w.start")).alias("wts"),
            "v100", "cnt",
        )
    )


def stream_sessions(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization on Spark's native session_window:
    per-key gap-merged sessions with watermark-bounded state — the
    streaming twin of operators/temporal.sessionize (same gap
    semantics; a drained stream yields the same sessions). Output
    (key, session_start, session_end, n_events) in ms."""
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.col(key), F.session_window(F.col(ts), gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            key,
            F.unix_millis(F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )


DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def stream_clean_corpus(
    spark: SparkSession, source_dir: str, schema: str = DOCS_SCHEMA
) -> DataFrame:
    """Streaming twin of operators/text.clean_corpus: the C4-style
    cleanup (length bounds, quality gate, language gate, PII redaction,
    split assignment) applied to a landing directory of document
    parquet as they arrive. The pass is a stateless narrow projection,
    so the streaming plan is the batch plan with a file source in
    front — no watermark or state store involved; a drained stream
    equals the batch run over the same files (asserted in tests)."""
    from dqe_spark.operators.text import clean_corpus

    docs = spark.readStream.schema(schema).parquet(source_dir)
    return clean_corpus(docs)


def stream_dedup(
    metrics: DataFrame,
    keys: tuple[str, ...] = ("metric", "ts"),
    watermark: str = "10 minutes",
    ts: str = "ts",
) -> DataFrame:
    """Exactly-once-per-key ingest dedup for streams: drop repeated
    (key, event-time) rows — at-least-once upstream delivery (Kafka
    replays, retried file lands) otherwise double-counts points in
    every downstream aggregate.

    dropDuplicatesWithinWatermark keeps the state store bounded by the
    watermark horizon — per-key state expires once the watermark
    passes it, so state size tracks the live window, not the stream's
    lifetime. A plain dropDuplicates on a stream grows state forever;
    this is the 100 TB-safe formulation."""
    return metrics.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_distinct_partials(
    spark: SparkSession,
    source_dir: str,
    res: str = "1 hour",
    watermark: str = "6 hours",
    schema: str = STREAM_SCHEMA,
    lg_k: int = 12,
) -> DataFrame:
    """Continuous distinct-count maintenance: HLL sketch partials per
    (event_type, event-time window) — the streaming twin of
    sources/rollup.build_distinct_rollup. Drained-stream sketches
    hll_union_agg-merge with batch-built cells (same algorithm, same
    lgConfigK), so the serving layer never cares which path produced a
    cell; late events beyond the watermark belong to the batch
    merge_distinct_increment backfill."""
    ev = spark.readStream.schema(schema).parquet(source_dir)
    if dict(ev.dtypes)["ts"].startswith("timestamp"):
        ts = F.col("ts").cast("timestamp")
    else:
        ts = F.expr("timestamp_micros(ts div 1000)")
    return (
        ev.select("event_type", ts.alias("ts"), "user_id")
        .withWatermark("ts", watermark)
        .groupBy("event_type", F.window("ts", res).alias("w"))
        .agg(F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("sketch"))
        .select(
            "event_type",
            F.unix_millis(F.col("w.start")).alias("wts"),
            "sketch",
        )
    )


def stream_portable_distinct_registers(
    spark: SparkSession,
    source_dir: str,
    res: str = "1 hour",
    watermark: str = "6 hours",
    schema: str = STREAM_SCHEMA,
) -> DataFrame:
    """Continuous maintenance of the PORTABLE-HLL register relation —
    the streaming twin of sources/rollup.build_portable_distinct_rollup.

    Stronger contract than the DataSketches twin above: registers are
    (event_type, window, bucket) → max(rho) rows, and max is the
    streaming aggregate itself, so a drained stream's registers are
    BIT-IDENTICAL to the batch build's for every closed window (not
    merely estimate-equal) — pinned in tests/test_streaming.py. Late
    events beyond the watermark belong to the batch
    merge_portable_distinct_increment backfill, which max-merges
    losslessly into the same cells."""
    from dqe_spark.operators.sketches import TAILMOD, hash60_expr, rho_expr

    ev = spark.readStream.schema(schema).parquet(source_dir)
    if dict(ev.dtypes)["ts"].startswith("timestamp"):
        ts = F.col("ts").cast("timestamp")
    else:
        ts = F.expr("timestamp_micros(ts div 1000)")
    return (
        ev.select("event_type", ts.alias("ts"), "user_id")
        .withWatermark("ts", watermark)
        .where(F.col("user_id").isNotNull())  # mirrors hll_registers
        .select(
            "event_type",
            "ts",
            F.expr(hash60_expr("user_id", "spark")).alias("__w"),
        )
        .select(
            "event_type",
            "ts",
            F.expr(f"__w div {TAILMOD}").alias("bucket"),
            F.expr(rho_expr("__w", "spark")).alias("rho"),
        )
        .groupBy("event_type", F.window("ts", res).alias("w"), "bucket")
        .agg(F.max("rho").alias("r"))
        .select(
            "event_type",
            F.unix_millis(F.col("w.start")).alias("wts"),
            "bucket",
            "r",
        )
    )


def stream_index_documents(
    spark: SparkSession,
    landing_dir: str,
    sf_dir: str,
    checkpoint: str,
    schema: str = DOCS_SCHEMA,
):
    """Continuous positional-index maintenance: each micro-batch of
    newly landed documents folds into the inverted index via the SAME
    merge_index_increment the batch backfill uses, so streamed and
    backfilled postings are indistinguishable (drained == one-shot
    rebuild; tests/test_streaming.py). foreachBatch because the sink
    is a partitioned-store merge (touched buckets rewrite via dynamic
    partition overwrite), not an append — and the increment is
    idempotent on re-landed docs (the distinct absorbs them), which is
    exactly the at-least-once delivery foreachBatch provides. Returns
    the unstarted writeStream (caller picks the trigger)."""
    from dqe_spark.sources.text_index import merge_index_increment

    docs = spark.readStream.schema(schema).parquet(landing_dir)

    def _merge(batch_df, _batch_id):
        if not batch_df.isEmpty():
            merge_index_increment(batch_df.sparkSession, sf_dir, batch_df)

    return (
        docs.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
    )


def stream_dedup_index_documents(
    spark: SparkSession,
    landing_dir: str,
    sf_dir: str,
    checkpoint: str,
    schema: str = DOCS_SCHEMA,
):
    """Continuous MinHash-store maintenance — the signature-store twin
    of stream_index_documents: each micro-batch of landed documents
    folds into the persisted band/shingle store via the same
    idempotent merge the batch backfill uses, so the incremental
    near-dup probe (minhash_store.neardup_against_store) always sees
    the corpus up to the last drained batch. Returns the unstarted
    writeStream."""
    from dqe_spark.sources.minhash_store import merge_minhash_increment

    docs = spark.readStream.schema(schema).parquet(landing_dir)

    def _merge(batch_df, _batch_id):
        if not batch_df.isEmpty():
            merge_minhash_increment(batch_df.sparkSession, sf_dir, batch_df)

    return (
        docs.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
    )


def stream_gram_store_documents(
    spark: SparkSession,
    landing_dir: str,
    sf_dir: str,
    checkpoint: str,
    schema: str = DOCS_SCHEMA,
):
    """Continuous positional-gram-store maintenance — the
    exact-substring twin of stream_dedup_index_documents: each
    micro-batch of landed documents folds into the persisted gram
    store via the same last-write-wins merge the batch backfill uses,
    so the landing-time cut-list probe
    (gram_store.spans_against_store) always sees the corpus up to the
    last drained batch. Returns the unstarted writeStream."""
    from dqe_spark.sources.gram_store import merge_gram_increment

    docs = spark.readStream.schema(schema).parquet(landing_dir)

    def _merge(batch_df, _batch_id):
        if not batch_df.isEmpty():
            merge_gram_increment(batch_df.sparkSession, sf_dir, batch_df)

    return (
        docs.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
    )


#: landed-vector schema for ANN maintenance streams
VECS_SCHEMA = "vec_id long, embedding array<float>, label int"


def stream_ann_vectors(
    spark: SparkSession,
    landing_dir: str,
    sf_dir: str,
    checkpoint: str,
    schema: str = VECS_SCHEMA,
):
    """Continuous ANN-index maintenance — the vector-store member of
    the maintenance trio (text index, MinHash store, ANN index): each
    micro-batch of landed vectors folds into the materialized IVF-PQ
    index via the SAME merge_ann_increment the batch backfill uses
    (assign + encode against the FROZEN centroids/codebooks, touched
    cells rewrite via dynamic partition overwrite, last-write-wins per
    vec_id). Upsert idempotency makes foreachBatch's at-least-once
    delivery safe; served kNN (ann_store.knn_pq_probed) always sees
    the corpus up to the last drained batch. Returns the unstarted
    writeStream (caller picks the trigger)."""
    from dqe_spark.sources.ann_store import merge_ann_increment

    vecs = spark.readStream.schema(schema).parquet(landing_dir)

    def _merge(batch_df, _batch_id):
        if not batch_df.isEmpty():
            merge_ann_increment(batch_df.sparkSession, sf_dir, batch_df)

    return (
        vecs.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
    )


DOCS_SCHEMA = "doc_id long, lang string, text string"


def stream_dsir_model(
    spark: SparkSession,
    landing_dir: str,
    sf_dir: str,
    checkpoint: str,
    target_lang: str = "en",
    schema: str = DOCS_SCHEMA,
    n_buckets: int | None = None,
):
    """Continuous DSIR-model maintenance — the model-store member of
    the maintenance family (text index, MinHash store, ANN index, gram
    store, sketch ladders, DSIR model): newly-landed documents keep
    the persisted (bucket, ct, cr) counts current, so selections
    against the store always reflect the corpus up to the last drained
    batch.

    Shape: a single COMPLETE-mode streaming aggregation over the
    map-only gram/bucket stream (operators/text.dsir_gram_buckets —
    chained streaming groupBys are unsupported, so the model counts
    fold the gram stream directly; state is ≤ B rows). Each trigger
    emits the FULL stream-side model, and foreachBatch OVERWRITES the
    store's sibling stream part wholesale (dsir_store.
    write_dsir_stream_part) — idempotent under at-least-once replay,
    where a sum-merge into the base part would double-count.
    load_dsir_model sum-merges base + stream parts at read time
    (counts are additive), so drained-stream selections are
    bit-identical to a batch build over the union (pinned in
    tests/test_streaming.py). Returns the unstarted writeStream
    (caller picks the trigger)."""
    from dqe_spark.operators.text import dsir_gram_buckets
    from dqe_spark.sources.dsir_store import dsir_b, write_dsir_stream_part

    b = n_buckets if n_buckets is not None else dsir_b(sf_dir, target_lang)
    docs = spark.readStream.schema(schema).parquet(landing_dir)
    grams = dsir_gram_buckets(
        docs, F.col("lang") == target_lang, b
    )
    model = grams.groupBy("bucket").agg(
        F.sum(F.when(F.col("_is_t"), 1).otherwise(0))
        .cast("long")
        .alias("ct"),
        F.sum(F.when(F.col("_is_t"), 0).otherwise(1))
        .cast("long")
        .alias("cr"),
    )

    def _write(batch_df, _batch_id):
        write_dsir_stream_part(
            batch_df.sparkSession, batch_df, sf_dir, target_lang
        )

    return (
        model.writeStream.outputMode("complete")
        .foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
    )


def stream_cms_counters(
    spark: SparkSession,
    source_dir: str,
    res: str = "1 hour",
    watermark: str = "6 hours",
    schema: str = STREAM_SCHEMA,
    w: int | None = None,
    sf_dir: str | None = None,
    store_res_ms: int = 3_600_000,
) -> DataFrame:
    """Continuous maintenance of the Count-Min counter relation — the
    streaming twin of sources/rollup.build_cms_rollup, completing the
    ladder symmetry (every persisted sketch store has a streaming
    maintenance path). The per-row work is two Generates (the
    with_hash60 barrier, then the D position structs) before an
    ordinary windowed count, so a drained stream's counters for
    closed windows are BIT-IDENTICAL to the batch build's (counts are
    additive and both paths see the same rows; pinned in
    tests/test_streaming.py). Late events beyond the watermark belong
    to the batch merge_cms_increment backfill, which sum-merges
    losslessly into the same cells.

    WIDTH CONTRACT (enforced, not doc-only): positions are h mod W, so
    counters emitted at a width other than the maintained store's
    ``_WIDTH`` marker sum-merge silently into garbage. Pass ``sf_dir``
    to derive ``w`` from that store's marker (sources/rollup.cms_width,
    at ``store_res_ms`` grain — the recommended form); an explicit
    ``w`` is trusted as-is. With NEITHER set, the floor CMS_W is used
    and a loud warning is printed — only correct against a
    legacy/floor-width store."""
    from dqe_spark.operators.sketches import (
        CMS_D,
        CMS_W,
        cms_pos_expr,
        with_hash60,
    )

    if w is None and sf_dir is not None:
        from dqe_spark.sources.rollup import cms_width

        w = cms_width(sf_dir, store_res_ms)
    elif w is None:
        print(
            "[streaming] stream_cms_counters: no width given and no "
            f"sf_dir to read a _WIDTH marker from — defaulting to the "
            f"CMS_W floor ({CMS_W}). If the maintained store was "
            "auto-sized wider, these counters will merge into WRONG "
            "positions; pass sf_dir (preferred) or the store's width."
        )
    ev = spark.readStream.schema(schema).parquet(source_dir)
    if dict(ev.dtypes)["ts"].startswith("timestamp"):
        ts = F.col("ts").cast("timestamp")
    else:
        ts = F.expr("timestamp_micros(ts div 1000)")
    hashed = with_hash60(
        ev.select("event_type", ts.alias("ts"), "user_id")
        .withWatermark("ts", watermark)
        .where(F.col("user_id").isNotNull()),
        "user_id",
    )
    pos = hashed.select(
        "event_type",
        "ts",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.expr(
                            cms_pos_expr("__h", d, "spark", w or CMS_W)
                        ).alias("pos"),
                    )
                    for d in range(CMS_D)
                ]
            )
        ).alias("__e"),
    ).select(
        "event_type", "ts", F.col("__e.d").alias("d"), F.col("__e.pos").alias("pos")
    )
    return (
        pos.groupBy("event_type", F.window("ts", res).alias("w"), "d", "pos")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "event_type",
            F.unix_millis(F.col("w.start")).alias("wts"),
            "d",
            "pos",
            "c",
        )
    )


def stream_click_near_error_pairs(
    spark: SparkSession,
    source_dir: str,
    radius: str = "5 minutes",
    watermark: str = "6 hours",
    schema: str = STREAM_SCHEMA,
) -> DataFrame:
    """Continuous interval join — the streaming twin of
    operators/temporal.range_agg_join's registry query: every (error,
    click) pair of the SAME user within ±radius, as the events land.
    Structured Streaming plans the time-range condition as a
    watermarked stream-stream join natively (state bounded by
    watermark + radius on both sides; Spark evicts rows that can no
    longer match), so the operator needs no custom state at all —
    declare the range predicate and let the engine keep exactly the
    buffer the semantics require. Same-source self-join: both sides
    read the one landing directory. A drained stream's pairs equal
    the batch literal range join row-for-row
    (tests/test_streaming.py); the batch registry twin additionally
    aggregates per error, which streaming callers do downstream of
    this pair stream."""
    ev = spark.readStream.schema(schema).parquet(source_dir)
    if dict(ev.dtypes)["ts"].startswith("timestamp"):
        ts = F.col("ts").cast("timestamp")
    else:
        ts = F.expr("timestamp_micros(ts div 1000)")
    base = ev.select(
        "event_id", "user_id", ts.alias("ts"), "event_type", "value"
    )
    errors = (
        base.where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("ets"),
        )
        .withWatermark("ets", watermark)
    )
    clicks = (
        base.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("cts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("cts", watermark)
    )
    return errors.join(
        clicks,
        F.expr(
            f"e_user = c_user AND "
            f"cts BETWEEN ets - INTERVAL {radius} "
            f"AND ets + INTERVAL {radius}"
        ),
        "inner",
    ).select(
        "error_id",
        F.col("e_user").alias("user_id"),
        F.unix_millis("ets").alias("error_ts_ms"),
        F.unix_millis("cts").alias("click_ts_ms"),
        "click_value",
    )
