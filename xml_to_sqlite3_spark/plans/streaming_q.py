"""Oracle-gated streaming queries.

Each gate runs a REAL Structured Streaming query over the sf_dir
events parquet — file source, watermarked event-time aggregation,
memory sink — driven to completion with Trigger.AvailableNow, then
returns the sink contents as a batch DataFrame. Because Spark's
streaming aggregations follow the same semantics as batch
(stream-batch unification), the results hash-match a plain SQL
oracle — which is exactly the property worth gating: the streaming
path produces the SAME answer the warehouse would.

At scale the identical topology runs unbounded: swap AvailableNow
for a continuous trigger and the memory sink for kafka/parquet;
watermarks bound the state store, not the data volume.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from ..io_util import ts_seconds
from ..streaming.ingest import (
    read_event_stream,
    sessionize_stream,
    windowed_event_aggregation,
)


def _run_to_table(result: DataFrame, prefix: str, mode: str = "complete") -> DataFrame:
    """Drive a streaming query to completion (AvailableNow) into a
    memory sink; return the sink as a batch DataFrame.

    Stateful operators keep ONE state-store instance per shuffle
    partition, and every micro-batch snapshots each of them — at the
    default 32 partitions that fixed cost dominated these sf0.1
    gates (streaming_attribution measured 6.3-12.1s at 32 partitions
    vs 3.5-3.8s at 8, identical results). The partition count is
    scoped around query START (a streaming query pins its state
    partitioning at its first checkpoint, so the restored conf
    cannot affect the running query) — a production deployment sizes
    this to its cluster; the state-per-partition model is the same
    either way."""
    spark = result.sparkSession
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    n_part = min(8, spark.sparkContext.defaultParallelism)
    # r16: skip zero-input micro-batches. Under AvailableNow every
    # gate ran one final NO-DATA batch after the last data batch —
    # pure watermark bookkeeping whose addBatch still opens/commits
    # every state-store instance (measured r15: ~2.2s for the
    # stream-stream join's 4 instances x 8 partitions, with zero
    # input rows). No gate's OUTPUT depends on that batch: complete-
    # mode sinks re-emit the full result on every DATA batch;
    # streaming_dedup (append, NoTimeout applyInPandasWithState) and
    # streaming_attribution (append, stream-stream INNER join) emit
    # rows in the data batch that produces them — the no-data batch
    # only evicted state that AvailableNow termination discards
    # anyway. Watermark-FLUSHED append aggregations would need the
    # batch; none of these gates is one (hash-verified unchanged
    # against every streaming oracle). Scoped exactly like the
    # partition count: a streaming query clones its session at
    # start, so the restored conf cannot affect the running query.
    scoped = {
        "spark.sql.shuffle.partitions": str(n_part),
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    }
    saved: dict[str, str | None] = {}
    for key, val in scoped.items():
        try:
            saved[key] = spark.conf.get(key)
        except Exception:
            saved[key] = None
        spark.conf.set(key, val)
    try:
        q = (
            result.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        for key, old in saved.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
    q.awaitTermination()
    # materialize the sink contents, then drop the uuid-named temp
    # view — back-to-back gate/bench sessions would otherwise pin
    # every streaming result in driver memory for the session's life
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def streaming_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling windows per event type, computed by
    the streaming engine end to end."""
    events = read_event_stream(spark, f"{sf_dir}/events.parquet")
    out = _run_to_table(
        windowed_event_aggregation(events, window="1 hour", watermark="2 hours"),
        "__stream_win",
    )
    return out.orderBy("window_start", "event_type")


STREAMING_WINDOWED_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""


def streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via the native session_window operator,
    computed by the streaming engine; the oracle rebuilds the same
    sessions with the lag/cumsum islands idiom (session end = last
    event + gap, session_window semantics)."""
    events = read_event_stream(spark, f"{sf_dir}/events.parquet")
    out = _run_to_table(
        sessionize_stream(events, gap="30 minutes", watermark="2 hours"),
        "__stream_sess",
    )
    return out.orderBy("user_id", "session_start")


STREAMING_SESSIONS_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sess AS (
  SELECT user_id, ts, value,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS sid
  FROM flagged
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       count(*) AS n_events,
       round(sum(value), 2) AS session_value
FROM sess GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch stateful exact dedup (applyInPandasWithState),
    driven end to end by the streaming engine: only the first-ever
    occurrence of each document text survives (min doc_id within a
    micro-batch, earliest batch across batches — deterministic, so
    the result value-matches the batch dedup-keeper oracle)."""
    import os

    from ..streaming.stateful import streaming_exact_dedup

    path = f"{sf_dir}/documents.parquet"
    reader = (
        spark.readStream.format("parquet")
        .schema("doc_id long, text string, lang string, source string, n_chars long")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", os.path.basename(path))
    )
    docs = reader.load(os.path.dirname(path)).select("doc_id", "text")
    out = _run_to_table(streaming_exact_dedup(docs), "__stream_dedup", mode="append")
    return out.select("doc_id", "text_md5").orderBy("doc_id")


STREAMING_DEDUP_ORACLE = """
SELECT doc_id, md5(text) AS text_md5
FROM documents
QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))
ORDER BY doc_id
"""


def streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window top-k users by total event value: the streaming
    engine computes the watermarked (window x user) pre-aggregation —
    the part whose state grows with data volume — and the rank +
    cut to k runs as a batch query over the materialized sink. This
    is the canonical streaming top-k topology: ranking inside an
    unbounded stream would hold every (window, user) pair in ranking
    state forever, while the pre-agg/serving split keeps streaming
    state bounded by the watermark and the rank bounded by one
    window's cardinality.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    events = read_event_stream(spark, f"{sf_dir}/events.parquet")
    # day windows: the pre-agg state is (window x active users) keys;
    # at hour granularity that is ~#events state-store writes for this
    # corpus (every (user, hour) is nearly unique), which benchmarked
    # 2x the whole query — the topology is identical at any window
    pre = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "user_id", "n_events", "total_value")
    )
    sink = _run_to_table(pre, "__stream_topk")
    rk = W.partitionBy("window_start").orderBy(
        F.desc("total_value"), F.asc("user_id")
    )
    return (
        sink.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= 3)
        .orderBy("window_start", "rank")
    )


STREAMING_TOPK_ORACLE = """
WITH agg AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, user_id,
         count(*) AS n_events, round(sum(value), 2) AS total_value
  FROM events GROUP BY 1, 2
)
SELECT window_start, user_id, n_events, total_value,
       CAST(row_number() OVER (PARTITION BY window_start
                               ORDER BY total_value DESC, user_id) AS INT) AS rank
FROM agg
QUALIFY rank <= 3
ORDER BY window_start, rank
"""


def streaming_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream broadcast-joins
    the static customer->nation dimension inside the streaming query
    (the canonical lookup-table topology — the static side is re-read
    per micro-batch, never stateful), then a watermarked per-day,
    per-nation aggregation. Proves the streamed join + agg produce
    exactly the warehouse answer."""
    from pyspark.sql import functions as F

    from ..io_util import load

    dim = (
        load(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
        .join(
            load(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("nation")
            ),
            "c_nationkey",
        )
        .select("user_id", "nation")
    )
    events = read_event_stream(spark, f"{sf_dir}/events.parquet")
    enriched = events.join(F.broadcast(dim), "user_id")
    pre = (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"), "nation")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "nation", "n_events", "total_value")
    )
    return _run_to_table(pre, "__stream_enriched").orderBy("window_start", "nation")


STREAMING_ENRICHED_ORACLE = """
SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS window_start,
       n.n_name AS nation,
       count(*) AS n_events,
       round(sum(e.value), 2) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


QUERIES = {
    "streaming_windowed": streaming_windowed,
    "streaming_sessions": streaming_sessions,
    "streaming_dedup": streaming_dedup,
    "streaming_topk": streaming_topk,
    "streaming_enriched": streaming_enriched,
}

ORACLES = {
    "streaming_windowed": STREAMING_WINDOWED_ORACLE,
    "streaming_sessions": STREAMING_SESSIONS_ORACLE,
    "streaming_dedup": STREAMING_DEDUP_ORACLE,
    "streaming_topk": STREAMING_TOPK_ORACLE,
    "streaming_enriched": STREAMING_ENRICHED_ORACLE,
}


def streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join: purchases attributed to the same
    user's views from the preceding hour — two watermarked file
    streams joined on user_id with an event-time range condition.

    The range condition + both-side watermarks are what let the
    engine BOUND the join state (views older than the watermark minus
    the interval are evicted); without them a stream-stream join
    buffers forever. Inner-join matches emit as soon as both sides
    arrive, so the memory sink holds the complete answer under
    AvailableNow and hash-matches the batch SQL oracle —
    stream-batch unification for the join operator itself.
    """
    from pyspark.sql import functions as F

    views = (
        read_event_stream(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    buys = (
        read_event_stream(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = buys.join(
        views,
        F.expr(
            "p_user = v_user AND "
            "view_ts >= purchase_ts - INTERVAL 1 HOUR AND view_ts < purchase_ts"
        ),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        (ts_seconds(F.col("purchase_ts")) - ts_seconds(F.col("view_ts"))).alias(
            "seconds_before"
        ),
    )
    out = _run_to_table(joined, "__stream_attr", mode="append")
    return out.orderBy("user_id", "purchase_id", "view_id")


STREAMING_ATTRIBUTION_ORACLE = """
SELECT p.user_id AS user_id, p.event_id AS purchase_id, v.event_id AS view_id,
       CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS seconds_before
FROM events p
JOIN events v ON v.user_id = p.user_id
            AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
ORDER BY user_id, purchase_id, view_id
"""


QUERIES["streaming_attribution"] = streaming_attribution
ORACLES["streaming_attribution"] = STREAMING_ATTRIBUTION_ORACLE


def streaming_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift monitor: the production shape of
    operators/curation.psi_drift — the STREAM maintains only a
    (day-window x fixed-bin) count state (bounded by the watermark
    and the 10-bin config, never by data volume), and the PSI of
    every day against the FIRST day is computed batch-side over the
    materialized sink. Bin edges are a FIXED declared domain
    (value in [0, 200), width 20, clamped edge bins) rather than
    reference-derived — a stream cannot see global stats before they
    happen, and fixed monitor configs are what production drift
    alerts use. Fully deterministic, fully SQL-replayable.
    Returns (window_start, psi) per day, ascending."""
    from pyspark.sql import functions as F

    events = read_event_stream(spark, f"{sf_dir}/events.parquet")
    bin_col = F.least(
        F.lit(9), F.greatest(F.lit(0), F.floor(F.col("value") / F.lit(20.0)))
    ).cast("int")
    pre = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"), bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "bin", "n")
    )
    sink = _run_to_table(pre, "__stream_drift")
    bins = spark.range(0, 10).select(F.col("id").cast("int").alias("bin"))
    grid = sink.select("window_start").distinct().crossJoin(F.broadcast(bins))
    counts = grid.join(sink, ["window_start", "bin"], "left").select(
        "window_start", "bin", F.coalesce("n", F.lit(0)).cast("double").alias("n")
    )
    tot = counts.groupBy("window_start").agg(F.sum("n").alias("tot"))
    frac = (
        counts.join(tot, "window_start")
        .select(
            "window_start",
            "bin",
            F.greatest(F.col("n") / F.col("tot"), F.lit(1e-6)).alias("frac"),
        )
        .localCheckpoint(eager=False)  # two consumers: reference + current
    )
    ref_day = frac.groupBy().agg(F.min("window_start").alias("d0"))
    ref = (
        frac.join(F.broadcast(ref_day), frac.window_start == F.col("d0"))
        .select("bin", F.col("frac").alias("rf"))
    )
    return (
        frac.join(F.broadcast(ref), "bin")
        .groupBy("window_start")
        .agg(
            F.round(
                F.sum(
                    (F.col("frac") - F.col("rf"))
                    * (F.log("frac") - F.log("rf"))
                ),
                6,
            ).alias("psi")
        )
        .orderBy("window_start")
    )


STREAMING_DRIFT_ORACLE = """
WITH agg AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
         least(9, greatest(0, CAST(floor(value / 20.0) AS INTEGER))) AS bin,
         CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT d.window_start, CAST(b.bin AS INTEGER) AS bin,
         coalesce(a.n, 0) AS n
  FROM (SELECT DISTINCT window_start FROM agg) d
  CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) b
  LEFT JOIN agg a ON a.window_start = d.window_start AND a.bin = b.bin
), frac AS (
  SELECT window_start, bin,
         greatest(n / sum(n) OVER (PARTITION BY window_start), 1e-6) AS frac
  FROM grid
), ref AS (
  SELECT bin, frac AS rf FROM frac
  WHERE window_start = (SELECT min(window_start) FROM frac)
)
SELECT f.window_start,
       round(sum((f.frac - r.rf) * (ln(f.frac) - ln(r.rf))), 6) AS psi
FROM frac f JOIN ref r USING (bin)
GROUP BY 1 ORDER BY 1
"""

QUERIES["streaming_drift"] = streaming_drift
ORACLES["streaming_drift"] = STREAMING_DRIFT_ORACLE
