"""Event-stream window queries — SURVEY.md §2.9 extension surface.

The driver's oracle runs batch SQL, so these entries call the SAME
transform functions the streaming tests run under readStream +
availableNow (tests/test_streaming.py asserts stream ≡ batch); the
DuckDB oracles rebuild the window semantics with time_bucket /
lag-gap sessionization. Also covers the JSON-functions surface
(`props` column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workhop2_etl_spark.session import load_table
from workhop2_etl_spark.sources.readers import read_parquet
from workhop2_etl_spark.streaming import windows as SW
from workhop2_etl_spark.suite import query


# ---------------------------------------------------------------------------
# st1: tumbling windows
# ---------------------------------------------------------------------------
@query(
    "st1_tumbling_counts",
    oracle="""
    WITH ev AS (
      SELECT event_type, value, make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events
    )
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM ev
    GROUP BY 1, 2, 3
    ORDER BY 1, 3
    """,
)
def st1_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return SW.tumbling_counts(ev, "1 hour").orderBy("window_start", "event_type")


# ---------------------------------------------------------------------------
# st2: sliding (hopping) windows — every event in width/slide buckets
# ---------------------------------------------------------------------------
@query(
    "st2_sliding_counts",
    oracle="""
    WITH ev AS (
      SELECT event_type, make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events
    ),
    hops AS (
      SELECT e.*,
             time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS window_start
      FROM ev e, (SELECT unnest(range(0, 4)) AS k)
      WHERE ts < time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes'
               + INTERVAL '1 hour'
    )
    SELECT window_start,
           window_start + INTERVAL '1 hour' AS window_end,
           event_type,
           count(*) AS n
    FROM hops
    GROUP BY 1, 2, 3
    ORDER BY 1, 3
    """,
)
def st2_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return SW.sliding_counts(ev, "1 hour", "15 minutes").orderBy("window_start", "event_type")


# ---------------------------------------------------------------------------
# st3: session windows (10-minute gap per user)
# ---------------------------------------------------------------------------
@query(
    "st3_session_windows",
    oracle="""
    WITH ev AS (
      SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts, value, event_id
      FROM events
    ),
    marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '10 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL '10 minutes' AS session_end,
           user_id,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM sessions
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
)
def st3_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return SW.session_windows(ev, "10 minutes").orderBy("user_id", "session_start")


# ---------------------------------------------------------------------------
# st4: JSON extraction from the props column
# ---------------------------------------------------------------------------
@query(
    "st4_json_props",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def st4_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_type", F.get_json_object("props", "$.k").cast("long").alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# st5: exact dedup on a stream — the batch face of
# dropDuplicatesWithinWatermark. The query doubles the source (union
# all with itself) so the dedup has real work; counts per type must
# equal the undoubled source.
# ---------------------------------------------------------------------------
@query(
    "st5_stream_dedup",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def st5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    doubled = ev.unionAll(ev)
    return SW.deduped_counts(doubled).orderBy("event_type")


# ---------------------------------------------------------------------------
# st6: stream-stream interval join (batch face) — view→click funnel
# pairs per user within 30 minutes. The streaming run of the same
# operator is proven in tests/test_streaming.py.
# ---------------------------------------------------------------------------
@query(
    "st6_interval_join",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             make_timestamp(epoch_ns(ts) // 1000) AS ts
      FROM events
    )
    SELECT a.user_id, a.event_id AS l_event_id, b.event_id AS r_event_id,
           a.ts AS l_ts, b.ts AS r_ts
    FROM ev a
    JOIN ev b ON a.user_id = b.user_id
            AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    WHERE a.event_type = 'view' AND b.event_type = 'click'
    ORDER BY a.user_id, l_event_id, r_event_id
    """,
)
def st6_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view")
    clicks = ev.filter(F.col("event_type") == "click")
    return SW.interval_join_pairs(views, clicks, within="30 minutes").orderBy(
        "user_id", "l_event_id", "r_event_id"
    )


# ---------------------------------------------------------------------------
# st7: custom stateful operator — per-user running totals via
# applyInPandasWithState (streaming-only API, so this query actually
# runs a Structured-Streaming job: re-materialize the events table as
# a µs-precision stream source, replay with availableNow into a
# memory sink, keep each user's final emission). The oracle is the
# batch groupBy the final state must equal. State is one (count, sum)
# pair per user in the state store — bounded by key cardinality, the
# scale property that makes this the template for custom stateful
# logic at 100 TB.
# ---------------------------------------------------------------------------
@query(
    "st7_stateful_running_totals",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def st7_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    import uuid

    tag = uuid.uuid4().hex[:8]
    src = os.path.join(tempfile.mkdtemp(prefix="w2e_st7_"), "events_us.parquet")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(src)

    schema = read_parquet(spark, src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = SW.running_user_totals(stream)
    ckpt = tempfile.mkdtemp(prefix=f"w2e_st7_ckpt_{tag}_")
    name = f"st7_totals_{tag}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table(name)
    # TEST-HARNESS SHAPE ONLY: the memory sink collects every
    # update-mode emission to the driver (bounded here by
    # users × batches). A production pipeline would use the
    # foreachBatch upsert path (streaming/windows.py
    # stream_upsert_to_parquet), never a driver-side memory sink.
    #
    # update mode re-emits a user's refreshed totals each micro-batch;
    # n_events grows monotonically, so the final state is the argmax.
    # The operator emits RAW sums; rounding happens HERE with F.round
    # so both engines round the same single-pass value the same way.
    final = (
        emitted.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "sum_value")).alias("b"))
        .select(
            "user_id",
            F.col("b.n_events").alias("n_events"),
            F.round(F.col("b.sum_value"), 4).alias("sum_value"),
        )
    )
    return final.orderBy("user_id")


# ---------------------------------------------------------------------------
# st8: stream-stream LEFT OUTER interval join (batch face) — every
# view emits exactly once: paired with each click within 30 minutes,
# or alone with a NULL right side if no click ever lands. In
# streaming the NULL-side row is emitted only after the watermark
# passes view.ts + 30min (state expiry proves no match can arrive) —
# asserted stream ≡ batch in tests/test_streaming.py.
# ---------------------------------------------------------------------------
@query(
    "st8_left_outer_interval_join",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             make_timestamp(epoch_ns(ts) // 1000) AS ts
      FROM events
    ),
    v AS (SELECT * FROM ev WHERE event_type = 'view'),
    c AS (SELECT * FROM ev WHERE event_type = 'click')
    SELECT v.user_id, v.event_id AS l_event_id, c.event_id AS r_event_id,
           v.ts AS l_ts, c.ts AS r_ts
    FROM v LEFT JOIN c
      ON v.user_id = c.user_id
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    ORDER BY v.user_id, l_event_id, r_event_id
    """,
)
def st8_left_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view")
    clicks = ev.filter(F.col("event_type") == "click")
    return SW.interval_join_pairs(
        views, clicks, within="30 minutes", how="leftOuter"
    ).orderBy("user_id", "l_event_id", "r_event_id")


# ---------------------------------------------------------------------------
# st9: stream-static dimension enrichment — events left-joined to the
# customer dimension (user_id ↔ c_custkey; ids outside the customer
# range keep a NULL segment), then segmented counts. Stream-static
# joins hold no state and need no watermark: each micro-batch joins
# the broadcast dimension as a plain batch join — asserted
# stream ≡ batch in tests/test_streaming.py.
# ---------------------------------------------------------------------------
@query(
    "st9_stream_static_enrich",
    oracle="""
    SELECT e.event_type, c.c_mktsegment,
           count(*) AS n, round(sum(e.value), 4) AS sum_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def st9_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_key"), "c_mktsegment"
    )
    return (
        SW.enrich_with_dim(ev, cust, key="user_id", dim_key="cust_key")
        .groupBy("event_type", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("event_type", "c_mktsegment")
    )


# ---------------------------------------------------------------------------
# st10: exact distinct users per tumbling window — the dedup →
# window-agg chain (two stateful operators on a stream; batch face
# here, streaming run in tests/test_streaming.py).
# ---------------------------------------------------------------------------
@query(
    "st10_windowed_distinct_users",
    oracle="""
    WITH ev AS (
      SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events
    )
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           count(DISTINCT user_id) AS n_users
    FROM ev GROUP BY 1, 2 ORDER BY 1
    """,
)
def st10_windowed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return SW.windowed_distinct_users(ev, "1 hour").orderBy("window_start")


# ---------------------------------------------------------------------------
# st11: stream-stream FULL OUTER interval join (batch face) — st8's
# left-outer plus the symmetric side: a click with no view in the 30
# minutes before it emits alone with a NULL left side. In streaming
# both directions flush on state expiry (watermark past each side's
# own horizon); asserted stream ≡ batch in tests/test_streaming.py.
# The output key coalesces across sides (an unmatched right row's
# key would otherwise be NULL).
# ---------------------------------------------------------------------------
@query(
    "st11_full_outer_interval_join",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             make_timestamp(epoch_ns(ts) // 1000) AS ts
      FROM events
    ),
    v AS (SELECT * FROM ev WHERE event_type = 'view'),
    c AS (SELECT * FROM ev WHERE event_type = 'click')
    SELECT coalesce(v.user_id, c.user_id) AS user_id,
           v.event_id AS l_event_id, c.event_id AS r_event_id,
           v.ts AS l_ts, c.ts AS r_ts
    FROM v FULL JOIN c
      ON v.user_id = c.user_id
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    ORDER BY user_id, l_event_id, r_event_id
    """,
)
def st11_full_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view")
    clicks = ev.filter(F.col("event_type") == "click")
    return SW.interval_join_pairs(
        views, clicks, within="30 minutes", how="fullOuter"
    ).orderBy("user_id", "l_event_id", "r_event_id")


# ---------------------------------------------------------------------------
# st12: windowed TOP-K — the per-window leaderboard (top-3 event
# types by count per tumbling hour, deterministic (count desc, type
# asc) rank). The reporting shape behind every "trending now" panel:
# windowed aggregate then a rank over the tiny per-window result —
# the rank runs on window-cardinality rows, never the event stream.
# In streaming this runs as the windowed aggregate with the rank
# applied per emission (foreachBatch / complete-mode sink), same
# final rows as this batch plan.
# ---------------------------------------------------------------------------
@query(
    "st12_windowed_topk",
    oracle="""
    WITH ev AS (
      SELECT event_type, make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events
    ),
    counts AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             event_type, count(*) AS n
      FROM ev GROUP BY 1, 2
    )
    SELECT window_start, event_type, n, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY window_start
                                   ORDER BY n DESC, event_type ASC) AS rnk
      FROM counts
    ) WHERE rnk <= 3
    ORDER BY window_start, rnk
    """,
)
def st12_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.window(F.col("ts"), "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    rnk = F.row_number().over(
        Window.partitionBy("w").orderBy(F.desc("n"), F.asc("event_type"))
    )
    return (
        counts.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "rnk",
        )
        .orderBy("window_start", "rnk")
    )


# ---------------------------------------------------------------------------
# st13: streaming maintenance of the persisted IVF index — the ingest
# face of the v10 lifecycle. The corpus arrives as a FILE STREAM
# (three micro-batches, availableNow); each epoch is indexed into the
# artifact by streaming/index_stream.py's exactly-once protocol
# (ledger marker → staged write → deterministic renames), and the
# probe runs against the loaded postings. The oracle knows nothing
# about streaming, persistence, or epochs: it recomputes single-shot
# IVF assignment + within-cell search over the whole embeddings
# table, so a green verdict proves the three streamed epochs
# reconstruct exactly the batch-built index — the 100 TB posture
# where embeddings arrive continuously and the index never rebuilds.
# ---------------------------------------------------------------------------
def _st13_oracle() -> str:
    from workhop2_etl_spark.suite.similarity import (
        K,
        N_CENTROIDS,
        NPROBE,
        _pair_cos_sql,
    )

    return f"""
    WITH cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
      FROM (SELECT * FROM embeddings WHERE vec_id % 37 = 0 ORDER BY vec_id LIMIT {N_CENTROIDS})
    ),
    scored_c AS (
      SELECT e.vec_id, e.embedding AS v, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_pair_cos_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
      FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (SELECT vec_id, v, cid FROM scored_c WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv, cid
          FROM scored_c WHERE rn <= {NPROBE} AND vec_id % 45 = 0),
    c2 AS (SELECT vec_id AS neighbor_id, v AS cv, cid FROM cells),
    s AS (
      SELECT query_id, neighbor_id,
             round({_pair_cos_sql('qv', 'cv')}, 6) AS score
      FROM q JOIN c2 USING (cid)
      WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= {K}
    ORDER BY query_id, rank
    """


@query("st13_streaming_index_ingest", oracle=_st13_oracle())
def st13_streaming_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.streaming import index_stream as IS
    from workhop2_etl_spark.suite.similarity import DIM, K, N_CENTROIDS, NPROBE

    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select("embedding")
        .collect()
    )
    centroids = [(i, list(r.embedding)) for i, r in enumerate(rows)]

    # fresh dirs per run: the artifact's epoch ledger and the stream
    # checkpoint are both stateful across runs by design
    base = tempfile.mkdtemp(prefix="w2e_st13_")
    src, path, ckpt = (os.path.join(base, d) for d in ("src", "idx", "ckpt"))
    # one write job, three part files → three availableNow epochs
    # (r12, the st15 pattern: any disjoint split works — epoch
    # membership is irrelevant to the append-equivalent postings)
    emb.repartition(3).write.mode("overwrite").parquet(src)

    IDX.save_ivf_index(emb.limit(0), path, centroids, dim=DIM, mode="overwrite")
    IS.stream_index_ingest(
        spark, src, emb.schema, path, ckpt, partitions_per_epoch=2
    )
    postings, cents, meta = IDX.load_ivf_index(
        spark, path, dim=DIM, n_centroids=N_CENTROIDS
    )
    queries = emb.filter(F.col("vec_id") % 45 == 0)
    return IDX.probe_ivf_index(
        postings, cents, meta, queries, k=K, nprobe=NPROBE
    ).orderBy("query_id", "rank")
