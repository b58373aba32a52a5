"""Batch-equivalent forms of the streaming extension (SURVEY §2.9) over the
`events` table: tumbling-window aggregation and gap sessionization. The
actual Structured Streaming jobs (readStream + watermark) live in
streaming/events.py and are pytest-verified; these batch twins are the
DuckDB-checkable semantics.

Window starts are emitted as epoch seconds (integers) so the oracle never
touches timezone-dependent timestamp formatting.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ._util import t, r4

WINDOW_SEC = 300
SESSION_GAP_SEC = 1800


@register(
    "events_tumbling_counts",
    oracle=f"""
    SELECT CAST(floor(epoch(ts) / {WINDOW_SEC}) * {WINDOW_SEC} AS BIGINT) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 5-minute window counts per event_type — the batch twin of "
    "streaming/events.py (readStream + watermark + window()). groupBy on "
    "(window, type): one shuffle, partial aggregation map-side; identical "
    "plan shape in streaming micro-batches.",
)
def events_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    win = (F.floor(F.unix_timestamp("ts") / WINDOW_SEC) * WINDOW_SEC).cast("bigint")
    return (
        t(spark, sf_dir, "events")
        .groupBy(win.alias("window_start"), F.col("event_type"))
        .agg(F.count("*").alias("n"), r4(F.sum("value")).alias("total_value"))
    )


@register(
    "events_sessionize",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             lag(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev_es
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id,
             CASE WHEN prev_es IS NULL OR es - prev_es > {SESSION_GAP_SEC} THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    )
    SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
    doc="Gap-based sessionization (30-min gap): lag over (user, time) → "
    "new-session flags → session count per user. In streaming this is "
    "session_window(ts, gap); batch twin uses the classic lag+cumsum "
    "shape. One shuffle on user_id.",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    es = F.unix_timestamp("ts")
    w = W.partitionBy("user_id").orderBy(es, F.col("event_id"))
    flagged = (
        t(spark, sf_dir, "events")
        .withColumn("prev_es", F.lag(es).over(w))
        .withColumn(
            "new_sess",
            F.when(F.col("prev_es").isNull() | (es - F.col("prev_es") > SESSION_GAP_SEC), 1).otherwise(0),
        )
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_sess").cast("bigint").alias("n_sessions"), F.count("*").alias("n_events")
    )


@register(
    "agg_count_distinct",
    oracle="SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY event_type",
    doc="Exact distinct-count per group (oracle-checkable; the 100 TB path "
    "is approx_count_distinct / HLL — exposed as events_approx_distinct "
    "with a rows-only check since sketches differ across engines).",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


HLL_RSD = 0.05  # approx_count_distinct default relative standard deviation
HLL_BOUND = 5 * HLL_RSD  # hashable acceptance band: |est - exact| ≤ 25%
HLL_UNION_BOUND = 0.25  # DataSketches lgK=12 rsd ≈ 1.6%; 25% is ~15x that


@register(
    "events_approx_distinct",
    # Bounded-error oracle (VERDICT r10 item 7): the HLL++ estimate is
    # engine-specific, but the EXACT count and the claim that the
    # estimate fell within 5x the sketch's relative standard deviation
    # of it are hashable — the oracle recomputes the exact distinct
    # count independently and asserts within_bound TRUE; the Spark side
    # computes the estimate AND the exact count and emits the measured
    # boolean. 5x rsd is far outside HLL++'s observed envelope (~2-3%
    # at rsd=0.05), so a pass is meaningful and deterministic for a
    # fixed fixture (the sketch hash seed is fixed).
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
    doc="approx_count_distinct (HyperLogLog++) per event_type — the scale "
    "path for distinct counting: no exact-distinct shuffle explosion, "
    "mergeable sketches — hash-verified via its ERROR BOUND rather than "
    "the engine-specific estimate: the exact distinct count rides the "
    "same aggregate and within_bound asserts the sketch landed within "
    "5x its relative standard deviation. The exact side exists to make "
    "the bound hashable; the production scale path is the sketch alone "
    "(the exact twin is agg_count_distinct).",
)
def events_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", HLL_RSD).alias("approx_users"),
            F.countDistinct("user_id").alias("n_exact"),
        )
    )
    return g.select(
        "event_type",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (
            F.abs(F.col("approx_users") - F.col("n_exact"))
            <= HLL_BOUND * F.col("n_exact")
        ).alias("within_bound"),
    )


@register(
    "agg_hll_daily_union",
    # r11 bounded-error graduation (the events_approx_distinct pattern):
    # the DataSketches estimates and sketch bytes are engine-specific,
    # but the EXACT counts and the claim that every estimate — each
    # per-day sketch AND the re-unioned total — landed within the bound
    # are hashable.  The oracle recomputes the exact daily / overall
    # distinct counts independently and asserts within_bound TRUE.
    oracle="""
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_exact,
           TRUE AS within_bound
    FROM du GROUP BY day
    UNION ALL
    SELECT NULL AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS within_bound
    FROM events
    """,
    doc="PERSISTABLE distinct-count sketches via Spark 4's DataSketches "
    "HLL functions: one hll_sketch_agg(user_id) per day, re-aggregated "
    "with hll_union_agg for the overall count (day IS NULL row). This is "
    "the 100 TB cube trick approx_count_distinct alone cannot do — "
    "per-partition sketches are STORED once and re-unioned for any "
    "rollup (daily → monthly → lifetime) without rescanning events; "
    "distinct counts become additive. Hash-verified via the bounded-"
    "error oracle: exact counts ride a twin aggregate and within_bound "
    "asserts every sketch estimate (daily AND the union) landed within "
    "25% of its exact value — ~10x the lgK=12 sketch's rsd envelope. "
    "The exact side exists to make the bound hashable; the production "
    "scale path is the sketch rollup alone.",
)
def agg_hll_daily_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    per_day = daily.select(
        "day",
        F.hll_sketch_estimate("sk").cast("bigint").alias("est_users"),
        "n_exact",
    )
    total = daily.agg(
        F.hll_union_agg("sk").alias("u"),
    ).crossJoin(
        F.broadcast(ev.agg(F.countDistinct("user_id").alias("n_exact")))
    ).select(
        F.lit(None).cast("date").alias("day"),
        F.hll_sketch_estimate("u").cast("bigint").alias("est_users"),
        "n_exact",
    )
    both = per_day.unionByName(total)
    return both.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (
            F.abs(F.col("est_users") - F.col("n_exact"))
            <= HLL_UNION_BOUND * F.col("n_exact")
        ).alias("within_bound"),
    )


SLIDE_SEC = 300


@register(
    "events_sliding_counts",
    oracle=f"""
    SELECT CAST(floor(epoch(ts) / {SLIDE_SEC}) * {SLIDE_SEC} - j * {SLIDE_SEC} AS BIGINT) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS total_value
    FROM events, (SELECT unnest([0, 1]) AS j)
    GROUP BY 1, 2
    """,
    doc="Sliding-window aggregation (10-min windows sliding every 5): each "
    "event explodes into window/slide = 2 (window_start, row) pairs before "
    "one (window, type) groupBy — exactly the expansion Spark's "
    "window(ts, w, s) performs, written out so the oracle can mirror it. "
    "Streaming form in streaming/events.py::sliding_counts (same plan + "
    "watermark-bounded state); equivalence pytest-asserted.",
)
def events_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    es = F.unix_timestamp("ts")
    base = (F.floor(es / SLIDE_SEC) * SLIDE_SEC).cast("bigint")
    exploded = t(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("j"),
        base.alias("base"),
    )
    win = (F.col("base") - F.col("j") * SLIDE_SEC).cast("bigint")
    return (
        exploded.groupBy(win.alias("window_start"), F.col("event_type"))
        .agg(F.count("*").alias("n"), r4(F.sum("value")).alias("total_value"))
    )


@register(
    "join_stream_static",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT event_type, substr(md5(event_type), 1, 4) AS type_code
      FROM events
    )
    SELECT e.event_id, e.event_type, d.type_code
    FROM events e JOIN dim d USING (event_type)
    """,
    doc="Stream-static enrichment join, batch twin: facts joined to a "
    "small dimension (derived deterministically here; a real dim table in "
    "production). The dimension broadcasts — in streaming the same plan "
    "re-reads and re-broadcasts the static side each micro-batch "
    "(streaming/events.py::enrich_with_static, equivalence "
    "pytest-asserted).",
)
def join_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    dim = e.select(
        "event_type", F.substring(F.md5("event_type"), 1, 4).alias("type_code")
    ).distinct()
    return e.join(F.broadcast(dim), "event_type").select(
        "event_id", "event_type", "type_code"
    )


@register(
    "dedup_keep_latest",
    oracle="""
    SELECT user_id, event_type, event_id, round(value, 4) AS value FROM (
      SELECT user_id, event_type, event_id, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="CDC-style compaction: keep each key's latest record by event "
    "time (ties broken by event_id so retries are deterministic) — the "
    "standard upsert-log → current-state collapse. One window over the "
    "key partitioning; at 100 TB this is the same shuffle a MERGE "
    "shuffle-stage performs, and pairs with sink_kv_upsert for the "
    "write side.",
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", r4(F.col("value")).alias("value"))
    )


@register(
    "profile_numeric",
    oracle="""
    SELECT 'l_quantity' AS col, round(min(l_quantity), 4) AS min_v, round(max(l_quantity), 4) AS max_v,
           round(avg(l_quantity), 4) AS mean_v, round(stddev_samp(l_quantity), 4) AS std_v,
           CAST(count(*) - count(l_quantity) AS BIGINT) AS n_null
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', round(min(l_discount), 4), round(max(l_discount), 4),
           round(avg(l_discount), 4), round(stddev_samp(l_discount), 4),
           CAST(count(*) - count(l_discount) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', round(min(l_tax), 4), round(max(l_tax), 4),
           round(avg(l_tax), 4), round(stddev_samp(l_tax), 4),
           CAST(count(*) - count(l_tax) AS BIGINT)
    FROM lineitem
    """,
    doc="Column profiling (ANALYZE-style min/max/mean/stddev/null-count "
    "per numeric column) — the data-quality pass every ingest runs "
    "first. One scan, all aggregates computed together map-side "
    "(unpivot + single groupBy); stddev is the sample form on both "
    "engines.",
)
def profile_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    long = li.unpivot([], ["l_quantity", "l_discount", "l_tax"], "col", "v")
    return long.groupBy("col").agg(
        r4(F.min("v")).alias("min_v"),
        r4(F.max("v")).alias("max_v"),
        r4(F.avg("v")).alias("mean_v"),
        r4(F.stddev_samp("v")).alias("std_v"),
        (F.count(F.lit(1)) - F.count("v")).cast("bigint").alias("n_null"),
    )


@register(
    "join_stream_stream",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id,
           -- floor each side separately: Spark's unix_timestamp truncates
           -- per-timestamp, so the difference is floor(p) - floor(c)
           CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS gap_sec
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
    WHERE p.event_type = 'purchase'
    """,
    doc="Stream-stream interval join, batch twin: purchases attributed to "
    "same-user clicks within the preceding 10 minutes. The streaming form "
    "(streaming/events.py::stream_stream_attribution) watermarks BOTH "
    "sides and bounds event time in the join condition, which is what "
    "lets each side's state store evict — the one join shape Structured "
    "Streaming can run unbounded; equivalence is pytest-asserted. Batch "
    "plan: the type filters push to the scan, the join shuffles on "
    "user_id only.",
)
def join_stream_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("c_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = purchases.join(
        clicks,
        ["user_id"],
    ).filter(
        (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
    )
    return joined.select(
        "purchase_id",
        "click_id",
        "user_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).cast("bigint").alias("gap_sec"),
    )


@register(
    "cdc_scd2_history",
    oracle="""
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    '%Y-%m-%d %H:%M:%S') AS valid_to,
           round(value, 4) AS value,
           CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS BOOLEAN) AS is_current
    FROM events
    WHERE event_type = 'signup'
    """,
    doc="SCD type-2 history build from a change stream: each user's "
    "'signup' changes become versioned rows with [valid_from, valid_to) "
    "ranges and an is_current flag — lead(ts) over (user, time) closes "
    "each version with the next one's start. The standard warehouse "
    "pattern for dimension history; one shuffle on user_id, ordering "
    "made total with the event_id tiebreak (ties are real in fixtures). "
    "The streaming twin is foreachBatch MERGE (stream_upsert_to_kv) "
    "keeping only current rows; this batch form materializes the full "
    "history.",
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(nxt, "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        r4(F.col("value")).alias("value"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "events_session_stats",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             lag(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev_es
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, es,
             CASE WHEN prev_es IS NULL OR es - prev_es > {SESSION_GAP_SEC} THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ),
    numbered AS (
      SELECT user_id, es,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY es, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
           min(es) AS session_start, max(es) AS session_end,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, sess_id
    """,
    doc="Per-session rows (start, end, event count) via the lag+cumsum "
    "session-id assignment — the batch twin of Spark's native "
    "session_window(ts, gap) aggregation, whose streaming form "
    "(streaming/events.py::session_stats) merges windows within the gap "
    "under a watermark; boundary equivalence is pytest-asserted. Two "
    "windows + one groupBy, all on the user_id partitioning — a single "
    "shuffle.",
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    es = F.unix_timestamp("ts")
    w = W.partitionBy("user_id").orderBy(es, F.col("event_id"))
    flagged = (
        t(spark, sf_dir, "events")
        .withColumn("es", es)
        .withColumn("prev_es", F.lag(es).over(w))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev_es").isNull() | (es - F.col("prev_es") > SESSION_GAP_SEC), 1
            ).otherwise(0),
        )
    )
    numbered = flagged.withColumn(
        "sess_id", F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return numbered.groupBy("user_id", F.col("sess_id").cast("bigint").alias("sess_id")).agg(
        F.min("es").cast("bigint").alias("session_start"),
        F.max("es").cast("bigint").alias("session_end"),
        F.count("*").alias("n_events"),
    )


RETENTION_MAX_DAY = 7


@register(
    "window_retention_cohort",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(day_offset AS BIGINT) AS day_offset,
           CAST(count(*) AS BIGINT) AS active_users
    FROM activity
    WHERE day_offset BETWEEN 0 AND {RETENTION_MAX_DAY}
    GROUP BY cohort_day, day_offset
    """,
    doc=f"Cohort retention: users grouped by first-seen day, counted as "
    f"active at each day offset 0..{RETENTION_MAX_DAY} — the retention "
    "triangle every product-analytics stack computes. Two aggregates on "
    "the user_id partitioning (first-seen, then distinct activity) and "
    "one broadcastable join of the per-user cohort map; the offset cap "
    "bounds output regardless of history length.",
)
def window_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.to_date(F.min("ts")).alias("cohort_day"))
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_offset"),
        )
        .filter(F.col("day_offset").between(0, RETENTION_MAX_DAY))
        .distinct()
    )
    return activity.groupBy(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.col("day_offset").cast("bigint").alias("day_offset"),
    ).agg(F.count("*").cast("bigint").alias("active_users"))


@register(
    "agg_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS v_ts FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.v_ts
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click_after_view,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase_after_click
    """,
    doc="Ordered funnel conversion: users whose first view precedes a "
    "click precedes a purchase — the sequence constraint (each stage "
    "strictly after the previous one's first occurrence) is what makes "
    "funnels harder than three counts. Three aggregates, every join and "
    "groupBy on the same user_id partitioning so the exchanges reuse one "
    "shuffle layout.",
)
def agg_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("v_ts")
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        v.agg(F.count("*").cast("bigint").alias("n_view"))
        .crossJoin(c.agg(F.count("*").cast("bigint").alias("n_click_after_view")))
        .crossJoin(p.agg(F.count("*").cast("bigint").alias("n_purchase_after_click")))
    )


GAP_FILL_SEC = 3600  # hourly grid


@register(
    "events_gap_fill",
    oracle=f"""
    WITH bounds AS (
      SELECT CAST(floor(epoch(min(ts)) / {GAP_FILL_SEC}) * {GAP_FILL_SEC} AS BIGINT) AS lo,
             CAST(floor(epoch(max(ts)) / {GAP_FILL_SEC}) * {GAP_FILL_SEC} AS BIGINT) AS hi
      FROM events
    ),
    grid AS (
      SELECT t.et AS event_type, g.slot
      FROM (SELECT DISTINCT event_type AS et FROM events) t
      CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM bounds),
                                                (SELECT hi FROM bounds),
                                                {GAP_FILL_SEC})) AS slot) g
    ),
    counts AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / {GAP_FILL_SEC}) * {GAP_FILL_SEC} AS BIGINT) AS slot,
             count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT g.event_type, g.slot, CAST(coalesce(c.n, 0) AS BIGINT) AS n
    FROM grid g LEFT JOIN counts c ON c.event_type = g.event_type AND c.slot = g.slot
    """,
    doc=f"Time-series gap filling: densify hourly counts per event type "
    "onto a complete [min, max] grid with zero-fill — without it, "
    "downstream moving averages and anomaly rules silently skip empty "
    "slots. The grid is generated (types × sequence), never scanned; "
    "counts aggregate map-side; the left join broadcasts the grid when "
    "small and shuffles on (type, slot) otherwise.",
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    slot = (F.floor(F.unix_timestamp("ts") / GAP_FILL_SEC) * GAP_FILL_SEC).cast("bigint")
    bounds = e.agg(
        F.min(slot).alias("lo"), F.max(slot).alias("hi")
    )
    types = e.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.lit(GAP_FILL_SEC))).alias("slot"),
    )
    counts = e.groupBy("event_type", slot.alias("slot")).agg(F.count("*").alias("n"))
    return grid.join(counts, ["event_type", "slot"], "left").select(
        "event_type", "slot", F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n")
    )


ZSCORE_TRAIL = 6  # trailing slots in the rolling frame (exclusive of current)


@register(
    "events_moving_zscore",
    oracle=f"""
    WITH counts AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / {GAP_FILL_SEC}) * {GAP_FILL_SEC} AS BIGINT) AS slot,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, slot, n,
             avg(n) OVER w AS mu,
             stddev_samp(n) OVER w AS sigma,
             count(*) OVER w AS m
      FROM counts
      WINDOW w AS (PARTITION BY event_type ORDER BY slot
                   ROWS BETWEEN {ZSCORE_TRAIL} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, slot, CAST(n AS BIGINT) AS n, zscore
    FROM (SELECT *, round((n - mu) / sigma, 4) AS zscore FROM stats
          WHERE m = {ZSCORE_TRAIL} AND sigma > 0)
    WHERE abs(zscore) > 2.0
    """,
    doc=f"Rolling z-score anomaly flags: each hourly count compared "
    f"against its own trailing {ZSCORE_TRAIL}-slot mean/stddev (frame "
    "excludes the current row, so an anomaly can't dilute its own "
    "baseline), flagging |z| > 2. Warm-up slots with an incomplete frame "
    "or zero variance are excluded on both engines. The threshold is "
    "applied to the ROUNDED z on BOTH engines: counts sitting exactly "
    "at |z| = 2 otherwise flip with stddev float noise (sf0.1 has two "
    "such rows — one engine computes sigma 3.9999999999999996, the "
    "other exactly 4). The ROWS-bounded trailing frame is the distinct "
    f"shape here — state per group is O({ZSCORE_TRAIL}), so the same "
    "plan runs as an unbounded stream.",
)
def events_moving_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    slot = (F.floor(F.unix_timestamp("ts") / GAP_FILL_SEC) * GAP_FILL_SEC).cast("bigint")
    counts = e.groupBy("event_type", slot.alias("slot")).agg(F.count("*").alias("n"))
    w = (
        W.partitionBy("event_type")
        .orderBy("slot")
        .rowsBetween(-ZSCORE_TRAIL, -1)
    )
    stats = counts.select(
        "event_type",
        "slot",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sigma"),
        F.count("*").over(w).alias("m"),
    )
    z = r4((F.col("n") - F.col("mu")) / F.col("sigma"))
    return (
        stats.filter((F.col("m") == ZSCORE_TRAIL) & (F.col("sigma") > 0))
        .withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > 2.0)
        .select("event_type", "slot", F.col("n").cast("bigint").alias("n"), "zscore")
    )


@register(
    "join_scd2_pointintime",
    oracle="""
    WITH dim AS (
      SELECT user_id, event_id, ts AS vfrom, value
      FROM events WHERE event_type = 'signup'
    ),
    pur AS (
      SELECT event_id, user_id, ts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
           round(p.value, 4) AS purchase_value,
           round(arg_max(d.value, strftime(d.vfrom, '%Y-%m-%d %H:%M:%S.%f')
                                  || lpad(d.event_id::VARCHAR, 12, '0')), 4) AS signup_value_at_purchase
    FROM pur p
    JOIN dim d ON d.user_id = p.user_id AND d.vfrom <= p.ts
    GROUP BY p.event_id, p.user_id, p.ts, p.value
    """,
    doc="Point-in-time (temporal) dimension join: enrich each purchase "
    "with the signup-dimension version that was in effect AT THE "
    "PURCHASE'S OWN event time — the lookup every warehouse runs "
    "against an SCD2 history (cdc_scd2_history builds the ranges this "
    "join resolves). Implemented as equi-join on the key + max_by over "
    "the (valid_from, event_id) total order, so no BETWEEN range join "
    "ever forms: candidate fan-out is the per-key version count "
    "(dimension-bounded, never |events|²), the tie order is total "
    "(fixtures contain real (user, ts) ties), and purchases before the "
    "first version drop (inner semantics). One shuffle on user_id.",
)
def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    dim = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("d_eid"),
        F.col("ts").alias("vfrom"),
        F.col("value").alias("d_value"),
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("p_value")
    )
    return (
        pur.join(dim, "user_id")
        .filter(F.col("vfrom") <= F.col("ts"))
        .groupBy("event_id", "user_id", "ts", "p_value")
        .agg(
            # fixed-width sortable (vfrom, event_id) key: struct keys are
            # not portable to the DuckDB arg_max, a padded string is
            F.max_by(
                "d_value",
                F.concat(
                    F.date_format("vfrom", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
                    F.lpad(F.col("d_eid").cast("string"), 12, "0"),
                ),
            ).alias("_sv")
        )
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            r4(F.col("p_value")).alias("purchase_value"),
            r4(F.col("_sv")).alias("signup_value_at_purchase"),
        )
    )


@register(
    "events_attribution",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, event_type, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
    ),
    attributed AS (
      SELECT event_type, value,
             coalesce(
               last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY es, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               'direct') AS channel
      FROM ordered
    )
    SELECT channel, count(*) AS n_purchases, round(sum(value), 4) AS revenue
    FROM attributed WHERE event_type = 'purchase' GROUP BY channel
    """,
    doc="Last-touch attribution: each purchase is credited to the user's "
    "most recent preceding non-purchase event type ('direct' when none), "
    "then purchase count + revenue roll up per channel — the marketing "
    "twin of sessionization. The ignore-nulls running last_value is the "
    "one window shape the session/funnel family doesn't already cover. "
    "Single user_id-partitioned window (one shuffle on the same key the "
    "session operators already use) + a 4-row aggregate; at 100 TB the "
    "window state is one string per user, never the event history.",
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    es = F.unix_timestamp("ts")
    w = (
        W.partitionBy("user_id")
        .orderBy(es, F.col("event_id"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    chan = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        t(spark, sf_dir, "events")
        .withColumn("channel", F.coalesce(chan, F.lit("direct")))
        .filter(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            r4(F.sum("value")).alias("revenue"),
        )
    )


MAD_SIGMA = 1.4826  # normal-consistency constant for MAD-based z-scores


@register(
    "events_anomaly_mad",
    oracle=f"""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, any_value(med) AS med, median(adev) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           round(m.med, 4) AS med,
           round(m.mad, 4) AS mad,
           CAST(count(CASE WHEN d.adev > 3 * {MAD_SIGMA} * m.mad THEN 1 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type, m.med, m.mad
    """,
    doc="Robust anomaly profile per event_type: exact median, median "
    "absolute deviation, and the count of |x−med| > 3·1.4826·MAD outliers "
    "— the robust-statistics twin of events_moving_zscore (mean/stddev "
    "break under the very outliers they are meant to flag; median/MAD "
    "do not). THREE stream scans by construction — med, then MAD (an "
    "order statistic OF deviations from the first), then the outlier "
    "count against both — each reduced map-side with the 5-row stats "
    "broadcast back in; exact nested medians cannot collapse further "
    "without a sort. Both medians run via "
    "_util.grouped_exact_percentiles (straddling-row selection over the "
    "two-phase rank — median() buffers a whole type's values in one "
    "aggregator at 100 TB; the r9 exact-quantile rewrite); the sketch "
    "alternative remains approx_percentile when exactness is not "
    "contracted.",
    eager=True,  # construction runs the range-partition exchange
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import grouped_exact_percentiles

    ev = t(spark, sf_dir, "events").select("event_type", "value")
    med = grouped_exact_percentiles(ev, ["event_type"], "value", {"med": 0.5})
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("adev"), "med"
    )
    mad = grouped_exact_percentiles(
        dev.select("event_type", "adev"), ["event_type"], "adev", {"mad": 0.5}
    )
    stats = med.join(mad, "event_type")  # |types| rows
    return (
        dev.select("event_type", "adev")
        .join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(
                F.when(F.col("adev") > 3 * MAD_SIGMA * F.col("mad"), 1)
            ).cast("bigint").alias("n_outliers")
        )
        .select(
            "event_type",
            r4(F.col("med")).alias("med"),
            r4(F.col("mad")).alias("mad"),
            "n_outliers",
        )
    )


FUNNEL_CLICK_SEC = 1800  # view -> click deadline
FUNNEL_BUY_SEC = 3600  # click -> purchase deadline


@register(
    "events_funnel_windowed",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
    ),
    nxt1 AS (
      SELECT user_id, event_id, event_type, es,
             first_value(CASE WHEN event_type = 'click' THEN es END IGNORE NULLS)
               OVER w AS nc_es,
             first_value(CASE WHEN event_type = 'purchase' THEN es END IGNORE NULLS)
               OVER w AS np_es
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    nxt2 AS (
      SELECT event_type, es, nc_es,
             first_value(CASE WHEN event_type = 'click' THEN np_es END IGNORE NULLS)
               OVER w AS nc_np_es
      FROM nxt1
      WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    funnel AS (
      SELECT CASE WHEN nc_es IS NOT NULL AND nc_es <= es + {FUNNEL_CLICK_SEC}
                  THEN 1 ELSE 0 END AS clicked,
             CASE WHEN nc_es IS NOT NULL AND nc_es <= es + {FUNNEL_CLICK_SEC}
                       AND nc_np_es IS NOT NULL AND nc_np_es <= nc_es + {FUNNEL_BUY_SEC}
                  THEN 1 ELSE 0 END AS converted
      FROM nxt2 WHERE event_type = 'view'
    )
    SELECT count(*) AS n_views,
           CAST(sum(clicked) AS BIGINT) AS n_clicked,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           round(sum(converted)::DOUBLE / greatest(count(*), 1), 4) AS conversion_rate
    FROM funnel
    """,
    doc="Time-bounded conversion funnel: view → click within 30 min → "
    "purchase within 60 min OF THE CLICK. Unlike agg_funnel's whole-"
    "history ordering, each leg has a deadline, and the purchase clock "
    "starts at the click — two chained forward as-of window passes: "
    "pass 1 marks every row's next-click and next-purchase timestamps; "
    "pass 2 reads pass 1's next-purchase AT the first following click "
    "row (first_value of a window column), which is exactly the "
    "purchase-after-THAT-click. Both passes share the user_id "
    "partitioning, so the plan is one Exchange + two Window operators "
    "in a single lineage — no self-join, no diamond that would scan "
    "the stream twice, no range join.",
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_timestamp("ts").alias("es")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    is_click = F.col("event_type") == "click"
    nxt1 = e.select(
        "user_id",
        "event_id",
        "event_type",
        "es",
        F.first(F.when(is_click, F.col("es")), ignorenulls=True).over(w).alias("nc_es"),
        F.first(
            F.when(F.col("event_type") == "purchase", F.col("es")), ignorenulls=True
        )
        .over(w)
        .alias("np_es"),
    )
    # pass 2 reads pass 1's np_es AT the first following click row — the
    # purchase clock restarted at the click, in the same lineage
    nxt2 = nxt1.withColumn(
        "nc_np_es",
        F.first(F.when(is_click, F.col("np_es")), ignorenulls=True).over(w),
    )
    clicked = F.col("nc_es").isNotNull() & (
        F.col("nc_es") <= F.col("es") + FUNNEL_CLICK_SEC
    )
    converted = (
        clicked
        & F.col("nc_np_es").isNotNull()
        & (F.col("nc_np_es") <= F.col("nc_es") + FUNNEL_BUY_SEC)
    )
    funnel = nxt2.filter(F.col("event_type") == "view").select(
        F.when(clicked, 1).otherwise(0).alias("clicked"),
        F.when(converted, 1).otherwise(0).alias("converted"),
    )
    return funnel.agg(
        F.count("*").alias("n_views"),
        F.sum("clicked").cast("bigint").alias("n_clicked"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        r4(
            F.sum("converted").cast("double") / F.greatest(F.count("*"), F.lit(1))
        ).alias("conversion_rate"),
    )


@register(
    "agg_incremental_maintain",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value,
           round(sum(value) / count(*), 4) AS avg_value
    FROM events GROUP BY event_type
    """,
    doc="Incremental view maintenance: the per-type aggregate is computed "
    "as BASE (event_id % 10 < 8) plus DELTA (the rest) partial states "
    "merged by a full-outer join on the group key — count and sum are "
    "additive, avg derives from the merged pair. The oracle is the "
    "straight full recompute, so the merge algebra itself is "
    "value-checked: this is the state update every materialized view / "
    "streaming aggregation applies per micro-batch, and at 100 TB it is "
    "the difference between touching a day's delta and rescanning the "
    "corpus. Both partial aggregates reduce map-side; the merge join "
    "runs on |group-keys| rows.",
)
def agg_incremental_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def part(df):
        return df.groupBy("event_type").agg(
            F.count("*").alias("n"), F.sum("value").alias("s")
        )

    base = part(ev.filter(F.col("event_id") % 10 < 8))
    delta = part(ev.filter(F.col("event_id") % 10 >= 8))
    merged = base.alias("b").join(
        delta.alias("d"), on="event_type", how="full_outer"
    ).select(
        "event_type",
        (F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))).alias("n"),
        (F.coalesce(F.col("b.s"), F.lit(0.0)) + F.coalesce(F.col("d.s"), F.lit(0.0))).alias("s"),
    )
    return merged.select(
        "event_type",
        F.col("n").alias("n_events"),
        r4(F.col("s")).alias("sum_value"),
        r4(F.col("s") / F.col("n")).alias("avg_value"),
    )


@register(
    "agg_ab_test_stats",
    oracle="""
    WITH assigned AS (
      SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
                  THEN 'A' ELSE 'B' END AS arm,
             max(CASE WHEN event_type = 'purchase' AND value > 200 THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT arm, count(*) AS n, sum(converted) AS conv,
             sum(converted)::DOUBLE / count(*) AS rate
      FROM assigned GROUP BY arm
    ),
    wide AS (
      SELECT
        max(CASE WHEN arm = 'A' THEN n END) AS n_a,
        max(CASE WHEN arm = 'A' THEN conv END) AS conv_a,
        max(CASE WHEN arm = 'A' THEN rate END) AS rate_a,
        max(CASE WHEN arm = 'B' THEN n END) AS n_b,
        max(CASE WHEN arm = 'B' THEN conv END) AS conv_b,
        max(CASE WHEN arm = 'B' THEN rate END) AS rate_b
      FROM arms
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
           round(rate_a, 4) AS rate_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
           round(rate_b, 4) AS rate_b,
           round((rate_a - rate_b)
                 / sqrt(((conv_a + conv_b)::DOUBLE / (n_a + n_b))
                        * (1 - (conv_a + conv_b)::DOUBLE / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 4) AS z_score
    FROM wide
    """,
    doc="Experimentation readout: users hash-split into arms by the "
    "first md5 nibble (deterministic, assignment-stable under re-runs — "
    "the sample_hash_split discipline), per-arm conversion (a >200-value purchase — strict enough that both outcomes occur at fixture scale; an everyone-converts corpus makes the pooled-rate z denominator zero), and "
    "the two-proportion z-score under the pooled rate — the statistic an "
    "A/B dashboard reads. One user-level aggregate (map-side combinable) "
    "+ a 2-row pivot; the stream never shuffles twice.",
)
def agg_ab_test_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    arm = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) <= "7", "A"
    ).otherwise("B")
    assigned = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when((F.col("event_type") == "purchase") & (F.col("value") > 200), 1)
                .otherwise(0)
            ).alias("converted")
        )
        .select(arm.alias("arm"), "converted")
    )
    arms = assigned.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("converted").alias("conv"),
        (F.sum("converted").cast("double") / F.count("*")).alias("rate"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "A", F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("arm") == "A", F.col("rate"))).alias("rate_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "B", F.col("conv"))).alias("conv_b"),
        F.max(F.when(F.col("arm") == "B", F.col("rate"))).alias("rate_b"),
    )
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (F.col("rate_a") - F.col("rate_b")) / F.sqrt(
        pooled * (1 - pooled) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return wide.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("conv_a").cast("bigint").alias("conv_a"),
        r4(F.col("rate_a")).alias("rate_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("conv_b").cast("bigint").alias("conv_b"),
        r4(F.col("rate_b")).alias("rate_b"),
        r4(z).alias("z_score"),
    )


@register(
    "agg_rfm_segmentation",
    oracle="""
    WITH p AS (
      SELECT user_id,
             max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_es,
             count(*) AS freq,
             sum(value) AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    scored AS (
      SELECT user_id,
             ntile(5) OVER (ORDER BY last_es DESC, user_id) AS r_score,
             ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_score,
             ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m_score,
             freq, round(monetary, 4) AS monetary
      FROM p
    )
    SELECT user_id,
           CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm,
           CAST(freq AS BIGINT) AS n_purchases, monetary
    FROM scored
    """,
    doc="RFM customer segmentation: per purchaser, quintile scores for "
    "recency (most recent = 1), frequency, and monetary total, packed "
    "into the classic 3-digit RFM code — the segmentation every CRM "
    "report starts from. Ties broken by user_id so the quintile "
    "assignment is deterministic across engines. One purchase-filtered "
    "aggregate (map-side combinable), then the three GLOBAL quintile "
    "cuts run FUSED through a single _util.partitioned_ntile pass: "
    "the user frame unions into (metric, key, "
    "user_id) long form — keys cast to double, exact for int64 counts/"
    "epochs below 2^53 — and ntile(5) PARTITION BY metric assigns all "
    "three scores in ONE range exchange + ONE offsets join + ONE "
    "checkpoint where the r9 form chained three of each (the 3x "
    "fixed-cost floor the r12 bench flagged at 1.88x). Bucket "
    "assignment is bit-identical to three separate cuts (same "
    "(key desc, user_id) total order per metric), so the oracle keeps "
    "plain ntile(). |users| is ~1e9 at 100 TB: the long frame is 3e9 "
    "narrow rows through one parallel range sort — never a coalesce(1) "
    "single-task window — and the pivot back is a groupBy(user_id) "
    "map-side-combinable aggregate.",
    eager=True,  # construction runs the range-partition exchange
)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import partitioned_ntile, truncate_lineage

    p = truncate_lineage(
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.unix_timestamp("ts")).alias("last_es"),
            F.count("*").alias("freq"),
            F.sum("value").alias("monetary"),
        ),
        eager=False,  # r14: materializes once inside the caller's action
    )
    # three orderings, ONE two-phase cut: long form partitioned by metric
    long = None
    for metric, key in (("r", "last_es"), ("f", "freq"), ("m", "monetary")):
        piece = p.select(
            F.lit(metric).alias("metric"),
            F.col(key).cast("double").alias("key"),
            "user_id",
        )
        long = piece if long is None else long.unionByName(piece)
    cut = partitioned_ntile(
        long, ["metric"], [F.desc("key"), F.asc("user_id")], 5, "b"
    )
    scores = cut.groupBy("user_id").agg(
        *[
            F.max(F.when(F.col("metric") == m, F.col("b")))
            .cast("bigint")
            .alias(f"{m}_score")
            for m in ("r", "f", "m")
        ]
    )
    return p.join(scores, "user_id").select(
        "user_id",
        "r_score",
        "f_score",
        "m_score",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("bigint")
        .alias("rfm"),
        F.col("freq").cast("bigint").alias("n_purchases"),
        r4(F.col("monetary")).alias("monetary"),
    )


@register(
    "agg_seasonality_profile",
    oracle="""
    -- DuckDB dayofweek is 0-based (Sun=0); Spark's is 1-based (Sun=1)
    SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hod,
           count(*) AS n,
           round(avg(value), 4) AS avg_value
    FROM events GROUP BY 1, 2
    """,
    doc="Seasonality profile: event count and mean value per (day-of-week, "
    "hour-of-day) cell — the 7×24 heatmap behind capacity planning and "
    "anomaly baselines (events_moving_zscore flags deviations; this is "
    "the baseline it deviates FROM). One map-side-combinable aggregate "
    "over a 168-key space; the UTC-pinned session keeps both engines' "
    "calendar functions in agreement.",
)
def agg_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy(
            F.dayofweek("ts").cast("bigint").alias("dow"),
            F.hour("ts").cast("bigint").alias("hod"),
        )
        .agg(F.count("*").alias("n"), r4(F.avg("value")).alias("avg_value"))
    )


SLO_BUDGET = 0.25  # error-budget share (fixture errors run ~20% of events)
BURN_FAST = 1.2  # 1h-window burn multiplier that pages
BURN_SLOW = 1.05  # 6h-window burn multiplier that must ALSO be breached


@register(
    "events_slo_burn_rate",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             count(*) AS n,
             count(CASE WHEN event_type = 'error' THEN 1 END) AS n_err
      FROM events GROUP BY 1
    ),
    rolled AS (
      SELECT hr, n, n_err,
             sum(n) OVER w6 AS n_6h,
             sum(n_err) OVER w6 AS err_6h
      FROM hourly
      WINDOW w6 AS (ORDER BY hr RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT hr AS hour_idx,
           CAST(n AS BIGINT) AS n, CAST(n_err AS BIGINT) AS n_err,
           round(n_err::DOUBLE / n, 4) AS rate_1h,
           round(err_6h::DOUBLE / n_6h, 4) AS rate_6h,
           (n_err::DOUBLE / n > {BURN_FAST} * {SLO_BUDGET}
            AND err_6h::DOUBLE / n_6h > {BURN_SLOW} * {SLO_BUDGET}) AS paging
    FROM rolled
    """,
    doc="SRE multi-window burn-rate alerting over the error stream: "
    "hourly error rate plus the 6-hour rolling rate, paging only when "
    "BOTH exceed their burn multipliers of the error budget — the "
    "two-window rule that makes alerts fast on real incidents yet "
    "immune to single-hour blips (Google SRE workbook shape). The "
    "rolling window is the bounded-frame explode: each hourly row "
    "contributes its counts to the 6 target hours [hr, hr+5] map-side "
    "(6x a calendar-bounded aggregate), a groupBy(hr) re-sums, and an "
    "equi-join back to the hourly frame keeps exactly the hours that "
    "exist — RANGE-frame semantics with every stage parallel (the r10 "
    "verdict flagged the old coalesce(1) single-task sweep; this is "
    "the shape that survives a 100x hour count, and the sums stay "
    "exact integers so the rewrite is hash-invariant).",
)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = (
        t(spark, sf_dir, "events")
        .groupBy(F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("hr"))
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_err"),
        )
    )
    # RANGE BETWEEN 5 PRECEDING AND CURRENT ROW over hr VALUES: hour h's
    # 6h window sums contributors with hr in [h-5, h] — equivalently each
    # contributor fans out to targets [hr, hr+5]; hours absent from the
    # data contribute nothing and are dropped by the inner join back.
    contrib = hourly.select(
        F.explode(F.sequence(F.col("hr"), F.col("hr") + F.lit(5))).alias("hr"),
        "n",
        "n_err",
    )
    rolled6 = contrib.groupBy("hr").agg(
        F.sum("n").alias("n_6h"), F.sum("n_err").alias("err_6h")
    )
    rolled = hourly.join(rolled6, "hr")
    rate_1h = F.col("n_err").cast("double") / F.col("n")
    rate_6h = F.col("err_6h").cast("double") / F.col("n_6h")
    return rolled.select(
        F.col("hr").alias("hour_idx"),
        F.col("n").cast("bigint").alias("n"),
        F.col("n_err").cast("bigint").alias("n_err"),
        r4(rate_1h).alias("rate_1h"),
        r4(rate_6h).alias("rate_6h"),
        ((rate_1h > BURN_FAST * SLO_BUDGET) & (rate_6h > BURN_SLOW * SLO_BUDGET)).alias(
            "paging"
        ),
    )


@register(
    "agg_new_vs_returning",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           CAST(count(CASE WHEN f.first_day = d.day THEN 1 END) AS BIGINT) AS new_users,
           CAST(count(CASE WHEN f.first_day < d.day THEN 1 END) AS BIGINT) AS returning_users
    FROM daily d JOIN firsts f USING (user_id)
    GROUP BY d.day
    """,
    doc="Daily new-vs-returning active users: each (user, day) active pair "
    "classified by whether the day is the user's first — the growth-"
    "accounting split every product dashboard leads with (retention "
    "cohorts slice the same first-seen fact by offset; this is the "
    "daily composition). One distinct (user, day) projection + a "
    "per-user min + an unhinted first-seen join (|users|-sized — a "
    "skew-free shuffle on user_id at scale, AQE-broadcast when small); "
    "everything reduces map-side on user_id.",
)
def agg_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = ev.distinct()
    # no broadcast hint: firsts is |users|-sized (data-sized at 100 TB,
    # ~1e9 rows) — the join keys on high-cardinality user_id, so a
    # shuffle join is skew-free and AQE still broadcasts when small
    # (the r9 inverse-class audit)
    return (
        daily.join(firsts, "user_id")
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.when(F.col("first_day") == F.col("day"), 1))
            .cast("bigint")
            .alias("new_users"),
            F.count(F.when(F.col("first_day") < F.col("day"), 1))
            .cast("bigint")
            .alias("returning_users"),
        )
    )


@register(
    "events_interarrival_profile",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT))
                 OVER (PARTITION BY event_type ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS gap
      FROM events
    )
    SELECT event_type,
           count(gap) AS n_gaps,
           round(avg(gap), 4) AS mean_gap_s,
           round(median(gap), 4) AS median_gap_s,
           CAST(max(gap) AS BIGINT) AS max_gap_s
    FROM gaps WHERE gap IS NOT NULL GROUP BY event_type
    """,
    doc="Inter-arrival profile per event type: mean, exact median, and "
    "max gap between consecutive events of the same type — the queueing "
    "statistics capacity planning reads next to the seasonality heatmap "
    "(mean sets throughput, median vs mean exposes burstiness, max "
    "flags outages). The consecutive-event lag runs via "
    "_util.partitioned_lag (global two-phase rank + skew-free rank "
    "self-join), never an event_type-partitioned window over raw "
    "events (|types| tasks sorting the corpus at 100 TB); the count/"
    "mean/max profile is a grouped aggregate, and the EXACT median is "
    "a kth-element extraction over the two-phase per-type rank "
    "(_util.partitioned_row_number): Spark's median() is an imperative "
    "aggregate that buffers the whole group in executor memory — "
    "data-sized state per type — while the rank path selects the one "
    "or two middle rows and averages them (identical interpolation "
    "semantics, bit-equal to median()/quantile_cont).",
    eager=True,  # construction runs the range-partition exchange
)
def events_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-type lag over RAW events = |types| tasks sorting the whole
    # corpus at 100 TB — run it via _util.partitioned_lag (global
    # two-phase rank + skew-free self-join on the rank) instead of an
    # event_type-partitioned window (the r9 sweep of the VERDICT r8
    # item 2 class)
    from ._util import partitioned_lag

    es = F.unix_timestamp("ts")
    ev = t(spark, sf_dir, "events").select(
        "event_type", es.alias("es"), "event_id"
    )
    lagged = partitioned_lag(
        ev,
        ["event_type"],
        [F.asc("es"), F.asc("event_id")],
        "es",
        out="prev_es",
    )
    gaps = lagged.select(
        "event_type",
        (F.col("es") - F.col("prev_es")).alias("gap"),
        "event_id",
    ).filter(F.col("gap").isNotNull())
    prof = gaps.groupBy("event_type").agg(
        F.count("gap").alias("n_gaps"),
        r4(F.avg("gap")).alias("mean_gap_s"),
        F.max("gap").cast("bigint").alias("max_gap_s"),
    )
    # exact median without buffering a whole type's gaps in one
    # aggregator: two-phase per-type rank, keep the middle one or two
    # rows, average them — for even n this is (v_lo+v_hi)/2, exactly
    # median()'s linear interpolation (event_id tiebreak makes the rank
    # deterministic; tied gap VALUES make the picked elements identical
    # either way)
    from ._util import partitioned_row_number

    ranked = partitioned_row_number(
        gaps,
        ["event_type"],
        [F.asc("gap"), F.asc("event_id")],
        out="r",
        n_out="n",
    )
    mid = ranked.filter(
        (F.col("r") == F.floor((F.col("n") + 1) / 2))
        | (F.col("r") == F.ceil((F.col("n") + 1) / 2))
    )
    med = mid.groupBy("event_type").agg(r4(F.avg("gap")).alias("median_gap_s"))
    return prof.join(med, "event_type").select(
        "event_type", "n_gaps", "mean_gap_s", "median_gap_s", "max_gap_s"
    )


@register(
    "dq_event_order_violations",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup'
                      THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS first_signup,
             min(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(count(CASE WHEN first_purchase IS NOT NULL AND first_signup IS NULL
                           THEN 1 END) AS BIGINT) AS purchase_without_signup,
           CAST(count(CASE WHEN first_purchase IS NOT NULL AND first_signup IS NOT NULL
                                AND first_purchase < first_signup
                           THEN 1 END) AS BIGINT) AS purchase_before_signup,
           CAST(count(CASE WHEN first_signup IS NOT NULL AND first_purchase IS NOT NULL
                                AND first_signup <= first_purchase
                           THEN 1 END) AS BIGINT) AS well_ordered
    FROM firsts
    """,
    doc="Sequence-constraint audit: per user, does the first purchase "
    "respect the signup-before-purchase business rule — counts of "
    "purchase-without-signup, purchase-before-signup, and well-ordered "
    "users. The event-order validation every CDC/ingest sanity pass "
    "runs (the synthetic stream violates it freely, which is exactly "
    "what the audit is for). One conditional-min aggregate per user "
    "(map-side combinable) + a single summary reduce; no window, no "
    "join.",
)
def dq_event_order_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    es = F.unix_timestamp("ts")
    firsts = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", es)).alias("first_signup"),
            F.min(F.when(F.col("event_type") == "purchase", es)).alias("first_purchase"),
        )
    )
    p, s = F.col("first_purchase"), F.col("first_signup")
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count(F.when(p.isNotNull() & s.isNull(), 1))
        .cast("bigint")
        .alias("purchase_without_signup"),
        F.count(F.when(p.isNotNull() & s.isNotNull() & (p < s), 1))
        .cast("bigint")
        .alias("purchase_before_signup"),
        F.count(F.when(s.isNotNull() & p.isNotNull() & (s <= p), 1))
        .cast("bigint")
        .alias("well_ordered"),
    )


KS_ALPHA = 0.05  # two-sample KS rejection level


def ks_frame(vals: DataFrame) -> DataFrame:
    """(value, ia, ib) indicator rows → one-row exact two-sample KS.

    Filters NULL values first (a NULL is meaningless in an ECDF, and the
    two engines would otherwise cumulate it at OPPOSITE ends: Spark ASC
    = NULLS FIRST, DuckDB default = NULLS LAST), groups by value (so
    cumulative sums are tie-correct and integer-exact), then cumulates
    both ECDFs via _util.global_cumsum — the range-partitioned two-phase
    prefix sum, never an unpartitioned ordered window over the
    distinct-value table (a corpus-sized single task for a continuous
    double at 100 TB). The sample sizes n_a/n_b are a one-row aggregate
    of the cumsum output broadcast back onto it, so the max gap and the
    large-sample critical value c(alpha)·sqrt((n_a+n_b)/(n_a·n_b)) with
    c = sqrt(-ln(alpha/2)/2) run in the same plan — no driver collect
    and no total window. An empty sample on either side gives the
    defined zero frame (ks_stat=0, not a NULL-vs-NaN engine divergence);
    the divisions sit behind that guard, so ANSI mode never divides by
    zero. Synthetic drifted/identical fixtures are pytest-pinned in
    tests/test_invariants.py.
    """
    from ._util import global_cumsum

    vals = vals.filter(F.col("value").isNotNull())
    g = vals.groupBy("value").agg(F.sum("ia").alias("ca"), F.sum("ib").alias("cb"))
    cum = global_cumsum(g, ["value"], ["ca", "cb"])
    # bigint sizes: n_a * n_b overflows 32-bit at ~50k samples a side
    # (ANSI ARITHMETIC_OVERFLOW, caught by the derived-sf1 scaling run);
    # DuckDB's window sums are HUGEINT so only the Spark side needs care
    sizes = cum.agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    both = (na > 0) & (nb > 0)
    gap = F.when(
        both,
        F.abs(
            F.col("cum_ca").cast("double") / na - F.col("cum_cb").cast("double") / nb
        ),
    )
    # an empty cum joins to no rows: the global aggregate still emits
    # one row, whose NULLs coalesce to the zero frame
    stats = cum.crossJoin(F.broadcast(sizes)).agg(
        F.coalesce(F.max(na), F.lit(0)).alias("n_a"),
        F.coalesce(F.max(nb), F.lit(0)).alias("n_b"),
        F.coalesce(F.max(gap), F.lit(0.0)).alias("ks"),
    )
    crit = F.when(
        both,
        F.sqrt(F.lit(-0.5 * math.log(KS_ALPHA / 2.0)) * (na + nb) / (na * nb)),
    ).otherwise(F.lit(0.0))
    return stats.select(
        na,
        nb,
        r4(F.col("ks")).alias("ks_stat"),
        r4(crit).alias("ks_crit"),
        (F.col("ks") > crit).alias("drifted"),
    )


@register(
    "eval_ks_drift",
    oracle=f"""
    WITH vals AS (
      SELECT value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ib
      FROM events
      WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL
    ),
    g AS (SELECT value, sum(ia) AS ca, sum(ib) AS cb FROM vals GROUP BY value),
    cum AS (
      SELECT sum(ca) OVER (ORDER BY value) AS cum_a,
             sum(cb) OVER (ORDER BY value) AS cum_b,
             sum(ca) OVER () AS n_a,
             sum(cb) OVER () AS n_b
      FROM g
    )
    SELECT CAST(coalesce(max(n_a), 0) AS BIGINT) AS n_a,
           CAST(coalesce(max(n_b), 0) AS BIGINT) AS n_b,
           CASE WHEN coalesce(max(n_a), 0) > 0 AND coalesce(max(n_b), 0) > 0
                THEN round(max(abs(cum_a::DOUBLE / n_a - cum_b::DOUBLE / n_b)), 4)
                ELSE 0.0 END AS ks_stat,
           CASE WHEN coalesce(max(n_a), 0) > 0 AND coalesce(max(n_b), 0) > 0
                THEN round(sqrt({-0.5 * math.log(KS_ALPHA / 2.0)!r}
                           * (max(n_a) + max(n_b))
                           / (max(n_a) * max(n_b))), 4)
                ELSE 0.0 END AS ks_crit,
           CASE WHEN coalesce(max(n_a), 0) > 0 AND coalesce(max(n_b), 0) > 0
                THEN max(abs(cum_a::DOUBLE / n_a - cum_b::DOUBLE / n_b))
                     > sqrt({-0.5 * math.log(KS_ALPHA / 2.0)!r}
                            * (max(n_a) + max(n_b))
                            / (max(n_a) * max(n_b)))
                ELSE false END AS drifted
    FROM cum
    """,
    doc="Exact two-sample Kolmogorov-Smirnov test between the purchase "
    "and view value distributions — the unbinned complement to "
    "eval_psi_drift (PSI quantizes into deciles and can miss shape "
    "changes inside a bin; KS takes the supremum ECDF gap exactly). "
    "Grouping by value before cumulating makes both ECDFs integer-exact "
    "at every step, so the statistic has no accumulation-order fp risk; "
    "the drifted flag compares against the alpha=0.05 large-sample "
    "critical value with identical expression trees on both engines. "
    "One scan; the ordered ECDF window runs over the DISTINCT-value "
    "table — at 100 TB either range-partition the cumulative sum "
    "(two-phase scan) or fall back to the binned PSI cousin.",
)
def eval_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .select(
            "value",
            (F.col("event_type") == "purchase").cast("int").alias("ia"),
            (F.col("event_type") == "view").cast("int").alias("ib"),
        )
    )
    return ks_frame(vals)


FRESHNESS_SLA_SEC = 1800  # stale if a stream's last event lags the head by 30 min


@register(
    "dq_freshness_lag",
    oracle=f"""
    WITH per AS (
      SELECT event_type, count(*) AS n_events, epoch_us(max(ts)) AS last_epoch_us
      FROM events GROUP BY event_type
    ),
    g AS (SELECT max(last_epoch_us) AS g_us FROM per)
    SELECT event_type, n_events, last_epoch_us,
           round((g.g_us - last_epoch_us) / 1000000.0, 4) AS lag_sec,
           (g.g_us - last_epoch_us) > {FRESHNESS_SLA_SEC} * 1000000 AS stale
    FROM per CROSS JOIN g
    """,
    doc="Ingestion-freshness audit per event stream: each event_type's "
    "last-seen timestamp (epoch micros, per this module's no-timezone "
    "convention), its lag behind the freshest stream, and the stale "
    "flag against the SLA — the first dashboard any streaming ingest "
    "runs ('did the purchase feed stop?'), and the batch complement to "
    "dq_event_order_violations (that one checks per-user ordering, this "
    "checks per-stream liveness). The lag is computed in integer "
    "microseconds (exact in both engines), so the stale boundary has "
    "zero float risk. One map-side-combinable max/count per type plus "
    "an unpartitioned window max over the |event_types|-row aggregate "
    "(one scan of events, not two).",
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            # ts is TIMESTAMP_NTZ; the fixture loader pins the session TZ
            # to UTC, so the cast matches DuckDB's naive-as-UTC epoch_us
            F.unix_micros(F.max("ts").cast("timestamp")).alias("last_epoch_us"),
        )
    )
    # global max via pack-and-explode (the temperature_boosts shape):
    # the max rides the SAME aggregate as collect_list over the
    # |event_types|-row frame — one scan of events (test_plans single-
    # scan pin), no unpartitioned window, no cross join re-executing
    # the upstream scan
    packed = per.agg(
        F.collect_list(F.struct(*per.columns)).alias("__rows"),
        F.max("last_epoch_us").alias("__g_us"),
    )
    lag_us = F.col("__g_us") - F.col("__r.last_epoch_us")
    return packed.select(F.explode("__rows").alias("__r"), "__g_us").select(
        F.col("__r.event_type").alias("event_type"),
        F.col("__r.n_events").alias("n_events"),
        F.col("__r.last_epoch_us").alias("last_epoch_us"),
        r4(lag_us / 1000000.0).alias("lag_sec"),
        (lag_us > FRESHNESS_SLA_SEC * 1_000_000).alias("stale"),
    )


@register(
    "events_peak_concurrency",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             lag(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev_es
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, es,
             CASE WHEN prev_es IS NULL OR es - prev_es > {SESSION_GAP_SEC} THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ),
    numbered AS (
      SELECT user_id, es,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY es, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, sess_id, min(es) AS s_start, max(es) + {SESSION_GAP_SEC} AS s_end
      FROM numbered GROUP BY user_id, sess_id
    ),
    deltas AS (
      SELECT s_start AS t, 1 AS d FROM sessions
      UNION ALL SELECT s_end, -1 FROM sessions
    ),
    merged AS (
      SELECT t, sum(d) AS net FROM deltas GROUP BY t
    ),
    swept AS (
      SELECT t, sum(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS live
      FROM merged
    )
    SELECT CAST(max(live) AS BIGINT) AS peak_concurrent,
           CAST(count(*) AS BIGINT) AS n_change_points,
           CAST((SELECT count(*) FROM sessions) AS BIGINT) AS n_sessions
    FROM swept
    """,
    doc="Peak concurrent sessions via the sweep line: sessions (the "
    "events_session_stats gap construction, closed at last-event + gap) "
    "emit +1/−1 deltas at their boundaries, same-instant deltas merge, "
    "and a running sum over the ordered change points yields the live "
    "count whose max is the capacity answer — the interval-concurrency "
    "algorithm licensing/capacity questions reduce to, done without "
    "expanding intervals into per-second rows. The global sweep runs "
    "over CHANGE POINTS (2 per session) via _util.global_cumsum — "
    "range-partition by time, cumulate per partition in parallel, add "
    "the broadcast partition-boundary offsets (the r11 swap off the "
    "coalesce(1) single-task sweep this docstring used to merely "
    "prescribe; integer deltas, so the two-phase sum is hash-exact).",
    eager=True,  # construction runs the range-partition exchange
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    es = F.unix_timestamp("ts")
    w = W.partitionBy("user_id").orderBy(es, F.col("event_id"))
    flagged = (
        t(spark, sf_dir, "events")
        .withColumn("es", es)
        .withColumn("prev_es", F.lag("es").over(w))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev_es").isNull()
                | (F.col("es") - F.col("prev_es") > SESSION_GAP_SEC),
                1,
            ).otherwise(0),
        )
    )
    numbered = flagged.withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    sessions = numbered.groupBy("user_id", "sess_id").agg(
        F.min("es").alias("s_start"),
        (F.max("es") + SESSION_GAP_SEC).alias("s_end"),
    )
    deltas = sessions.select(F.col("s_start").alias("t"), F.lit(1).alias("d")).unionByName(
        sessions.select(F.col("s_end").alias("t"), F.lit(-1).alias("d"))
    )
    from ._util import global_cumsum

    merged = deltas.groupBy("t").agg(F.sum("d").alias("net"))
    swept = global_cumsum(merged, ["t"], ["net"])
    swept = swept.withColumnRenamed("cum_net", "live")
    n_sess = sessions.agg(F.count("*").cast("bigint").alias("n_sessions"))
    return (
        swept.agg(
            F.max("live").cast("bigint").alias("peak_concurrent"),
            F.count("*").cast("bigint").alias("n_change_points"),
        )
        .crossJoin(F.broadcast(n_sess))
    )


@register(
    "events_bounce_rate",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             lag(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev_es
      FROM events
    ),
    flagged AS (
      SELECT user_id, es,
             CASE WHEN prev_es IS NULL OR es - prev_es > {SESSION_GAP_SEC} THEN 1 ELSE 0 END AS new_sess,
             event_id
      FROM ordered
    ),
    numbered AS (
      SELECT user_id,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY es, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    ),
    sess AS (SELECT user_id, sess_id, count(*) AS n_events FROM numbered GROUP BY user_id, sess_id)
    SELECT count(*) AS n_sessions,
           CAST(count(CASE WHEN n_events = 1 THEN 1 END) AS BIGINT) AS n_bounces,
           round(count(CASE WHEN n_events = 1 THEN 1 END)::DOUBLE / count(*), 4) AS bounce_rate,
           round(avg(n_events), 4) AS avg_events_per_session
    FROM sess
    """,
    doc="Bounce rate over gap-sessions: the share of sessions containing "
    "exactly one event, plus mean session depth — the engagement-"
    "quality readout next to session counts (a crawler-heavy or "
    "broken-page corpus shows up as a bounce spike before any revenue "
    "metric moves). Same single user_id window as the session family, "
    "then a session-level reduce.",
)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    es = F.unix_timestamp("ts")
    w = W.partitionBy("user_id").orderBy(es, F.col("event_id"))
    flagged = (
        t(spark, sf_dir, "events")
        .withColumn("prev_es", F.lag(es).over(w))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev_es").isNull() | (es - F.col("prev_es") > SESSION_GAP_SEC), 1
            ).otherwise(0),
        )
    )
    numbered = flagged.withColumn(
        "sess_id", F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    sess = numbered.groupBy("user_id", "sess_id").agg(F.count("*").alias("n_events"))
    bounce = F.count(F.when(F.col("n_events") == 1, 1))
    return sess.agg(
        F.count("*").alias("n_sessions"),
        bounce.cast("bigint").alias("n_bounces"),
        r4(bounce.cast("double") / F.count("*")).alias("bounce_rate"),
        r4(F.avg("n_events")).alias("avg_events_per_session"),
    )


@register(
    "agg_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
      FROM events
    ),
    islands AS (
      SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, count(*) AS streak_len
      FROM islands GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(max(streak_len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
    doc="Longest consecutive-day activity streak per user via gaps-and-"
    "islands: distinct active days minus their row_number is constant "
    "within a consecutive run, so one grouped count per (user, island) "
    "yields streak lengths — the engagement-streak metric (and the "
    "canonical islands idiom, here on the epoch-day grid so no calendar "
    "arithmetic enters the comparison). One user_id window + two "
    "grouped aggregates on the same key; distinct days per user bound "
    "the state.",
)
def agg_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
        )
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("day")
    islands = days.withColumn("grp", F.col("day") - F.row_number().over(w))
    streaks = islands.groupBy("user_id", "grp").agg(F.count("*").alias("streak_len"))
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").cast("bigint").alias("longest_streak"),
        F.count("*").cast("bigint").alias("n_streaks"),
    )


ERROR_GAP_SEC = 600  # error-burst sessionization gap


@register(
    "events_error_impact",
    oracle=f"""
    WITH err AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             lag(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev_es
      FROM events WHERE event_type = 'error'
    ),
    flagged AS (
      SELECT user_id, es,
             CASE WHEN prev_es IS NULL OR es - prev_es > {ERROR_GAP_SEC} THEN 1 ELSE 0 END AS new_b,
             event_id
      FROM err
    ),
    numbered AS (
      SELECT user_id, es,
             sum(new_b) OVER (PARTITION BY user_id ORDER BY es, event_id
                              ROWS UNBOUNDED PRECEDING) AS burst_id
      FROM flagged
    ),
    bursts AS (
      SELECT user_id, burst_id, min(es) AS b_start, max(es) + {ERROR_GAP_SEC} AS b_end
      FROM numbered GROUP BY user_id, burst_id
    ),
    purchases AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, value
      FROM events WHERE event_type = 'purchase'
    ),
    hits AS (
      SELECT DISTINCT p.event_id, p.value
      FROM purchases p JOIN bursts b
        ON b.user_id = p.user_id AND p.es >= b.b_start AND p.es < b.b_end
    )
    SELECT (SELECT count(*) FROM purchases) AS n_purchases,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_during_errors,
           round(coalesce((SELECT sum(value) FROM hits), 0), 4) AS revenue_at_risk
    """,
    doc="Incident impact: purchases landing inside the same user's "
    "error-burst windows (errors sessionized with a 10-min gap, bursts "
    "closed at last-error + gap) — the revenue-at-risk readout an "
    "incident review pairs with the burn-rate alert. Point-in-interval "
    "containment joins on the USER key first (co-partitioned with the "
    "burst construction), so the interval predicate only filters "
    "within-user pairs — no bucketing or cross join needed when the "
    "interval side is keyed; at 100 TB both sides shuffle once on "
    "user_id.",
)
def events_error_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    es = F.unix_timestamp("ts")
    w = W.partitionBy("user_id").orderBy(es, F.col("event_id"))
    err = (
        ev.filter(F.col("event_type") == "error")
        .withColumn("es", es)
        .withColumn("prev_es", F.lag("es").over(w))
        .withColumn(
            "new_b",
            F.when(
                F.col("prev_es").isNull()
                | (F.col("es") - F.col("prev_es") > ERROR_GAP_SEC),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "burst_id", F.sum("new_b").over(w.rowsBetween(W.unboundedPreceding, 0))
        )
    )
    bursts = err.groupBy("user_id", "burst_id").agg(
        F.min("es").alias("b_start"), (F.max("es") + ERROR_GAP_SEC).alias("b_end")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", es.alias("es"), "value"
    )
    hits = (
        purchases.join(bursts, "user_id")
        .filter((F.col("es") >= F.col("b_start")) & (F.col("es") < F.col("b_end")))
        .select("event_id", "value")
        .distinct()
    )
    n_p = purchases.agg(F.count("*").alias("n_purchases"))
    return n_p.crossJoin(
        hits.agg(
            F.count("*").cast("bigint").alias("n_during_errors"),
            r4(F.coalesce(F.sum("value"), F.lit(0.0))).alias("revenue_at_risk"),
        )
    )


@register(
    "events_time_to_value",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup'
                      THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS t_signup,
             min(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS t_purchase
      FROM events GROUP BY user_id
    ),
    ttv AS (
      SELECT t_purchase - t_signup AS ttv_s FROM firsts
      WHERE t_signup IS NOT NULL AND t_purchase IS NOT NULL AND t_purchase >= t_signup
    )
    SELECT count(*) AS n_converted,
           round(median(ttv_s), 4) AS median_ttv_s,
           round(avg(ttv_s), 4) AS mean_ttv_s,
           CAST(max(ttv_s) AS BIGINT) AS max_ttv_s
    FROM ttv
    """,
    doc="Time-to-value: latency from a user's first signup to their first "
    "subsequent purchase (median/mean/max over well-ordered converters) "
    "— the activation metric growth teams track alongside funnels; the "
    "dq_event_order_violations key audits the mis-ordered users this "
    "one excludes. One conditional-min aggregate per user; the exact "
    "median runs via _util.grouped_exact_percentiles over the "
    "once-materialized converter frame (|users|-sized — median() would "
    "buffer it in one aggregator; r9 exact-quantile rewrite).",
    eager=True,  # construction materializes the converter frame
)
def events_time_to_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    es = F.unix_timestamp("ts")
    firsts = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", es)).alias("t_signup"),
            F.min(F.when(F.col("event_type") == "purchase", es)).alias("t_purchase"),
        )
    )
    from ._util import grouped_exact_percentiles, truncate_lineage

    ttv = truncate_lineage(
        firsts.filter(
            F.col("t_signup").isNotNull()
            & F.col("t_purchase").isNotNull()
            & (F.col("t_purchase") >= F.col("t_signup"))
        ).select((F.col("t_purchase") - F.col("t_signup")).alias("ttv_s")),
        eager=False,
    )
    base = ttv.agg(
        F.count("*").alias("n_converted"),
        r4(F.avg("ttv_s")).alias("mean_ttv_s"),
        F.max("ttv_s").cast("bigint").alias("max_ttv_s"),
    )
    med = grouped_exact_percentiles(ttv, [], "ttv_s", {"m": 0.5})
    return base.crossJoin(F.broadcast(med)).select(
        "n_converted",
        r4(F.col("m")).alias("median_ttv_s"),
        "mean_ttv_s",
        "max_ttv_s",
    )


@register(
    "eval_forecast_seasonal_naive",
    oracle="""
    WITH daily AS (
      SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*) AS n
      FROM events GROUP BY 1
    ),
    paired AS (
      SELECT a.day, a.n AS actual, b.n AS forecast
      FROM daily a JOIN daily b ON b.day = a.day - 7
    )
    SELECT count(*) AS n_days,
           round(avg(abs(actual - forecast)), 4) AS mae,
           round(avg(abs(actual - forecast)::DOUBLE / actual), 4) AS mape,
           round(avg(actual), 4) AS mean_actual
    FROM paired
    """,
    doc="Seasonal-naive forecast evaluation: tomorrow = same weekday last "
    "week, scored by MAE and MAPE over daily event counts — the "
    "baseline every real forecasting model must beat, and the first "
    "number a capacity-planning review asks for (agg_trend_regression "
    "gives the trend; this gives the benchmark error floor). One daily "
    "aggregate self-joined at lag 7 — a |days|-row equi-join.",
)
def eval_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    a = daily.select("day", F.col("n").alias("actual"))
    b = daily.select((F.col("day") + 7).alias("day"), F.col("n").alias("forecast"))
    paired = a.join(b, "day")
    err = F.abs(F.col("actual") - F.col("forecast"))
    return paired.agg(
        F.count("*").alias("n_days"),
        r4(F.avg(err)).alias("mae"),
        r4(F.avg(err.cast("double") / F.col("actual"))).alias("mape"),
        r4(F.avg("actual")).alias("mean_actual"),
    )


@register(
    "events_pit_features",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
    ),
    feat AS (
      SELECT user_id, event_id, event_type, es,
             count(CASE WHEN event_type = 'click' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY es
                     RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING) AS clicks_1h,
             coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END)
               OVER (PARTITION BY user_id ORDER BY es, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS spend_to_date
      FROM e
    )
    SELECT event_id, user_id,
           CAST(clicks_1h AS BIGINT) AS clicks_1h,
           round(spend_to_date, 4) AS spend_to_date
    FROM feat WHERE event_type = 'purchase'
    """,
    doc="Point-in-time feature generation: for every purchase, the user's "
    "trailing-hour click count (RANGE frame ending 1s before now) and "
    "cumulative prior spend — features computed strictly from the past, "
    "the leakage-free construction a feature store must guarantee for "
    "training-serving parity (a naive groupBy-join would leak the "
    "label's own row and future events into the feature). One user_id "
    "window pass serves every feature column; at 100 TB this is the "
    "same single shuffle the session family pays.",
)
def events_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    es = F.unix_timestamp("ts")
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", es.alias("es")
    )
    w_range = (
        W.partitionBy("user_id").orderBy("es").rangeBetween(-3600, -1)
    )
    w_rows = (
        W.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    feat = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.count(F.when(F.col("event_type") == "click", 1))
        .over(w_range)
        .cast("bigint")
        .alias("clicks_1h"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))).over(
                w_rows
            ),
            F.lit(0.0),
        ).alias("spend_to_date"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "clicks_1h", r4(F.col("spend_to_date")).alias("spend_to_date")
    )


PSI_BINS = 10


@register(
    "eval_psi_drift",
    oracle=f"""
    WITH halves AS (
      SELECT value, event_id % 2 AS half FROM events
    ),
    edges AS (
      SELECT quantile_cont(value, [x / {PSI_BINS}.0 FOR x IN range(1, {PSI_BINS})]) AS qs
      FROM halves WHERE half = 0
    ),
    binned AS (
      SELECT h.half,
             len(list_filter(e.qs, q -> q < h.value)) AS bin
      FROM halves h CROSS JOIN edges e
    ),
    counts AS (
      SELECT bin,
             count(CASE WHEN half = 0 THEN 1 END)::DOUBLE AS na,
             count(CASE WHEN half = 1 THEN 1 END)::DOUBLE AS nb
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM counts)
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           round(sum((c.na / t.ta - c.nb / t.tb)
                     * ln((c.na / t.ta) / (c.nb / t.tb))), 4) AS psi
    FROM counts c CROSS JOIN tot t
    """,
    doc="Population Stability Index between the event stream's two halves "
    "(event_id parity stands in for reference vs current windows): "
    "decile edges from the reference half via exact interpolated quantiles (quantile_cont ↔ Spark percentile — the discrete variant picks elements and drifts at small n), "
    "both halves binned against them, PSI = Σ(pa−pb)·ln(pa/pb) — THE "
    "production drift alarm for model scores and features (rule of "
    "thumb: >0.1 investigate, >0.25 retrain). The decile edges run via "
    "_util.grouped_exact_percentiles (straddling-row selection over the "
    "two-phase rank — the array-percentile aggregate buffers the whole "
    "reference half in one aggregator at 100 TB; r9 exact-quantile "
    "rewrite, bit-equal per edge); edges are a 9-value broadcast; "
    "binning is map-side; the parity halves guarantee every decile is "
    "populated on both sides so the log never sees a zero.",
    eager=True,  # construction runs the range-partition exchange
)
def eval_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import grouped_exact_percentiles

    halves = t(spark, sf_dir, "events").select(
        "value", (F.col("event_id") % 2).alias("half")
    )
    probs = [i / PSI_BINS for i in range(1, PSI_BINS)]
    q = grouped_exact_percentiles(
        halves.filter(F.col("half") == 0),
        [],
        "value",
        {f"q{i}": p for i, p in enumerate(probs)},
    )
    edges = q.select(
        F.array(*[F.col(f"q{i}") for i in range(len(probs))]).alias("qs")
    )
    binned = halves.crossJoin(F.broadcast(edges)).select(
        "half",
        F.size(F.filter(F.col("qs"), lambda q: q < F.col("value"))).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.count(F.when(F.col("half") == 0, 1)).cast("double").alias("na"),
        F.count(F.when(F.col("half") == 1, 1)).cast("double").alias("nb"),
    )
    tot = counts.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    pa = F.col("na") / F.col("ta")
    pb = F.col("nb") / F.col("tb")
    return (
        counts.crossJoin(F.broadcast(tot))
        .agg(
            F.count("*").cast("bigint").alias("n_bins"),
            r4(F.sum((pa - pb) * F.log(pa / pb))).alias("psi"),
        )
    )


@register(
    "events_changepoint_cusum",
    oracle="""
    WITH daily AS (
      SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*)::DOUBLE AS n
      FROM events GROUP BY 1
    ),
    mu AS (SELECT avg(n) AS m FROM daily),
    cusum AS (
      SELECT day,
             sum(n - m.m) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cs
      FROM daily CROSS JOIN mu m
    ),
    peak AS (
      SELECT day, cs FROM cusum ORDER BY abs(cs) DESC, day LIMIT 1
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
           p.day AS changepoint_day,
           round(p.cs, 4) AS peak_cusum,
           round((SELECT max(abs(cs)) FROM cusum)
                 / (SELECT stddev_samp(n) FROM daily), 4) AS normalized_peak
    FROM peak p
    """,
    doc="CUSUM changepoint detection on daily event volume: the running "
    "sum of deviations from the global mean peaks (in absolute value) "
    "at the most likely level-shift point — the classic offline "
    "changepoint locator behind 'when did traffic actually change', "
    "with the peak normalized by the daily stddev for a scale-free "
    "signal (≳ a few means a real shift, not noise). The running sum "
    "walks the |days|-row aggregate via _util.global_cumsum (the r11 "
    "swap off the coalesce(1) single-task sweep), in the EXACT-integer "
    "form: sum_{d'<=d}(n-m) = cum_n(d) - rank(d)*m, so the two-phase "
    "split cumulates only bigints (hash-exact under any partitioning) "
    "and the sole float op is one multiply-subtract per output row; "
    "the corpus-sized work is one combinable daily count.",
    eager=True,  # construction runs the range-partition exchange
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import global_cumsum

    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"))
        .agg(F.count("*").alias("n_i"))
        .withColumn("n", F.col("n_i").cast("double"))
    )
    mu = daily.agg(F.avg("n").alias("m"))
    cum = global_cumsum(
        daily.withColumn("one", F.lit(1).cast("bigint")), ["day"], ["n_i", "one"]
    )
    cusum = cum.crossJoin(F.broadcast(mu)).select(
        "day",
        (
            F.col("cum_n_i").cast("double")
            - F.col("cum_one").cast("double") * F.col("m")
        ).alias("cs"),
    )
    peak = cusum.orderBy(F.abs(F.col("cs")).desc(), F.asc("day")).limit(1)
    stats = daily.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.stddev_samp("n").alias("sd"),
    )
    mx = cusum.agg(F.max(F.abs(F.col("cs"))).alias("mx"))
    return (
        peak.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(mx))
        .select(
            "n_days",
            F.col("day").alias("changepoint_day"),
            r4(F.col("cs")).alias("peak_cusum"),
            r4(F.col("mx") / F.col("sd")).alias("normalized_peak"),
        )
    )


@register(
    "agg_winsorized_mean",
    oracle="""
    WITH bounds AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n,
           round(avg(e.value), 4) AS raw_mean,
           round(avg(least(greatest(e.value, b.lo), b.hi)), 4) AS winsorized_mean,
           CAST(count(CASE WHEN e.value < b.lo OR e.value > b.hi THEN 1 END) AS BIGINT) AS n_clipped
    FROM events e JOIN bounds b USING (event_type)
    GROUP BY e.event_type
    """,
    doc="Winsorized mean per event type: values clipped to the exact "
    "[p5, p95] band before averaging, next to the raw mean and the "
    "clip count — the robust central tendency dashboards use when a "
    "single whale would swing the average (the trimmed cousin of the "
    "MAD profile's outlier flags). Exact interpolated [p5, p95] bounds "
    "run via _util.grouped_exact_percentiles (no whole-group buffering "
    "— the r9 exact-quantile rewrite, bit-equal to quantile_cont), "
    "broadcast back over one stream scan.",
    eager=True,  # construction runs the range-partition exchange
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import grouped_exact_percentiles

    bounds = grouped_exact_percentiles(
        t(spark, sf_dir, "events"),
        ["event_type"],
        "value",
        {"lo": 0.05, "hi": 0.95},
    )
    e = t(spark, sf_dir, "events").select("event_type", "value")
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        e.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            r4(F.avg("value")).alias("raw_mean"),
            r4(F.avg(clipped)).alias("winsorized_mean"),
            F.count(
                F.when((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1)
            )
            .cast("bigint")
            .alias("n_clipped"),
        )
    )


VELOCITY_WINDOW_SEC = 3600
VELOCITY_LIMIT = 1  # purchases allowed per trailing window


@register(
    "events_fraud_velocity",
    oracle=f"""
    WITH p AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, value
      FROM events WHERE event_type = 'purchase'
    ),
    vel AS (
      SELECT user_id, event_id, es, value,
             count(*) OVER (PARTITION BY user_id ORDER BY es
                            RANGE BETWEEN {VELOCITY_WINDOW_SEC} PRECEDING AND CURRENT ROW) AS n_window
      FROM p
    )
    SELECT user_id, event_id, es,
           CAST(n_window AS BIGINT) AS purchases_in_window,
           round(value, 4) AS value
    FROM vel WHERE n_window > {VELOCITY_LIMIT}
    """,
    doc=f"Velocity check: purchases whose trailing {VELOCITY_WINDOW_SEC}-"
    f"second window (RANGE frame, self-inclusive) holds more than "
    f"{VELOCITY_LIMIT} purchases by the same user — the first-line "
    "card-testing / bot-buying signal every fraud stack runs before "
    "anything model-based. One user-partitioned RANGE window over the "
    "purchase-filtered stream; flagged rows carry the window count so "
    "the review queue can rank by severity.",
)
def events_fraud_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", F.unix_timestamp("ts").alias("es"), "value")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-VELOCITY_WINDOW_SEC, 0)
    )
    vel = p.withColumn("n_window", F.count("*").over(w))
    return vel.filter(F.col("n_window") > VELOCITY_LIMIT).select(
        "user_id",
        "event_id",
        "es",
        F.col("n_window").cast("bigint").alias("purchases_in_window"),
        r4(F.col("value")).alias("value"),
    )


@register(
    "agg_ltv_curve",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS first_day,
             max(CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS last_day
      FROM events GROUP BY user_id
    ),
    rev AS (
      SELECT e.user_id,
             CAST(floor(epoch(e.ts) / 86400) AS BIGINT) - f.first_day AS age,
             CAST(round(e.value * 10000) AS BIGINT) AS v_i
      FROM events e JOIN firsts f USING (user_id)
      WHERE e.event_type = 'purchase'
    ),
    by_age AS (
      SELECT age, sum(v_i) AS day_rev_i FROM rev GROUP BY age
    ),
    cum AS (
      SELECT age, sum(day_rev_i) OVER (ORDER BY age ROWS UNBOUNDED PRECEDING) AS cum_i
      FROM by_age
    ),
    reach AS (
      SELECT c.age,
             (SELECT count(*) FROM firsts f WHERE f.last_day - f.first_day >= c.age) AS n_reached
      FROM cum c
    )
    SELECT c.age, round(c.cum_i / 10000.0, 4) AS cum_revenue,
           CAST(r.n_reached AS BIGINT) AS users_reached,
           round(c.cum_i / 10000.0 / r.n_reached, 4) AS ltv_per_reached_user
    FROM cum c JOIN reach r USING (age)
    """,
    doc="LTV curve by user age: cumulative purchase revenue at each day "
    "since a user's first event, normalized by how many users survive "
    "to that age — the payback-period curve that prices acquisition "
    "(retention cohorts say WHO returns; this says what returning is "
    "WORTH). Revenue buckets by age in one pass; the running sum walks "
    "the |ages|-row aggregate via _util.global_cumsum (range-partition "
    "on age, parallel per-partition cumulate, broadcast boundary "
    "offsets — the r11 swap off the coalesce(1) single-task sweep) in "
    "SCALED-INTEGER form: revenue is quantized to "
    "round(value*10000) bigints BEFORE any summation on BOTH engines, "
    "so the two-phase prefix sum cumulates only integers — exact and "
    "hash-identical under ANY partition layout, where a double cumsum "
    "would reassociate FP additions and could flip the 4th decimal at "
    "a knife edge. Known tradeoff: this is round-THEN-sum "
    "— each event's value quantizes to 1e-4 before summation, so "
    "cum_revenue can drift up to ~5e-5 per purchase event vs a "
    "sum-then-round metric; both engines quantize identically so the "
    "gate is exact. A 1e6 scale would shrink the bound 100x but eats "
    "bigint headroom: 1e12 events x avg 100.0 value x 1e6 ~ 1e20 > "
    "int64 max, while 1e4 keeps two orders of safety at 100 TB. "
    "The single float op is one divide per output row. "
    "Survivor counts come from the tenure HISTOGRAM (|distinct "
    "tenures| <= observation days — result-sized), never an ages x "
    "users cross join (r9 inverse-class audit).",
    eager=True,  # construction runs the range-partition exchange
)
def agg_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("bigint")
    ev = t(spark, sf_dir, "events").select(
        "user_id", day.alias("day"), "event_type", "value"
    )
    firsts = ev.groupBy("user_id").agg(
        F.min("day").alias("first_day"), F.max("day").alias("last_day")
    )
    # no broadcast hint on the |users|-sized firsts (see
    # agg_new_vs_returning — the r9 inverse-class audit)
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            (F.col("day") - F.col("first_day")).alias("age"),
            F.round(F.col("value") * 10000).cast("bigint").alias("v_i"),
        )
    )
    from ._util import global_cumsum

    by_age = rev.groupBy("age").agg(F.sum("v_i").alias("day_rev_i"))
    cum_df = global_cumsum(by_age, ["age"], ["day_rev_i"])
    cum = cum_df.select(
        "age", (F.col("cum_day_rev_i") / F.lit(10000.0)).alias("cum_rev")
    )
    # survivor counts come from the TENURE HISTOGRAM (one row per
    # distinct tenure, bounded by the observation window in DAYS — a
    # few thousand at any corpus size), never a per-user cross join:
    # |ages| x |users| is ~1e12 intermediate rows at 1e9 users (the r9
    # inverse-class audit). users_reached(age) = sum of histogram
    # counts with tenure >= age — identical value, result-sized join.
    tenure_hist = (
        firsts.select((F.col("last_day") - F.col("first_day")).alias("tenure"))
        .groupBy("tenure")
        .agg(F.count("*").alias("n_t"))
    )
    reach = (
        cum.crossJoin(F.broadcast(tenure_hist))
        .groupBy("age", "cum_rev")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("tenure") >= F.col("age"), F.col("n_t"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("users_reached")
        )
    )
    return reach.select(
        "age",
        r4(F.col("cum_rev")).alias("cum_revenue"),
        "users_reached",
        r4(F.col("cum_rev") / F.col("users_reached")).alias("ltv_per_reached_user"),
    )


@register(
    "eval_ab_power_mde",
    oracle="""
    WITH assigned AS (
      SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
                  THEN 'A' ELSE 'B' END AS arm,
             max(CASE WHEN event_type = 'purchase' AND value > 200 THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT count(*)::DOUBLE AS n_total,
             least(count(CASE WHEN arm = 'A' THEN 1 END),
                   count(CASE WHEN arm = 'B' THEN 1 END))::DOUBLE AS n_min_arm,
             sum(converted)::DOUBLE / count(*) AS p
      FROM assigned
    )
    SELECT CAST(n_total AS BIGINT) AS n_users,
           CAST(n_min_arm AS BIGINT) AS n_min_arm,
           round(p, 4) AS base_rate,
           round((1.95996 + 0.84162) * sqrt(2 * p * (1 - p) / n_min_arm), 4) AS mde_abs,
           round((1.95996 + 0.84162) * sqrt(2 * p * (1 - p) / n_min_arm) / p, 4) AS mde_rel
    FROM stats
    """,
    doc="A/B power analysis: the minimum detectable effect at alpha=0.05 "
    "(two-sided) and 80% power for the experiment agg_ab_test_stats "
    "reads out — MDE = (z_{{0.975}}+z_{{0.8}})·sqrt(2p(1−p)/n) on the "
    "smaller arm, absolute and relative to the base rate. The "
    "don't-ship-an-underpowered-test guardrail: if the effect you hope "
    "for is below mde_rel, the readout's z-score is noise regardless "
    "of its value. One user-level aggregate; z constants are literals "
    "in both engines.",
)
def eval_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    arm = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) <= "7", "A"
    ).otherwise("B")
    assigned = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") > 200), 1
                ).otherwise(0)
            ).alias("converted")
        )
        .select(arm.alias("arm"), "converted")
    )
    stats = assigned.agg(
        F.count("*").cast("double").alias("n_total"),
        F.least(
            F.count(F.when(F.col("arm") == "A", 1)),
            F.count(F.when(F.col("arm") == "B", 1)),
        )
        .cast("double")
        .alias("n_min_arm"),
        (F.sum("converted").cast("double") / F.count("*")).alias("p"),
    )
    z = 1.95996 + 0.84162
    mde = z * F.sqrt(2 * F.col("p") * (1 - F.col("p")) / F.col("n_min_arm"))
    return stats.select(
        F.col("n_total").cast("bigint").alias("n_users"),
        F.col("n_min_arm").cast("bigint").alias("n_min_arm"),
        r4(F.col("p")).alias("base_rate"),
        r4(mde).alias("mde_abs"),
        r4(mde / F.col("p")).alias("mde_rel"),
    )


@register(
    "agg_user_growth_curve",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS first_day
      FROM events GROUP BY user_id
    ),
    per_day AS (
      SELECT first_day AS day, count(*) AS new_users FROM firsts GROUP BY first_day
    )
    SELECT day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS total_users
    FROM per_day
    """,
    doc="Cumulative user growth: first-appearance counts per day with the "
    "running total — the registered-users curve every growth chart "
    "leads with, and the denominator DAU/MAU ratios divide by. "
    "Cumulative DISTINCT reduced to a running SUM of first appearances "
    "(the standard rewrite — distinct-over-window is not directly "
    "computable); the running sum walks the |days|-row aggregate via "
    "_util.global_cumsum (the r11 swap off the coalesce(1) single-task "
    "sweep — integer counts, so the two-phase sum is hash-exact).",
    eager=True,  # construction runs the range-partition exchange
)
def agg_user_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import global_cumsum

    day = F.floor(F.unix_timestamp("ts") / 86400).cast("bigint")
    firsts = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min(day).alias("first_day"))
    )
    per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    cum = global_cumsum(per_day, ["day"], ["new_users"])
    return cum.select(
        "day",
        F.col("new_users").cast("bigint").alias("new_users"),
        F.col("cum_new_users").cast("bigint").alias("total_users"),
    )


@register(
    "agg_dau_mau_stickiness",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) // 30 AS period,
             user_id
      FROM events
    ),
    dau AS (SELECT period, day, count(*) AS dau FROM du GROUP BY period, day),
    mau AS (SELECT period, count(DISTINCT user_id) AS mau FROM du GROUP BY period)
    SELECT d.period,
           CAST(count(*) AS BIGINT) AS n_days,
           round(avg(d.dau), 4) AS avg_dau,
           CAST(m.mau AS BIGINT) AS mau,
           round(avg(d.dau) / m.mau, 4) AS stickiness
    FROM dau d JOIN mau m USING (period)
    GROUP BY d.period, m.mau
    """,
    doc="DAU/MAU stickiness per 30-day period: average daily actives over "
    "the period's distinct actives — the how-often-do-users-come-back "
    "ratio (1.0 = daily habit, ~0.03 = monthly) that pairs with the "
    "growth curve and retention triangle. Periods are fixed epoch-day "
    "buckets so no calendar arithmetic enters the comparison; two "
    "distinct aggregates over (period, day, user) — at 100 TB the "
    "distincts swap for the HLL sketches agg_hll_daily_union already "
    "persists.",
)
def agg_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("bigint")
    du = (
        t(spark, sf_dir, "events")
        .select(day.alias("day"), (day / 30).cast("bigint").alias("period"), "user_id")
        .distinct()
    )
    dau = du.groupBy("period", "day").agg(F.count("*").alias("dau"))
    mau = du.groupBy("period").agg(F.countDistinct("user_id").alias("mau"))
    return (
        dau.join(mau, "period")
        .groupBy("period", "mau")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            r4(F.avg("dau")).alias("avg_dau"),
        )
        .select(
            "period",
            "n_days",
            "avg_dau",
            F.col("mau").cast("bigint").alias("mau"),
            r4(F.col("avg_dau") / F.col("mau")).alias("stickiness"),
        )
    )


TOP_PATHS_K = 20


@register(
    "events_top_paths",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n_paths DESC, e1, e2, e3
    LIMIT {TOP_PATHS_K}
    """,
    doc=f"Top-{TOP_PATHS_K} 3-step user journeys: consecutive event-type "
    "triples per user (lead windows over the per-user timeline, "
    "event_id tiebreak for cross-engine determinism) counted corpus-"
    "wide. The sequence-mining primitive behind funnel discovery and "
    "next-action suggestions. One user_id-partitioned window shuffle "
    "carrying (user_id, ts, event_id, type); the triple count is a "
    "partial-aggregated groupBy on |types|³-bounded keys; the top-k is "
    "a TakeOrderedAndProject heap, never a global sort.",
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("e1"),
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter(F.col("e3").isNotNull())
    )
    counts = seq.groupBy("e1", "e2", "e3").agg(
        F.count("*").cast("bigint").alias("n_paths")
    )
    return counts.orderBy(
        F.desc("n_paths"), F.asc("e1"), F.asc("e2"), F.asc("e3")
    ).limit(TOP_PATHS_K)


# ---------------------------------------------------------------------------
# SURVEY §2.11 streaming contract keys (VERDICT r7 item 4): the two
# Structured Streaming jobs the COVERAGE table promises as keys.  Both
# are side-effecting micro-batch runs (a started StreamingQuery is the
# work), so they register rows-only and eager; value-level equivalence
# against their batch twins is pinned in tests/test_streaming.py and
# tests/test_stateful_streaming.py.

import itertools as _it

_STREAM_RUN_SEQ = _it.count()


@register(
    "stream_dedup_first_seen",
    # r10 graduation (VERDICT r9 item 3): the availableNow-drained output
    # is a plain table DuckDB can recompute independently — the first-seen
    # set over ANY arrival order equals the batch distinct — so this
    # stateful run gets a value-level hash row, proving the
    # exactly-once-per-key emission across micro-batch boundaries, not
    # just the row count.
    oracle="SELECT DISTINCT user_id, event_id FROM events",
    doc="Custom stateful streaming operator: per-user first-seen dedup "
    "via applyInPandasWithState (streaming/stateful.py:32-56) — each "
    "(user_id, event_id) is emitted exactly once across micro-batches "
    "with the seen-set in keyed state. Driven here deterministically: "
    "the events fixture is read as a stream, self-unioned so every pair "
    "arrives at least twice, and drained with an availableNow trigger "
    "into a memory sink; the emitted set equals the batch "
    "distinct(user_id, event_id) (pytest-asserted, including across "
    "micro-batch boundaries). State is bounded per key; production runs "
    "add a timeout. This is the plumbing pattern for any custom "
    "stateful operator (running aggregates, CDC upserts).",
    eager=True,  # construction starts and drains a streaming query
)
def stream_dedup_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import read_events_stream
    from ..streaming.stateful import stateful_dedup

    events = read_events_stream(spark, sf_dir).select("user_id", "event_id")
    # self-union: the first-seen state must collapse the duplicate copies
    deduped = stateful_dedup(events.union(events))
    name = f"mx_stream_dedup_{next(_STREAM_RUN_SEQ)}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT user_id, event_id FROM {name}")


@register(
    "stream_upsert_to_kv",
    # r10 graduation (VERDICT r9 item 3): the committed store is
    # last-writer-wins MERGE state keyed by event_id; event_id is unique
    # in the events fixture, so DuckDB recomputes the expected store —
    # every event present exactly once, bucketed by the reference's
    # main_index // 100 sharding rule (sinks.py BUCKET_SIZE) — and the
    # hash row proves the MERGE semantics, not just the row count.
    oracle="""
    SELECT event_id AS main_index, event_type,
           CAST(floor(event_id / 100) AS INTEGER) AS bucket
    FROM events
    """,
    doc="Streaming upsert sink: every micro-batch MERGEs into the "
    "bucketed parquet KV store via foreachBatch + merge_kv_store "
    "(streaming/events.py:127-148) — the production pattern for "
    "maintaining current state from a change stream without a "
    "lakehouse format. The events fixture streams in with availableNow, "
    "each event upserts by event_id, and the committed store is read "
    "back (partition-pruned merge per micro-batch; idempotence across "
    "re-runs pytest-asserted in tests/test_streaming.py).",
    eager=True,  # construction starts and drains a streaming query
)
def stream_upsert_to_kv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..streaming.events import read_events_stream, stream_upsert_to_kv
    from ._util import scratch_dir

    events = read_events_stream(spark, sf_dir).select(
        F.col("event_id").alias("main_index"), "event_type", "value"
    )
    base = scratch_dir("kvstream_")
    q = stream_upsert_to_kv(
        events,
        os.path.join(base, "store"),
        key="main_index",
        checkpoint=os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    store = os.path.join(base, "store")
    if not os.path.exists(store):
        # empty input stream → merge_kv_store never created the store
        # (quiet-day incremental run); degrade to zero rows, same schema
        return spark.createDataFrame(
            [], "main_index bigint, event_type string, bucket int"
        )
    back = spark.read.parquet(store)
    # partition-column inference yields int here, but pin it: the oracle
    # casts to INTEGER and the hash gate compares schemas
    return back.select(
        "main_index", "event_type", F.col("bucket").cast("int").alias("bucket")
    )
