"""Event-stream analytics over the driver's ``events`` table — the batch
faces of the Structured Streaming surface (``streaming/``): tumbling
windows, sessionization, semi-structured props.

Each query is the exact batch equivalent of a streaming aggregation
(same window/gap semantics); ``streaming.ingest`` runs the same logic
via ``readStream`` + watermark and the tests assert batch ≡ streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from merkonvectordb_spark.registry import register
from merkonvectordb_spark.schema import load_table

SESSION_GAP_SEC = 1800  # 30 min


@register(
    "events_window_agg",
    """
SELECT epoch_us(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))) AS window_start_us,
       event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY 1, 2
""".strip(),
)
def q_events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type: the canonical streaming
    aggregation run as a batch plan (partial agg → shuffle on
    (window, type)).  ``streaming.ingest.windowed_counts`` is the
    readStream twin with a watermark.  Value sums are integer-scaled
    cents (associative, order-free) so partial-agg order can never flip
    a 2dp rounding boundary between engines.  The window start ships as
    ``unix_micros`` BIGINT — registry invariant: no raw TIMESTAMP/DATE
    output columns, ever (a raw timestamp's rendering depends on the
    COLLECTING process's zone, which no session conf pins)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_micros(
                F.window("ts", "1 hour").getField("start")
            ).alias("window_start_us"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
                "sum_cents"
            ),
        )
    )


# Shared sessionize oracle scaffold.  ``CAST(ts AS TIMESTAMP)`` pins
# microsecond precision regardless of how the harness's DuckDB build
# surfaces the parquet column (a TIMESTAMP_NS-native reader would
# otherwise order and diff at nanosecond precision while Spark's scan
# is µs) — one of the candidate causes of the r2-r4 driver-only
# hash failures this family shows.
_SESSIONIZE_ORACLE_BODY = f"""
WITH ev AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
),
flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_SEC} * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  -- CAST ... AS BIGINT on every integer sum (incl. this windowed one):
  -- DuckDB widens integer sum() to HUGEINT (int128), which the external
  -- gate fetches via pandas/arrow where it lands as float64/decimal128
  -- and hash-mismatches Spark's plain BIGINT even though the values are
  -- numerically identical (root cause of the r4/r5 driver-red family)
  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_seq
  FROM flagged
),
rolled AS (
  SELECT user_id, session_seq,
         count(*) AS n_events,
         epoch_us(min(ts)) AS start_us,
         epoch_us(max(ts)) AS end_us,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
  FROM sessions GROUP BY user_id, session_seq
)
"""


def _sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag → gap flag → running sum (session id) → per-session rollup.
    One shuffle on user_id serves both windows AND the final groupBy."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_sess",
        F.when(gap_us > SESSION_GAP_SEC * 1_000_000, 1).otherwise(0),
    )
    sessions = flagged.withColumn("session_seq", F.sum("new_sess").over(w))
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_micros(F.min("ts")).alias("start_us"),
        F.unix_micros(F.max("ts")).alias("end_us"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
            "sum_cents"
        ),
    )


@register(
    "events_sessionize",
    _SESSIONIZE_ORACLE_BODY
    + "SELECT user_id, session_seq, n_events, start_us, end_us, sum_cents FROM rolled",
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-min inactivity gap: lag → gap flag →
    running sum (session id) → per-session rollup.  One shuffle on
    user_id serves both windows AND the final groupBy (hash-partitioned
    on a prefix of the window key) — the streaming twin is a
    session_window/applyInPandasWithState plan.

    The per-session value sum is integer-scaled cents (BIGINT): the old
    ``round(sum(value), 2)`` hash-failed in harness runs r2/r3 whenever
    a DOUBLE session sum landed on a .xx5 tick and the engines' fold
    orders split it — integer sums are associative, so the flake class
    is gone by construction (same fix as ``events_incremental_agg``)."""
    return _sessionized(spark, sf_dir)


# --- driver-side bisect variants (VERDICT r4 next-round #3) -----------------
# ``events_sessionize`` has hash-failed at the external gate three rounds
# running while matching locally under every constructible session.  Each
# variant returns ONE column family with a mirrored oracle, so the r5
# CORRECTNESS rows localize which value class diverges in the harness
# environment.


@register(
    "events_sessionize_v_nevents",
    _SESSIONIZE_ORACLE_BODY
    + "SELECT user_id, session_seq, n_events FROM rolled",
)
def q_events_sessionize_v_nevents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bisect variant: session identity + row counts only (no epochs, no
    value sums).  Red here ⇒ the session BOUNDARIES themselves diverge."""
    return _sessionized(spark, sf_dir).select(
        "user_id", "session_seq", "n_events"
    )


@register(
    "events_sessionize_v_cents",
    _SESSIONIZE_ORACLE_BODY
    + "SELECT user_id, session_seq, sum_cents FROM rolled",
)
def q_events_sessionize_v_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bisect variant: per-session integer-cent sums only.  Red here with
    v_nevents green ⇒ the DOUBLE→cents scaling diverges, not the
    sessionization."""
    return _sessionized(spark, sf_dir).select(
        "user_id", "session_seq", "sum_cents"
    )


@register(
    "events_sessionize_v_bounds",
    _SESSIONIZE_ORACLE_BODY
    + "SELECT user_id, session_seq, start_us, end_us FROM rolled",
)
def q_events_sessionize_v_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bisect variant: session epoch bounds only.  Red here with the other
    variants green ⇒ the engines read different microsecond values for
    the same rows (timestamp precision/zone divergence at scan)."""
    return _sessionized(spark, sf_dir).select(
        "user_id", "session_seq", "start_us", "end_us"
    )


@register(
    "cdc_apply_changes",
    """
WITH log AS (
  SELECT user_id, event_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_type,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM log
)
SELECT user_id, event_id AS last_seq, event_type AS last_type,
       cents AS last_cents
FROM latest WHERE rn = 1 AND op <> 'D'
""".strip(),
)
def q_cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC application (operators.cdc.apply_changes): the events table
    read as a keyed change log — error events are deletions, everything
    else upserts, event_id is the log sequence — folded to the current
    snapshot.  Latest-wins is ``max_by`` (partial-aggregable argmax:
    map-side combine, ONE shuffle of combined rows), not the oracle's
    row_number window — same result, scale-right plan.  A user whose
    last event is an error is absent: log-replay delete semantics."""
    from merkonvectordb_spark.operators.cdc import apply_changes

    ev = load_table(spark, sf_dir, "events")
    log = ev.select(
        "user_id",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    snap = apply_changes(log, ["user_id"], "event_id")
    return snap.select(
        "user_id",
        F.col("event_id").alias("last_seq"),
        F.col("event_type").alias("last_type"),
        F.col("cents").alias("last_cents"),
    )


@register(
    "events_props_stats",
    """
SELECT event_type,
       count(*) AS n_events,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
""".strip(),
)
def q_events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props: JSON field extraction as a scan-local
    expression feeding a tiny groupBy (F3's get_json_object path on the
    events stream)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg(k), 6).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "events_funnel",
    """
WITH agg AS (
  SELECT user_id,
         min(ts) FILTER (WHERE event_type = 'view') AS t1,
         list_sort(list(ts) FILTER (WHERE event_type = 'click')) AS clicks,
         list_sort(list(ts) FILTER (WHERE event_type = 'purchase')) AS buys
  FROM events GROUP BY 1
),
s2 AS (SELECT user_id, t1, list_filter(clicks, x -> x > t1)[1] AS t2, buys
       FROM agg),
s3 AS (SELECT user_id, t1, t2, list_filter(buys, x -> x > t2)[1] AS t3
       FROM s2)
SELECT 'view' AS step, count(t1) AS n_users FROM s3
UNION ALL SELECT 'click', count(t2) FROM s3
UNION ALL SELECT 'purchase', count(t3) FROM s3
""".strip(),
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): first view, first click
    strictly after it, first purchase strictly after that.  ONE shuffle:
    a single per-user conditional aggregation collects each step's
    (bounded, per-user) timestamp list; the strictly-after walk is array
    arithmetic on the agg row — no cascading per-step joins, which is
    what the textbook SQL formulation costs.  The HOF lambdas reference
    only plain attributes of the aggregated row (t1/t2), not expression
    subtrees, so nothing re-evaluates per element."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1"),
        F.sort_array(
            F.collect_list(
                F.when(F.col("event_type") == "click", F.col("ts"))
            )
        ).alias("clicks"),
        F.sort_array(
            F.collect_list(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            )
        ).alias("buys"),
    )
    s2 = agg.withColumn(
        "t2", F.get(F.filter("clicks", lambda x: x > F.col("t1")), 0)
    )
    s3 = s2.withColumn(
        "t3", F.get(F.filter("buys", lambda x: x > F.col("t2")), 0)
    )
    counts = s3.agg(
        F.count("t1").alias("c1"),
        F.count("t2").alias("c2"),
        F.count("t3").alias("c3"),
    )
    return counts.select(
        F.expr(
            "stack(3, 'view', c1, 'click', c2, 'purchase', c3)"
        ).alias("step", "n_users")
    )


@register(
    "events_retention_cohorts",
    """
WITH cohorts AS (
  SELECT user_id,
         CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY 1
),
activity AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', ts) AS DATE) AS active_week
  FROM events
)
SELECT CAST(c.cohort_week AS VARCHAR) AS cohort_week,
       CAST(date_diff('day', c.cohort_week, a.active_week) // 7 AS BIGINT)
         AS week_offset,
       count(*) AS n_users
FROM activity a JOIN cohorts c USING (user_id)
GROUP BY 1, 2
""".strip(),
)
def q_events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort triangle: users grouped by first-active week,
    counted in each later week they return.  Two aggregations (cohort
    min, distinct activity) + one user-key join — every stage shrinks
    the stream before the next, and the output is cohort-weeks ×
    offsets, never user-scale.  (activity is already distinct per
    (user, week), so count(*) IS the distinct-user count — no second
    distinct aggregation.)"""
    ev = load_table(spark, sf_dir, "events")
    cohorts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    return (
        activity.join(cohorts, "user_id")
        .groupBy(
            # registry invariant: no raw TIMESTAMP/DATE output columns —
            # ship the week as its ISO string (zone-free once the value
            # is a DATE; cast-to-string is engine-stable 'yyyy-MM-dd')
            F.col("cohort_week").cast("string").alias("cohort_week"),
            F.floor(
                F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
            ).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "events_incremental_agg",
    """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(min(user_id) AS BIGINT) AS min_user,
       CAST(max(user_id) AS BIGINT) AS max_user
FROM events
""".strip()
    + "\nGROUP BY 1",
)
def q_events_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: history and a late-arriving delta
    are aggregated SEPARATELY, then merged (operators.incremental) —
    the oracle is the full recompute over everything, so the hash match
    proves maintain(state, delta) ≡ recompute.  Sums are integer-scaled
    (floor(value·100)): associative, so the two-step fold is bit-equal
    to the one-shot sum — the double-sum ulp trap cannot appear."""
    from merkonvectordb_spark.operators.incremental import (
        aggregate_state,
        merge_states,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "cents", F.floor(F.col("value") * 100).cast("bigint")
    )
    cut = F.col("event_id") % 10 < 7  # "history" vs "delta" split
    aggs = {
        "n_events": ("count", "event_id"),
        "sum_cents": ("sum", "cents"),
        "min_user": ("min", "user_id"),
        "max_user": ("max", "user_id"),
    }
    state = aggregate_state(ev.where(cut), ["event_type"], aggs)
    delta = aggregate_state(ev.where(~cut), ["event_type"], aggs)
    merged = merge_states(state, delta, ["event_type"], aggs)
    return merged.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
        F.col("min_user").cast("bigint").alias("min_user"),
        F.col("max_user").cast("bigint").alias("max_user"),
    )


@register(
    "events_transition_matrix",
    """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
pairs AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
totals AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM pairs
  GROUP BY from_type
)
SELECT p.from_type, p.to_type, p.n,
       round(CAST(p.n AS DOUBLE) / t.n_from, 6) AS prob
FROM pairs p JOIN totals t USING (from_type)
""".strip(),
)
def q_events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the first-order Markov transition matrix over each
    user's time-ordered event sequence (lead window keyed by user —
    per-user partitions, corpus-linear; (event_id) breaks timestamp
    ties deterministically).  Counts are integers; the probability is
    one scan-local divide of two integers — order-free.  At 100 TB the
    matrix is |event_type|² rows — output stays dimension-sized."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    pairs = (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("n_from")
    )
    return pairs.join(totals, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("n_from"), 6).alias(
            "prob"
        ),
    )


@register(
    "matview_incremental_refresh",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mx_cents
FROM events GROUP BY event_type
""".strip(),
)
def q_matview_incremental_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Materialized-view maintenance end-to-end: full refresh on half
    the events (even event_ids), then an INCREMENTAL refresh folding
    the odd half into the persisted state — the oracle is the one-shot
    aggregate over everything, so the hash proves chain ≡ one-shot
    through a real versioned-store round-trip.  Sums are integer cents
    (associative — the merged state is bit-equal under any split)."""
    import shutil
    import tempfile

    from merkonvectordb_spark.operators.matview import MaterializedView

    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    aggs = {
        "n": ("count", "cents"),
        "sum_cents": ("sum", "cents"),
        "mx_cents": ("max", "cents"),
    }
    root = tempfile.mkdtemp(prefix="mv_events_")
    try:
        mv = MaterializedView(
            spark,
            root,
            "event_type STRING, n LONG, sum_cents LONG, mx_cents LONG",
            ["event_type"],
            aggs,
        )
        mv.refresh_full(events.where(F.col("event_id") % 2 == 0))
        mv.refresh_incremental(events.where(F.col("event_id") % 2 == 1))
        out = mv.read().select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("sum_cents").cast("bigint").alias("sum_cents"),
            F.col("mx_cents").cast("bigint").alias("mx_cents"),
        )
        return spark.createDataFrame(
            out.collect(),
            "event_type STRING, n LONG, sum_cents LONG, mx_cents LONG",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "versioned_table_diff",
    """
WITH a AS (
  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_id % 5 <> 0
),
b AS (
  SELECT event_id,
         CAST(round(value * 100) AS BIGINT)
           + CASE WHEN event_id % 7 = 0 THEN 100 ELSE 0 END AS cents
  FROM events WHERE event_id % 3 <> 0
)
SELECT COALESCE(a.event_id, b.event_id) AS event_id,
       CASE WHEN a.event_id IS NULL THEN 'insert'
            WHEN b.event_id IS NULL THEN 'delete'
            ELSE 'update' END AS _change_type,
       a.cents AS old_cents, b.cents AS new_cents
FROM a FULL OUTER JOIN b ON a.event_id = b.event_id
WHERE a.event_id IS NULL OR b.event_id IS NULL
   OR a.cents IS DISTINCT FROM b.cents
""".strip(),
)
def q_versioned_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two REAL committed snapshots: commit
    snapshot A, commit snapshot B (deletes via the %3 filter, inserts
    via the %5 complement, updates via a +100-cent bump on %7), then
    ``table_diff`` the two versions.  The oracle computes the expected
    change set directly from the source, so the hash proves the
    manifest-snapshot join classifies every key correctly."""
    import shutil
    import tempfile

    from merkonvectordb_spark.sources.versioned import (
        VersionedTable,
        table_diff,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    a = ev.where(F.col("event_id") % 5 != 0)
    b = ev.where(F.col("event_id") % 3 != 0).select(
        "event_id",
        (
            F.col("cents")
            + F.when(F.col("event_id") % 7 == 0, 100).otherwise(0)
        ).alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="vt_cdf_")
    try:
        t = VersionedTable(spark, root, "event_id LONG, cents LONG")
        v1 = t.replace(a)
        v2 = t.replace(b)
        d = table_diff(t, ["event_id"], v1, v2).select(
            "event_id",
            "_change_type",
            F.col("old.cents").alias("old_cents"),
            F.col("new.cents").alias("new_cents"),
        )
        return spark.createDataFrame(
            d.collect(),
            "event_id LONG, _change_type STRING,"
            " old_cents LONG, new_cents LONG",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Population-stability-index drift monitor: value distribution of the
# second half of the month vs the first, per event type, over the
# reference half's own deciles.  The "did this feature shift under me"
# check every production scoring pipeline runs; PSI > 0.2 is the
# conventional repartition-or-retrain alarm.
# ---------------------------------------------------------------------------

_PSI_SPLIT_US = 1_705_363_200_000_000  # 2024-01-16 00:00:00 UTC

_PSI_EDGE_SQL = ", ".join(
    f"max(CASE WHEN rn <= ({j} * n + 9) // 10 THEN value END) AS t{j}"
    for j in range(1, 10)
)

_PSI_ORACLE = f"""
WITH ev AS (
  SELECT event_type, value,
         epoch_us(CAST(ts AS TIMESTAMP)) < {_PSI_SPLIT_US} AS is_ref
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ev WHERE is_ref
),
ed AS (
  SELECT event_type, {_PSI_EDGE_SQL}
  FROM r GROUP BY event_type
),
edges AS (
  SELECT event_type, [t1, t2, t3, t4, t5, t6, t7, t8, t9] AS e
  FROM ed
),
types AS (SELECT DISTINCT event_type FROM ev),
assigned AS (
  -- LEFT join + bin-1 fallback: a type with NO reference rows (a
  -- brand-new event type — maximal drift) has no edges; an inner join
  -- would silently drop it from the report
  SELECT ev.event_type, is_ref,
         CASE WHEN e IS NULL THEN 1
              ELSE 1 + len(list_filter(e, x -> ev.value > x)) END AS bin
  FROM ev LEFT JOIN edges ON ev.event_type = edges.event_type
),
counts AS (
  SELECT event_type, bin,
         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cr,
         CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS cc
  FROM assigned GROUP BY 1, 2
),
skel AS (
  SELECT event_type, unnest(range(1, 11)) AS bin FROM types
),
filled AS (
  SELECT skel.event_type, skel.bin,
         coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
  FROM skel LEFT JOIN counts
    ON skel.event_type = counts.event_type AND skel.bin = counts.bin
),
tot AS (
  SELECT event_type, CAST(sum(cr) AS BIGINT) AS nr,
         CAST(sum(cc) AS BIGINT) AS nc
  FROM filled GROUP BY 1
),
terms AS (
  SELECT f.event_type, nr, nc,
         CAST(floor((
             (CAST(cr + 1 AS DOUBLE) / CAST(nr + 10 AS DOUBLE)
              - CAST(cc + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE))
             * (CAST(floor(ln((CAST(cr + 1 AS DOUBLE) / CAST(nr + 10 AS DOUBLE))
                             / (CAST(cc + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE)))
                          * 1000000000.0 + 0.5) AS BIGINT)
                / 1000000000.0)
           ) * 1000000000.0 + 0.5) AS BIGINT) AS term_nano
  FROM filled f JOIN tot ON f.event_type = tot.event_type
)
SELECT event_type, max(nr) AS n_ref, max(nc) AS n_cur,
       round(CAST(sum(term_nano) AS DOUBLE) / 1000000000.0, 6) AS psi,
       sum(term_nano) > 200000000 AS drift
FROM terms GROUP BY event_type
""".strip()




def _psi_report(counts: DataFrame, types: DataFrame) -> DataFrame:
    """PSI tail shared by the batch and streaming monitors: per-(type,
    bin) (cr, cc) counts + the type universe → the drift report.  One
    definition so the streaming fold's verdict arithmetic can never
    drift from the batch monitor the oracle verifies."""
    skel = types.select(
        "event_type", F.explode(F.sequence(F.lit(1), F.lit(10))).alias("bin")
    )
    filled = (
        skel.join(counts, ["event_type", "bin"], "left")
        .select(
            "event_type",
            "bin",
            F.coalesce("cr", F.lit(0)).alias("cr"),
            F.coalesce("cc", F.lit(0)).alias("cc"),
        )
    )
    tot = filled.groupBy("event_type").agg(
        F.sum("cr").cast("bigint").alias("nr"),
        F.sum("cc").cast("bigint").alias("nc"),
    )
    p = (F.col("cr") + 1).cast("double") / (F.col("nr") + 10).cast("double")
    q = (F.col("cc") + 1).cast("double") / (F.col("nc") + 10).cast("double")
    ln_nano = F.floor(F.log(p / q) * F.lit(1000000000.0) + F.lit(0.5)).cast(
        "long"
    )
    term_nano = F.floor(
        ((p - q) * (ln_nano.cast("double") / F.lit(1000000000.0)))
        * F.lit(1000000000.0)
        + F.lit(0.5)
    ).cast("long")
    terms = filled.join(F.broadcast(tot), "event_type").select(
        "event_type", "nr", "nc", term_nano.alias("term_nano")
    )
    return terms.groupBy("event_type").agg(
        F.max("nr").alias("n_ref"),
        F.max("nc").alias("n_cur"),
        F.round(
            F.sum("term_nano").cast("double") / F.lit(1000000000.0), 6
        ).alias("psi"),
        (F.sum("term_nano") > F.lit(200000000)).alias("drift"),
    )


def _psi_edges(ev: DataFrame) -> DataFrame:
    """Reference-half decile edges per type (rank-based order
    statistics) — the 'trained offline' artifact the streaming monitor
    broadcasts; shared with the batch monitor."""
    wr = Window.partitionBy("event_type").orderBy("value")
    wc = Window.partitionBy("event_type")
    r = ev.where("is_ref").select(
        "event_type",
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    edge_aggs = [
        F.max(
            F.when(
                F.col("rn") <= F.expr(f"({j} * n + 9) div 10"), F.col("value")
            )
        ).alias(f"t{j}")
        for j in range(1, 10)
    ]
    return r.groupBy("event_type").agg(*edge_aggs).select(
        "event_type",
        F.array(*[F.col(f"t{j}") for j in range(1, 10)]).alias("e"),
    )


def psi_assign_bins(ev: DataFrame, edges: DataFrame) -> DataFrame:
    """(event_type, is_ref, bin) per row — LEFT join + bin-1 fallback
    so a type with no reference rows (maximal drift) still reports."""
    return ev.join(F.broadcast(edges), "event_type", "left").select(
        "event_type",
        "is_ref",
        F.when(F.col("e").isNull(), F.lit(1))
        .otherwise(
            F.lit(1)
            + F.size(F.filter(F.col("e"), lambda x: F.col("value") > x))
        )
        .alias("bin"),
    )


@register("events_psi_drift", _PSI_ORACLE)
def q_events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI = Σ_bins (p−q)·ln(p/q) with p the reference fraction and q
    the current fraction, Laplace-smoothed (+1/+10), over the reference
    half's own per-type deciles.

    Determinism: decile edges are rank-based ORDER STATISTICS (selected
    raw values, no interpolation); bin assignment is a fixed-order
    array-filter count; fractions are exact IEEE divisions of integer
    counts; ln micro-rounds at 1e-9 (the one libm call) and each bin's
    term re-rounds to an exact BIGINT nano-unit, so the 10-term sum is
    associative.  Scale shape: one scan splits ref/cur; the rank
    windows partition by event_type (per-task buffer = one type's ref
    rows; swap in operators.stats.global_ntile for a monster type);
    edges broadcast back; everything after is |types|×10-sized."""
    split = F.unix_micros(F.col("ts")) < F.lit(_PSI_SPLIT_US)
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value", split.alias("is_ref"))
    )
    assigned = psi_assign_bins(ev, _psi_edges(ev))
    counts = assigned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).cast("bigint").alias("cr"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).cast("bigint").alias("cc"),
    )
    types = ev.select("event_type").distinct()
    return _psi_report(counts, types)


# ---------------------------------------------------------------------------
# retrospective CUSUM changepoint detection over daily event volumes
# ---------------------------------------------------------------------------
# The monitoring question PSI can't answer: not "do two halves differ"
# but "WHEN did the level shift".  Page's CUSUM statistic
# S_t = max(0, S_{t-1} + x_t - mu - K) has the closed dataflow form
# S_t = P_t - min(0, min_{j<=t} P_j) with P the prefix sum of deviations
# — two windows over the per-(type, day) frame, no recursion.  All
# arithmetic is BIGINT: deviations are cross-multiplied by the day
# count D so the mean mu = T/D never materializes as a float
# (d_t = D*x_t - T - K*D), and the alarm test is S_t > H*D.

CUSUM_K = 10  # allowance: events/day above the mean before S grows
CUSUM_H = 30  # alarm threshold, in events/day of accumulated excess


_CUSUM_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(day) AS d0, max(day) AS d1,
         CAST(sum(x) AS BIGINT) AS total
  FROM daily GROUP BY 1
),
grid AS (
  SELECT b.event_type, t.day, b.d1 - b.d0 + 1 AS nd, b.total,
         coalesce(d.x, 0) AS x
  FROM bounds b
  CROSS JOIN LATERAL unnest(generate_series(b.d0, b.d1)) AS t(day)
  LEFT JOIN daily d ON d.event_type = b.event_type AND d.day = t.day
),
pre AS (
  SELECT event_type, day, nd, x,
         CAST(sum(nd * x - total - {CUSUM_K} * nd) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS p
  FROM grid
),
cusum AS (
  SELECT event_type, day, nd, x, p,
         p - least(0, min(p) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         )) AS s
  FROM pre
)
SELECT event_type, day, x AS n_events, s AS s_scaled,
       s > {CUSUM_H} * nd AS alarm
FROM cusum
""".strip()


@register("events_cusum_changepoint", _CUSUM_ORACLE)
def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrospective CUSUM level-shift detection on daily event volume,
    per event type — emits the full statistic trajectory (day, count,
    scaled S, alarm flag), so the oracle verifies every step, not just
    the verdict.  Missing days count as zero via a dense per-type day
    grid (a changepoint detector that skips quiet days is blind to
    outages).  Exactness: deviations cross-multiplied by the day count
    (BIGINT d_t = D·x_t − T − K·D), prefix-sum + running-min windows
    over the |types|·|days| frame — dimension-sized at any corpus
    scale; the corpus itself contributes one partial-agg groupBy."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("x")
    )
    return cusum_from_daily(daily)


def cusum_from_daily(daily: DataFrame) -> DataFrame:
    """CUSUM tail over a (event_type, day, x) daily-count frame — shared
    by the batch query and the streaming fold (daily counts are
    distributive monitoring state: per-batch counts merge by addition,
    so fold ≡ one-shot by construction)."""
    bounds = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
        F.sum("x").alias("total"),
    )
    grid = (
        bounds.select(
            "event_type",
            F.explode(F.sequence("d0", "d1")).alias("day"),
            (F.col("d1") - F.col("d0") + 1).alias("nd"),
            "total",
        )
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            "nd",
            "total",
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
        )
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # the max(0, .) recursion solves to S_t = P_t - min(0, min_{j<=t} P_j)
    # — the running min INCLUDES the current row (that's what clamps S
    # at zero when deviations are all negative)
    wm = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = grid.withColumn(
        "p",
        F.sum(
            F.col("nd") * F.col("x")
            - F.col("total")
            - F.lit(CUSUM_K) * F.col("nd")
        ).over(wp),
    )
    cusum = pre.withColumn(
        "s",
        F.col("p") - F.least(F.lit(0), F.min("p").over(wm)),
    )
    return cusum.select(
        "event_type",
        "day",
        F.col("x").alias("n_events"),
        F.col("s").alias("s_scaled"),
        (F.col("s") > F.lit(CUSUM_H) * F.col("nd")).alias("alarm"),
    )


ATTRIB_LOOKBACK_US = 7 * 86400 * 1000000  # 7-day attribution window


@register(
    "events_last_touch_attribution",
    f"""
WITH ev AS (
  SELECT user_id, event_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events WHERE user_id IS NOT NULL
),
touched AS (
  SELECT user_id, event_id, event_type, us,
         last_value(CASE WHEN event_type <> 'purchase'
                         THEN {{'tus': us, 'tty': event_type}} END
                    IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS touch
  FROM ev
),
purchases AS (
  SELECT CASE WHEN touch IS NOT NULL
               AND us - touch.tus <= {ATTRIB_LOOKBACK_US}
              THEN touch.tty ELSE 'direct' END AS touch_type,
         CASE WHEN touch IS NOT NULL
               AND us - touch.tus <= {ATTRIB_LOOKBACK_US}
              THEN us - touch.tus ELSE 0 END AS lag_us
  FROM touched WHERE event_type = 'purchase'
)
SELECT touch_type,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(lag_us) AS BIGINT) AS sum_lag_us,
       round(CAST(sum(lag_us) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS avg_lag_sec
FROM purchases GROUP BY touch_type
""".strip(),
)
def q_events_last_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch conversion attribution: each purchase credits the
    user's most recent PRECEDING non-purchase event within a 7-day
    lookback, else 'direct' — the sessionization-adjacent analytic a
    product pipeline runs daily.  One user-partitioned window (same
    per-user state bound as sessionize) carrying the candidate touch
    as an ignore-nulls last_value of a struct; the attribution test is
    integer epoch arithmetic; the report is |touch types|-sized with
    exact BIGINT lag sums (doubles only in the final rendered mean)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.expr("unix_micros(ts)").alias("us"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = ev.withColumn(
        "touch",
        F.last(
            F.when(
                F.col("event_type") != "purchase",
                F.struct(
                    F.col("us").alias("tus"),
                    F.col("event_type").alias("tty"),
                ),
            ),
            ignorenulls=True,
        ).over(w),
    )
    attributed = F.col("touch").isNotNull() & (
        F.col("us") - F.col("touch.tus") <= ATTRIB_LOOKBACK_US
    )
    purchases = touched.where(F.col("event_type") == "purchase").select(
        F.when(attributed, F.col("touch.tty"))
        .otherwise("direct")
        .alias("touch_type"),
        F.when(attributed, F.col("us") - F.col("touch.tus"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("lag_us"),
    )
    return purchases.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("lag_us").alias("sum_lag_us"),
        F.round(
            F.sum("lag_us").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("avg_lag_sec"),
    )


@register(
    "user_rfm_segments",
    """
WITH pu AS (
  SELECT user_id,
         max(epoch_us(CAST(ts AS TIMESTAMP))) AS r_us,
         CAST(count(*) AS BIGINT) AS f,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS m_cents
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
t AS (
  SELECT user_id, m_cents,
         ntile(3) OVER (ORDER BY r_us DESC, user_id ASC) AS r_tile,
         ntile(3) OVER (ORDER BY f DESC, user_id ASC) AS f_tile,
         ntile(3) OVER (ORDER BY m_cents DESC, user_id ASC) AS m_tile
  FROM pu
)
SELECT r_tile, f_tile, m_tile,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(m_cents) AS BIGINT) AS sum_cents
FROM t GROUP BY 1, 2, 3
""".strip(),
)
def q_user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every user terciled on Recency (last event),
    Frequency (event count), and Monetary (integer-cent value sum) —
    tile 1 is always the BEST tercile — then rolled up to the 27
    segment cells with exact member counts and cent totals.

    Scale shape: the corpus collapses to the per-user frame first (one
    partial-agg groupBy); all three terciles come from ONE
    range-partition ranking pass (`operators.stats.global_ntile_multi`
    — the metrics unpivot into a 3n-row frame, per-metric rank =
    global rank − metric_id·n), NO single-partition NTILE window
    anywhere, exact builtin-NTILE semantics including boundary ties
    (total order via the user_id tie-break).  One range shuffle of the
    3×USER frame, never of the events."""
    from merkonvectordb_spark.operators.stats import global_ntile_multi

    pu = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(F.expr("unix_micros(ts)")).alias("r_us"),
            F.count(F.lit(1)).alias("f"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
                "m_cents"
            ),
        )
    )
    t = global_ntile_multi(
        pu,
        [("r_us", "desc"), ("f", "desc"), ("m_cents", "desc")],
        3,
        tie_col="user_id",
        out_cols=["r_tile", "f_tile", "m_tile"],
    )
    return t.groupBy("r_tile", "f_tile", "m_tile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("m_cents").alias("sum_cents"),
    )


@register(
    "events_ab_test_report",
    """
WITH pu AS (
  SELECT user_id, user_id % 2 AS variant,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
agg AS (
  SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
  FROM pu
),
z AS (
  SELECT n_a, c_a, n_b, c_b,
         CASE WHEN n_a > 0 AND n_b > 0 AND (c_a + c_b) > 0
               AND (c_a + c_b) < (n_a + n_b)
              THEN (CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                    - CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                   / sqrt((CAST(c_a + c_b AS DOUBLE)
                           / CAST(n_a + n_b AS DOUBLE))
                          * (1.0 - CAST(c_a + c_b AS DOUBLE)
                                   / CAST(n_a + n_b AS DOUBLE))
                          * (1.0 / CAST(n_a AS DOUBLE)
                             + 1.0 / CAST(n_b AS DOUBLE)))
         END AS zs
  FROM agg
)
SELECT n_a, c_a, n_b, c_b,
       CASE WHEN n_a > 0
            THEN round(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
       END AS rate_a,
       CASE WHEN n_b > 0
            THEN round(CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
       END AS rate_b,
       round(zs, 6) AS z_score,
       zs * zs > 3.8415 AS significant
FROM z
""".strip(),
)
def q_events_ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B conversion test: users split by a
    deterministic variant key (user_id parity — swap in a salted hash
    bucket for real traffic), converted = any purchase, pooled
    two-proportion z-statistic, significance at alpha=0.05 two-sided
    (z^2 > 1.96^2, compared in the SQUARE so no sign branch).

    Exactness: the four cell counts are exact BIGINTs from one
    per-user fold + one 1-row conditional fold; z is a FIXED double
    expression tree over those integers (mirrored associations, one
    correctly-rounded sqrt) — bit-reproducible cross-engine.  Degenerate
    cells (empty variant, zero or total conversion) yield NULL z rather
    than a division blow-up."""
    pu = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select((F.col("user_id") % 2).alias("variant"), "conv")
    )
    agg = pu.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c_b"),
    )
    n_a = F.col("n_a").cast("double")
    c_a = F.col("c_a").cast("double")
    n_b = F.col("n_b").cast("double")
    c_b = F.col("c_b").cast("double")
    pool = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    zs = F.when(
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (F.col("c_a") + F.col("c_b") > 0)
        & (F.col("c_a") + F.col("c_b") < F.col("n_a") + F.col("n_b")),
        (c_b / n_b - c_a / n_a)
        / F.sqrt(pool * (F.lit(1.0) - pool) * (F.lit(1.0) / n_a + F.lit(1.0) / n_b)),
    )
    return agg.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        # guarded like zs: Spark's x/0.0 is NULL but DuckDB's is inf —
        # an empty variant must yield NULL in BOTH engines
        F.when(F.col("n_a") > 0, F.round(c_a / n_a, 6)).alias("rate_a"),
        F.when(F.col("n_b") > 0, F.round(c_b / n_b, 6)).alias("rate_b"),
        F.round(zs, 6).alias("z_score"),
        (zs * zs > F.lit(3.8415)).alias("significant"),
    )


@register(
    "events_first_touch_attribution",
    f"""
WITH ev AS (
  SELECT user_id, event_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events WHERE user_id IS NOT NULL
),
touched AS (
  SELECT user_id, event_id, event_type, us,
         min(CASE WHEN event_type <> 'purchase'
                  THEN {{'tus': us, 'tid': event_id, 'tty': event_type}} END)
           OVER (
             PARTITION BY user_id ORDER BY us
             RANGE BETWEEN {ATTRIB_LOOKBACK_US} PRECEDING AND 1 PRECEDING
           ) AS touch
  FROM ev
),
purchases AS (
  SELECT CASE WHEN touch IS NOT NULL THEN touch.tty
              ELSE 'direct' END AS touch_type,
         CASE WHEN touch IS NOT NULL THEN us - touch.tus
              ELSE 0 END AS lag_us
  FROM touched WHERE event_type = 'purchase'
)
SELECT touch_type,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(lag_us) AS BIGINT) AS sum_lag_us,
       round(CAST(sum(lag_us) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS avg_lag_sec
FROM purchases GROUP BY touch_type
""".strip(),
)
def q_events_first_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-touch attribution — each purchase credits the EARLIEST
    non-purchase event inside the 7-day lookback (the channel that
    STARTED the journey; `events_last_touch_attribution` credits the
    one that closed it).  Unlike last-touch's ROWS frame, the earliest-
    within-window needs a RANGE frame on the epoch column: the min-of-
    struct over [t−7d, t) both enforces the lookback and picks the
    earliest touch in one window (struct compare: earliest us, then
    event_id — deterministic under timestamp collisions).  Same
    per-user state bound as sessionize; report is |touch types|-sized
    with exact BIGINT lag sums."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.expr("unix_micros(ts)").alias("us"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-ATTRIB_LOOKBACK_US, -1)
    )
    touched = ev.withColumn(
        "touch",
        F.min(
            F.when(
                F.col("event_type") != "purchase",
                F.struct(
                    F.col("us").alias("tus"),
                    F.col("event_id").alias("tid"),
                    F.col("event_type").alias("tty"),
                ),
            )
        ).over(w),
    )
    purchases = touched.where(F.col("event_type") == "purchase").select(
        F.when(F.col("touch").isNotNull(), F.col("touch.tty"))
        .otherwise("direct")
        .alias("touch_type"),
        F.when(
            F.col("touch").isNotNull(), F.col("us") - F.col("touch.tus")
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("lag_us"),
    )
    return purchases.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("lag_us").alias("sum_lag_us"),
        F.round(
            F.sum("lag_us").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("avg_lag_sec"),
    )


# ---------------------------------------------------------------------------
# EWMA forecast-residual anomaly detection on daily event volumes
# ---------------------------------------------------------------------------
# Completes the monitoring trio: PSI watches the DISTRIBUTION, CUSUM the
# LEVEL, this the POINTS — "which single days were abnormal given the
# recent past".  The exponentially-weighted moving average over the
# previous 14 days is a finite FIR filter here, NOT the recursive form:
# the 14 decay weights alpha*(1-alpha)^(k-1) are PYTHON-computed literal
# doubles embedded identically in both engines (the same no-libm trick
# as the nDCG discounts), each tap is one lag() over the per-type day
# order, and the weighted mean renormalizes over the taps that exist so
# the series head isn't biased toward zero.

EWMA_ALPHA = 0.3
EWMA_TAPS = 14
_EWMA_W = [EWMA_ALPHA * (1.0 - EWMA_ALPHA) ** (k - 1) for k in range(1, EWMA_TAPS + 1)]


def _ewma_oracle() -> str:
    terms, norms = [], []
    for k, w in enumerate(_EWMA_W, 1):
        lagk = f"lag(x, {k}) OVER w"
        terms.append(
            f"(CASE WHEN {lagk} IS NOT NULL"
            f" THEN {w!r} * CAST({lagk} AS DOUBLE) ELSE 0.0 END)"
        )
        norms.append(
            f"(CASE WHEN {lagk} IS NOT NULL THEN {w!r} ELSE 0.0 END)"
        )
    num = "\n           + ".join(terms)
    den = "\n           + ".join(norms)
    return f"""
WITH daily AS (
  SELECT event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
),
grid AS (
  SELECT b.event_type, t.day, coalesce(d.x, 0) AS x
  FROM bounds b
  CROSS JOIN LATERAL unnest(generate_series(b.d0, b.d1)) AS t(day)
  LEFT JOIN daily d ON d.event_type = b.event_type AND d.day = t.day
),
fir AS (
  SELECT event_type, day, x,
         {num} AS num,
         {den} AS den
  FROM grid
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, day, x AS n_events,
       CASE WHEN den > 0.0 THEN round(num / den, 6) END AS ewma_pred,
       CASE WHEN den > 0.0
            THEN (CAST(x AS DOUBLE) - num / den)
                 * (CAST(x AS DOUBLE) - num / den)
                 > 9.0 * greatest(num / den, 1.0)
       END AS anomaly
FROM fir
""".strip()


@register("events_ewma_anomalies", _ewma_oracle())
def q_events_ewma_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day anomaly flags on event volume: a 14-tap truncated-EWMA
    forecast from the preceding days (literal decay weights — no libm
    in either engine), flag when the squared residual exceeds a
    3-sigma Poisson band (9·max(pred, 1), compared in the SQUARE — no
    sqrt, no abs).  Missing days count as zero via the dense per-type
    day grid; the series head renormalizes over available taps.  The
    corpus contributes one partial-agg groupBy; everything after runs
    on the |types|·|days| frame."""
    daily = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = (
        bounds.select(
            "event_type", F.explode(F.sequence("d0", "d1")).alias("day")
        )
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type", "day", F.coalesce(F.col("x"), F.lit(0)).alias("x")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k, wk in enumerate(_EWMA_W, 1):
        lagk = F.lag("x", k).over(w)
        num = num + F.when(
            lagk.isNotNull(), F.lit(wk) * lagk.cast("double")
        ).otherwise(F.lit(0.0))
        den = den + F.when(lagk.isNotNull(), F.lit(wk)).otherwise(
            F.lit(0.0)
        )
    fir = grid.select("event_type", "day", "x", num.alias("num"), den.alias("den"))
    pred = F.col("num") / F.col("den")
    resid = F.col("x").cast("double") - pred
    return fir.select(
        "event_type",
        "day",
        F.col("x").alias("n_events"),
        F.when(F.col("den") > 0.0, F.round(pred, 6)).alias("ewma_pred"),
        F.when(
            F.col("den") > 0.0,
            resid * resid > F.lit(9.0) * F.greatest(pred, F.lit(1.0)),
        ).alias("anomaly"),
    )
