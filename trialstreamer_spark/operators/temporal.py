"""Temporal join operators: as-of join and banded range join.

The reference engine's query surface is equi-join-only (cnxapp.py joins on
pmid/doi/cui); these two operators cover the temporal-join shapes a
training-data / event pipeline needs on top of that:

- **as-of join**: "for each left row, the most recent right row at or
  before it" — the classic market-data / attribution join. The naive
  formulation is a per-row correlated subquery (quadratic); the scalable
  Spark formulation used here is union-the-tagged-streams + ONE running
  window per key: sort each user's events once, carry the last-seen right
  timestamp forward. One shuffle on the key, O(n log n) per key, no
  range-join explosion — this is the shape that survives 100 TB.
- **banded range join**: non-equi join of a fact against a tiny interval
  dimension (value bands). Spark picks BroadcastNestedLoopJoin; with a
  broadcast dim of k bands the cost is k comparisons per row — a narrow
  map-side operation, no shuffle of the fact at all (the rollup that
  follows shuffles only (band, partial-agg) rows).

Float determinism: outputs are epoch-microsecond longs and integer-cent
sums — exact across engines (see plans/relational.py docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from trialstreamer_spark.io import load
from trialstreamer_spark.plans.registry import query


# ---------------------------------------------------------------------------
# Shared event-census sidecars (once-per-corpus featurizations)
# ---------------------------------------------------------------------------


def minute_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, minute) arrival census — the corpus-version
    sidecar behind the rate/seasonality audits (event_rate_anomaly,
    hour_of_week_peak). Cardinality is |types| × corpus-minutes:
    TIME-bounded, not corpus-size-bounded, so the sidecar stays ~constant
    rows while the events table grows with SF — at 100 TB each audit
    reads a few hundred-thousand-row table instead of re-scanning and
    re-shuffling the fact. Disk-backed (sidecars.disk_cached_plan): a
    restarted session reads the committed parquet; corpus version bumps
    rebuild it."""
    from trialstreamer_spark.sidecars import disk_cached_plan

    def build() -> DataFrame:
        e = load(spark, sf_dir, "events")
        return e.groupBy(
            "event_type", F.date_trunc("minute", F.col("ts")).alias("minute")
        ).agg(
            F.count("*").alias("x"),
            # exact integer cents ride the census so value-drift audits
            # roll up from it too (int sums re-aggregate associatively)
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("vc"),
        )

    # the cached relation is clustered on event_type (post re-applies the
    # partitioning a parquet roundtrip cannot carry): HashPartitioning on
    # a PREFIX of any (event_type, ...) grouping satisfies its
    # distribution, so the moment rollups, argmax windows, and join-backs
    # all run exchange-free on the census. key_extra versions the disk
    # artifact: the vc column was added after v1 sidecars were committed.
    return disk_cached_plan(
        spark,
        sf_dir,
        "minute_census",
        build,
        source_tables=("events",),
        post=lambda df: df.repartition(F.col("event_type")),
        key_extra=("v2",),
    )


#: Time-bucket width for the two-level gap computation (1 hour in µs).
#: Gaps between consecutive events are bucket-local except exactly one
#: per adjacent non-empty bucket pair, so a (type, bucket)-partitioned
#: lag plus a |types × buckets|-row boundary pass reproduces the exact
#: gap multiset of a (type)-partitioned global lag — without the skew:
#: event_type has ~10 distinct values, so partitioning the window on it
#: alone concentrates the whole fact into ~10 sort tasks (measured as
#: the real cost behind event_gap_percentiles' 3.8× sf1 ratio, r9
#: verdict "What's wrong" #2). Bucket count grows with the corpus TIME
#: SPAN, keeping per-task sort volume bounded at any corpus size.
GAP_BUCKET_US = 3_600_000_000


def typed_gap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, gap_seconds) inter-arrival census — the shared
    sidecar behind the gap-tail audits (event_gap_percentiles,
    event_interarrival_dispersion). Gap values are truncated to whole
    seconds (``gap_us DIV 1e6``, matching the oracles), so cardinality
    is |types| × |distinct gap seconds| — bounded by the corpus time
    span in seconds, NOT by corpus size: the serving queries read a
    dimension-sized table however large the fact grows.

    Two-level build (see GAP_BUCKET_US): within-bucket lag partitioned
    by (event_type, hour-bucket) — thousands of balanced sort groups
    instead of ~10 — then per-bucket first/last endpoints (min/max of
    struct(us, event_id), the same (ts, event_id) tie-break as the
    global order) feed a |types × buckets|-row lag for the one gap that
    crosses each adjacent bucket pair. Ties in ts collapse to gap 0
    under any consistent tie order, so the multiset of consecutive
    differences is exactly that of the single global sort."""
    from trialstreamer_spark.sidecars import disk_cached_plan

    def build() -> DataFrame:
        e = load(spark, sf_dir, "events")
        d = e.select(
            "event_type",
            F.unix_micros("ts").alias("us"),
            "event_id",
            F.expr(f"unix_micros(ts) DIV {GAP_BUCKET_US}").alias("bkt"),
        )
        wb = W.partitionBy("event_type", "bkt").orderBy("us", "event_id")
        within = d.select(
            "event_type",
            (F.col("us") - F.lag("us").over(wb)).alias("gap_us"),
        ).where(F.col("gap_us").isNotNull())
        ends = d.groupBy("event_type", "bkt").agg(
            F.min(F.struct("us", "event_id")).alias("lo"),
            F.max(F.struct("us", "event_id")).alias("hi"),
        )
        wt = W.partitionBy("event_type").orderBy("bkt")
        cross = ends.select(
            "event_type",
            (F.col("lo.us") - F.lag(F.col("hi.us")).over(wt)).alias(
                "gap_us"
            ),
        ).where(F.col("gap_us").isNotNull())
        return (
            within.unionByName(cross)
            .select("event_type", F.expr("gap_us DIV 1000000").alias("gap_s"))
            .groupBy("event_type", "gap_s")
            .agg(F.count("*").alias("cnt"))
        )

    # clustered on event_type so the serving CDF window / moment rollup
    # run exchange-free on the cached relation
    return disk_cached_plan(
        spark,
        sf_dir,
        "gap_counts",
        build,
        source_tables=("events",),
        post=lambda df: df.repartition(F.col("event_type")),
    )


def user_day_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (user_id, day) activity pairs — the shared dedupe both
    engagement rollups (rolling_active_users, dau_wau_stickiness) start
    from. |users × active-days| rows: far below the fact and built once
    per corpus version, so the queries pay only their bounded ×7 window
    expansion, never the corpus-sized distinct."""
    from trialstreamer_spark.sidecars import disk_cached_plan

    def build() -> DataFrame:
        e = load(spark, sf_dir, "events")
        return e.select(
            "user_id", F.date_trunc("day", F.col("ts")).alias("d")
        ).distinct()

    return disk_cached_plan(
        spark, sf_dir, "user_day_pairs", build, source_tables=("events",)
    )


def user_type_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (user_id, event_type) pairs — the engagement-set census
    the affinity matrix self-joins (and the natural seed for any
    per-user behavioral feature). |users × types| rows, types fixed —
    sub-fact cardinality, one build per corpus version. Persisted
    clustered on user_id so the pair self-join and any per-user rollup
    ride the cache's partitioning exchange-free."""
    from trialstreamer_spark.sidecars import disk_cached_plan

    def build() -> DataFrame:
        e = load(spark, sf_dir, "events")
        return e.select("user_id", "event_type").distinct()

    return disk_cached_plan(
        spark,
        sf_dir,
        "user_type_pairs",
        build,
        source_tables=("events",),
        post=lambda df: df.repartition(F.col("user_id")),
    )


def prepare_temporal(spark: SparkSession, sf_dir: str) -> None:
    """Offline featurization hook (bench/deploy): build the event census
    sidecars for a corpus version — same once-per-corpus contract as
    prepare_dedup / prepare_curation, so the audit queries measure the
    serving read."""
    for sidecar in (
        minute_census(spark, sf_dir),
        user_day_pairs(spark, sf_dir),
        user_type_pairs(spark, sf_dir),
        typed_gap_counts(spark, sf_dir),
    ):
        sidecar.count()


def asof_join(
    df: DataFrame,
    key: str,
    order: list[str],
    right_flag,
    right_value,
):
    """Generic single-table as-of: for every row, the max of
    ``right_value`` over rows of the same ``key`` at-or-before it in
    ``order`` where ``right_flag`` holds. Because ``right_value`` must be
    monotone in ``order`` (a timestamp), MAX over the running frame IS the
    most recent one — avoiding last_value(ignorenulls) dialect differences
    in the oracle."""
    w = (
        W.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return df.withColumn(
        "asof_value", F.max(F.when(right_flag, right_value)).over(w)
    )


@query(
    "asof_join_last_click",
    oracle="""
    WITH ordered AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
             MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_click_us
      FROM events
    )
    SELECT event_id, user_id, ts_us, last_click_us
    FROM ordered
    WHERE event_type = 'error'
    ORDER BY event_id
    """,
)
def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each error event ⋈ the most recent click by the same
    user at-or-before it (attribution shape). One window over user_id —
    see module docstring for why this beats a range join at scale."""
    e = load(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts"))
    joined = asof_join(
        e.select("event_id", "user_id", "event_type", ts_us.alias("ts_us"), "ts"),
        key="user_id",
        order=["ts", "event_id"],
        right_flag=F.col("event_type") == "click",
        right_value=F.col("ts_us"),
    )
    return (
        joined.filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            "ts_us",
            F.col("asof_value").alias("last_click_us"),
        )
        .orderBy("event_id")
    )


#: (band, lo, hi) interval dimension for the banded range join. hi=None is
#: the open top band.
VALUE_BANDS: tuple[tuple[str, float, float | None], ...] = (
    ("b0_under10", 0.0, 10.0),
    ("b1_10_50", 10.0, 50.0),
    ("b2_50_100", 50.0, 100.0),
    ("b3_100_up", 100.0, None),
)


@query(
    "value_band_join",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('b0_under10', 0.0, 10.0),
             ('b1_10_50', 10.0, 50.0),
             ('b2_50_100', 50.0, 100.0),
             ('b3_100_up', 100.0, NULL)
    )
    SELECT b.band,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events e
    JOIN bands b
      ON e.value >= b.lo AND (b.hi IS NULL OR e.value < b.hi)
    GROUP BY b.band
    ORDER BY b.band
    """,
)
def value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: events ⋈ a 4-row interval dim on
    lo <= value < hi, rolled up per band. The dim is broadcast (nested-loop
    against k=4 bands is 4 comparisons per row, map-side); the only shuffle
    carries (band, partial count/sum) — scale-safe by construction."""
    from trialstreamer_spark.util import inline_rows

    e = load(spark, sf_dir, "events")
    bands = inline_rows(
        spark,
        list(VALUE_BANDS),
        [("band", "string"), ("lo", "double"), ("hi", "double")],
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        e.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo"))
            & (F.col("hi").isNull() | (F.col("value") < F.col("hi"))),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents).alias("value_cents"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("band")
    )


@query(
    "rolling_active_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ),
    days AS (
      SELECT DISTINCT date_trunc('day', ts) AS d FROM events
    ),
    contrib AS (
      SELECT ud.user_id, ud.d + o * INTERVAL 1 DAY AS wend
      FROM ud, (SELECT unnest(generate_series(0, 6)) AS o)
    )
    SELECT CAST(epoch_us(c.wend) AS BIGINT) AS window_end_us,
           CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS n_active_7d
    FROM contrib c
    JOIN days dd ON c.wend = dd.d
    GROUP BY 1
    ORDER BY 1
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct active users per observed day — the DAU/
    WAU engagement metric every event warehouse serves (the reference's
    update-run dashboards count per-day article arrivals the same way,
    pipeline.observe()).

    Scale shape: sliding-window COUNT(DISTINCT) needs neither a range
    self-join (quadratic) nor the 7× explode + distinct-aggregate of
    the pre-r11 shape: the query rides _wau_daily_series' interval
    stabbing (shared with dau_wau_stickiness — see its docstring for
    the coverage-interval argument), so the whole plan after the
    user_day_pairs sidecar is one lead() window, one |days|-bounded
    tagged-union rollup and a single-partition running sum. The
    dau > 0 filter keeps exactly the observed window-ends the old
    broadcast semi-join kept (r11, guide §2.2/§2.4: dropped the 7×
    row expansion, the countDistinct expand-exchange and the
    observed-days broadcast build)."""
    return (
        _wau_daily_series(spark, sf_dir)
        .where(F.col("dau") > 0)
        .select(
            F.col("day_us").alias("window_end_us"),
            F.col("wau").alias("n_active_7d"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .sortWithinPartitions("window_end_us")
    )


@query(
    "daily_value_drift",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS day_cents,
             COUNT(*) AS n_events
      FROM events
      GROUP BY 1
    ),
    g AS (
      SELECT CAST(SUM(day_cents) AS BIGINT) AS total_cents,
             CAST(SUM(n_events) AS BIGINT) AS n_total
      FROM d
    )
    SELECT CAST(epoch_us(d.day) AS BIGINT) AS day_us,
           d.day_cents,
           CAST(d.n_events AS BIGINT) AS n_events,
           CASE
             WHEN 2 * d.day_cents * g.n_total > 3 * d.n_events * g.total_cents
               THEN 'high'
             WHEN 2 * d.day_cents * g.n_total < d.n_events * g.total_cents
               THEN 'low'
             ELSE 'normal'
           END AS drift
    FROM d, g
    ORDER BY day_us
    """,
)
def daily_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day mean-value drift audit: flag days whose mean event value
    runs >1.5× ('high') or <0.5× ('low') the corpus mean — the data-
    quality tripwire a training pipeline runs on every ingest batch
    (the reference's run statistics, pipeline.observe(), are the same
    per-batch drift check).

    Scale shape: rolls the shared minute census up to days (integer-
    cent sums re-aggregate associatively, so the census IS the partial
    aggregate — the events fact is never rescanned on the query path),
    then a 1-row broadcast global and the drift test as exact int64
    cross-multiplication — no division, no float. Day boundaries come
    from epoch arithmetic (zone-free, like every census consumer). The
    flags cannot disagree between engines because both compare
    identical integers."""
    mc = minute_census(spark, sf_dir)
    # floor-to-day via pmod (always non-negative), NOT `DIV 864e8 * 864e8`:
    # DIV truncates toward zero, so a pre-1970 minute would round to the
    # WRONG day while the oracle's date_trunc('day') floors — subtracting
    # the pmod remainder is exact floor for any sign of the epoch.
    day_us = F.expr(
        "unix_micros(minute) - pmod(unix_micros(minute), 86400000000)"
    ).alias("day_us")
    d = (
        mc.groupBy(day_us)
        .agg(
            F.sum("vc").alias("day_cents"),
            F.sum("x").alias("n_events"),
        )
    )
    drift = (
        F.when(
            2 * F.col("day_cents") * F.col("n_total")
            > 3 * F.col("n_events") * F.col("total_cents"),
            "high",
        )
        .when(
            2 * F.col("day_cents") * F.col("n_total")
            < F.col("n_events") * F.col("total_cents"),
            "low",
        )
        .otherwise("normal")
    )
    # corpus totals ride a single-partition window over the
    # calendar-bounded day rollup instead of a separate agg leg +
    # broadcast build (r11, guide §2.4 — the coalesce(1) the tail sort
    # already needed makes the window exchange-free)
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        d.coalesce(1)
        .withColumn("total_cents", F.sum("day_cents").over(w_all))
        .withColumn("n_total", F.sum("n_events").over(w_all))
        .select(
            "day_us",
            "day_cents",
            "n_events",
            drift.alias("drift"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .sortWithinPartitions("day_us")
    )


@query(
    "event_type_affinity",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
    pair AS (
      SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS nboth
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT pair.ta AS type_a,
           pair.tb AS type_b,
           CAST(pair.nboth AS BIGINT) AS n_both,
           CAST(na.n AS BIGINT) AS n_a,
           CAST(nb.n AS BIGINT) AS n_b,
           CAST((1000000 * pair.nboth) // (na.n + nb.n - pair.nboth)
                AS BIGINT) AS jaccard_fp
    FROM pair
    JOIN n na ON pair.ta = na.event_type
    JOIN n nb ON pair.tb = nb.event_type
    ORDER BY type_a, type_b
    """,
)
def event_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type affinity matrix: for every type pair, how many users
    do BOTH and the Jaccard of their user sets — the cross-feature
    co-engagement audit a recommender/curation pipeline reads before
    treating two behaviors as independent signals (the reference's
    co-occurrence top-k, A6, is the token-level analog).

    Scale shape: the (user, type) dedupe serves from the shared
    user_type_pairs sidecar (user_id-clustered, once per corpus
    version) — every later step is bounded by |users × types|, never
    raw events, and the pair self-join rides the cache's user_id
    partitioning exchange-free; each user contributes at most
    C(|types|, 2) rows (|types| is small and fixed); per-type totals
    are a |types|-row broadcast. Jaccard is one integer floor-division
    of exact counts — the inclusion-exclusion denominator never goes
    through a float."""
    ut = user_type_pairs(spark, sf_dir)
    # r11 (guide §2.4): ONE tagged-union rollup replaces the two
    # separate aggregate legs (margins + pairs, each its own exchange)
    # and the two margin joins. The pair self-join still rides the
    # sidecar's user_id clustering exchange-free; union its output with
    # the diagonal (ta = tb) margin rows so a single groupBy counts
    # both. Margins then attach via per-key windows on the coalesced
    # ≤|types|² frame — SinglePartition satisfies both windows'
    # clustering, so everything after the one exchange is in-partition.
    # A pair (a,b) implies both diagonal rows exist, so the inner-join
    # semantics of the old margin attach are preserved exactly.
    a = ut.select("user_id", F.col("event_type").alias("ta"))
    b = ut.select("user_id", F.col("event_type").alias("tb"))
    pair = (
        a.join(b, "user_id")
        .where(F.col("ta") < F.col("tb"))
        .select("ta", "tb")
    )
    diag = ut.select(
        F.col("event_type").alias("ta"), F.col("event_type").alias("tb")
    )
    m = (
        pair.unionByName(diag)
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("nboth"))
        .coalesce(1)
    )
    is_diag = F.col("ta") == F.col("tb")
    margin = F.sum(F.when(is_diag, F.col("nboth")))
    return (
        m.withColumn("n_a", margin.over(W.partitionBy("ta")))
        .withColumn("n_b", margin.over(W.partitionBy("tb")))
        .where(F.col("ta") < F.col("tb"))
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.col("nboth").alias("n_both"),
            "n_a",
            "n_b",
            F.expr("(1000000 * nboth) DIV (n_a + n_b - nboth)").alias(
                "jaccard_fp"
            ),
        )
        # dimension-sized tail: single-partition sort, no range
        # exchange / sampling job (r9 VERDICT #5a; util.ordered_small)
        .coalesce(1)
        .sortWithinPartitions("type_a", "type_b")
    )


@query(
    "first_touch_attribution",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    first AS (
      SELECT user_id, event_type AS first_type FROM ranked WHERE rn = 1
    ),
    conv AS (SELECT DISTINCT user_id FROM events
             WHERE event_type = 'purchase')
    SELECT f.first_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(c.user_id) AS BIGINT) AS n_converted,
           CAST((1000000 * COUNT(c.user_id)) // COUNT(*) AS BIGINT)
               AS conversion_fp
    FROM first f LEFT JOIN conv c ON f.user_id = c.user_id
    GROUP BY f.first_type
    ORDER BY f.first_type
    """,
)
def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: bucket every user by their FIRST event
    type (earliest ts, event_id tie-break — deterministic under
    concurrent timestamps) and report how many users in each bucket
    ever purchased. The acquisition-channel conversion table every
    event pipeline reports; the as-of join (asof_join_last_click) is
    its last-touch mirror.

    Plan: one window shuffle keyed on user_id finds each user's first
    event (rank-1 row, no self-join against a min-ts aggregate — that
    formulation joins the fact to itself and breaks ties wrong), and
    the converted flag rides the SAME window frame as an unordered
    max(when(purchase)) — r11 (guide §2.4): the old shape ran a second
    events scan + distinct for the converter set and joined it back,
    one corpus pass and one exchange more than needed; a whole-
    partition max over the identical partitioning is the same fact,
    computed in place. The final rollup is |event_types| groups.
    Conversion rate is one integer floor-division."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    first = (
        e.select(
            "user_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1)
            )
            .over(W.partitionBy("user_id"))
            .alias("converted"),
        )
        .where(F.col("rn") == 1)
        .select(F.col("event_type").alias("first_type"), "converted")
    )
    return (
        first.groupBy("first_type")
        .agg(
            F.count("*").alias("n_users"),
            F.count("converted").alias("n_converted"),
        )
        .select(
            "first_type",
            "n_users",
            "n_converted",
            F.expr("(1000000 * n_converted) DIV n_users").alias(
                "conversion_fp"
            ),
        )
        # dimension-sized tail: single-partition sort, no range
        # exchange / sampling job (r9 VERDICT #5a; util.ordered_small)
        .coalesce(1)
        .sortWithinPartitions("first_type")
    )


def _wau_daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day_us, dau, wau) per boundary day via interval stabbing — the
    shared engine of dau_wau_stickiness AND rolling_active_users (r11,
    guide §2.2/§2.4): per user, consecutive active days d_i < d_{i+1}
    yield DISJOINT coverage intervals [d_i, min(d_i+6d, d_{i+1}-1d)] of
    window-ends the user counts toward, so WAU(w) = running sum of ±1
    boundary deltas — no countDistinct (a second exchange), no 7× row
    expansion, no observed-days broadcast. The lead() window rides the
    user_day_pairs sidecar; ONE tagged-union groupBy rolls DAU counts
    and WAU deltas together (|days|-bounded), and the cumulative sum
    runs on the single-partition calendar-bounded tail. Callers filter
    dau > 0 to reproduce the observed-days inner join."""
    DAY_US = 86400000000
    ud = user_day_pairs(spark, sf_dir)
    day = F.unix_micros("d")
    iv = ud.select(
        day.alias("s"),
        F.lead(day).over(W.partitionBy("user_id").orderBy("d")).alias("nxt"),
    )
    end_excl = F.least(F.col("s") + F.lit(7 * DAY_US), F.col("nxt"))
    merged = (
        iv.select(F.col("s").alias("day_us"), F.lit(0).alias("dau"), F.lit(1).alias("wd"))
        .unionByName(
            iv.select(end_excl.alias("day_us"), F.lit(0).alias("dau"), F.lit(-1).alias("wd"))
        )
        .unionByName(
            ud.select(day.alias("day_us"), F.lit(1).alias("dau"), F.lit(0).alias("wd"))
        )
    )
    rolled = (
        merged.groupBy("day_us")
        .agg(F.sum("dau").alias("dau"), F.sum("wd").alias("wd"))
        # dimension/calendar-bounded tail: single partition, so the
        # running sum and final sort are exchange-free (r10 sweep)
        .coalesce(1)
    )
    return rolled.withColumn(
        "wau",
        F.sum("wd").over(
            W.orderBy("day_us").rowsBetween(W.unboundedPreceding, 0)
        ),
    )


@query(
    "dau_wau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ),
    dau AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1
    ),
    contrib AS (
      SELECT ud.user_id,
             epoch_us(ud.d) + o.o * 86400000000 AS window_end_us
      FROM ud, (SELECT unnest(generate_series(0, 6)) AS o) o
    ),
    wau AS (
      SELECT c.window_end_us,
             CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau
      FROM contrib c
      JOIN (SELECT DISTINCT epoch_us(date_trunc('day', ts)) AS u
            FROM events) days ON c.window_end_us = days.u
      GROUP BY 1
    )
    SELECT CAST(epoch_us(dau.d) AS BIGINT) AS day_us,
           dau.dau, wau.wau,
           CAST((1000000 * dau.dau) // wau.wau AS BIGINT)
             AS stickiness_fp
    FROM dau JOIN wau ON epoch_us(dau.d) = wau.window_end_us
    ORDER BY day_us
    """,
)
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the engagement ratio product
    dashboards plot (what share of the week's actives showed up
    today). 1e-6 fixed-point ratio, exact on both engines.

    Scale shape: both legs ride ONE (user, day) dedupe of the fact —
    DAU is a |days|-key rollup of it; WAU reuses the bounded
    7-window-end explode of rolling_active_users (constant expansion,
    |users x days| bound, observed-days broadcast). The final join is
    |days| x |days| rows — driver-trivial. No range self-join, no
    per-day rescan, no state that grows with corpus size. The (user,
    day) dedupe serves from the shared user_day_pairs sidecar."""
    return (
        _wau_daily_series(spark, sf_dir)
        .where(F.col("dau") > 0)
        .select(
            "day_us",
            "dau",
            "wau",
            F.expr("(1000000 * dau) DIV wau").alias("stickiness_fp"),
        )
        .sortWithinPartitions("day_us")
    )


@query(
    "event_rate_anomaly",
    oracle="""
    WITH m AS (
      SELECT event_type,
             date_trunc('minute', ts) AS minute,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM m GROUP BY 1
    )
    SELECT m.event_type,
           s.n AS n_minutes,
           CAST(SUM(CASE WHEN m.x * s.n > s.sx
                          AND (m.x * s.n - s.sx) * (m.x * s.n - s.sx)
                              > 9 * (s.n * s.sxx - s.sx * s.sx)
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_burst_minutes,
           CAST(MAX(m.x) AS BIGINT) AS max_per_minute
    FROM m JOIN s ON m.event_type = s.event_type
    GROUP BY m.event_type, s.n
    ORDER BY m.event_type
    """,
)
def event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection per event type: minutes whose arrival count
    exceeds mean + 3 sigma of that type's per-minute rate — the feed
    anomaly tripwire (the flip side of event_gap_stats' stall
    detector).

    Determinism: the 3-sigma test is evaluated WITHOUT division or
    sqrt — ``(x - mu) > 3 sigma`` with mu = sx/n and sigma^2 =
    (n*sxx - sx^2)/n^2 cross-multiplies to
    ``(x*n - sx)^2 > 9*(n*sxx - sx^2)`` in exact int64 (counts are
    minute-level, so all products sit far below 2^63); both engines
    compare identical integers.

    Scale shape: serves from the shared per-(type, minute) census
    sidecar (minute_census — time-bounded cardinality, built once per
    corpus version), so the query itself is a |types|-row moment rollup
    of the census, broadcast back, flag + final |types| rollup — the
    fact is never rescanned on the query path."""
    m = minute_census(spark, sf_dir)
    s = m.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    dev = F.col("x") * F.col("n") - F.col("sx")
    is_burst = (dev > 0) & (
        dev * dev > 9 * (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    return (
        m.join(F.broadcast(s), "event_type")
        .groupBy("event_type", F.col("n").alias("n_minutes"))
        .agg(
            F.sum(F.when(is_burst, 1).otherwise(0)).alias("n_burst_minutes"),
            F.max("x").alias("max_per_minute"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("event_type")
    )


@query(
    "event_burst_runs",
    oracle="""
    WITH m AS (
      SELECT event_type,
             date_trunc('minute', ts) AS minute,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM m GROUP BY 1
    ),
    b AS (
      SELECT m.event_type,
             epoch_us(m.minute) // 60000000 AS mi
      FROM m JOIN s ON m.event_type = s.event_type
      WHERE m.x * s.n > s.sx
        AND (m.x * s.n - s.sx) * (m.x * s.n - s.sx)
            > 9 * (s.n * s.sxx - s.sx * s.sx)
    ),
    g AS (
      SELECT event_type, mi,
             mi - row_number() OVER (PARTITION BY event_type ORDER BY mi)
               AS grp
      FROM b
    ),
    r AS (
      SELECT event_type, grp, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM g GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(MAX(run_len) AS BIGINT) AS longest_run,
           CAST(SUM(run_len) AS BIGINT) AS total_burst_minutes
    FROM r GROUP BY event_type
    ORDER BY event_type
    """,
)
def event_burst_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst RUN structure per event type — the gaps-and-islands shape:
    consecutive 3-sigma burst minutes (same integer-exact test as
    event_rate_anomaly) coalesce into runs via the classic
    minute-index-minus-row-number island key, yielding run count,
    longest run, and total burst minutes. One sustained 20-minute burst
    and twenty scattered spikes look identical to event_rate_anomaly;
    this query tells them apart — the difference between a feed outage
    replay and a flaky producer.

    Determinism: minute indexes are epoch-micros integer division;
    the island key is exact integer arithmetic; row_number's order
    (mi within type) is total.

    Scale shape: everything downstream of the shared minute census
    sidecar rides its event_type clustering — the moment rollup, the
    broadcast join-back, the island window, and both rollups need NO
    exchange; the census itself is time-bounded, not corpus-bounded."""
    m = minute_census(spark, sf_dir)
    s = m.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    dev = F.col("x") * F.col("n") - F.col("sx")
    is_burst = (dev > 0) & (
        dev * dev > 9 * (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    burst = (
        m.join(F.broadcast(s), "event_type")
        .where(is_burst)
        .select(
            "event_type",
            # census minutes are date_trunc('minute') values, so
            # unix_micros(minute) is an exact multiple of 6e7 — DIV on an
            # exact multiple equals floor for either sign, so the minute
            # index is correct even for pre-1970 data.
            F.expr("unix_micros(minute) DIV 60000000").alias("mi"),
        )
    )
    w = W.partitionBy("event_type").orderBy("mi")
    runs = (
        burst.select(
            "event_type",
            (F.col("mi") - F.row_number().over(w)).alias("grp"),
        )
        .groupBy("event_type", "grp")
        .agg(F.count("*").alias("run_len"))
    )
    return (
        runs.groupBy("event_type")
        .agg(
            F.count("*").alias("n_runs"),
            F.max("run_len").alias("longest_run"),
            F.sum("run_len").alias("total_burst_minutes"),
        )
        .orderBy("event_type")
    )


@query(
    "event_interarrival_dispersion",
    oracle="""
    WITH g AS (
      SELECT event_type,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY event_type ORDER BY ts, event_id))
               // 1000000 AS gap_s
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
             CAST(SUM(gap_s) AS BIGINT) AS sg,
             CAST(SUM(gap_s * gap_s) AS BIGINT) AS sgg
      FROM g WHERE gap_s IS NOT NULL GROUP BY 1
    )
    SELECT event_type, n_gaps,
           CAST(sg // n_gaps AS BIGINT) AS mean_gap_s,
           CAST((1000000 * (n_gaps * sgg - sg * sg)) // (sg * sg)
                AS BIGINT) AS dispersion_fp
    FROM s
    ORDER BY event_type
    """,
)
def event_interarrival_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness profile per event type: the index of dispersion of
    inter-arrival gaps, ``Var/mu^2`` at 1e-6 fixed point (0 = a
    metronome, 1 = Poisson, >1 = bursty). Complements
    event_rate_anomaly (which flags WHEN) by characterizing HOW a
    stream arrives — the statistic that sizes streaming-ingest buffers
    and watermark slack.

    Determinism: gaps truncate to whole seconds (integer division of
    epoch micros); Var/mu^2 = (n*sgg - sg^2)/sg^2 is computed as one
    integer floor division — no float, no sqrt. Gap seconds are
    bounded by the corpus time span, so n*sgg stays far below 2^63.

    Scale shape: moment rollup over the typed_gap_counts sidecar (the
    skew-free once-per-corpus gap census — see GAP_BUCKET_US); sums are
    count-weighted over (gap_s, cnt) rows, algebraically identical to
    per-gap sums, and the rollup runs exchange-free on the
    type-clustered cached relation. The tie-break on (ts, event_id)
    pins gap assignment when timestamps collide (inside the sidecar
    build)."""
    vc = typed_gap_counts(spark, sf_dir)
    return (
        vc.groupBy("event_type")
        .agg(
            F.sum("cnt").alias("n_gaps"),
            F.sum(F.col("gap_s") * F.col("cnt")).alias("sg"),
            F.sum(F.col("gap_s") * F.col("gap_s") * F.col("cnt")).alias(
                "sgg"
            ),
        )
        .select(
            "event_type",
            "n_gaps",
            F.expr("sg DIV n_gaps").alias("mean_gap_s"),
            F.expr(
                "(1000000 * (n_gaps * sgg - sg * sg)) DIV (sg * sg)"
            ).alias("dispersion_fp"),
        )
        .orderBy("event_type")
    )


@query(
    "event_gap_percentiles",
    oracle="""
    WITH g AS (
      SELECT event_type,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY event_type ORDER BY ts, event_id))
               // 1000000 AS gap_s
      FROM events
    ),
    vc AS (
      SELECT event_type, gap_s, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM g WHERE gap_s IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, gap_s, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY gap_s)
               AS cum_n,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM vc
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MIN(CASE WHEN 100 * cum_n >= 50 * n THEN gap_s END)
                AS BIGINT) AS p50_s,
           CAST(MIN(CASE WHEN 100 * cum_n >= 90 * n THEN gap_s END)
                AS BIGINT) AS p90_s,
           CAST(MIN(CASE WHEN 100 * cum_n >= 99 * n THEN gap_s END)
                AS BIGINT) AS p99_s
    FROM cum
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def event_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p90/p99 of inter-arrival gaps per event type — the
    latency-SLO tail statistic, computed with the distributed-quantile
    shape (no approx_percentile, no single-partition global sort): the
    p-th percentile is the smallest value whose cumulative count
    reaches ceil(p·n/100), and ``100·cum_n >= p·n`` states exactly that
    ceiling in integers.

    Scale shape: rolls up from the typed_gap_counts sidecar — the
    (type, gap-second, count) census built once per corpus version with
    the skew-free two-level bucketed lag (see GAP_BUCKET_US; the round-9
    version ran a lag window partitioned by the ~10-value event_type
    alone, concentrating the whole fact into ~10 sort tasks). The
    cumulative window runs over |distinct gaps per type| rows on a
    relation already clustered by type, and all three percentiles fall
    out of ONE window pass as conditional MINs in the same |types|-row
    rollup — the query path never touches the fact."""
    vc = typed_gap_counts(spark, sf_dir)
    wcum = W.partitionBy("event_type").orderBy("gap_s")
    cum = vc.select(
        "event_type",
        "gap_s",
        F.sum("cnt").over(wcum).alias("cum_n"),
        F.sum("cnt").over(W.partitionBy("event_type")).alias("n"),
    )

    def pctl(p: int) -> Column:
        return F.min(
            F.when(100 * F.col("cum_n") >= p * F.col("n"), F.col("gap_s"))
        ).alias(f"p{p}_s")

    return (
        cum.groupBy("event_type")
        .agg(F.max("n").alias("n_gaps"), pctl(50), pctl(90), pctl(99))
        .orderBy("event_type")
    )


@query(
    "hour_of_week_peak",
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST(dayofweek(ts) * 24 + hour(ts) AS BIGINT) AS how,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, how, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, how) AS rk,
             SUM(n) OVER (PARTITION BY event_type) AS total_n
      FROM h
    )
    SELECT event_type, how AS peak_how, n AS peak_n,
           CAST(total_n AS BIGINT) AS total_n,
           CAST((1000000 * n) // total_n AS BIGINT) AS peak_share_fp
    FROM r WHERE rk = 1
    ORDER BY event_type
    """,
)
def hour_of_week_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality peak per event type: the hour-of-week bucket
    (0 = Sunday 00:00 UTC … 167 = Saturday 23:00) with the most
    arrivals, and what share of the type's traffic it carries — the
    statistic that schedules compaction/backfill windows AWAY from a
    feed's hot hour. Ties break to the earliest hour (row_number over
    (count DESC, hour)), pinned identically in both engines; UTC is
    pinned by io.load regardless of the driver session zone.

    Scale shape: rolls the shared per-(type, minute) census sidecar up
    to (type, hour-of-week) — at most |types| × 168 rows — then the
    argmax window and the share arithmetic run on that dimension-sized
    frame. The fact is never rescanned on the query path (the census is
    the once-per-corpus-version scan)."""
    mc = minute_census(spark, sf_dir)
    # hour-of-week from epoch arithmetic, NOT dayofweek()/hour(): those
    # evaluate in the session zone, and the census cache-hit path does
    # not pass through io.load's UTC pin — epoch hours are zone-free.
    # Epoch hour 0 was a Thursday (dow index 4), hence the +96h rotation
    # to make 0 = Sunday 00:00 UTC, matching the oracle's dayofweek*24.
    # Floor-div via pmod-subtraction (DIV truncates toward zero, which
    # would pick the wrong hour pre-1970) and pmod for the final bucket
    # (Spark's % follows the dividend sign; the oracle's dayofweek*24+hour
    # is always 0..167).
    h = mc.groupBy(
        "event_type",
        F.expr(
            "pmod((unix_micros(minute) - pmod(unix_micros(minute),"
            " 3600000000)) DIV 3600000000 + 96, 168)"
        ).alias("how"),
    ).agg(F.sum("x").alias("n"))
    # argmax as ONE aggregate (max over (n, -how) structs — ties break to
    # the earliest hour, same order as the oracle's row_number), fused
    # with the total: no window sort, and both rollups ride the census
    # cache's event_type partitioning exchange-free
    peak = F.max(
        F.struct(F.col("n").alias("n"), (-F.col("how")).alias("neg_how"))
    ).alias("pk")
    return (
        h.groupBy("event_type")
        .agg(peak, F.sum("n").alias("total_n"))
        .select(
            "event_type",
            (-F.col("pk.neg_how")).alias("peak_how"),
            F.col("pk.n").alias("peak_n"),
            "total_n",
            F.expr("(1000000 * pk.n) DIV total_n").alias("peak_share_fp"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("event_type")
    )


#: Benford expected first-digit shares at 1e-6 fixed point:
#: floor(1e6 · log10(1 + 1/d)) — constants, not runtime logs, so both
#: engines emit identical integers.
_BENFORD_FP = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910,
    5: 79181, 6: 66946, 7: 57991, 8: 51152, 9: 45757,
}

_BENFORD_CASE_SQL = "CASE digit " + " ".join(
    f"WHEN {d} THEN {v}" for d, v in _BENFORD_FP.items()
) + " END"


@query(
    "benford_value_digits",
    oracle=f"""
    WITH v AS (
      SELECT CAST(substr(CAST(CAST(ROUND(value * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM events WHERE value > 0
    ),
    h AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1
    )
    SELECT digit, n,
           CAST((1000000 * n) // SUM(n) OVER () AS BIGINT) AS share_fp,
           CAST({_BENFORD_CASE_SQL} AS BIGINT) AS benford_fp
    FROM h
    ORDER BY digit
    """,
)
def benford_value_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of event values: observed first-significant-
    digit distribution (of the exact cent amount) against the Benford
    expectation — the classic fabricated-data / unit-mixup tripwire
    (organic transaction amounts lean Benford; a uniform or spiked
    digit profile flags synthetic injection or a currency-scale bug
    upstream). Expected shares are precomputed integer constants
    (floor(1e6·log10(1+1/d))) — no runtime logarithm crosses the
    engine boundary, so rows compare exactly.

    Scale shape: the digit is substr(1,1) of the int64 cent string —
    scan-side codegen, no explode; a ≤9-key rollup collapses map-side
    and the share window runs on ≤9 rows."""
    e = load(spark, sf_dir, "events")
    digit = F.substring(
        F.round(F.col("value") * 100).cast("long").cast("string"), 1, 1
    ).cast("long")
    h = (
        e.where(F.col("value") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    benford = F.create_map(
        *[F.lit(x) for kv in _BENFORD_FP.items() for x in kv]
    )
    return h.select(
        "digit",
        "n",
        F.expr("(1000000 * n) DIV SUM(n) OVER ()").alias("share_fp"),
        benford[F.col("digit")].cast("long").alias("benford_fp"),
    ).orderBy("digit")


@query(
    "session_count_histogram",
    oracle="""
    WITH g AS (
      SELECT user_id,
             CASE WHEN lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                      > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    per AS (
      SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions
      FROM g GROUP BY user_id
    ),
    h AS (
      SELECT CASE WHEN n_sessions >= 10 THEN 10 ELSE n_sessions END
               AS sessions_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM per GROUP BY 1
    )
    SELECT CAST(sessions_bucket AS BIGINT) AS sessions_bucket, n_users,
           CAST((1000000 * n_users) // SUM(n_users) OVER () AS BIGINT)
             AS share_fp
    FROM h
    ORDER BY sessions_bucket
    """,
)
def session_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-depth distribution: how many 30-min-gap sessions each
    user accumulated, bucketed (10+ capped) with user shares — the
    histogram view of sessionize's per-user counts (one-session
    drive-bys vs habitual multi-session users), the shape retention
    models and session-store capacity planning both read.

    Scale shape: the SAME single user_id shuffle as sessionize — the
    lag window and the per-user rollup share one exchange (same key,
    Catalyst reuses the partitioning) — then an ≤11-key histogram
    rollup collapsing map-side, shares on ≤11 rows."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts"))
    gap = ts_us - F.lag(ts_us).over(w)
    new_session = F.when(
        gap.isNull() | (gap > 1800 * 1_000_000), 1
    ).otherwise(0)
    per = (
        e.select("user_id", new_session.alias("new_session"))
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"))
    )
    h = (
        per.select(
            F.least(F.col("n_sessions"), F.lit(10))
            .cast("long")
            .alias("sessions_bucket")
        )
        .groupBy("sessions_bucket")
        .agg(F.count("*").alias("n_users"))
        # ≤11 buckets: single partition here makes the share window and
        # the final sort exchange-free (r9 VERDICT #5 — the global
        # window otherwise costs an Exchange(SinglePartition) job and
        # the orderBy a sampling job + range exchange).
        .coalesce(1)
    )
    return h.select(
        "sessions_bucket",
        "n_users",
        F.expr("(1000000 * n_users) DIV SUM(n_users) OVER ()").alias(
            "share_fp"
        ),
    ).sortWithinPartitions("sessions_bucket")


@query(
    "trailing_hour_user_value",
    oracle="""
    WITH v AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
             CAST(ROUND(value * 100) AS BIGINT) AS v_c
      FROM events
    ),
    framed AS (
      SELECT event_id, user_id, event_type, ts_us,
             CAST(SUM(v_c) OVER (
               PARTITION BY user_id ORDER BY ts_us
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS trailing_hour_cents
      FROM v
    )
    SELECT event_id, user_id, ts_us, trailing_hour_cents
    FROM framed
    WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)
def trailing_hour_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE-frame running aggregate: at every purchase, the
    user's total value over the trailing hour INCLUDING simultaneous
    events — the velocity feature fraud/rate-limit rules key on. The
    RANGE frame is the point: a ROWS frame counts a fixed number of
    events regardless of their spacing, and the bounded-explode
    approach (rolling_active_users) only lands on fixed window ENDS —
    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW evaluates the
    true per-event sliding sum in one pass. Ties (equal ts) are framed
    by VALUE, not row position, so simultaneous events all see each
    other — deterministic without an event_id tiebreak, which RANGE
    would reject anyway (single ordering expression).

    Scale shape: ONE user-keyed sort exchange (the same single window
    shuffle as the as-of join); the frame is evaluated with a sliding
    two-pointer over each user's sorted run — no self-join, no explode,
    state bounded by the widest hour of one user. Integer cents and
    epoch micros end-to-end."""
    e = load(spark, sf_dir, "events")
    v = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("v_c"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        v.select(
            "event_id",
            "user_id",
            "event_type",
            "ts_us",
            F.sum("v_c").over(w).alias("trailing_hour_cents"),
        )
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts_us", "trailing_hour_cents")
        .orderBy("event_id")
    )


@query(
    "daily_autocovariance",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS day_us,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events
      GROUP BY event_type, date_trunc('day', ts)
    )
    SELECT a.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(a.x * b.x) AS BIGINT) AS sxy,
           CAST(SUM(a.x) AS BIGINT) AS sx,
           CAST(SUM(b.x) AS BIGINT) AS sy,
           CAST(COUNT(*) * SUM(a.x * b.x) - SUM(a.x) * SUM(b.x)
                AS BIGINT) AS autocov_num
    FROM d a
    JOIN d b
      ON a.event_type = b.event_type
     AND b.day_us = a.day_us + 86400000000
    GROUP BY a.event_type
    ORDER BY a.event_type
    """,
)
def daily_autocovariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocovariance of each event type's daily-arrival series —
    the burstiness/seasonality screen an ingestion monitor runs before
    trusting a day-over-day rate alert (high positive autocovariance =
    trending/seasonal, near zero = memoryless). Emitted as the exact
    integer moments (n, Σx·y, Σx, Σy) plus the covariance NUMERATOR
    n·Σxy − Σx·Σy, so both engines compare pure int64 — the variance
    normalization is one client-side division away and would be the
    only inexact step. Pairs are consecutive PRESENT days (a day with
    zero arrivals for a type breaks the chain rather than riding as a
    synthetic zero — absence of the row is the signal the monitor keys
    on separately via event_gap_stats).

    Scale shape: rolls the (event_type, minute) census sidecar up to
    days (dimension-bounded: |types|×|days| rows), then the lag-1
    pairing is a lag() WINDOW over that tiny frame — round 9 wrote it
    as a self-join on (type, day+1), which re-derived the day rollup
    twice and paid two hash exchanges plus the rollup exchange on a
    dimension-sized frame (measured as the 19.8×→22.0× sf1
    ratio-grower, r9 verdict "What's wrong" #3). The census cache is
    clustered on event_type, which satisfies the day-rollup grouping,
    the window partitioning, AND the final rollup — the whole plan runs
    exchange-free; the events fact is never rescanned. A day with zero
    arrivals breaks the chain via the prev-day equality test, matching
    the oracle's join predicate exactly. Day indices come from
    floor-safe epoch arithmetic (pmod subtraction), not session-zone
    date functions, because the census cache-hit path bypasses
    io.load's UTC pin."""
    mc = minute_census(spark, sf_dir)
    day_us = F.expr(
        "unix_micros(minute) - pmod(unix_micros(minute), 86400000000)"
    ).alias("day_us")
    d = mc.groupBy("event_type", day_us).agg(F.sum("x").alias("x"))
    w = W.partitionBy("event_type").orderBy("day_us")
    return (
        d.select(
            "event_type",
            "day_us",
            F.col("x").alias("xb"),
            F.lag("x").over(w).alias("xa"),
            F.lag("day_us").over(w).alias("prev_day_us"),
        )
        .where(
            F.col("prev_day_us") == F.col("day_us") - F.lit(86400000000)
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
            F.sum("xa").alias("sx"),
            F.sum("xb").alias("sy"),
        )
        .select(
            "event_type",
            "n_pairs",
            "sxy",
            "sx",
            "sy",
            (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .alias("autocov_num"),
        )
        .orderBy("event_type")
    )


#: One week of epoch microseconds (weekly drift bucketing).
WEEK_US = 7 * 86_400_000_000


@query(
    "weekly_value_quantile_drift",
    oracle=f"""
    WITH v AS (
      SELECT epoch_us(ts) // {WEEK_US} AS week_idx,
             CAST(ROUND(value * 100) AS BIGINT) AS v_c
      FROM events
    ),
    vc AS (
      SELECT week_idx, v_c, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM v GROUP BY 1, 2
    ),
    cum AS (
      SELECT week_idx, v_c, cnt,
             SUM(cnt) OVER (PARTITION BY week_idx ORDER BY v_c) AS cum_n,
             SUM(cnt) OVER (PARTITION BY week_idx) AS n
      FROM vc
    ),
    wk AS (
      SELECT week_idx,
             CAST(MAX(n) AS BIGINT) AS n_events,
             CAST(MIN(CASE WHEN 100 * cum_n >= 50 * n THEN v_c END)
                  AS BIGINT) AS p50_c,
             CAST(MIN(CASE WHEN 100 * cum_n >= 90 * n THEN v_c END)
                  AS BIGINT) AS p90_c
      FROM cum GROUP BY week_idx
    ),
    gc AS (
      SELECT v_c, CAST(SUM(cnt) AS BIGINT) AS cnt FROM vc GROUP BY v_c
    ),
    gcum AS (
      SELECT v_c, SUM(cnt) OVER (ORDER BY v_c) AS cum_n,
             SUM(cnt) OVER () AS n
      FROM gc
    ),
    g AS (
      SELECT CAST(MIN(CASE WHEN 100 * cum_n >= 50 * n THEN v_c END)
                  AS BIGINT) AS gp50_c
      FROM gcum
    )
    SELECT wk.week_idx, wk.n_events, wk.p50_c, wk.p90_c, g.gp50_c,
           CASE WHEN 5 * wk.p50_c > 6 * g.gp50_c THEN 'high'
                WHEN 5 * wk.p50_c < 4 * g.gp50_c THEN 'low'
                ELSE 'normal' END AS drift
    FROM wk, g
    ORDER BY wk.week_idx
    """,
)
def weekly_value_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly exact value quantiles vs the corpus median — the
    distribution-shift monitor a mixture pipeline runs per snapshot
    ("did this week's spend/size distribution move, not just its
    mean"): per epoch-week, exact discrete p50/p90 of the integer-cent
    value, the global p50, and a high/low/normal drift flag at ±20%.
    All exact integers: quantiles come from a value-count CDF (min
    value whose cumulative count crosses the rank), the drift compare
    is cross-multiplied (5·p50 vs 6·gp50), and week indexing is
    truncating integer division of epoch micros — Spark DIV and
    DuckDB // agree for any sign (both truncate toward zero on
    integers; verified -7//2 = -3 in DuckDB).

    Scale shape: ONE map-side-partial rollup to (week, cent) counts
    bounds every later stage by |value domain| × |weeks|, not corpus
    rows; the CDF windows and the global rollup run on that frame, and
    the 1-row global median broadcasts back. The mean-based sibling
    (daily_value_drift) rides the minute census; quantiles need the
    per-value histogram, which the census deliberately does not carry
    (it would multiply census cardinality by the value domain).

    Floor accounting (r11 job-count profile): the two quantile scopes +
    two-level global CDF + broadcasts materialize as AQE jobs, so the
    sf1 wall is mostly scheduler floor plus <0.2 s of work — the
    sub-second DuckDB gap is the per-job round-trip, not a plan defect
    (every exchange is census-bounded; the corpus is scanned once per
    quantile scope, both map-side-combined — a grouping-sets single-
    scan variant was tried in r11 and measured WORSE: the gid filter
    pushes into the Expand, splitting the scan again while doubling
    map-side rows). The total event count rides the bucket-offset
    window frame (r11: the separate bucket-total agg + crossJoin
    broadcast were two more scheduler jobs)."""
    e = load(spark, sf_dir, "events")
    vc = (
        e.select(
            F.expr(f"unix_micros(ts) DIV {WEEK_US}").alias("week_idx"),
            F.round(F.col("value") * 100).cast("long").alias("v_c"),
        )
        .groupBy("week_idx", "v_c")
        .agg(F.count("*").alias("cnt"))
    )

    def rank(q: int):
        return F.min(
            F.when(
                F.lit(100) * F.col("cum_n") >= F.lit(q) * F.col("n"),
                F.col("v_c"),
            )
        )

    def cdf_quantiles(counts: DataFrame, keys: list[str]) -> DataFrame:
        if keys:
            w = W.partitionBy(*keys)
            cum = counts.select(
                *keys,
                "v_c",
                F.sum("cnt").over(w.orderBy("v_c")).alias("cum_n"),
                F.sum("cnt").over(w).alias("n"),
            )
            return cum.groupBy(*keys).agg(
                F.max("n").alias("n_events"),
                rank(50).alias("p50_c"),
                rank(90).alias("p90_c"),
            )
        # Global leg: a two-level CDF, never a single-partition window
        # over the whole (v_c, cnt) rollup (VERDICT r8 #5 — at 100 TB a
        # cent-granular value domain is ~1e8 distinct values; one task
        # sorting 1e8 rows). Level 1 buckets values by v_c DIV 1024 and
        # cumulates BUCKET totals — a frame 1024x smaller than the
        # domain, and the only single-partition window left (above a
        # HashAggregate, like token_lorenz_curve's offset frame). Level
        # 2 cumulates within buckets under a bucket-partitioned window —
        # fully distributed — and adds the broadcast bucket offset.
        bkt = counts.withColumn("bkt", F.expr("v_c DIV 1024"))
        btot = bkt.groupBy("bkt").agg(F.sum("cnt").alias("bcnt"))
        w_off = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
        # total event count rides the SAME single-partition bucket
        # window as the offset (unbounded frame) — no separate agg of
        # btot, no crossJoin broadcast (each was its own job and its
        # own re-derivation of the bucket frame)
        w_all = W.orderBy("bkt").rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )
        boff = btot.select(
            "bkt",
            F.coalesce(F.sum("bcnt").over(w_off), F.lit(0)).alias(
                "below_b"
            ),
            F.sum("bcnt").over(w_all).alias("n"),
        )
        w_in = W.partitionBy("bkt").orderBy("v_c")
        cum = (
            bkt.join(F.broadcast(boff), "bkt")
            .select(
                "v_c",
                (F.col("below_b") + F.sum("cnt").over(w_in)).alias(
                    "cum_n"
                ),
                "n",
            )
        )
        return cum.agg(
            F.max("n").alias("n_events"),
            rank(50).alias("p50_c"),
            rank(90).alias("p90_c"),
        )

    wk = cdf_quantiles(vc, ["week_idx"])
    # r12 (guide §2.4): the global leg consumes vc DIRECTLY — no
    # pre-merge groupBy("v_c") exchange. The within-bucket cumulative
    # window uses the default RANGE frame (orderBy with no explicit
    # frame ⇒ unboundedPreceding..currentRow over the ORDER key, ties
    # inclusive), so every row of value v already cumulates ALL (week,
    # v) rows ≤ v — bit-identical CDF, one exchange fewer, and rank()'s
    # min-over-when is indifferent to the duplicate v_c rows (equal
    # cum_n on ties).
    g = cdf_quantiles(vc, []).select(F.col("p50_c").alias("gp50_c"))
    return (
        wk.crossJoin(F.broadcast(g))
        .select(
            "week_idx",
            "n_events",
            "p50_c",
            "p90_c",
            "gp50_c",
            F.when(
                F.lit(5) * F.col("p50_c") > F.lit(6) * F.col("gp50_c"), "high"
            )
            .when(
                F.lit(5) * F.col("p50_c") < F.lit(4) * F.col("gp50_c"), "low"
            )
            .otherwise("normal")
            .alias("drift"),
        )
        # dimension-sized tail: single-partition sort, no range
        # exchange / sampling job (r9 VERDICT #5a; util.ordered_small)
        .coalesce(1)
        .sortWithinPartitions("week_idx")
    )
