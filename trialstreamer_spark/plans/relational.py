"""Core relational query plans — SURVEY.md §2.2-§2.6 operators re-expressed
as Catalyst-friendly DataFrame plans over the test corpus.

Each query cites the reference operator it covers (file:line under
/root/reference/). The reference runs these shapes as hand-written SQL on
PostgreSQL; here they are declarative DataFrame plans so Catalyst gets
predicate pushdown, column pruning, and join selection for free.

Float determinism: the correctness gate hash-compares values against a
DuckDB oracle, so float outputs must be bit-identical, not just close.
Decimal rounding of doubles is NOT portable (Spark rounds via BigDecimal
HALF_UP, DuckDB via libm — they disagree on .xx5 boundaries), so instead:

- money columns (exact 2-decimal doubles in this corpus) are summed as
  integer cents: ``CAST(ROUND(x*100) AS BIGINT)`` is exact on both engines
  because x*100 is within 1e-6 of an integer, never at a .5 boundary;
  integer sums are order-independent; and the final int→double division is
  a single deterministic IEEE op.
- averages are written SUM/COUNT explicitly (same expression both sides),
  never engine AVG (different accumulation).
- single products/passthroughs stay raw doubles — one IEEE op is
  bit-identical everywhere.

Scale notes (100 TB):
- filters/projections are expressed directly on the scan → parquet
  pushdown (check PushedFilters in .explain).
- fixed-cardinality dims (nation/region) and one-row aggregates broadcast
  explicitly; SF-scaled dims (customer/supplier/part) go through
  ``_sf_dim`` with NO hint so the join strategy stays size-dependent
  (broadcast under the threshold, shuffle/sort-merge at 100 TB).
- aggregations partial-aggregate map-side; groupBy keys are
  low-cardinality so shuffles stay tiny regardless of input size.
- top-k uses orderBy+limit → TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from trialstreamer_spark import util
from trialstreamer_spark.io import load
from trialstreamer_spark.plans.registry import query


def _cents(c: Column) -> Column:
    """Exact integer cents from a 2-decimal double (see module docstring)."""
    return F.round(c * 100, 0).cast("long")


def _conf_bytes(v: str) -> int:
    """Parse a Spark size conf value ('64MB', '10485760', '-1')."""
    v = v.strip().upper()
    for suf, m in (("KB", 1 << 10), ("MB", 1 << 20), ("GB", 1 << 30),
                   ("K", 1 << 10), ("M", 1 << 20), ("G", 1 << 30), ("B", 1)):
        if v.endswith(suf):
            return int(v[: -len(suf)]) * m
    return int(v)


#: Measured dim-leg rows are memoized per (session, expr-id-normalized
#: optimized plan, the leg's input files). The expr-id strip makes the
#: SAME leg built twice hash to one key, so the count job runs once per
#: session per corpus version; the files tell apart same-shaped legs of
#: two corpora, whose unwarmed plan strings carry no path, and tie the
#: entry to its corpus (a version bump under a file's dir evicts it —
#: util._key_references).
_EXPR_ID_RE = re.compile(r"#\d+L?")


def _leaf_scan_bytes(df: DataFrame) -> int:
    """Sum of the LEAF relation sizes under a plan — the honest size of
    a dimension leg. Needed because without CBO Spark's non-leaf size
    estimate is the PRODUCT of the children, so a dim chain like
    supplier⋈nation⋈region estimates astronomically large and never
    auto-broadcasts even when its tables total a few KB."""
    total = 0
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        n = node.children().size()
        if n == 0:
            v = node.stats().sizeInBytes()
            total += v if isinstance(v, int) else int(v.toString())
        else:
            for i in range(n):
                stack.append(node.children().apply(i))
    return total


def _sf_dim(df: DataFrame) -> DataFrame:
    """An SF-scaled dimension leg (customer / supplier / part / partsupp).

    The broadcast hint is SIZE-CONDITIONAL, never forced: these tables
    grow linearly with the scale factor, so an unconditional
    ``F.broadcast()`` would force an OOM-sized build side at 100 TB and
    bypass every size check. The leg's actual leaf-scan bytes (driver-
    side metadata — no job) are compared against the session's
    ``spark.sql.autoBroadcastJoinThreshold``: under it (every test SF)
    the hint is applied and the plan is the map-side join the bench
    shapes want; over it — or with broadcasting disabled — no hint, and
    the planner falls back to shuffle/sort-merge. Plain stats-based
    auto-broadcast cannot do this for composite dim legs (see
    _leaf_scan_bytes), which is why the hint exists at all.
    """
    spark = df.sparkSession
    try:
        cap = _conf_bytes(spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10MB"))
    except Exception:
        cap = 10 << 20
    if cap <= 0:
        return df
    try:
        if _leaf_scan_bytes(df) <= cap:
            return F.broadcast(df)
        # Leaf bytes over the cap does NOT mean the LEG is: a selective
        # categorical filter + narrow projection shrinks a dim far below
        # its table (sf10 measured: part filtered to one of 6 p_types
        # projects to 333k keys ≈ 5 MB from a >100 MB table). Without
        # the hint the planner shuffled ALL 60M lineitem rows for the
        # partkey join — the single cause of the TPC-H trio's sf10 gap
        # (r9 VERDICT #1; stage profile in SCALE.md round 10). Spend ONE
        # memoized count per (session, corpus, leg) — the dimension
        # statistics a deployed engine maintains anyway (ANALYZE TABLE)
        # — and hint by measured rows × estimated row width. Estimates
        # stay size-conditional: at sf100+ the measured leg outgrows the
        # cap and the hint correctly disappears.
        plan = _EXPR_ID_RE.sub(
            "", df._jdf.queryExecution().optimizedPlan().toString()
        )
        key = ("dim_leg_rows", plan, *sorted(df.inputFiles()))
        rows = util.memo(key, df.count, spark=spark)
        # Measured legs get 4× the session threshold: the 10 MB cap
        # exists to stop the PLANNER's unreliable estimates from
        # broadcasting fact projections, but a counted dim leg is a
        # known quantity, and the alternative to a 15-40 MB broadcast
        # build is shuffling the entire fact (sf10 measured:
        # cross_region_volume's 14 MB customer-region leg vs a 24M-row
        # fact exchange). At 1000 executors a 40 MB broadcast is 40 GB
        # of fan-out — still far below re-shuffling a 100 TB fact, and
        # the size-conditional check keeps OOM-sized builds impossible.
        if rows * (8 + 8 * len(df.columns)) <= 4 * cap:
            return F.broadcast(df)
    except Exception:
        pass
    return df


# Memoized per (session, sf_dir): [(n_nationkey, n_name, r_name)]. nation is
# SPEC-FIXED at 25 rows and region at 5 at EVERY scale factor (TPC-H
# dbgen — they do not grow with SF, so this holds at 100 TB), making
# the nation⋈region chain a dimension-bounded driver lookup like the
# ontology closure: ONE tiny collect per (session, corpus), then a
# plan-literal map for every later nation-chain query in the session.
# Replacing the per-query nation/region broadcast joins removes 1-3
# broadcast-build scheduler jobs from EVERY query that labels keys
# with a nation or region (r11; guide §2.4 / §3.1 — the cheapest
# exchange is the one that never enters the plan).
def _nation_region_rows(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str | None]]:
    """All nations with their names and region names (left join: a
    nation whose regionkey misses region carries r_name=None, so
    callers can reproduce inner-join drops exactly with an
    is-not-null guard)."""

    def build() -> list[tuple[int, str, str | None]]:
        n = load(spark, sf_dir, "nation")
        # A corpus without region.parquet, or whose nation carries no
        # n_regionkey, still serves nation-only consumers: the LEFT join
        # against nothing is r_name=NULL for every nation, which is
        # exactly what the is-not-null guards expect. The probe checks
        # those two absences directly (a file test and the schema
        # already read, no Spark job); anything else — a corrupted or
        # mis-schemed region table — fails loudly instead of reading as
        # empty regions.
        if (
            os.path.exists(os.path.join(sf_dir, "region.parquet"))
            and "n_regionkey" in n.columns
        ):
            sel = n.join(
                load(spark, sf_dir, "region"),
                F.col("n_regionkey") == F.col("r_regionkey"),
                "left",
            ).select("n_nationkey", "n_name", "r_name")
        else:
            sel = n.select(
                "n_nationkey",
                "n_name",
                F.lit(None).cast("string").alias("r_name"),
            )
        return [
            (x["n_nationkey"], x["n_name"], x["r_name"])
            for x in sel.collect()
        ]

    return util.memo(("nation_region_rows", sf_dir), build, spark=spark)


def _nation_name_of(spark: SparkSession, sf_dir: str, key_col) -> Column:
    """nationkey → n_name as a 25-entry literal map lookup (NULL for an
    unknown key — the exact rows an inner nation join would drop)."""
    rows = _nation_region_rows(spark, sf_dir)
    m = F.create_map(
        *[F.lit(v) for nk, nname, _ in rows for v in (nk, nname)]
    )
    return F.element_at(m, F.col(key_col) if isinstance(key_col, str) else key_col)


def _region_name_of(spark: SparkSession, sf_dir: str, key_col) -> Column:
    """nationkey → r_name through the nation⋈region chain as one
    literal map lookup (NULL when either hop would miss)."""
    rows = _nation_region_rows(spark, sf_dir)
    entries = [
        v for nk, _, rname in rows if rname is not None for v in (nk, rname)
    ]
    if not entries:
        return F.lit(None).cast("string")
    m = F.create_map(*[F.lit(v) for v in entries])
    return F.element_at(m, F.col(key_col) if isinstance(key_col, str) else key_col)


# ---------------------------------------------------------------------------
# A1 — conditional aggregation (materialized-view shape, dbutil.py:179-186)
# Flagship: TPC-H-Q1-shaped pricing summary on lineitem.
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS BIGINT)                        AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) / 100.0
                                                                  AS sum_base_price,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) / 10000.0
                                                                  AS sum_disc_price,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount*100) AS BIGINT))
                    * (100 + CAST(ROUND(l_tax*100) AS BIGINT))) AS BIGINT) / 1000000.0
                                                                  AS sum_charge,
           SUM(l_quantity) / COUNT(*)                              AS avg_qty,
           (CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) / 100.0)
               / COUNT(*)                                          AS avg_price,
           (CAST(SUM(CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT) / 100.0)
               / COUNT(*)                                          AS avg_disc,
           COUNT(*)                                                AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregate over the fact table (ref dbutil.py:179-186 —
    the pubmed_year_counts matview shape). Filter reaches the parquet scan;
    8 aggregates share one shuffle on a 6-group key."""
    l = load(spark, sf_dir, "lineitem")
    price_c = _cents(F.col("l_extendedprice"))
    disc_pct = _cents(F.col("l_discount"))  # 0..100 integer percent
    tax_pct = _cents(F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            (F.sum(price_c) / 100.0).alias("sum_base_price"),
            (F.sum(price_c * (100 - disc_pct)) / 10000.0).alias("sum_disc_price"),
            (F.sum(price_c * (100 - disc_pct) * (100 + tax_pct)) / 1000000.0).alias(
                "sum_charge"
            ),
            (F.sum("l_quantity") / F.count("*")).alias("avg_qty"),
            ((F.sum(price_c) / 100.0) / F.count("*")).alias("avg_price"),
            ((F.sum(disc_pct) / 100.0) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        # dimension-sized tail: single-partition sort, no range
        # exchange / sampling job (r9 VERDICT #5a; util.ordered_small)
        .coalesce(1)
        .sortWithinPartitions("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# A1/A2 — year counts with boolean-conditional sums (dbutil.py:179-188)
# ---------------------------------------------------------------------------


@query(
    "year_counts",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER)                      AS year,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           CAST(SUM(CASE WHEN o_orderstatus IN ('F','O') THEN 1 ELSE 0 END) AS BIGINT) AS n_closed_or_open,
           COUNT(*)                                                AS n_total,
           CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
    FROM orders
    WHERE year(o_orderdate) >= 1992
    GROUP BY 1
    ORDER BY 1
    """,
)
def year_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-year conditional counts (ref dbutil.py:179-186: sum(case
    is_rct_precise …), count(*), round(count*avg)). Year filter prunes at
    scan; low-cardinality key → map-side partial aggregation collapses the
    shuffle to a handful of rows per partition."""
    o = load(spark, sf_dir, "orders").withColumn(
        "year", F.year("o_orderdate").cast("int")
    )
    return (
        o.filter(F.col("year") >= 1992)
        .groupBy("year")
        .agg(
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
                "n_finished"
            ),
            F.sum(
                F.when(F.col("o_orderstatus").isin("F", "O"), 1).otherwise(0)
            ).alias("n_closed_or_open"),
            F.count("*").alias("n_total"),
            (F.sum(_cents(F.col("o_totalprice"))) / 100.0).alias("total_value"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("year")
    )


# ---------------------------------------------------------------------------
# F1/F2/F6/F8 — flag filters + computed projection (cnxapp.py:210-214,
# pubmed.py:594)
# ---------------------------------------------------------------------------


@query(
    "flag_filter_projection",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS year,
           o_orderpriority,
           o_totalprice * 0.9                 AS discounted_price
    FROM orders
    WHERE o_orderstatus = 'O' AND o_orderpriority LIKE '1-%'
    """,
)
def flag_filter_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive flag filter + computed column (ref cnxapp.py:210-214:
    is_rct_balanced AND is_human, prob_low_rob*num_randomized AS score).
    Both predicates push to the parquet scan (PushedFilters: EqualTo,
    StringStartsWith); only 4 columns are read (ReadSchema pruning).
    The product stays a raw double — one IEEE op, bit-identical on both
    engines."""
    o = load(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "O") & F.col("o_orderpriority").startswith("1-")
    ).select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("year"),
        "o_orderpriority",
        (F.col("o_totalprice") * 0.9).alias("discounted_price"),
    )


# ---------------------------------------------------------------------------
# J1 + F8 + T1 — the flagship search join + score top-k (cnxapp.py:210-219)
# ---------------------------------------------------------------------------


@query(
    "core_join_topk",
    oracle="""
    SELECT o.o_orderkey, c.c_name,
           o.o_totalprice * c.c_acctbal         AS score,
           CAST(year(o.o_orderdate) AS INTEGER) AS year
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    ORDER BY o.o_totalprice * c.c_acctbal DESC NULLS LAST, o.o_orderkey
    LIMIT 250
    """,
)
def core_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The picosearch core: filtered fact ⋈ dimension, computed score,
    ORDER BY score DESC NULLS LAST LIMIT 250 (ref cnxapp.py:210-219 with
    score = prob_low_rob*num_randomized). The dimension side is broadcast
    (customer ≈ 1.5% of orders rows) so the join is shuffle-free; the
    top-k compiles to TakeOrderedAndProject — no global sort. Tiebreaker
    o_orderkey pins the selected set under score ties (SURVEY §7.4)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    score = F.col("o_totalprice") * F.col("c_acctbal")
    return (
        o.join(_sf_dim(c), o.o_custkey == c.c_custkey)
        .select(
            "o_orderkey",
            "c_name",
            score.alias("score"),
            F.year("o_orderdate").cast("int").alias("year"),
        )
        .orderBy(F.col("score").desc_nulls_last(), F.col("o_orderkey"))
        .limit(250)
    )


# ---------------------------------------------------------------------------
# U1 — multi-source union with per-source tags (cnxapp.py:221-313)
# ---------------------------------------------------------------------------


@query(
    "multi_source_union",
    oracle="""
    SELECT CAST(o_orderkey AS VARCHAR) AS id,
           CAST(year(o_orderdate) AS INTEGER) AS year,
           'orders' AS article_type
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT CAST(event_id AS VARCHAR) AS id,
           CAST(year(ts) AS INTEGER) AS year,
           'events' AS article_type
    FROM events WHERE event_type = 'click'
    """,
)
def multi_source_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source result legs tagged and unioned (ref cnxapp.py:221-313:
    pubmed + ictrp + medrxiv legs tagged article_type). unionByName keeps
    the legs independent — each leg's filter pushes to its own scan and the
    union is a no-shuffle concatenation of partitions."""
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            F.col("o_orderkey").cast("string").alias("id"),
            F.year("o_orderdate").cast("int").alias("year"),
            F.lit("orders").alias("article_type"),
        )
    )
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").cast("string").alias("id"),
            F.year("ts").cast("int").alias("year"),
            F.lit("events").alias("article_type"),
        )
    )
    return o.unionByName(e)


# ---------------------------------------------------------------------------
# A4/A5 — max-by watermark read (dbutil.py:252-264; ictrp.py:270-286)
# ---------------------------------------------------------------------------


@query(
    "latest_per_type",
    oracle="""
    SELECT event_type,
           max_by(event_id, ts) AS latest_event_id,
           epoch_us(MAX(ts))    AS last_ts_us,
           COUNT(*)             AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def latest_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark read: latest row per update_type (ref dbutil.py:252-264
    ORDER BY source_date DESC LIMIT 1). max_by is a single-pass aggregate —
    no window, no sort; at 100 TB this is one shuffle on a ~5-value key."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.max_by("event_id", "ts").alias("latest_event_id"),
            F.unix_micros(F.max("ts")).alias("last_ts_us"),
            F.count("*").alias("n"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("event_type")
    )


# ---------------------------------------------------------------------------
# A6 — co-occurrence top-k over exploded terms (nb/testing pico mesh
# search.ipynb: Counter(...).most_common(30))
# ---------------------------------------------------------------------------


@query(
    "word_cooccurrence_topk",
    oracle="""
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE length(word) > 1
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 30
    """,
)
def word_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode → count → top-k (ref: mesh-term co-occurrence counts,
    SURVEY A6). explode is a narrow transformation; the count groupBy
    partial-aggregates map-side so the shuffle carries one row per distinct
    term per partition, not one per token."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.length("word") > 1)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(30)
    )


# ---------------------------------------------------------------------------
# F12/J6 — regex extraction + per-row distinct explode (ictrp.py:31-52,
# 413-418)
# ---------------------------------------------------------------------------


@query(
    "regex_extract_explode",
    oracle="""
    SELECT doc_id, term
    FROM (SELECT doc_id,
                 unnest(list_distinct(regexp_extract_all(text, '[a-z]{6,}'))) AS term
          FROM documents)
    ORDER BY doc_id, term
    """,
)
def regex_extract_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry-ID regex scan of abstracts → distinct per-row link table
    (ref ictrp.py:413-418: set(registry_ids) ∪ regex_findall(ab) exploded
    to (pmid, regid) rows). regexp_extract_all + array_distinct + explode
    are all narrow ops — zero shuffle until the final order (dropped in
    production; kept here for deterministic comparison)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.regexp_extract_all(F.col("text"), F.lit("[a-z]{6,}"), 0)
                )
            ).alias("term"),
        )
        .orderBy("doc_id", "term")
    )


# ---------------------------------------------------------------------------
# F14 — keep-last dedupe by key (pubmed.py:492-504)
# ---------------------------------------------------------------------------


@query(
    "keep_last_dedupe",
    oracle="""
    SELECT user_id, event_id, event_type, value
    FROM (SELECT *,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    ORDER BY user_id
    """,
)
def keep_last_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins dedupe per key (ref pubmed.py:492-504: reversed
    batch, first occurrence per pmid kept). Window row_number over
    (key, order desc) — exactly the merge-dedupe step the streaming
    pipeline runs inside foreachBatch before MERGE. One shuffle on the
    dedupe key; at scale this key is the table's bucket key so the
    shuffle disappears under bucketed storage."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# F15/U2 — anti-join skip list (pubmed.py:446-452; mendeley.py:77-87)
# ---------------------------------------------------------------------------


@query(
    "anti_join_skiplist",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def anti_join_skiplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-list anti-filter (ref pubmed.py:446-452: skip pmids already in
    pubmed ∪ pubmed_excludes). left_anti against the (small) key set —
    broadcast, so the probe is map-side with no shuffle of the big side."""
    e = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer").select("c_custkey")
    return (
        e.join(_sf_dim(c), e.user_id == c.c_custkey, "left_anti")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(_cents(F.col("value"))) / 100.0).alias("total_value"),
        )
        # dimension-sized tail: single-partition sort, no range
        # exchange / sampling job (r9 VERDICT #5a; util.ordered_small)
        .coalesce(1)
        .sortWithinPartitions("event_type")
    )


# ---------------------------------------------------------------------------
# Sessionization — gap-based sessions (north-star extension; SURVEY §2.9)
# ---------------------------------------------------------------------------


@query(
    "sessionize",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                  OR lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM gaps
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + flag + count.
    The batch analog of streaming session_window(ts, gap). One shuffle on
    user_id shared by the window and the groupBy (same key → Catalyst
    reuses the partitioning, no second exchange)."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts"))
    gap = ts_us - F.lag(ts_us).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    return (
        e.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Streaming-analog tumbling window aggregate (SURVEY §2.9; the batch
# equivalent of the Structured Streaming hourly rollup)
# ---------------------------------------------------------------------------


@query(
    "event_window_agg",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) / 100.0 AS total_value,
           (CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) / 100.0) / COUNT(*)
               AS avg_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def event_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate (batch form of the streaming hourly
    rollup in trialstreamer_spark.streaming). date_trunc is used instead of
    F.window here purely for oracle comparability — the streaming module
    uses F.window + watermark. Low-cardinality composite key → cheap
    shuffle at any scale."""
    e = load(spark, sf_dir, "events")
    value_c = _cents(F.col("value"))
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            (F.sum(value_c) / 100.0).alias("total_value"),
            ((F.sum(value_c) / 100.0) / F.count("*")).alias("avg_value"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# A10/U4 — distinct aggregation + recency top-k (ictrp_csv.py:269-271;
# cnxapp.py:218-219)
# ---------------------------------------------------------------------------


@query(
    "recency_topk",
    oracle="""
    SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
    FROM events
    ORDER BY ts DESC, event_id DESC
    LIMIT 250
    """,
)
def recency_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency top-k (ref cnxapp.py:218-219: ORDER BY year DESC NULLS LAST
    LIMIT 250). TakeOrderedAndProject; event_id tiebreaker pins ties."""
    e = load(spark, sf_dir, "events")
    return (
        e.select(
            "event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
        )
        .orderBy(F.col("ts_us").desc(), F.col("event_id").desc())
        .limit(250)
    )


@query(
    "distinct_pairs",
    oracle="""
    SELECT DISTINCT lang, source FROM documents ORDER BY lang, source
    """,
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set aggregation (ref ictrp_csv.py:269-271:
    list(set(countries))). distinct() = groupBy-all-cols; partial
    aggregation collapses duplicates map-side before the shuffle."""
    d = load(spark, sf_dir, "documents")
    return d.select("lang", "source").distinct().orderBy("lang", "source")


@query(
    "topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, price_cents, rn
    FROM (
      SELECT o_orderpriority, o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
             CAST(row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT) DESC,
                        o_orderkey) AS INTEGER) AS rn
      FROM orders
    )
    WHERE rn <= 2
    ORDER BY o_orderpriority, rn
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group — the windowed generalization of the reference's
    global ORDER BY/LIMIT rankings (T1/A6). At scale: one shuffle on the
    group key; WindowGroupLimit truncates rank>k rows MAP-SIDE, so the
    shuffle carries only k rows per group per map slice. Prices compared
    as integer cents so ordering (and thus the selected set) is
    identical across engines.

    A max-struct cascade (rank 1 = hash max(struct(price, -key)), rank 2
    = the same max over the rows beaten by the broadcast-back champion)
    was measured as the alternative and LOST at both sf0.1 and sf1
    (0.62/0.57 s vs 0.34/0.32 s): this plan's former 1.8 s sf1 straggler
    was a cached-scan partition-skew artifact (one 1M-row row group in an
    otherwise-empty layout — fixed in io.warm_cache), not the per-slice
    sort, and the cascade's second scan + join overhead costs more than
    a 32-way-parallel bounded sort saves."""
    o = load(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    cents = _cents(F.col("o_totalprice"))
    w = W.partitionBy("o_orderpriority").orderBy(
        cents.desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            cents.alias("price_cents"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 2)
        # k·|priority domain| ≤ 10 rows survive the group limit, so the
        # total order comes from a single-partition sort — skipping the
        # range-partitioner's sampling job + exchange that a global
        # orderBy would schedule for a bounded-size result.
        .coalesce(1)
        .sortWithinPartitions("o_orderpriority", "rn")
    )


@query(
    "match_rate_pivot",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN regexp_matches(text, '[0-9]') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_digit,
           CAST(SUM(CASE WHEN regexp_matches(text, '[0-9]') THEN 0 ELSE 1 END)
                AS BIGINT) AS n_without_digit
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def match_rate_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-match-rate pivot (ref A7, nb/'analysis of how many trials
    … registry ID': per group, counts of texts with and without a regex
    hit). Conditional sums — map-side partial aggregation makes the
    shuffle carry one row per group."""
    d = load(spark, sf_dir, "documents")
    hit = F.col("text").rlike("[0-9]")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(hit, 1).otherwise(0)).alias("n_with_digit"),
            F.sum(F.when(hit, 0).otherwise(1)).alias("n_without_digit"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


@query(
    "price_quantiles",
    oracle="""
    SELECT o_orderpriority,
           CAST(quantile_disc(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.5)
                AS BIGINT) AS p50_cents,
           CAST(quantile_disc(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.9)
                AS BIGINT) AS p90_cents
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete quantiles per group (corpus distribution stats a
    training-data pipeline reports). percentile_disc (first value whose
    cume_dist ≥ p — same rule as DuckDB quantile_disc) over the
    integer-cents domain is engine-identical; interpolating percentile()
    is NOT (verified mismatch). For 100 TB switch to approx_percentile
    with a declared error bound — the plan shape is unchanged."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderpriority", _cents(F.col("o_totalprice")).alias("cents"))
        .groupBy("o_orderpriority")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
            .cast("long")
            .alias("p50_cents"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)")
            .cast("long")
            .alias("p90_cents"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("o_orderpriority")
    )


@query(
    "langs_per_source",
    oracle="""
    SELECT source, array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs
    FROM documents GROUP BY source ORDER BY source
    """,
)
def langs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted distinct-set aggregation per group (A10 generalization:
    list(set(countries))). collect_set + sort_array — the set collapses
    map-side, so the shuffle carries one small array per group."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.array_join(F.sort_array(F.collect_set("lang")), ",").alias("langs")
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("source")
    )


@query(
    "like_filter_topk",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE lower(p_name) LIKE '%green%'
    ORDER BY p_partkey
    LIMIT 100
    """,
)
def like_filter_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE/contains filter (SURVEY F10 — the reference's
    ``lower(ti) like '%basal cell carcinoma%'`` notebook query).
    ``contains`` on a lowered column compiles to a pushable
    StringContains predicate — check PushedFilters — so the scan skips
    row groups whose min/max exclude the substring's presence only via
    dictionary filtering; the residual filter is codegen."""
    p = load(spark, sf_dir, "part")
    return (
        p.filter(F.lower(F.col("p_name")).contains("green"))
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy("p_partkey")
        .limit(100)
    )


@query(
    "set_difference",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey FROM orders
    ORDER BY c_custkey
    """,
)
def set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (SURVEY U2 — mendeley.py:77-87 ``pmids_todo -
    pmids_done``): customers who never placed an order, as a left_anti
    join on the key. EXCEPT ≡ plain anti-join here because c_custkey is
    UNIQUE (table primary key): the probe side is already distinct, so
    the distinct-above-anti-join the round-6 verdict flagged was a pure
    extra exchange+aggregate over the survivor set and is gone (the
    round-8 rehearsal measured it at 5.8x DuckDB; EXCEPT's dedup
    semantics are vacuous on unique keys). The anti-join shuffles only
    the key column; at 100 TB both sides bucket by the key and the
    anti-join co-locates.

    Round-10: on the custkey bucket layouts the anti-join is a
    CO-LOCATED sort-merge anti (zero exchange, zero build) — the plain
    path previously BROADCAST the orders-side key projection, i.e. a
    fact-derived build side that grows with the corpus (1.5M keys /
    tens of MB at sf1; lethal at 100 TB). Fallback keeps the plain
    anti-join but the bucket path is the deployed one."""
    from trialstreamer_spark.io import bucketed_table

    cb = bucketed_table(spark, sf_dir, "customer_by_custkey")
    ob = bucketed_table(spark, sf_dir, "orders_by_custkey")
    c = cb if cb is not None else load(spark, sf_dir, "customer")
    o = ob if ob is not None else load(spark, sf_dir, "orders")
    probe = o.select(F.col("o_custkey").alias("c_custkey"))
    if cb is not None and ob is not None:
        probe = probe.hint("merge")
    return (
        c.select("c_custkey")
        .join(
            probe,
            "c_custkey",
            "left_anti",
        )
        # output is corpus-scaled (every order-less customer) and there
        # is no shuffle below the sort on the bucket path — a
        # coalesce(1) would serialize the merge-anti stage, so keep the
        # parallel range sort.
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Grouping-sets subtotals, moving-window analytics, and JSON-path
# extraction (generalizations of A1/A7 pivots, A8 run statistics, and the
# F5-F7 JSON surface onto the events/orders tables)
# ---------------------------------------------------------------------------


@query(
    "rollup_priority_status",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM orders
    GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
    ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
)
def rollup_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP(priority, status): detail rows,
    per-priority subtotals, and the grand total in one pass. Spark
    expands grouping sets inside a single aggregate (Expand operator →
    one shuffle, map-side partials per set) — no self-union of three
    aggregations. NULLS FIRST is pinned on both engines: Spark's default
    asc ordering is nulls-first, DuckDB's is nulls-last."""
    o = load(spark, sf_dir, "orders")
    cents = _cents(F.col("o_totalprice"))
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("n"), F.sum(cents).alias("value_cents"))
        # |priorities × statuses| + subtotal rows: bounded tail, no
        # range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions(
            F.asc_nulls_first("o_orderpriority"),
            F.asc_nulls_first("o_orderstatus"),
        )
    )


@query(
    "moving_avg_user_value",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS win_cents,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS win_n
    FROM events
    ORDER BY event_id
    """,
)
def moving_avg_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-window aggregate (last-4-events running sum/count per
    user) — the sliding-frame complement of sessionize's lag frame and
    the streaming hourly rollup's tumbling frame. One shuffle on
    user_id; the frame is evaluated incrementally inside the window
    operator. Cents keep the sum exact across engines."""
    e = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, W.currentRow)
    )
    cents = _cents(F.col("value"))
    return (
        e.select(
            "event_id",
            "user_id",
            F.sum(cents).over(w).alias("win_cents"),
            F.count("*").over(w).alias("win_n"),
        )
        .orderBy("event_id")
    )


@query(
    "json_props_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path extraction over the events.props string column (the
    F5-F7 JSON surface applied to the stream table): $.k is pulled with
    get_json_object scan-side and aggregated per event type. At scale
    the JSON parse happens once per row inside the scan stage's
    projection; only (type, partials) shuffle."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("event_type")
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS ts1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS ts2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.ts1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS ts3
      FROM events e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.ts2
      GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 1 AS stage_idx, 'view' AS stage,
             CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
      UNION ALL
      SELECT 2, 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
      UNION ALL
      SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
    ) ORDER BY stage_idx
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis over the event stream: users whose first
    'view' precedes a 'click' precedes a 'purchase' (strict event-time
    ordering, the product-analytics staple). Each stage is a per-user
    conditional MIN chained on the previous stage's timestamp.

    Scale shape (r11, guide §2.4): ONE scan of the three funnel types
    and ONE user_id exchange serve the whole chain. The old shape built
    each stage as filter → join(previous) → groupBy, and because every
    stage's plan NESTS the previous stage's subtree, the executed plan
    scanned events SIX times and recomputed stage 1 three times and
    stage 2 twice (warm-cache AQE hides this at bench — 1 job — but at
    100 TB it is six parquet scans and three shuffles for a one-scan
    computation). Now three chained window MINs on the same
    HashPartitioning(user_id) compute ts1/ts2/ts3 in place — each is a
    per-user constant, so the per-user reduction afterwards rides the
    same exchange — and each user explodes into the stage indices it
    reached (the containment_pairs_capped direction-array device).
    Per-stage state is one timestamp per user, exactly as before."""
    from pyspark.sql import Window as W_

    e = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click", "purchase")
    )
    wu = W_.partitionBy("user_id")
    staged = (
        e.select("user_id", "event_type", "ts")
        .withColumn(
            "ts1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(
                wu
            ),
        )
        .withColumn(
            "ts2",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("ts1")),
                    F.col("ts"),
                )
            ).over(wu),
        )
        .withColumn(
            "ts3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("ts2")),
                    F.col("ts"),
                )
            ).over(wu),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.min("ts1").alias("ts1"),
        F.min("ts2").alias("ts2"),
        F.min("ts3").alias("ts3"),
    )
    # an EMPTY stage still emits its row with n_users=0 (the oracle's
    # scalar subqueries always produce 3 rows — a funnel where nobody
    # converts must not drop the stage), hence the left join onto the
    # static stage dim
    from trialstreamer_spark.util import inline_rows

    reached = F.filter(
        F.array(
            F.when(F.col("ts1").isNotNull(), F.lit(1)),
            F.when(F.col("ts2").isNotNull(), F.lit(2)),
            F.when(F.col("ts3").isNotNull(), F.lit(3)),
        ),
        lambda x: x.isNotNull(),
    )
    counts = (
        per_user.select(F.explode(reached).alias("stage_idx"))
        .groupBy("stage_idx")
        .agg(F.count("*").alias("n"))
    )
    stages = inline_rows(
        spark,
        [(1, "view"), (2, "click"), (3, "purchase")],
        [("stage_idx", "int"), ("stage", "string")],
    )
    return (
        stages.join(counts, "stage_idx", "left")
        .select(
            "stage_idx",
            "stage",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_users"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("stage_idx")
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH first AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    )
    SELECT epoch_us(f.cohort) AS cohort_week_us,
           (epoch_us(a.wk) - epoch_us(f.cohort)) // 604800000000
             AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM first f JOIN activity a ON a.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY cohort_week_us, week_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-activity
    week, counted in each subsequent week they were active — the
    engagement rollup every event warehouse serves. Week offsets are
    exact integer arithmetic on epoch micros of week-truncated
    timestamps (no float date math to drift across engines).

    Scale shape: ONE user_id rollup carrying both statistics — min(ts)
    AND the distinct-week set (calendar-bounded per user, so collect_set
    is ≤ |weeks| elements regardless of event volume) — then explode +
    a (weeks × offsets)-sized rollup on one partition. The r9 shape ran
    the two arms as separate aggregates joined on user_id, which
    scanned and shuffled the fact twice."""
    e = load(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.collect_set(F.date_trunc("week", F.col("ts"))).alias("wks"),
    )
    return (
        per.select(
            F.unix_micros(F.date_trunc("week", F.col("first_ts"))).alias(
                "cohort_week_us"
            ),
            F.explode("wks").alias("wk"),
        )
        .select(
            "cohort_week_us",
            F.expr(
                "(unix_micros(wk) - cohort_week_us) div 604800000000"
            ).alias("week_offset"),
        )
        .groupBy("cohort_week_us", "week_offset")
        .agg(F.count("*").alias("n_active"))
        # dimension-sized tail: single-partition sort, no range
        # exchange / sampling job (r9 VERDICT #5a; util.ordered_small)
        .coalesce(1)
        .sortWithinPartitions("cohort_week_us", "week_offset")
    )


@query(
    "regional_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue_cents DESC, nation
    """,
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped multi-way join: revenue by nation for one region
    and a two-year order window — the optimizer showcase query. Catalyst
    is left to order the five-way join itself; the plan it picks (and
    the one that survives 100 TB) broadcasts the region->nation->customer
    dim chain into the orders/lineitem fact join, with the date filter
    pushed to the orders scan so partition pruning applies on a
    date-partitioned warehouse.

    Revenue is per-row rounded to integer cents THEN summed (the
    engine-parity float discipline: IEEE multiplication is deterministic
    per row; only float SUMS are accumulation-order-dependent).

    r11 residual (sf1, 100 ms/job floor): 0.47 s / 5 jobs = 0.375 s
    floor — essentially scheduler-bound; the r10 weak-tail 0.85 s row
    was session heat. Remaining exchanges: three dim broadcasts + the
    |nations| rollup, all required."""
    from trialstreamer_spark.io import bucketed_table

    # nation⋈region folded to 25-entry literal maps on c_nationkey
    # (_nation_region_rows, r11): the customer leg arrives pre-filtered
    # to the region WITH its nation label — two broadcast-build jobs
    # gone, and the region predicate now prunes the fact at the custkey
    # join instead of after it.
    c = (
        load(spark, sf_dir, "customer")
        .where(_region_name_of(spark, sf_dir, "c_nationkey") == "ASIA")
        .select(
            "c_custkey",
            _nation_name_of(spark, sf_dir, "c_nationkey").alias("nation"),
        )
    )
    ob = bucketed_table(spark, sf_dir, "orders_by_orderkey")
    lb = bucketed_table(spark, sf_dir, "lineitem_by_orderkey")
    o = (ob if ob is not None else load(spark, sf_dir, "orders")).where(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    l = lb if lb is not None else load(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    if lb is not None and ob is not None:
        # the one fact-fact leg rides the shared orderkey bucket layout —
        # co-located merge, no exchange on either fact at any SF
        l = l.hint("merge")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(_sf_dim(c), o.o_custkey == c.c_custkey)
        .groupBy("nation")
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
        # dimension-sized tail: single-partition sort, no range
        # exchange / sampling job (r9 VERDICT #5a; util.ordered_small)
        .coalesce(1)
        .sortWithinPartitions(F.col("revenue_cents").desc(), F.col("nation"))
    )


@query(
    "histogram_quantiles",
    oracle="""
    WITH b AS (
      SELECT CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT bucket, c,
             SUM(c) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(c) OVER () AS total
      FROM b
    )
    SELECT q.p,
           MIN(cum.bucket * 1000) AS quantile_lower_bound
    FROM (SELECT unnest([50, 90, 99]) AS p) q
    JOIN cum ON cum.cum_c * 100 >= CAST(q.p AS BIGINT) * cum.total
    GROUP BY q.p
    ORDER BY q.p
    """,
)
def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (P50/P90/P99 of order totals) from a
    fixed-width histogram sketch — the quantile path that scales where
    exact sort-based percentiles (price_quantiles) cannot: the shuffle
    carries one (bucket, count) row per bucket per partition, bounded by
    the histogram width regardless of row count, and the quantile is the
    first bucket whose cumulative count crosses p% (exact integer
    comparison — no float rank interpolation to drift across engines).
    Engine-portable alternative to approx_percentile/t-digest, whose
    sketch internals differ per engine and cannot oracle-check."""
    o = load(spark, sf_dir, "orders")
    from pyspark.sql import Window as W
    from trialstreamer_spark.util import inline_rows

    b = (
        o.select(
            F.floor(F.col("o_totalprice") / 1000).cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("c"))
        # bucket domain is bounded by the price range (~400 rows at any
        # SF): collapse to one partition HERE so the cumulative window,
        # the probe join, the per-p rollup, and the final sort all run
        # exchange-free (SinglePartition satisfies every downstream
        # required distribution) — one shuffle total (r9 VERDICT #5).
        .coalesce(1)
    )
    cum = b.select(
        "bucket",
        F.sum("c").over(W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)).alias("cum_c"),
        F.sum("c").over(W.partitionBy()).alias("total"),
    )
    ps = inline_rows(spark, [(50,), (90,), (99,)], [("p", "int")])
    return (
        cum.join(F.broadcast(ps), cum.cum_c * 100 >= ps.p.cast("long") * cum.total)
        .groupBy("p")
        .agg(F.min(F.col("bucket") * 1000).alias("quantile_lower_bound"))
        .sortWithinPartitions("p")
    )


@query(
    "shipping_priority_topk",
    oracle="""
    SELECT l.l_orderkey AS orderkey,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(epoch_us(o.o_orderdate) AS BIGINT) AS orderdate_us,
           o.o_orderpriority AS orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1996-01-01'
      AND l.l_shipdate  > TIMESTAMP '1996-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue_cents DESC, orderkey
    LIMIT 10
    """,
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority query: unshipped-revenue top-10
    over customer ⋈ orders ⋈ lineitem with selective filters on all
    three inputs. Catalyst orders the join; the plan that survives
    100 TB broadcasts the filtered customer-segment dim into the
    orders join, keeps the date predicates pushed into both fact scans
    (partition pruning on a date-partitioned warehouse), and finishes
    with TakeOrderedAndProject — no global sort. The fact-fact leg
    rides the shared orderkey bucket layout when prepared (co-located
    merge, no exchange on either fact). Revenue uses the per-row
    round-to-cents-then-sum discipline (see regional_revenue).
    Timestamps leave as epoch micros per the registry conventions."""
    from trialstreamer_spark.io import bucketed_table

    c = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    ob = bucketed_table(spark, sf_dir, "orders_by_orderkey")
    lb = bucketed_table(spark, sf_dir, "lineitem_by_orderkey")
    o = (ob if ob is not None else load(spark, sf_dir, "orders")).where(
        F.col("o_orderdate") < "1996-01-01"
    )
    l = (lb if lb is not None else load(spark, sf_dir, "lineitem")).where(
        F.col("l_shipdate") > "1996-01-01"
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    if lb is not None and ob is not None:
        l = l.hint("merge")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(_sf_dim(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.unix_micros("o_orderdate").alias("orderdate_us"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .agg(F.sum(cents).alias("revenue_cents"))
        .select("orderkey", "revenue_cents", "orderdate_us", "orderpriority")
        .orderBy(F.col("revenue_cents").desc(), F.col("orderkey"))
        .limit(10)
    )


#: Salt fan-out for the manual skew-join pattern below.
SKEW_SALT = 4


@query(
    "salted_skew_join_totals",
    oracle="""
    SELECT e.user_id, c.c_name AS name,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY e.user_id, c.c_name
    ORDER BY user_id
    """,
)
def salted_skew_join_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual key-salting, the skew valve for joins AQE can't fix
    (stream-static joins, dims too large to broadcast, pre-AQE runtimes):
    the dim side is replicated SKEW_SALT times with an explicit salt
    column, the fact side routes each row to one replica
    (event_id % SKEW_SALT — any per-row deterministic spreader works),
    and the join key becomes (user_id, salt) so one hot user's rows land
    on SKEW_SALT partitions instead of one straggler.

    The ORACLE is the plain unsalted join — salting is a physical
    routing trick and must be result-invariant; the driver hash-compare
    proves exactly that. The aggregation salts away too: the per-user
    rollup re-merges the replicas' partial counts (map-side combine
    keeps the extra shuffle rows bounded by users × salt).

    In THIS engine's own queries AQE skew-join handles the relational
    paths (session.py enables it) — this operator documents and tests
    the manual pattern for the cases above.

    r11 residual (sf1, 100 ms/job floor): 0.75-0.85 s / 5 jobs = 0.375 s
    floor. The ~19x vs the oracle is structural, not a plan defect: the
    oracle runs the PLAIN unsalted join (0.04 s) while this plan pays
    the salting price on purpose — SKEW_SALT-way dim replication and a
    (user, salt)-keyed exchange — which only pays off under real key
    skew. The two-phase partial agg added this round bounds the join
    input at |users| x salt instead of |events| (0.91 -> 0.75 s)."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "value",
        (F.col("event_id") % SKEW_SALT).alias("salt"),
    )
    c = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .select(
            "*",
            F.explode(
                F.array(*[F.lit(s) for s in range(SKEW_SALT)])
            ).alias("salt"),
        )
    )
    cents = F.round(F.col("value") * 100).cast("long")
    # Salted TWO-PHASE aggregation first: collapse the fact to one
    # partial per (user_id, salt) BEFORE the join — the hot user's rows
    # still spread over SKEW_SALT reducers (the skew valve this operator
    # documents), but the join then probes ≤ users × salt partials
    # instead of every fact row (r11: measured 1.07 s -> ~0.5 s at sf1;
    # at 100 TB the join input drops from |events| to |users| × salt).
    ep = e.groupBy("user_id", "salt").agg(
        F.count("*").alias("pn"), F.sum(cents).alias("pc")
    )
    return (
        ep.join(
            c,
            (F.col("user_id") == F.col("c_custkey"))
            & (ep.salt == c.salt),
        )
        .groupBy("user_id", F.col("c_name").alias("name"))
        .agg(
            F.sum("pn").alias("n_events"),
            F.sum("pc").alias("total_cents"),
        )
        # output is one row per ACTIVE USER — customer-table-scaled, not
        # dimension-sized (io.py's bucket note: customer is NOT
        # broadcastable at 100 TB), so a coalesce(1) here would funnel a
        # corpus-sized result through one task (r10 ADVICE). Keep the
        # parallel range sort, matching set_difference's treatment.
        .orderBy("user_id")
    )


@query(
    "join_explosion_audit",
    oracle="""
    WITH oc AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    ),
    ec AS (
      SELECT user_id % 1000 AS k, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id % 1000
    )
    SELECT oc.k AS join_key, oc.n_orders, ec.n_events,
           oc.n_orders * ec.n_events AS out_rows
    FROM oc JOIN ec ON oc.k = ec.k
    ORDER BY out_rows DESC, join_key
    LIMIT 10
    """,
)
def join_explosion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join output-cardinality audit: |A ⋈_k B| = Σ_k cnt_A(k)·cnt_B(k),
    exactly, from per-key counts alone — the check a pipeline runs BEFORE
    launching a join whose output might be quadratic in a hot key (the
    many-to-many trap behind most 100 TB job blowups). Returns the top
    contributing keys with both sides' multiplicities and their product;
    the full-audit variant sums `out_rows` for the total estimate.

    Scale shape: each side collapses to (key, count) with map-side
    partial aggregation BEFORE any join — the audit's own join is over
    two key-cardinality-sized tables, orders of magnitude smaller than
    the data join it predicts; the top-k is TakeOrderedAndProject. The
    key overlap here (custkey vs bucketed user_id) is synthetic but the
    shape is the production one: fact × fact on a shared key."""
    o = load(spark, sf_dir, "orders")
    e = load(spark, sf_dir, "events")
    oc = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("n_orders")
    )
    ec = e.groupBy((F.col("user_id") % 1000).alias("k")).agg(
        F.count("*").alias("n_events")
    )
    return (
        oc.join(ec, "k")
        .select(
            F.col("k").alias("join_key"),
            "n_orders",
            "n_events",
            (F.col("n_orders") * F.col("n_events")).alias("out_rows"),
        )
        .orderBy(F.col("out_rows").desc(), "join_key")
        .limit(10)
    )


#: Gap threshold for event-stream continuity monitoring (µs).
GAP_THRESHOLD_US = 60_000_000  # 1 minute


@query(
    "event_gap_stats",
    oracle=f"""
    WITH ordered AS (
      SELECT event_type, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY epoch_us(ts), event_id)
               AS prev_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN ts_us - prev_us > {GAP_THRESHOLD_US}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
           CAST(MAX(ts_us - prev_us) AS BIGINT) AS max_gap_us,
           CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS span_us
    FROM ordered
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-stream continuity audit: per event type, how many
    inter-arrival gaps exceed GAP_THRESHOLD_US and how large the worst
    gap is — the monitoring query an ingestion pipeline (reference's
    daily PubMed/ICTRP update cadence, crontab:1-2) runs to detect
    stalled feeds and backfill holes before they become silent data
    loss. Epoch arithmetic on exact int64 microseconds; ordering ties
    broken by event_id so the lag sequence is total.

    Scale shape: one sort-shuffle on event_type for the lag window
    (same exchange the rollup reuses), all expressions integer. At
    100 TB the deployed variant windows per (event_type, day-bucket) so
    partitions bound sort memory; semantics are identical away from
    bucket edges."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.col("prev_us")
    return (
        e.select("event_type", F.unix_micros("ts").alias("ts_us"), "event_id")
        .withColumn("prev_us", F.lag("ts_us").over(w))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(gap > GAP_THRESHOLD_US, 1).otherwise(0)
            ).alias("n_gaps"),
            F.max(gap).alias("max_gap_us"),
            (F.max("ts_us") - F.min("ts_us")).alias("span_us"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("event_type")
    )


# ---------------------------------------------------------------------------
# round 5: classic decision-support plan shapes not yet in the registry
# ---------------------------------------------------------------------------


@query(
    "small_qty_revenue",
    oracle="""
    WITH d AS (
      SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
      FROM lineitem
    ),
    stats AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(qty) AS BIGINT) AS sum_qty
      FROM d GROUP BY l_partkey
    )
    SELECT p.p_brand AS brand,
           CAST(SUM(d.price_c) AS BIGINT) AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM d
    JOIN stats s ON s.l_partkey = d.l_partkey
    JOIN part p  ON p.p_partkey = d.l_partkey
    WHERE 5 * d.qty * s.cnt < s.sum_qty
    GROUP BY p.p_brand
    ORDER BY brand
    """,
)
def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped correlated-subquery pattern: revenue from
    lineitems whose quantity is below 20% of their part's average
    quantity, rolled up per brand. The correlated scalar subquery
    becomes a per-part aggregate joined back — the decorrelation every
    engine performs, written directly.

    Determinism: the threshold ``qty < 0.2 · avg(qty)`` is evaluated as
    ``5 · qty · cnt < sum_qty`` — pure int64, no floating average
    crossing the comparison, so the row set is bit-identical across
    engines (module docstring discipline).

    Scale shape: the per-part stats table partial-aggregates map-side to
    one row per partkey, and BOTH joins key on partkey, so the stats
    join co-locates with the fact shuffle (one exchange of lineitem; on
    a partkey-bucketed warehouse, zero) — never a window sort over the
    full fact table. The part dim is broadcast. AQE handles partkey
    skew; no driver-side anything. When prepare_buckets has laid the
    partkey-bucketed lineitem projection down, BOTH the stats groupBy
    and the self-join ride the bucket partitioning — the plan has no
    Exchange at all below the final brand rollup
    (tests/test_bucketing.py asserts this)."""
    from trialstreamer_spark.io import bucketed_table

    lb = bucketed_table(spark, sf_dir, "lineitem_by_partkey")
    raw = (
        lb
        if lb is not None
        else load(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_quantity", "l_extendedprice"
        )
    )
    l = raw.select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        _cents(F.col("l_extendedprice")).alias("price_c"),
    )
    stats = l.groupBy("l_partkey").agg(
        F.count("*").alias("cnt"), F.sum("qty").alias("sum_qty")
    )
    # on the bucketed layout, pin the co-located sort-merge join —
    # otherwise AQE broadcasts the corpus-sized stats side (measured
    # ~1.5× slower at sf0.1, and a non-starter at 100 TB where the
    # per-part stats table is far beyond broadcast size)
    if lb is not None:
        stats = stats.hint("merge")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        l.join(stats, "l_partkey")
        .where(5 * F.col("qty") * F.col("cnt") < F.col("sum_qty"))
        .join(_sf_dim(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum("price_c").alias("revenue_cents"),
            F.count("*").alias("n_rows"),
        )
        # dimension-sized tail: single-partition sort, no range
        # exchange / sampling job (r9 VERDICT #5a; util.ordered_small)
        .coalesce(1)
        .sortWithinPartitions("brand")
    )


@query(
    "customer_order_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped outer-join distribution: how many customers
    placed 0, 1, 2, … orders. The LEFT join is what distinguishes the
    shape — customers with no orders must survive with count 0
    (COUNT(o_orderkey) counts non-null matches only), which an inner
    join silently drops.

    Scale shape: orders partial-aggregates map-side per custkey BEFORE
    the outer join (aggregate pushdown written explicitly — joining raw
    orders first would shuffle the whole fact); on the custkey bucket
    layouts the rollup AND the outer join ride HashPartitioning(custkey)
    with no exchange and no broadcast build (shuffle_hash hint — the
    planner would otherwise broadcast a side that is SF-scaled); the
    second aggregation's key space is the tiny distinct-count domain.
    All counts, all exact."""
    from trialstreamer_spark.io import bucketed_table

    ob = bucketed_table(spark, sf_dir, "orders_by_custkey")
    cb = bucketed_table(spark, sf_dir, "customer_by_custkey")
    c = (
        cb.select("c_custkey")
        if cb is not None
        else load(spark, sf_dir, "customer").select("c_custkey")
    )
    per_cust_orders = (
        (ob if ob is not None else load(spark, sf_dir, "orders"))
        .groupBy(F.col("o_custkey"))
        .agg(F.count("*").alias("n"))
    )
    if ob is not None and cb is not None:
        per_cust_orders = per_cust_orders.hint("shuffle_hash")
    return (
        c.join(per_cust_orders, c.c_custkey == F.col("o_custkey"), "left")
        .select(F.coalesce(F.col("n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


#: A customer is dormant when they placed no order on/after this date.
DORMANT_CUTOFF = "2000-01-01"


@query(
    "dormant_rich_customers",
    oracle=f"""
    WITH cust AS (
      SELECT c_custkey, c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer
    ),
    thresh AS (
      SELECT CAST(SUM(bal_c) AS BIGINT) AS sum_c,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM cust WHERE bal_c > 0
    )
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(c.bal_c) AS BIGINT) AS balance_cents
    FROM cust c CROSS JOIN thresh t
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE c.bal_c * t.cnt > t.sum_c
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '{DORMANT_CUTOFF} 00:00:00')
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped opportunity query: customers whose balance is
    above the positive-balance average but who never placed an order,
    per nation — "no order" meaning none on/after DORMANT_CUTOFF (the
    lapsed-customer variant; the synthetic corpus has essentially no
    customer with zero lifetime orders, which would make the classic
    formulation vacuous). Two classic sub-shapes in one plan: an
    aggregate-derived threshold (scalar subquery → 1-row broadcast
    crossJoin) and a NOT EXISTS (→ left_anti join) whose inner side
    carries a pushed-down date predicate.

    Determinism: ``bal > avg(bal⁺)`` evaluates as ``bal_c · cnt >
    sum_c`` in int64 cents — no floating average crosses the comparison.

    Scale shape: the threshold is a 1-row broadcast; the anti-join keys
    on custkey against the date-filtered order keys — on the custkey
    bucket layouts both sides ride HashPartitioning(custkey), so the
    anti-join co-locates with no exchange and no broadcast build
    (shuffle_hash hint); the nation dim broadcasts."""
    from trialstreamer_spark.io import bucketed_table

    ob = bucketed_table(spark, sf_dir, "orders_by_custkey")
    cb = bucketed_table(spark, sf_dir, "customer_by_custkey")
    cust = (
        cb if cb is not None else load(spark, sf_dir, "customer")
    ).select(
        "c_custkey",
        "c_nationkey",
        _cents(F.col("c_acctbal")).alias("bal_c"),
    )
    thresh = cust.where(F.col("bal_c") > 0).agg(
        F.sum("bal_c").alias("sum_c"), F.count("*").alias("cnt")
    )
    o = (
        (ob if ob is not None else load(spark, sf_dir, "orders"))
        .where(F.col("o_orderdate") >= DORMANT_CUTOFF)
        .select("o_custkey")
    )
    if ob is not None and cb is not None:
        o = o.hint("shuffle_hash")
    # nation inlined as a 25-entry literal map (_nation_region_rows,
    # r11): no nation broadcast build; isNotNull = the old inner join.
    nation = _nation_name_of(spark, sf_dir, "c_nationkey")
    return (
        cust.crossJoin(F.broadcast(thresh))
        .where(F.col("bal_c") * F.col("cnt") > F.col("sum_c"))
        .join(o, cust.c_custkey == o.o_custkey, "left_anti")
        .where(nation.isNotNull())
        .groupBy(nation.alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("bal_c").alias("balance_cents"),
        )
        # dimension-sized tail: single-partition sort, no range
        # exchange / sampling job (r9 VERDICT #5a; util.ordered_small)
        .coalesce(1)
        .sortWithinPartitions("nation")
    )


#: An order ships "late" when any of its lineitems ships this many days
#: after the order date.
LATE_SHIP_DAYS = 90


@query(
    "late_shipment_priority",
    oracle=f"""
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_late_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL {LATE_SHIP_DAYS} DAY
    )
    GROUP BY o.o_orderpriority
    ORDER BY priority
    """,
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS query: orders with at least one lineitem
    shipping more than LATE_SHIP_DAYS after the order date, counted per
    priority. EXISTS compiles to a left_semi join — each order emitted
    at most once no matter how many late lineitems it has (an inner
    join + distinct would shuffle the duplicates first; the semi join
    never materializes them).

    Scale shape: semi join keys on orderkey — co-partitioned with the
    fact's natural bucketing; the non-equi date conjunct evaluates
    inside the join without widening the shuffle key. Timestamp
    arithmetic stays in the engine's exact timestamp domain (no epoch
    floats). When prepare_buckets has laid the orderkey-bucketed
    projections down, the semi join is fully co-located — no Exchange
    below it (tests/test_bucketing.py asserts this)."""
    from trialstreamer_spark.io import bucketed_table

    ob = bucketed_table(spark, sf_dir, "orders_by_orderkey")
    lb = bucketed_table(spark, sf_dir, "lineitem_by_orderkey")
    o = (
        ob
        if ob is not None
        else load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate", "o_orderpriority"
        )
    )
    l = (
        lb
        if lb is not None
        else load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    )
    # co-located SMJ on the bucketed layout (see small_qty_revenue: the
    # alternative is AQE broadcasting the fact-sized lineitem side)
    if lb is not None and ob is not None:
        l = l.hint("merge")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_SHIP_DAYS} DAYS")
    )
    return (
        o.join(l, cond, "left_semi")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n_late_orders"))
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("priority")
    )


@query(
    "event_type_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             COALESCE(LAG(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id),
                      '(start)') AS prev_type
      FROM events
    ),
    cells AS (
      SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM ordered GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, n,
           CAST((1000000 * n) // SUM(n) OVER (PARTITION BY prev_type)
                AS BIGINT) AS frac_fp
    FROM cells
    ORDER BY prev_type, event_type
    """,
)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition census: per-user event streams
    ordered by (ts, event_id), each event paired with its predecessor
    type ('(start)' for session-opening events), rolled into the
    (prev → next) matrix with fixed-point row shares — the empirical
    Markov chain behind funnel design, anomaly baselines ("purchase
    after error" spikes), and session simulators.

    Scale shape: one sort-shuffle on user_id for the lag window (the
    same exchange sessionize uses — on a user-bucketed event log, none),
    then a rollup whose key space is |types|² + a window over that tiny
    frame. Shares are integer divisions of exact counts; the (ts,
    event_id) ordering is total, so the lag sequence is deterministic."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        e.select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
        )
        .withColumn(
            "prev_type",
            F.coalesce(
                F.lag("event_type").over(w), F.lit("(start)")
            ),
        )
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "total", F.sum("n").over(W.partitionBy("prev_type"))
        )
        .select(
            "prev_type",
            "event_type",
            "n",
            F.expr("(1000000 * n) DIV total").alias("frac_fp"),
        )
        # dimension-sized tail: single-partition sort, no range
        # exchange / sampling job (r9 VERDICT #5a; util.ordered_small)
        .coalesce(1)
        .sortWithinPartitions("prev_type", "event_type")
    )


# ---------------------------------------------------------------------------
# round 6: remaining classic decision-support plan shapes
# ---------------------------------------------------------------------------


@query(
    "returned_item_topk",
    oracle="""
    SELECT c.c_custkey AS custkey,
           c.c_name AS cust_name,
           n.n_name AS nation,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue_cents DESC, custkey
    LIMIT 20
    """,
)
def returned_item_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: revenue lost to returns in
    one quarter, per customer, top-20. The same leg shape the reference's
    engine runs for "flagged records per account" roll-ups (crud.py
    annotation joins), at fact scale.

    Scale shape: both selective predicates sit ON the scans (returnflag
    is a dictionary-encoded parquet column → row-group skip; the date
    range partition-prunes a date-partitioned warehouse). The fact-fact
    join keys on orderkey; the customer and nation dims broadcast as one
    chained lookup. The custkey rollup only sees returned-quarter rows,
    so its exchange is a small fraction of the fact. TakeOrderedAndProject
    finishes — no global sort. Revenue follows the
    round-to-cents-then-sum discipline (module docstring)."""
    from trialstreamer_spark.io import bucketed_table

    lb = bucketed_table(spark, sf_dir, "lineitem_by_orderkey")
    ob = bucketed_table(spark, sf_dir, "orders_by_orderkey")
    l = (
        lb
        if lb is not None
        else load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
        )
    ).where(F.col("l_returnflag") == "R")
    o = (
        ob
        if ob is not None
        else load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate"
        )
    ).where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    if lb is not None and ob is not None:
        l = l.hint("merge")
    # nation inlined as a 25-entry literal map (_nation_region_rows,
    # r11): no nation broadcast build, and the customer leg projects to
    # the three output columns before broadcasting (guide §2.2).
    c = (
        load(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_name",
            _nation_name_of(spark, sf_dir, "c_nationkey").alias("nation"),
        )
        .where(F.col("nation").isNotNull())
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(_sf_dim(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("cust_name"),
            "nation",
        )
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.col("revenue_cents").desc(), F.col("custkey"))
        .limit(20)
    )


@query(
    "promo_revenue_share",
    oracle="""
    WITH fact AS (
      SELECT l.l_partkey,
             CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS rc
      FROM lineitem l
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1996-02-01'
    )
    SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN f.rc ELSE 0 END)
                AS BIGINT) AS promo_cents,
           CAST(SUM(f.rc) AS BIGINT) AS total_cents,
           CAST((1000000 * SUM(CASE WHEN p.p_type = 'PROMO' THEN f.rc ELSE 0 END))
                // SUM(f.rc) AS BIGINT) AS promo_share_fp
    FROM fact f
    JOIN part p ON f.l_partkey = p.p_partkey
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promotion-effect metric: the share of one
    month's revenue that came from promo-class parts. The reference
    computes the same "share of flagged rows" statistic for its RCT
    match-rate dashboards (dbutil.py match-rate counts).

    Determinism: both sums are exact int64 cents and the share is a
    single integer floor-division at 1e-6 resolution (`frac_fp`
    convention, see event_type_transitions) — no float crosses an
    engine boundary.

    Scale shape: the month predicate prunes the fact scan; the part dim
    broadcasts; the conditional sums fold into ONE partial aggregate
    (map-side) with a single 1-row exchange. Nothing here grows with
    corpus size except the pruned scan itself."""
    l = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-02-01")
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rc = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    promo = F.when(F.col("p_type") == "PROMO", F.col("rc")).otherwise(
        F.lit(0).cast("long")
    )
    return (
        l.select("l_partkey", rc.alias("rc"))
        .join(_sf_dim(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(promo).alias("promo_cents"),
            F.sum("rc").alias("total_cents"),
        )
        .select(
            "promo_cents",
            "total_cents",
            F.expr("(1000000 * promo_cents) DIV total_cents").alias(
                "promo_share_fp"
            ),
        )
    )


@query(
    "top_supplier_revenue",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS total_rev_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    ),
    best AS (SELECT CAST(MAX(total_rev_c) AS BIGINT) AS max_rev_c FROM rev)
    SELECT s.s_suppkey AS suppkey,
           s.s_name AS supp_name,
           r.total_rev_c
    FROM rev r
    CROSS JOIN best b
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev_c = b.max_rev_c
    ORDER BY suppkey
    """,
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped aggregate-view maximum: the supplier(s) whose
    quarterly shipped revenue equals the maximum over all suppliers —
    the classic "view + scalar-subquery-on-the-view" pattern, with ties
    kept by equality semantics (same as the spec).

    Scale shape: the revenue view partial-aggregates map-side to one
    row per supplier; "equals the maximum" is spelled rank() == 1 over
    total_rev_c DESC, which Spark executes as a WindowGroupLimit — each
    rollup partition forwards only its top-1 (ties kept) and ONLY those
    ≤ n_partitions winners cross the final single-partition exchange, a
    bounded funnel however large |suppliers| grows. The r10 pmod(key, 1)
    constant-key window this replaces funneled the ENTIRE supplier
    rollup through one window partition — supplier is SF-scaled, so
    that single task holds ~100M rows at 100 TB, exactly the shape
    test_plan_hygiene bans (it slipped past the regex because Catalyst
    aliased the pmod into a Project before the exchange). A separate
    max agg + 1-row broadcast crossJoin (the dormant_rich_customers
    pattern) was measured and rejected: it consumes `rev` twice, and
    over the warm-cache InMemoryRelation AQE does NOT reuse the
    identical rollup exchange (verified: canonically equal legs, zero
    ReusedExchange, 6 jobs vs 4) — the rank spelling consumes it once.
    The isNotNull guard makes rank-1 ≡ equals-max even on a corpus
    where every revenue in a partition is NULL (sum of all-NULL cents):
    the oracle's `total = max` comparison drops such rows, and DESC
    puts NULLs last otherwise. Ties need no second pass: rank() keeps
    every row equal to the maximum."""
    l = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = l.groupBy("l_suppkey").agg(F.sum(cents).alias("total_rev_c"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.where(F.col("total_rev_c").isNotNull())
        .withColumn(
            "rk",
            F.rank().over(W.orderBy(F.col("total_rev_c").desc())),
        )
        .where(F.col("rk") == 1)
        .join(_sf_dim(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supp_name"),
            "total_rev_c",
        )
        # dimension-sized tail: single-partition sort, no range
        # exchange / sampling job (r9 VERDICT #5a; util.ordered_small)
        .coalesce(1)
        .sortWithinPartitions("suppkey")
    )


#: An order is "large volume" when its total quantity exceeds this.
LARGE_VOLUME_QTY = 250


@query(
    "large_volume_orders",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > {LARGE_VOLUME_QTY}
    )
    SELECT c.c_name AS cust_name,
           c.c_custkey AS custkey,
           o.o_orderkey AS orderkey,
           CAST(epoch_us(o.o_orderdate) AS BIGINT) AS orderdate_us,
           CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
           b.sum_qty
    FROM big b
    JOIN orders o   ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY totalprice_cents DESC, orderkey
    LIMIT 100
    """,
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume-customer report: orders whose total
    quantity exceeds LARGE_VOLUME_QTY, with their customer, top-100 by
    order value. The IN-(GROUP BY ... HAVING) subquery is written as the
    aggregate itself joined back to orders — the decorrelation every
    engine performs.

    Scale shape: the quantity rollup groups the fact on orderkey and the
    join back to orders keys on orderkey too, so on the orderkey-bucketed
    layout NEITHER needs an Exchange (HashPartitioning(orderkey)
    satisfies both the groupBy and the join); on plain parquet the one
    fact exchange is shared by both. The HAVING prunes to a tiny row set
    before the orders join; customer broadcasts; TakeOrderedAndProject
    finishes."""
    from trialstreamer_spark.io import bucketed_table

    ob = bucketed_table(spark, sf_dir, "orders_by_orderkey")
    lb = bucketed_table(spark, sf_dir, "lineitem_by_orderkey")
    o = (
        ob
        if ob is not None
        else load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
        )
    )
    l = (
        lb
        if lb is not None
        else load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    )
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .where(F.col("sum_qty") > LARGE_VOLUME_QTY)
    )
    if lb is not None and ob is not None:
        big = big.hint("merge")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(_sf_dim(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_name").alias("cust_name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.unix_micros("o_orderdate").alias("orderdate_us"),
            _cents(F.col("o_totalprice")).alias("totalprice_cents"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice_cents").desc(), F.col("orderkey"))
        .limit(100)
    )


@query(
    "sole_late_supplier",
    oracle=f"""
    WITH pers AS (
      SELECT l.l_orderkey, l.l_suppkey,
             MAX(CASE WHEN l.l_shipdate > o.o_orderdate
                                          + INTERVAL {LATE_SHIP_DAYS} DAY
                      THEN 1 ELSE 0 END) AS late
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY l.l_orderkey, l.l_suppkey
    ),
    w AS (
      SELECT l_suppkey, late,
             COUNT(*)  OVER (PARTITION BY l_orderkey) AS n_supp,
             SUM(late) OVER (PARTITION BY l_orderkey) AS n_late
      FROM pers
    )
    SELECT s.s_name AS supp_name,
           s.s_suppkey AS suppkey,
           CAST(COUNT(*) AS BIGINT) AS numwait
    FROM w
    JOIN supplier s ON s.s_suppkey = w.l_suppkey
    WHERE w.late = 1 AND w.n_supp > 1 AND w.n_late = 1
    GROUP BY s.s_name, s.s_suppkey
    ORDER BY numwait DESC, suppkey
    LIMIT 25
    """,
)
def sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped blame query: on multi-supplier orders, the
    suppliers who were the ONLY late shipper — EXISTS (another supplier
    on the order) AND NOT EXISTS (another LATE supplier), ranked by how
    often. The correlated pair is decorrelated into one per-(order,
    supplier) aggregate plus per-order window counts — the exactly-one
    semantics without a second fact scan (the textbook plan runs the
    fact through a semi AND an anti join; this one reads it once).

    Scale shape: the fact-fact join keys on orderkey, the pair rollup
    groups on (orderkey, suppkey), and the window partitions on orderkey
    — HashPartitioning(orderkey) satisfies ALL THREE, so on the
    orderkey-bucketed layout the whole chain to the final |suppliers|
    rollup has no Exchange at all; on plain parquet one fact exchange is
    shared. The supplier dim broadcasts; top-k finishes with
    TakeOrderedAndProject.

    Round-10 measured results: first 7.5 -> ~4.5 s at sf10 (sorted
    bucket scans + 32 buckets removed the merge join's re-sort of both
    facts), then the per-order WINDOW — whose per-partition sort over
    the 60M-row pair frame was the remaining dominant stage — was
    folded into a second hash aggregate on the same orderkey
    partitioning (when n_late==1 the blamed supplier IS
    max(suppkey | late)), leaving a fully sort-free plan:
    sf1 2.9 -> 0.93 s = 1.59x DuckDB in the one-session re-measure."""
    from trialstreamer_spark.io import bucketed_table

    ob = bucketed_table(spark, sf_dir, "orders_by_orderkey")
    lb = bucketed_table(spark, sf_dir, "lineitem_by_orderkey")
    o = (
        ob
        if ob is not None
        else load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    )
    l = (
        lb
        if lb is not None
        else load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_shipdate"
        )
    )
    if lb is not None and ob is not None:
        l = l.hint("merge")
    late = F.when(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_SHIP_DAYS} DAYS"),
        1,
    ).otherwise(0)
    pers = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
    )
    # The exactly-one-late-supplier test folds into a SECOND hash
    # aggregate on the same HashPartitioning(orderkey) — when n_late==1
    # the blamed supplier IS max(suppkey | late) — so the per-order
    # window (and its 60M-row per-partition SORT, the dominant stage of
    # the r9 sf10 profile) disappears entirely; the chain to here is
    # sort-free hash aggregation, exchange-free on the bucket layout.
    flagged = (
        pers.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_supp"),
            F.sum("late").alias("n_late"),
            F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias(
                "l_suppkey"
            ),
        )
        .where((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        flagged.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(_sf_dim(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_name").alias("supp_name"),
            F.col("s_suppkey").alias("suppkey"),
            "numwait",
        )
        .orderBy(F.col("numwait").desc(), F.col("suppkey"))
        .limit(25)
    )


@query(
    "scd2_run_stats",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN LAG(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                  IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS new_run
      FROM events
    ),
    runs AS (
      SELECT user_id, event_type,
             SUM(new_run) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS run_id
      FROM ordered
    ),
    per_run AS (
      SELECT user_id, run_id, event_type,
             CAST(COUNT(*) AS BIGINT) AS run_len
      FROM runs GROUP BY user_id, run_id, event_type
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(SUM(run_len) AS BIGINT) AS n_events,
           CAST(MAX(run_len) AS BIGINT) AS max_run_len,
           CAST((1000000 * SUM(run_len)) // COUNT(*) AS BIGINT) AS mean_run_fp
    FROM per_run
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def scd2_run_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history compaction (gaps-and-islands): collapse each
    user's event stream into runs of consecutive equal event_type —
    the exact shape a CDC feed is folded into dimension-history
    intervals — then audit run lengths per type. A change-flag lag
    window, a running-sum window to number the runs, and two rollups:
    the textbook islands plan, fully declarative.

    Determinism: the (ts, event_id) per-user ordering is total, so the
    run numbering is reproducible; every output is an exact integer or
    a 1e-6 fixed-point division.

    Scale shape: both windows share ONE sort-exchange on user_id (same
    partitioning and order → Catalyst stacks them over a single sort);
    the per-run rollup's key set starts with user_id, so
    HashPartitioning(user_id) already satisfies it — no second
    corpus-sized exchange. On a user-bucketed event log even the first
    exchange disappears (the sessionize co-location story). The final
    rollup is |event_type|-sized."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    new_run = F.when(
        F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 0
    ).otherwise(1)
    runs = e.withColumn("new_run", new_run).withColumn(
        "run_id",
        F.sum("new_run").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    per_run = runs.groupBy("user_id", "run_id", "event_type").agg(
        F.count("*").alias("run_len")
    )
    return (
        per_run.groupBy("event_type")
        .agg(
            F.count("*").alias("n_runs"),
            F.sum("run_len").alias("n_events"),
            F.max("run_len").alias("max_run_len"),
        )
        .select(
            "event_type",
            "n_runs",
            "n_events",
            "max_run_len",
            F.expr("(1000000 * n_events) DIV n_runs").alias("mean_run_fp"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("event_type")
    )


# ---------------------------------------------------------------------------
# Round 6b — four more classic decision-support shapes (TPC-H Q6/Q7/Q8/Q9
# analogs on this corpus's slim schema). Same reference lineage as the other
# plan shapes: the reference's dashboards run exactly these filter-agg /
# share-of-total / multi-dim-rollup SQL forms on Postgres (dbutil.py:179-188
# matviews, cnxapp.py:188-219 assembled queries); here each is a declarative
# plan whose predicates sit on the scans and whose dims broadcast.
# ---------------------------------------------------------------------------


@query(
    "discount_revenue_forecast",
    oracle="""
    SELECT CAST(SUM(rc * dp) AS BIGINT) AS forecast_rev_fp,
           CAST(COUNT(*) AS BIGINT)     AS n_rows
    FROM (
      SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS rc,
             CAST(ROUND(l_discount * 100) AS BIGINT)      AS dp
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
        AND l_quantity < 24
        AND CAST(ROUND(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
    )
    """,
)
def discount_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped what-if scan: revenue that would be regained by
    dropping a discount band for a year — SUM(extendedprice * discount)
    under three conjunctive range predicates, one row out. The reference's
    single-row count matviews are this shape (dbutil.py:188).

    Scale shape: the PURE filter-aggregate — no join, no groupBy key. The
    date range and the quantity bound push to the parquet scan
    (PushedFilters → row-group min/max skip; on a date-partitioned
    warehouse the year prunes whole directories); the discount-band test
    runs on the scan output before the 1-row partial aggregate, so the
    shuffle is one row per partition. The forecast is an exact integer in
    cents×percent units (1e-4 dollars): no float ever crosses the engine
    boundary."""
    l = load(spark, sf_dir, "lineitem")
    rc = _cents(F.col("l_extendedprice"))
    dp = _cents(F.col("l_discount"))
    return (
        l.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_quantity") < 24)
        )
        .where(dp.between(5, 7))
        .agg(
            F.sum(rc * dp).alias("forecast_rev_fp"),
            F.count("*").alias("n_rows"),
        )
    )


#: The two regions whose bilateral trade the Q7-shaped query audits.
VOLUME_REGIONS = ("ASIA", "EUROPE")


@query(
    "cross_region_volume",
    oracle=f"""
    SELECT r1.r_name AS supp_region,
           r2.r_name AS cust_region,
           CAST(year(l.l_shipdate) AS INTEGER) AS yr,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN region r1  ON n1.n_regionkey = r1.r_regionkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    JOIN region r2  ON n2.n_regionkey = r2.r_regionkey
    WHERE (r1.r_name = '{VOLUME_REGIONS[0]}' AND r2.r_name = '{VOLUME_REGIONS[1]}')
       OR (r1.r_name = '{VOLUME_REGIONS[1]}' AND r2.r_name = '{VOLUME_REGIONS[0]}')
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def cross_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bilateral-volume audit: revenue shipped between
    two regions (both directions kept separate), per year. The
    reference's registry↔article source-pair roll-ups are the same
    two-sided dimension join (cnxapp.py registry_links joins).

    Scale shape: the two dimension chains (supplier→nation→region,
    customer→nation→region) fold to two tiny broadcast lookup tables
    FILTERED to the two regions before the join, so the disjunctive
    region-pair predicate prunes most of the fact before the fact-fact
    join; written as region ∈ {{A,B}} on each side plus supp≠cust after,
    which is equivalent to the two-pair disjunction. The lineitem⋈orders
    join keys on orderkey and rides the prepared bucket layout when
    present (zero fact exchange; the only hash exchange left is the
    ≤|2×years| rollup). Revenue is exact int64 cents.

    Round-10 measured result (sf10): 3.5 -> 2.0 s. The customer-region
    leg (600k rows ≈ 14 MB at sf10) sat between the 10 MB planner cap
    and anything sane, so the fact shuffled 24M rows on custkey; the
    measured-leg 4×cap rule in _sf_dim broadcasts it (r9 sf1
    ratio-grower closed: the 'growth' was the leg crossing the
    broadcast threshold between sf0.1 and sf1)."""
    from trialstreamer_spark.io import bucketed_table

    lb = bucketed_table(spark, sf_dir, "lineitem_by_orderkey")
    ob = bucketed_table(spark, sf_dir, "orders_by_orderkey")
    l = (
        lb
        if lb is not None
        else load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
        )
    )
    o = (
        ob
        if ob is not None
        else load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    )
    # nation⋈region folded to a 25-entry literal map on the nationkey
    # (_nation_region_rows, r11): each dim leg is now a single filtered
    # scan — the old per-leg nation+region broadcast builds (two
    # scheduler jobs each) never enter the plan. isin on a NULL lookup
    # is false, matching the old inner join against the filtered region.
    supp_region = _region_name_of(spark, sf_dir, "s_nationkey")
    supp = (
        load(spark, sf_dir, "supplier")
        .where(supp_region.isin(*VOLUME_REGIONS))
        .select("s_suppkey", supp_region.alias("supp_region"))
    )
    cust_region = _region_name_of(spark, sf_dir, "c_nationkey")
    cust = (
        load(spark, sf_dir, "customer")
        .where(cust_region.isin(*VOLUME_REGIONS))
        .select("c_custkey", cust_region.alias("cust_region"))
    )
    rc = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    if lb is not None and ob is not None:
        l = l.hint("merge")
    joined = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_sf_dim(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(_sf_dim(cust), F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_region") != F.col("cust_region"))
    )
    return (
        joined.groupBy(
            "supp_region",
            "cust_region",
            F.year("l_shipdate").cast("int").alias("yr"),
        )
        .agg(
            F.sum(rc).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("supp_region", "cust_region", "yr")
    )


#: Q8-shape market definition: customers in this region buying this part
#: type; the tracked share is the revenue supplied from this nation.
MARKET_REGION = "ASIA"
MARKET_PART_TYPE = "STANDARD"
MARKET_TARGET_NATION = "NATION_13"


@query(
    "nation_market_share",
    oracle=f"""
    WITH m AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS yr,
             CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS rc,
             CASE WHEN ns.n_name = '{MARKET_TARGET_NATION}' THEN 1 ELSE 0 END
                  AS is_target
      FROM lineitem l
      JOIN part p     ON l.l_partkey = p.p_partkey
                     AND p.p_type = '{MARKET_PART_TYPE}'
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
      JOIN region r   ON nc.n_regionkey = r.r_regionkey
                     AND r.r_name = '{MARKET_REGION}'
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
    )
    SELECT yr,
           CAST(SUM(CASE WHEN is_target = 1 THEN rc ELSE 0 END) AS BIGINT)
               AS target_cents,
           CAST(SUM(rc) AS BIGINT) AS total_cents,
           CAST((1000000 * SUM(CASE WHEN is_target = 1 THEN rc ELSE 0 END))
                // SUM(rc) AS BIGINT) AS share_fp
    FROM m
    GROUP BY yr
    ORDER BY yr
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market-share trend: within one region's market for
    one part type, the share of revenue supplied from one nation, per
    order year. The reference's match-rate pivots are the same
    share-of-flagged-rows statistic (dbutil.py conditional counts).

    Round-10 measured result (sf10, same-session A/Bs): 5.3 -> 1.7 s.
    The r9 "job floor" diagnosis was wrong at this scale — the stage
    profile showed the part/customer legs missing their broadcast (leaf
    bytes over cap at sf10), which forced a full 60M-row shuffle of
    lineitem and broke the bucket co-location; and the persisted bucket
    cache dropped the per-bucket sort order, re-sorting both facts
    under every merge join. Fixed by _sf_dim's measured-leg statistics,
    un-persisting the bucket projections, and
    legacy.bucketedTableScan.outputOrdering (see io.prepare_buckets).

    Scale shape: three broadcast dimension filters (part type, customer
    region via nation→region chain, supplier nation label) prune or
    annotate the fact; the market's definition prunes BEFORE the
    fact-fact orderkey join (bucketed when prepared; merge-hinted so the
    co-location is provable rather than broadcast-masked). The share per
    year folds into one conditional-sum rollup — exact int64 cents and a
    single integer floor-division at 1e-6 resolution."""
    from trialstreamer_spark.io import bucketed_table

    lb = bucketed_table(spark, sf_dir, "lineitem_by_orderkey")
    ob = bucketed_table(spark, sf_dir, "orders_by_orderkey")
    l = (
        lb
        if lb is not None
        else load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
        )
    )
    o = (
        ob
        if ob is not None
        else load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate"
        )
    )
    p = (
        load(spark, sf_dir, "part")
        .where(F.col("p_type") == MARKET_PART_TYPE)
        .select("p_partkey")
    )
    # nation/region are spec-fixed 25/5-row dims: inline them as literal
    # maps (_nation_region_rows) instead of joining — r11, removes three
    # broadcast-build jobs from the plan. == on a NULL lookup is false,
    # and the explicit isNotNull guard reproduces the supplier leg's old
    # inner nation join exactly.
    cust = (
        load(spark, sf_dir, "customer")
        .where(_region_name_of(spark, sf_dir, "c_nationkey") == MARKET_REGION)
        .select("c_custkey")
    )
    s_nation = _nation_name_of(spark, sf_dir, "s_nationkey")
    supp = (
        load(spark, sf_dir, "supplier")
        .where(s_nation.isNotNull())
        .select(
            "s_suppkey",
            (s_nation == MARKET_TARGET_NATION).cast("int").alias("is_target"),
        )
    )
    rc = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    if lb is not None and ob is not None:
        l = l.hint("merge")
    joined = (
        l.join(_sf_dim(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_sf_dim(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(_sf_dim(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            F.sum(F.when(F.col("is_target") == 1, rc).otherwise(F.lit(0).cast("long"))).alias(
                "target_cents"
            ),
            F.sum(rc).alias("total_cents"),
        )
        .select(
            "yr",
            "target_cents",
            "total_cents",
            F.expr("(1000000 * target_cents) DIV total_cents").alias("share_fp"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("yr")
    )


#: Q9-shape: parts whose name contains this token; cost model = 80% of the
#: part's retail price per unit (the corpus has no partsupp/supplycost).
PROFIT_NAME_TOKEN = "widget"


@query(
    "product_profit_by_nation",
    oracle=f"""
    SELECT ns.n_name AS supp_nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS yr,
           CAST(SUM(10 * CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                              AS BIGINT)
                    - CAST(l.l_quantity AS BIGINT)
                      * CAST(ROUND(p.p_retailprice * 100) AS BIGINT) * 8)
                AS BIGINT) AS profit_fp,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
                   AND p.p_name LIKE '%{PROFIT_NAME_TOKEN}%'
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product-line profit: for parts matching a name
    token, net profit per supplier nation per year, where unit cost is
    modeled as 80% of the part's retail price (the corpus carries no
    partsupp.supplycost — the plan shape, a name-pattern dim filter
    fanned across a multi-dim rollup, is what Q9 exercises).

    Round-10 measured result (sf10, same-session A/Bs): 5.1 -> 1.5 s
    (~1.7-2x the DuckDB oracle) — same three fixes as
    nation_market_share: measured-leg broadcast for the '%widget%'
    part leg, un-persisted bucket projections, and sorted bucket scans
    (the cached copy was re-sorting both facts per merge join).
    Round-11 CLEAN certify (first measurement of the session, 100 ms/job
    floor stamp, certify_r11_sf10.json in git history): 1.32 s / 2.05x
    at sf10 — the r10 committed 4.68x/6.57 s row was end-of-session
    heat, not plan cost; the steady-state number is ~1.3-1.5 s.

    Scale shape: the LIKE filter prunes the part dim BEFORE broadcast
    (pattern filters don't reach parquet row-groups, but the dim is
    partkey-sized, not fact-sized); supplier→nation folds to one
    broadcast label lookup; the only fact-fact join keys on orderkey and
    rides the bucket layout when prepared. Profit is exact int64 in
    0.1-cent units: 10×revenue_cents − qty×retail_cents×8 — both
    engines compute identical integers, no float accumulation."""
    from trialstreamer_spark.io import bucketed_table

    lb = bucketed_table(spark, sf_dir, "lineitem_by_orderkey")
    ob = bucketed_table(spark, sf_dir, "orders_by_orderkey")
    l = (
        lb
        if lb is not None
        else load(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
        )
    )
    o = (
        ob
        if ob is not None
        else load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    )
    p = (
        load(spark, sf_dir, "part")
        .where(F.col("p_name").like(f"%{PROFIT_NAME_TOKEN}%"))
        .select("p_partkey", _cents(F.col("p_retailprice")).alias("retail_c"))
    )
    # nation inlined as a 25-entry literal map (_nation_region_rows,
    # r11): the supplier leg is one filtered scan, no nation broadcast
    # build; isNotNull reproduces the old inner join exactly.
    supp = (
        load(spark, sf_dir, "supplier")
        .select(
            "s_suppkey",
            _nation_name_of(spark, sf_dir, "s_nationkey").alias("supp_nation"),
        )
        .where(F.col("supp_nation").isNotNull())
    )
    rc = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    profit = (
        F.lit(10).cast("long") * rc
        - F.col("l_quantity").cast("long") * F.col("retail_c") * 8
    )
    if lb is not None and ob is not None:
        l = l.hint("merge")
    joined = (
        l.join(_sf_dim(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(_sf_dim(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        joined.groupBy(
            "supp_nation", F.year("o_orderdate").cast("int").alias("yr")
        )
        .agg(
            F.sum(profit).alias("profit_fp"),
            F.count("*").alias("n_items"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("supp_nation", "yr")
    )


#: Q2-shape part slice whose cheapest supplier is looked up.
CHEAPEST_PART_TYPE = "ECONOMY"


@query(
    "cheapest_supplier_per_part",
    oracle=f"""
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             CAST(MIN(CAST(ROUND(l_extendedprice / l_quantity * 100) AS BIGINT))
                  AS BIGINT) AS unit_cents
      FROM lineitem
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT u.*,
             ROW_NUMBER() OVER (PARTITION BY l_partkey
                                ORDER BY unit_cents, l_suppkey) AS rn
      FROM unit u
    )
    SELECT p.p_partkey AS partkey,
           p.p_name    AS part_name,
           s.s_suppkey AS suppkey,
           s.s_name    AS supp_name,
           r.unit_cents
    FROM ranked r
    JOIN part p     ON r.l_partkey = p.p_partkey
                   AND p.p_type = '{CHEAPEST_PART_TYPE}'
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.rn = 1
    ORDER BY partkey
    """,
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped min-cost-supplier lookup: for every part in a
    type slice, the supplier with the lowest observed unit price
    (deterministic suppkey tiebreak) — the correlated-MIN-subquery
    pattern decorrelated into an aggregate + per-part window rank. The
    reference's "best annotation per article" picks are the same
    argmin-per-key shape (max-by watermark, relational.py:287).

    Scale shape: the (partkey, suppkey) rollup and the per-part window
    BOTH ride HashPartitioning(partkey) — partkey partitioning satisfies
    the two-key clustering because equal (partkey, suppkey) pairs share a
    partkey — so on the partkey-bucketed layout the whole chain to the
    final sort is exchange-free (asserted in test_bucketing.py). Part
    and supplier dims broadcast. The unit price is ONE IEEE division
    both engines perform identically, then integer cents."""
    from trialstreamer_spark.io import bucketed_table

    lb = bucketed_table(spark, sf_dir, "lineitem_by_partkey")
    l = (
        lb
        if lb is not None
        else load(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
        )
    )
    unit_c = F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100).cast(
        "long"
    )
    p = (
        load(spark, sf_dir, "part")
        .where(F.col("p_type") == CHEAPEST_PART_TYPE)
        .select("p_partkey", "p_name")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # The type-slice filter joins into the FACT before the rollup: only
    # ~1/|p_type domain| of parts survive, so the (partkey, suppkey)
    # rollup and the per-part rank process 25x fewer rows than a
    # rollup-everything-then-filter plan (which computed a min for every
    # part and discarded 96% against the dim). A partkey-equi join keeps
    # the bucketed layout's HashPartitioning, so the chain stays
    # exchange-free on the fact side whether the sliced dim broadcasts
    # (small SF) or shuffles itself to the buckets (100 TB).
    unit = (
        l.join(_sf_dim(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "p_name", "l_suppkey")
        .agg(F.min(unit_c).alias("unit_cents"))
    )
    w = W.partitionBy("l_partkey").orderBy("unit_cents", "l_suppkey")
    return (
        unit.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .withColumn("p_partkey", F.col("l_partkey"))
        .join(_sf_dim(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("p_name").alias("part_name"),
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supp_name"),
            "unit_cents",
        )
        .orderBy("partkey")
    )


@query(
    "high_value_parts",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS value_cents
      FROM lineitem
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(value_cents) AS BIGINT) AS total_cents,
             COUNT(*) AS n_parts
      FROM pv
    )
    SELECT pv.l_partkey AS partkey,
           pv.value_cents,
           CAST((1000000 * pv.value_cents) // tot.total_cents AS BIGINT)
               AS share_fp
    FROM pv, tot
    WHERE pv.value_cents * tot.n_parts * 2 > 3 * tot.total_cents
    ORDER BY value_cents DESC, partkey
    """,
)
def high_value_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped value-concentration scan: parts whose total
    shipped value exceeds 1.5× the mean part value — the HAVING-above-
    scalar-subquery pattern, with the threshold RELATIVE to the corpus
    (Q11's own 0.0001/SF trick) so the query is scale-invariant. The
    reference's heavy-hitter dashboards (autocomplete ranking counts,
    engine.py:382) are this shape.

    Scale shape: the per-part rollup rides HashPartitioning(partkey) on
    the bucketed layout (no exchange); the threshold is a 1-row broadcast
    crossJoin (dormant_rich_customers pattern — never a driver collect);
    the comparison is exact int64 cross-multiplication, no division until
    the final display share.

    r11 residual (sf1, 100 ms/job floor): 0.43-0.52 s / 4 jobs = 0.30 s
    floor — the r10 weak-tail 1.62 s row was session heat + the
    coalesce(1) tail (now a parallel range sort); remaining exchanges
    are the bucket-riding rollup's none + the 1-row broadcast + the
    range sort, all required."""
    from trialstreamer_spark.io import bucketed_table

    lb = bucketed_table(spark, sf_dir, "lineitem_by_partkey")
    l = (
        lb
        if lb is not None
        else load(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    )
    pv = l.groupBy("l_partkey").agg(
        F.sum(_cents(F.col("l_extendedprice"))).alias("value_cents")
    )
    tot = pv.agg(
        F.sum("value_cents").alias("total_cents"),
        F.count("*").alias("n_parts"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .where(
            F.col("value_cents") * F.col("n_parts") * 2
            > 3 * F.col("total_cents")
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            "value_cents",
            F.expr("(1000000 * value_cents) DIV total_cents").alias("share_fp"),
        )
        # the relative 1.5x-mean threshold keeps the qualifying FRACTION
        # constant, so output rows scale with |parts| — part-table-scaled,
        # not dimension-sized (r10 ADVICE). A coalesce(1) would funnel a
        # corpus-sized result through one task; keep the parallel range
        # sort, matching set_difference's treatment.
        .orderBy(F.col("value_cents").desc(), "partkey")
    )


#: Q16-shape: the brand excluded from the variety report.
VARIETY_EXCLUDED_BRAND = "Brand#5"


@query(
    "part_supplier_variety",
    oracle=f"""
    SELECT p.p_brand AS brand,
           p.p_type  AS ptype,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt,
           CAST(COUNT(DISTINCT l.l_partkey) AS BIGINT) AS part_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> '{VARIETY_EXCLUDED_BRAND}'
    GROUP BY 1, 2
    ORDER BY supplier_cnt DESC, brand, ptype
    """,
)
def part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier-variety report: how many distinct
    suppliers (and parts) serve each (brand, type) group, one brand
    excluded. The reference's distinct-set aggregations (langs_per_source,
    A10) are the same COUNT(DISTINCT) expansion.

    Scale shape: the part dim broadcasts its (brand, type) labels into
    the fact scan; the two COUNT(DISTINCT)s expand inside ONE aggregate
    (Catalyst's Expand → partial-distinct → merge — not two self-joins).
    The group key is |brands × types|-sized, so the distinct shuffle
    carries (group, suppkey/partkey) pairs already deduplicated
    map-side."""
    from trialstreamer_spark.io import bucketed_table

    lb = bucketed_table(spark, sf_dir, "lineitem_by_partkey")
    l = (
        lb
        if lb is not None
        else load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    )
    p = (
        load(spark, sf_dir, "part")
        .where(F.col("p_brand") != VARIETY_EXCLUDED_BRAND)
        .select("p_partkey", "p_brand", "p_type")
    )
    return (
        l.join(_sf_dim(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"), F.col("p_type").alias("ptype"))
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            F.countDistinct("l_partkey").alias("part_cnt"),
        )
        # dimension-bounded tail (|brands × types| is SPEC-FIXED — both
        # domains are generator constants, not SF-scaled): single-
        # partition sort, no range exchange / sampling job (r11, the
        # r10 registry-wide sweep pattern)
        .coalesce(1)
        .sortWithinPartitions(F.col("supplier_cnt").desc(), "brand", "ptype")
    )


@query(
    "disjunctive_bracket_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity < 15)
       OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 5 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_type = 'PROMO' AND p.p_size > 30 AND l.l_quantity > 25)
    """,
)
def disjunctive_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-bracket revenue: three OR-ed
    conjunct groups mixing part attributes with lineitem quantity
    brackets, one revenue total out. The reference's rule-based
    classifiers are the same phrase-list disjunctions
    (ictrp_csv.py:131-149 F17/F18) — here the disjunction spans a join.

    Scale shape: Catalyst splits the OR into a part-side prefilter
    (brand/type/size disjunction — prunes the broadcast dim) and the
    residual mixed predicate evaluated at the join; the fact side ships
    only (partkey, quantity, price) columns. One 1-row aggregate
    finishes. At 100 TB the win is that NO disjunct forces a second fact
    scan — one pass, one broadcast, exact int64 cents."""
    from trialstreamer_spark.io import bucketed_table

    lb = bucketed_table(spark, sf_dir, "lineitem_by_partkey")
    l = (
        lb
        if lb is not None
        else load(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
        )
    )
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    rc = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    bracket = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 10)
            & (F.col("l_quantity") < 15)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(5, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_type") == "PROMO")
            & (F.col("p_size") > 30)
            & (F.col("l_quantity") > 25)
        )
    )
    return (
        l.join(_sf_dim(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(bracket)
        .agg(
            F.sum(rc).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "monthly_revenue_yoy",
    oracle="""
    WITH m AS (
      SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
                 AS mkey,
             CAST(year(o_orderdate) AS INTEGER) AS yr,
             CAST(month(o_orderdate) AS INTEGER) AS mon,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS revenue_cents,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders
      GROUP BY 1, 2, 3
    )
    SELECT cur.yr, cur.mon, cur.revenue_cents, cur.n_orders,
           prev.revenue_cents AS prev_year_cents,
           CAST((1000000 * cur.revenue_cents) // prev.revenue_cents
                AS BIGINT) AS yoy_fp
    FROM m cur
    LEFT JOIN m prev ON prev.mkey = cur.mkey - 12
    ORDER BY cur.yr, cur.mon
    """,
)
def monthly_revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-same-month-last-year revenue growth: the standard
    reporting lag computed by a SELF-JOIN on an integer month key
    (yr*12+mon-1) rather than lag(12) over row position — a missing
    month cannot silently shift the comparison to the wrong row. The
    reference's year-counts dashboard (A1) is the annual version.

    Scale shape: the fact collapses to a |months|-row rollup first (one
    map-side-combined exchange); the prev-year range window and the YoY
    arithmetic run exchange-free on that tiny single-partition frame
    (one fact pass). Growth is an integer
    floor-division at 1e-6; months with no prior-year row yield NULL on
    both engines (LEFT JOIN + DIV null-propagation)."""
    o = load(spark, sf_dir, "orders")
    m = (
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("mkey"),
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mon"),
        )
        .agg(
            F.sum(_cents(F.col("o_totalprice"))).alias("revenue_cents"),
            F.count("*").alias("n_orders"),
        )
    )
    # Prior-year lookup as a RANGE window at exactly -12 months over the
    # single-partition month frame — sum of the (0 or 1)-row frame is the
    # prev-year revenue, empty → NULL, matching the oracle's LEFT JOIN.
    # The old broadcast self-join consumed the month rollup twice, which
    # re-ran the whole fact aggregation per reference (r9 7.7× gap).
    w_prev = W.orderBy("mkey").rangeBetween(-12, -12)
    return (
        m.coalesce(1)
        .withColumn("prev_year_cents", F.sum("revenue_cents").over(w_prev))
        .select(
            "yr",
            "mon",
            "revenue_cents",
            "n_orders",
            "prev_year_cents",
            F.expr("(1000000 * revenue_cents) DIV prev_year_cents").alias(
                "yoy_fp"
            ),
        )
        .sortWithinPartitions("yr", "mon")
    )


#: Year pair compared by the nation-rank-shift report.
RANK_SHIFT_YEARS = (1996, 1997)


@query(
    "nation_revenue_rank_shift",
    oracle=f"""
    WITH rev AS (
      SELECT n.n_name AS nation,
             CAST(year(o.o_orderdate) AS INTEGER) AS yr,
             SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rev_c
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE year(o.o_orderdate) IN {RANK_SHIFT_YEARS}
      GROUP BY 1, 2
    ),
    r AS (
      SELECT nation, yr, rev_c,
             CAST(row_number() OVER (PARTITION BY yr
                                     ORDER BY rev_c DESC, nation)
                  AS BIGINT) AS rnk
      FROM rev
    )
    SELECT a.nation,
           a.rev_c AS rev_y1_cents, b.rev_c AS rev_y2_cents,
           a.rnk AS rank_y1, b.rnk AS rank_y2,
           CAST(a.rnk - b.rnk AS BIGINT) AS rank_gain
    FROM r a JOIN r b ON a.nation = b.nation
    WHERE a.yr = {RANK_SHIFT_YEARS[0]} AND b.yr = {RANK_SHIFT_YEARS[1]}
    ORDER BY rank_y2, a.nation
    """,
)
def nation_revenue_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """League-table migration: each nation's revenue RANK in two
    consecutive years and how many places it moved — the rank-shift
    report behind every market-share dashboard (nation_market_share is
    the single-year share; this is its year-over-year rank delta).
    Ties break by nation name via row_number, so the ranking is total
    and deterministic on both engines.

    Plan: the year predicate prunes the fact scan before the custkey
    join (pushed to parquet); the nation dim broadcasts; the fact
    collapses to |nations × 2| rows in one map-side-combined rollup,
    and the rank window plus the conditional-aggregation year pivot
    run exchange-free on that single-partition tiny frame (one fact
    pass — the old self-join consumed the subtree twice). Revenue
    stays in int64 cents end to end."""
    o = load(spark, sf_dir, "orders").where(
        F.year("o_orderdate").isin(*RANK_SHIFT_YEARS)
    )
    # nation inlined as a 25-entry literal map (_nation_region_rows,
    # r11): no nation broadcast build; isNotNull = the old inner join.
    c = (
        load(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            _nation_name_of(spark, sf_dir, "c_nationkey").alias("nation"),
        )
        .where(F.col("nation").isNotNull())
    )
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "nation",
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("rev_c"))
        # |nations × 2| rows: single partition here makes the rank
        # window, the year pivot, and the final sort exchange-free.
        .coalesce(1)
    )
    w = W.partitionBy("yr").orderBy(F.col("rev_c").desc(), F.col("nation"))
    r = rev.withColumn("rnk", F.row_number().over(w).cast("long"))

    # Year pivot via conditional aggregation, NOT a self-join: the old
    # r⋈r consumed the rank subtree twice, and without runtime exchange
    # reuse each reference re-ran the whole fact join + rollup (the
    # r9 10.4× gap was mostly this second fact pass). Inner-join
    # semantics (nation present in BOTH years) = both ranks non-null.
    def at_year(yr: int, col: str):
        return F.max(F.when(F.col("yr") == yr, F.col(col)))

    return (
        r.groupBy("nation")
        .agg(
            at_year(RANK_SHIFT_YEARS[0], "rev_c").alias("rev_y1_cents"),
            at_year(RANK_SHIFT_YEARS[1], "rev_c").alias("rev_y2_cents"),
            at_year(RANK_SHIFT_YEARS[0], "rnk").alias("rank_y1"),
            at_year(RANK_SHIFT_YEARS[1], "rnk").alias("rank_y2"),
        )
        .where(F.col("rank_y1").isNotNull() & F.col("rank_y2").isNotNull())
        .select(
            "nation",
            "rev_y1_cents",
            "rev_y2_cents",
            "rank_y1",
            "rank_y2",
            (F.col("rank_y1") - F.col("rank_y2")).alias("rank_gain"),
        )
        .sortWithinPartitions("rank_y2", "nation")
    )


@query(
    "supplier_revenue_hhi",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation, s.s_suppkey,
             SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
               AS rev_u
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT nation, SUM(rev_u) AS tot_u,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers
      FROM rev GROUP BY 1
    ),
    share AS (
      SELECT r.nation, (1000000 * r.rev_u) // t.tot_u AS share_fp
      FROM rev r JOIN tot t ON r.nation = t.nation
    )
    SELECT t.nation, t.n_suppliers,
           CAST(MAX(s.share_fp) AS BIGINT) AS top_share_fp,
           CAST(SUM(s.share_fp * s.share_fp) // 1000000 AS BIGINT)
             AS hhi_fp
    FROM share s JOIN tot t ON s.nation = t.nation
    GROUP BY t.nation, t.n_suppliers
    ORDER BY t.nation
    """,
)
def supplier_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-base concentration per nation: Herfindahl–Hirschman index
    of discounted-revenue shares across each nation's suppliers, plus
    the largest single share — the antitrust-style concentration audit
    (and the shape of a training-mix "is one source dominating this
    slice" check). HHI is computed on 1e-6 fixed-point shares and the
    squares summed in int64 (share_fp ≤ 1e6 → square ≤ 1e12 → safe for
    ~10⁶ suppliers per nation), so no revenue value is ever squared
    directly — the naive rev² overflows int64 cents at sf≫1.

    Plan: the supplier and nation dims broadcast into the fact scan;
    the (nation, supplier) rollup is the single fact-sized exchange
    (map-side partials); totals, shares, and the HHI rollup all run on
    the |suppliers|-row frame; revenue uses the registry's exact
    price-cents × discount-percent integer units."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (
            _cents(F.col("l_extendedprice"))
            * (F.lit(100) - _cents(F.col("l_discount")))
        ).alias("rev_u"),
    )
    # nation inlined as a 25-entry literal map (_nation_region_rows,
    # r11): no nation broadcast build; isNotNull = the old inner join.
    s = (
        load(spark, sf_dir, "supplier")
        .select(
            "s_suppkey",
            _nation_name_of(spark, sf_dir, "s_nationkey").alias("nation"),
        )
        .where(F.col("nation").isNotNull())
    )
    rev = (
        l.join(_sf_dim(s), l.l_suppkey == s.s_suppkey)
        .groupBy("nation", "s_suppkey")
        .agg(F.sum("rev_u").alias("rev_u"))
    )
    # Totals via a window over the |suppliers|-row rollup, NOT a second
    # aggregate-and-join-back consumption of `rev`: the plan consumed
    # `rev` twice, and without runtime exchange reuse that re-ran the
    # whole fact scan + join + rollup (measured 1.9x slower at sf0.1).
    # The round-6 "windows lose to rollup+join-back" negative result
    # applied to CORPUS-sized window frames; this frame is the
    # dimension-sized rollup, where the window's one small exchange
    # replaces a full second fact pass.
    w = W.partitionBy("nation")
    share = rev.select(
        "nation",
        F.count("*").over(w).alias("n_suppliers"),
        (F.lit(1000000) * F.col("rev_u")).alias("num"),
        F.sum("rev_u").over(w).alias("tot_u"),
    ).select(
        "nation", "n_suppliers", F.expr("num DIV tot_u").alias("share_fp")
    )
    return (
        share.groupBy("nation", "n_suppliers")
        .agg(
            F.max("share_fp").alias("top_share_fp"),
            F.expr("SUM(share_fp * share_fp) DIV 1000000").alias("hhi_fp"),
        )
        # dimension-sized tail: single-partition sort, no range
        # exchange / sampling job (r9 VERDICT #5a; util.ordered_small)
        .coalesce(1)
        .sortWithinPartitions("nation")
    )


# ---------------------------------------------------------------------------
# round 6c: per-group-threshold, share-of-parent, and exact-median shapes
# ---------------------------------------------------------------------------


@query(
    "orders_above_customer_avg",
    oracle="""
    WITH oc AS (
      SELECT o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders
    ),
    ca AS (
      SELECT o_custkey,
             CAST(SUM(price_c) AS BIGINT) AS sum_c,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM oc GROUP BY 1
    )
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(oc.price_c) AS BIGINT) AS revenue_cents
    FROM oc
    JOIN ca ON oc.o_custkey = ca.o_custkey
    JOIN customer c ON oc.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE 2 * oc.price_c * ca.cnt > 3 * ca.sum_c
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-threshold shape on the CUSTOMER key: orders whose
    value exceeds 1.5x that customer's own average order value, rolled
    up per nation — the "unusually large order for THIS account"
    anomaly query (the custkey sibling of small_qty_revenue's partkey
    decorrelation; the reference's per-account flag rollups in crud.py
    are the same correlated shape).

    Determinism: ``price > 1.5 * avg`` evaluates as
    ``2 * price_c * cnt > 3 * sum_c`` in int64 cents — no float
    average crosses the comparison.

    Scale shape (bucketed): the correlated aggregate is ONE unbounded
    window over the custkey-bucketed, (custkey, orderdate)-sorted
    orders layout — WindowExec's only requirements are clustering and
    grouping on custkey, both read straight off the scan, so the
    per-customer sum/count and the comparison happen in a single
    linear pass with ZERO exchange and ZERO sort (r11: replaces the
    groupBy + shuffle_hash self-join-back, which built a per-customer
    hash table per partition — one less pass over the fact). On plain
    parquet (no prepared layout) the decorrelated aggregate + join-back
    shape remains: one shared custkey exchange beats a full fact sort.
    Customer rides its co-located bucket leg; nation broadcasts; the
    final rollup is |nations| rows."""
    from trialstreamer_spark.io import bucketed_table

    ob = bucketed_table(spark, sf_dir, "orders_by_custkey")
    cb = bucketed_table(spark, sf_dir, "customer_by_custkey")
    c = (
        cb.select("c_custkey", "c_nationkey")
        if cb is not None
        else load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    )
    if ob is not None:
        wc = W.partitionBy("o_custkey")
        flagged = (
            ob.select(
                "o_custkey", _cents(F.col("o_totalprice")).alias("price_c")
            )
            .select(
                "o_custkey",
                "price_c",
                F.sum("price_c").over(wc).alias("sum_c"),
                F.count("*").over(wc).alias("cnt"),
            )
            .where(2 * F.col("price_c") * F.col("cnt") > 3 * F.col("sum_c"))
        )
        if cb is not None:
            c = c.hint("shuffle_hash")
        joined = flagged.join(c, flagged.o_custkey == c.c_custkey)
    else:
        oc = load(spark, sf_dir, "orders").select(
            "o_custkey", _cents(F.col("o_totalprice")).alias("price_c")
        )
        ca2 = (
            oc.groupBy("o_custkey")
            .agg(F.sum("price_c").alias("sum_c"), F.count("*").alias("cnt"))
            .withColumnRenamed("o_custkey", "ck")
        )
        if cb is None:
            c = _sf_dim(c)  # size-conditional broadcast fallback
        joined = (
            oc.join(ca2, oc.o_custkey == F.col("ck"))
            .where(2 * F.col("price_c") * F.col("cnt") > 3 * F.col("sum_c"))
            .join(c, oc.o_custkey == c.c_custkey)
        )
    # nation inlined as a 25-entry literal map (_nation_region_rows,
    # r11): no nation broadcast build; isNotNull = the old inner join.
    nation = _nation_name_of(spark, sf_dir, "c_nationkey")
    return (
        joined.where(nation.isNotNull())
        .groupBy(nation.alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("price_c").alias("revenue_cents"),
        )
        # dimension-sized tail: single-partition sort, no range
        # exchange / sampling job (r9 VERDICT #5a; util.ordered_small)
        .coalesce(1)
        .sortWithinPartitions("nation")
    )


@query(
    "mktsegment_yearly_share",
    oracle="""
    WITH f AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS yr,
             c.c_mktsegment AS segment,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS seg_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT yr, segment, seg_cents,
           CAST((1000000 * seg_cents)
                // SUM(seg_cents) OVER (PARTITION BY yr) AS BIGINT)
             AS share_fp
    FROM f
    ORDER BY yr, segment
    """,
)
def mktsegment_yearly_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent trend: each market segment's share of every
    year's total order value, at 1e-6 fixed-point resolution — the
    "mix shift" dashboard (the reference's match-rate pivot is the same
    share-of-parent statistic over registries).

    Scale shape: on the custkey-bucketed layouts the orders–customer
    join is co-located (merge join over HashPartitioning(custkey), no
    exchange, no per-query broadcast build of the SF-scaled customer
    dim); one (year, segment) rollup exchange (map-side partials,
    |years x segments| rows survive), and the share window runs on that
    tiny frame."""
    from trialstreamer_spark.io import bucketed_table

    ob = bucketed_table(spark, sf_dir, "orders_by_custkey")
    cb = bucketed_table(spark, sf_dir, "customer_by_custkey")
    o = (
        ob
        if ob is not None
        else load(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderdate", "o_totalprice"
        )
    )
    c = (
        cb.select("c_custkey", "c_mktsegment")
        if cb is not None
        else load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    if ob is not None and cb is not None:
        # both legs ride HashPartitioning(custkey) and the cached bucket
        # scans are key-sorted: the merge join is exchange-free and
        # skips the per-query broadcast build of the SF-scaled customer
        c = c.hint("merge")
    else:
        c = _sf_dim(c)  # un-bucketed fallback: size-conditional broadcast
    f = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("seg_cents"))
        # |years × segments| rows: one partition BEFORE the share
        # window, so the window's hash exchange and the final sort both
        # disappear (SinglePartition satisfies ClusteredDistribution(yr)
        # and the sort's ordering requirement) — r9 VERDICT #5.
        .coalesce(1)
    )
    return f.select(
        "yr",
        "segment",
        "seg_cents",
        F.expr(
            "(1000000 * seg_cents) DIV SUM(seg_cents)"
            " OVER (PARTITION BY yr)"
        ).alias("share_fp"),
    ).sortWithinPartitions("yr", "segment")


#: DuckDB orders collapsed to ``vc(nation, price_c, cnt)`` through
#: ``oc(nation, price_c)``: the shared head of the per-nation order-value
#: oracles (_nation_value_counts' result).
_DD_NATION_VALUE_COUNTS = """
    oc AS (
      SELECT n.n_name AS nation,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    ),
    vc AS (
      SELECT nation, price_c, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM oc GROUP BY 1, 2
    )"""


def _nation_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nation, price_c, cnt): orders collapsed to one row per
    (customer nation, order value in cents) — the shared first step of
    median_order_value_by_nation and order_value_gini_by_nation, whose
    windows then run over |distinct values per nation| rows, not
    |orders|."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", _cents(F.col("o_totalprice")).alias("price_c")
    )
    # nation inlined as a 25-entry literal map (_nation_region_rows,
    # r11): no nation broadcast build; isNotNull = the old inner join.
    c = (
        load(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            _nation_name_of(spark, sf_dir, "c_nationkey").alias("nation"),
        )
        .where(F.col("nation").isNotNull())
    )
    oc = o.join(_sf_dim(c), o.o_custkey == c.c_custkey).select(
        "nation", "price_c"
    )
    return oc.groupBy("nation", "price_c").agg(F.count("*").alias("cnt"))


@query(
    "median_order_value_by_nation",
    oracle=f"""
    WITH {_DD_NATION_VALUE_COUNTS.strip()},
    cum AS (
      SELECT nation, price_c, cnt,
             SUM(cnt) OVER (PARTITION BY nation ORDER BY price_c)
               AS cum_n,
             SUM(cnt) OVER (PARTITION BY nation) AS n
      FROM vc
    )
    SELECT nation,
           CAST(MIN(CASE WHEN cum_n >= (n + 1) // 2 THEN price_c END)
              + MIN(CASE WHEN cum_n >= (n + 2) // 2 THEN price_c END)
              AS BIGINT) AS median_cents_x2,
           CAST(MAX(n) AS BIGINT) AS n_orders
    FROM cum
    GROUP BY nation
    ORDER BY nation
    """,
)
def median_order_value_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-nation median order value without a global sort or a
    single-partition window: the distributed-median shape. Reported as
    ``median_cents_x2`` (lower + upper middle value) so the even-count
    average stays in exact int64 — no .5 float ever materializes.

    Scale shape: collapse to (nation, value, count) FIRST — the windows
    then run over |distinct values per nation| rows, not |orders|, and
    partition by nation so no single task sees the whole corpus (the
    NTILE/percentile_cont formulations are engine-defined on ties and
    funnel everything through one partition; approx_percentile trades
    exactness away — this plan is both exact and distributed). The
    median extraction is two conditional MINs over the cumulative
    frame, one |nations|-row rollup."""
    vc = _nation_value_counts(spark, sf_dir)
    wcum = W.partitionBy("nation").orderBy("price_c")
    cum = vc.select(
        "nation",
        "price_c",
        F.sum("cnt").over(wcum).alias("cum_n"),
        F.sum("cnt").over(W.partitionBy("nation")).alias("n"),
    )
    return (
        cum.groupBy("nation")
        .agg(
            (
                F.min(
                    F.when(
                        F.col("cum_n") >= F.expr("(n + 1) DIV 2"),
                        F.col("price_c"),
                    )
                )
                + F.min(
                    F.when(
                        F.col("cum_n") >= F.expr("(n + 2) DIV 2"),
                        F.col("price_c"),
                    )
                )
            ).alias("median_cents_x2"),
            F.max("n").alias("n_orders"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("nation")
    )


@query(
    "excess_shipped_parts",
    oracle="""
    WITH f AS (
      SELECT l.l_partkey, l.l_suppkey,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_name LIKE 'small %'
      GROUP BY 1, 2
    )
    SELECT s.s_name AS supplier, n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_excess_parts,
           CAST(SUM(f.qty) AS BIGINT) AS total_qty
    FROM f
    JOIN supplier s ON f.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE f.qty > 90
    GROUP BY 1, 2
    ORDER BY supplier
    """,
)
def excess_shipped_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers who moved
    EXCESS volume (> 90 units) of a name-matched part family — the
    semi-join chain part → lineitem → supplier that Q20 runs against
    availqty, re-based on shipped quantity (no partsupp table in this
    corpus; reference parity is the chain shape, not the column).

    Scale shape: the name-filtered part list broadcasts into the fact
    scan (it is the selective predicate — the LIKE is evaluated on the
    |parts| dim, never on lineitem); the (partkey, suppkey) rollup
    rides the partkey-bucketed lineitem layout when prepared —
    HashPartitioning(l_partkey) satisfies the (partkey, suppkey)
    clustered distribution, so the heavy aggregation is EXCHANGE-FREE —
    and the excess filter cuts the survivors to a handful of rows
    before the broadcast supplier/nation joins and the |suppliers|-row
    final rollup."""
    from trialstreamer_spark.io import bucketed_table

    lb = bucketed_table(spark, sf_dir, "lineitem_by_partkey")
    li = (
        lb
        if lb is not None
        else load(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_suppkey", "l_quantity"
        )
    )
    p = (
        load(spark, sf_dir, "part")
        .where(F.col("p_name").like("small %"))
        .select("p_partkey")
    )
    # nation inlined as a 25-entry literal map (_nation_region_rows,
    # r11): no nation broadcast build; isNotNull = the old inner join.
    s = (
        load(spark, sf_dir, "supplier")
        .select(
            "s_suppkey",
            "s_name",
            _nation_name_of(spark, sf_dir, "s_nationkey").alias("nation"),
        )
        .where(F.col("nation").isNotNull())
    )
    f = (
        li.join(_sf_dim(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        .where(F.col("qty") > 90)
    )
    return (
        f.join(_sf_dim(s), f.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_name").alias("supplier"), "nation")
        .agg(
            F.count("*").alias("n_excess_parts"),
            F.sum("qty").alias("total_qty"),
        )
        .orderBy("supplier")
    )


@query(
    "order_value_gini_by_nation",
    oracle=f"""
    WITH {_DD_NATION_VALUE_COUNTS.strip()},
    cum AS (
      SELECT nation, price_c, cnt,
             SUM(cnt) OVER (PARTITION BY nation ORDER BY price_c) AS r,
             SUM(cnt) OVER (PARTITION BY nation) AS n,
             SUM(price_c * cnt) OVER (PARTITION BY nation) AS sumx
      FROM vc
    ),
    agg AS (
      SELECT nation,
             CAST(MAX(n) AS BIGINT) AS n_orders,
             CAST(MAX(sumx) AS BIGINT) AS total_cents,
             CAST(SUM(price_c * cnt * (2 * r - cnt - n)) AS BIGINT)
               AS num
      FROM cum GROUP BY nation
    )
    SELECT nation, n_orders, total_cents,
           CAST(CASE WHEN (n_orders * total_cents) // 1000000 > 0
                     THEN num // ((n_orders * total_cents) // 1000000)
                     ELSE -1 END AS BIGINT) AS gini_fp
    FROM agg
    ORDER BY nation
    """,
)
def order_value_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Gini coefficient of order values per nation — the revenue
    inequality audit (a nation whose Gini drifts up is concentrating
    into whale accounts; the flip side of supplier_revenue_hhi's
    supply-base concentration). Entirely integer: with values sorted
    ascending, sum(|xi-xj|) = sum_i (2i - n - 1)·x_i, and a tied run of
    count c ending at cumulative rank R contributes
    v·c·(2R - c - n) — no floats, no per-row rank explosion. The
    1e-6 fixed-point divide pre-shrinks the denominator
    (n·sum(x) DIV 1e6) so every operand stays in int64 at sf1 (at
    100 TB per-group moments this large move to decimal(38,0) — the
    formula is unchanged).

    Scale shape: dims broadcast into the orders scan, collapse to
    (nation, value, count) FIRST (the windows then run over |distinct
    values per nation| rows, partitioned by nation — the
    median_order_value_by_nation discipline), one |nations|-row
    rollup. -1 sentinel where the shrunk denominator underflows to 0
    (degenerate tiny groups)."""
    vc = _nation_value_counts(spark, sf_dir)
    wn = W.partitionBy("nation")
    cum = vc.select(
        "nation",
        "price_c",
        "cnt",
        F.sum("cnt").over(wn.orderBy("price_c")).alias("r"),
        F.sum("cnt").over(wn).alias("n"),
        F.sum(F.col("price_c") * F.col("cnt")).over(wn).alias("sumx"),
    )
    agg = cum.groupBy("nation").agg(
        F.max("n").alias("n_orders"),
        F.max("sumx").alias("total_cents"),
        F.sum(
            F.col("price_c")
            * F.col("cnt")
            * (2 * F.col("r") - F.col("cnt") - F.col("n"))
        ).alias("num"),
    )
    return agg.select(
        "nation",
        "n_orders",
        "total_cents",
        F.when(
            F.expr("(n_orders * total_cents) DIV 1000000") > 0,
            F.expr("num DIV ((n_orders * total_cents) DIV 1000000)"),
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("gini_fp"),
    ).coalesce(1).sortWithinPartitions("nation")  # |nations| rows (r10 sweep)


@query(
    "ship_latency_by_nation",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(datediff('day', o.o_orderdate, l.l_shipdate))
                // COUNT(*) AS BIGINT) AS mean_days,
           CAST(MAX(datediff('day', o.o_orderdate, l.l_shipdate))
                AS BIGINT) AS max_days,
           CAST((1000000 * SUM(CASE WHEN
                  datediff('day', o.o_orderdate, l.l_shipdate) > 90
                  THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
             AS slow_share_fp
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def ship_latency_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency profile per supplier nation: mean and max
    days from order placement to line shipment, plus the share shipped
    slower than 90 days at 1e-6 fixed point — the fulfilment-SLA
    dashboard (the reference's per-registry freshness checks are the
    same shape over feeds). Mean truncates via integer division; no
    float crosses the compare.

    Scale shape: the ONE fact-fact join rides the orderkey-bucketed
    lineitem/orders projections when prepared — both sides expose
    HashPartitioning(orderkey), so the join is exchange-free —
    supplier/nation broadcast, and the rollup collapses map-side to
    |nations| rows.

    r11 residual (sf1, 100 ms/job floor): 0.54-0.65 s / 4 jobs = 0.30 s
    floor — remaining exchanges are the two dim broadcasts + the final
    |nations| rollup; the fix was the merge hint (1.23 -> 0.54 s, the
    planner was broadcasting the orders key projection)."""
    from trialstreamer_spark.io import bucketed_table

    lb = bucketed_table(spark, sf_dir, "lineitem_by_orderkey")
    ob = bucketed_table(spark, sf_dir, "orders_by_orderkey")
    li = (
        lb
        if lb is not None
        else load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_shipdate"
        )
    )
    o = (
        ob
        if ob is not None
        else load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    )
    # nation inlined as a 25-entry literal map (_nation_region_rows,
    # r11): no nation broadcast build; isNotNull = the old inner join.
    s = (
        load(spark, sf_dir, "supplier")
        .select(
            "s_suppkey",
            _nation_name_of(spark, sf_dir, "s_nationkey").alias("nation"),
        )
        .where(F.col("nation").isNotNull())
    )
    if lb is not None and ob is not None:
        # pin the co-located bucket merge: without the hint the planner
        # broadcasts the orders key projection — a fact-derived build
        # side (see trade_flow_matrix; measured r11 sf1 1.46 s -> ~0.7 s)
        li = li.hint("merge")
    lat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(_sf_dim(s), li.l_suppkey == s.s_suppkey)
        .select(
            "nation",
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias(
                "days"
            ),
        )
    )
    return (
        lat.groupBy("nation")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("days").alias("sum_days"),
            F.max("days").cast("long").alias("max_days"),
            F.sum(F.when(F.col("days") > 90, 1).otherwise(0)).alias("n_slow"),
        )
        .select(
            "nation",
            "n_items",
            F.expr("sum_days DIV n_items").alias("mean_days"),
            "max_days",
            F.expr("(1000000 * n_slow) DIV n_items").alias("slow_share_fp"),
        )
        # dimension-sized tail: single-partition sort, no range
        # exchange / sampling job (r9 VERDICT #5a; util.ordered_small)
        .coalesce(1)
        .sortWithinPartitions("nation")
    )


@query(
    "reorder_interval_percentiles",
    oracle="""
    WITH g AS (
      SELECT datediff('day',
               lag(o_orderdate) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS gap_d
      FROM orders
    ),
    vc AS (
      SELECT gap_d, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM g WHERE gap_d IS NOT NULL GROUP BY 1
    ),
    cum AS (
      SELECT gap_d, cnt,
             SUM(cnt) OVER (ORDER BY gap_d) AS cum_n,
             SUM(cnt) OVER () AS n
      FROM vc
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MIN(CASE WHEN 100 * cum_n >= 50 * n THEN gap_d END)
                AS BIGINT) AS p50_d,
           CAST(MIN(CASE WHEN 100 * cum_n >= 90 * n THEN gap_d END)
                AS BIGINT) AS p90_d,
           CAST(MIN(CASE WHEN 100 * cum_n >= 99 * n THEN gap_d END)
                AS BIGINT) AS p99_d
    FROM cum
    """,
)
def reorder_interval_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p90/p99 of the days between a customer's consecutive
    orders — the repeat-purchase cadence that calibrates churn windows
    ("dormant" in dormant_rich_customers should mean > p90, not a
    guessed constant). Same distributed-quantile discipline as
    event_gap_percentiles: the p-th percentile is the smallest gap
    whose cumulative count reaches ceil(p·n/100), stated in integers
    as ``100·cum_n >= p·n``.

    Scale shape: the lag window rides the orders_by_custkey bucket
    layout — its HashPartitioning(custkey) satisfies the window's
    partitionBy, so the fact-wide exchange (the dominant cost of the
    pre-r11 plan: shuffle + sort of every order row) disappears and
    only the per-bucket sort on (custkey, orderdate) remains. The
    orderkey tiebreak the plain-scan plan carried is deliberately
    dropped: consecutive differences of a sorted date multiset are
    invariant to tie order, so the gap MULTISET — all the aggregate
    sees — is unchanged (and the bucket projection need not carry
    orderkey). Collapse to (gap, count) — the global cumulative window
    then runs over |distinct gaps| ≤ the corpus date span in days
    (~2.4k rows regardless of order count), so its single partition is
    bounded by the CALENDAR, not the data; one final 1-row rollup."""
    from trialstreamer_spark.io import bucketed_table

    ob = bucketed_table(spark, sf_dir, "orders_by_custkey")
    o = ob if ob is not None else load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate")
    g = (
        o.select(
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).alias("gap_d")
        )
        .where(F.col("gap_d").isNotNull())
    )
    # |distinct gaps| is calendar-bounded (~2.4k rows): one partition
    # NOW, so both windows and the final rollup skip their exchanges
    # (the window's Exchange(SinglePartition) was a whole extra job).
    vc = g.groupBy("gap_d").agg(F.count("*").alias("cnt")).coalesce(1)
    cum = vc.select(
        "gap_d",
        F.sum("cnt").over(W.orderBy("gap_d")).alias("cum_n"),
        F.sum("cnt").over(W.partitionBy()).alias("n"),
    )

    def pctl(p: int) -> Column:
        return F.min(
            F.when(100 * F.col("cum_n") >= p * F.col("n"), F.col("gap_d"))
        ).cast("long").alias(f"p{p}_d")

    return cum.agg(
        F.max("n").alias("n_gaps"), pctl(50), pctl(90), pctl(99)
    )


@query(
    "whale_revenue_share",
    oracle="""
    WITH cr AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM orders GROUP BY 1
    ),
    vc AS (
      SELECT rev_c, CAST(COUNT(*) AS BIGINT) AS cnt FROM cr GROUP BY 1
    ),
    cum AS (
      SELECT rev_c, cnt,
             SUM(cnt) OVER (ORDER BY rev_c DESC) AS cum_n,
             SUM(rev_c * cnt) OVER (ORDER BY rev_c DESC) AS cum_rev,
             SUM(cnt) OVER () AS n,
             SUM(rev_c * cnt) OVER () AS total_rev
      FROM vc
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(MAX(CASE WHEN 100 * cum_n >= n THEN rev_c END)
                AS BIGINT) AS threshold_cents,
           CAST(MIN(CASE WHEN 100 * cum_n >= n THEN cum_n END)
                AS BIGINT) AS n_whales,
           CAST((1000000 * MIN(CASE WHEN 100 * cum_n >= n THEN cum_rev END))
                // MAX(total_rev) AS BIGINT) AS whale_share_fp
    FROM cum
    """,
)
def whale_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration audit: what share of total order revenue
    the top ~1% of customers carry (the "whale" dashboard; pairs with
    order_value_gini_by_nation — Gini says HOW unequal, this says WHO
    holds it). The 1% threshold is the largest revenue t such that at
    least 1% of customers sit at or above it (``100·cum_n >= n`` over
    the DESCENDING cumulative — the distributed-quantile ceiling), and
    ties at t are all included — a rule both engines state identically,
    so no ambiguity at the boundary.

    Scale shape: one custkey rollup of the fact (map-side partials),
    collapse to (revenue, count); the descending cumulative window runs
    on that second-stage frame — |distinct revenues| ≤ |customers|,
    already 1000× below the fact (at 100 TB, pre-bucket revenues with
    a DIV 10^4 histogram pass and refine inside the boundary bucket —
    same formula, two bounded windows); the 1-row threshold broadcasts
    back onto the customer rollup for the final 1-row summary."""
    from trialstreamer_spark.io import bucketed_table

    ob = bucketed_table(spark, sf_dir, "orders_by_custkey")
    cr = (
        (ob if ob is not None else load(spark, sf_dir, "orders"))
        .groupBy("o_custkey")
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("rev_c"))
    )
    # Everything the old crossJoin-back-onto-cr computed is already a
    # running statistic of the (rev_c, cnt) frame: at the threshold row
    # (the FIRST descending row with 100·cum_n >= n) cum_n IS n_whales
    # and the running revenue mass IS whale_cents — so carry both
    # cumulatives in the window pass and finish with ONE 1-row rollup,
    # dropping the broadcast-back join and the second cr scan (which
    # recomputed the whole custkey rollup per reference). The frame is
    # single-partition anyway for the global window; coalesce(1) gives
    # that without an Exchange(SinglePartition) materialization.
    vc = cr.groupBy("rev_c").agg(F.count("*").alias("cnt")).coalesce(1)
    w_desc = W.orderBy(F.col("rev_c").desc())
    cum = vc.select(
        "rev_c",
        F.sum("cnt").over(w_desc).alias("cum_n"),
        F.sum(F.col("rev_c") * F.col("cnt")).over(w_desc).alias("cum_rev"),
        F.sum("cnt").over(W.partitionBy()).alias("n"),
        F.sum(F.col("rev_c") * F.col("cnt")).over(W.partitionBy()).alias("total_rev"),
    )
    at_thr = F.when(100 * F.col("cum_n") >= F.col("n"), F.col("rev_c"))
    return (
        cum.agg(
            F.max("n").alias("n_customers"),
            # the threshold ROW is the first (highest-revenue) one whose
            # descending cumulative reaches 1% — MAX of the qualifying
            # rev_c. (r10 fix: both engines previously took MIN, i.e.
            # the global minimum revenue, silently making every customer
            # a whale — a shared-semantics bug parity cannot catch.)
            F.max(at_thr).alias("threshold_cents"),
            # min over qualifying rows = the threshold row's value (the
            # descending cumulative is monotone in both statistics)
            F.min(F.when(100 * F.col("cum_n") >= F.col("n"), F.col("cum_n")))
            .alias("n_whales"),
            F.min(F.when(100 * F.col("cum_n") >= F.col("n"), F.col("cum_rev")))
            .alias("whale_cents"),
            F.max("total_rev").alias("total_cents"),
        )
        .select(
            "n_customers",
            "threshold_cents",
            "n_whales",
            F.expr("(1000000 * whale_cents) DIV total_cents").alias(
                "whale_share_fp"
            ),
        )
    )


@query(
    "order_fulfillment_backlog",
    oracle="""
    WITH placed AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) * 100
                  + EXTRACT(month FROM o_orderdate) AS BIGINT) AS ym,
             CAST(COUNT(*) AS BIGINT) AS n_placed
      FROM orders GROUP BY 1
    ),
    done AS (
      SELECT l_orderkey, MAX(l_shipdate) AS last_ship
      FROM lineitem GROUP BY 1
    ),
    completed AS (
      SELECT CAST(EXTRACT(year FROM last_ship) * 100
                  + EXTRACT(month FROM last_ship) AS BIGINT) AS ym,
             CAST(COUNT(*) AS BIGINT) AS n_completed
      FROM done GROUP BY 1
    )
    SELECT p.ym,
           p.n_placed,
           CAST(COALESCE(c.n_completed, 0) AS BIGINT) AS n_completed,
           CAST(SUM(p.n_placed) OVER (ORDER BY p.ym)
                - SUM(COALESCE(c.n_completed, 0)) OVER (ORDER BY p.ym)
                AS BIGINT) AS open_backlog
    FROM placed p LEFT JOIN completed c ON p.ym = c.ym
    ORDER BY p.ym
    """,
)
def order_fulfillment_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog time series: per month, orders placed, orders
    fully shipped (every line item out the door), and the running
    backlog — the operations chart that shows fulfilment falling behind
    demand. An order completes in the month of its LAST line shipment
    (MAX, not MIN — partial shipment isn't done).

    Scale shape: the per-order MAX(l_shipdate) rollup rides the
    orderkey-bucketed lineitem projection when prepared (the groupBy
    key IS the bucket key — exchange-free), the placed rollup collapses
    map-side to |months| rows, and both cumulative windows run on the
    |months|-sized join — bounded by the calendar, never the fact.
    Months completed-only (no placements) don't occur in this corpus
    shape (a completion month always trails a placement month within
    the date span); the left join keeps placement months with zero
    completions exact."""
    from trialstreamer_spark.io import bucketed_table

    lb = bucketed_table(spark, sf_dir, "lineitem_by_orderkey")
    li = (
        lb.select("l_orderkey", "l_shipdate")
        if lb is not None
        else load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_shipdate"
        )
    )
    o = load(spark, sf_dir, "orders")

    def ym(col: str) -> Column:
        return (F.year(col) * 100 + F.month(col)).cast("long")

    placed = o.groupBy(ym("o_orderdate").alias("ym")).agg(
        F.count("*").alias("n_placed")
    )
    done = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("last_ship"))
    completed = done.groupBy(ym("last_ship").alias("ym")).agg(
        F.count("*").alias("n_completed")
    )
    j = (
        placed.join(completed.withColumnRenamed("ym", "cym"),
                    placed.ym == F.col("cym"), "left")
        .select(
            "ym",
            "n_placed",
            F.coalesce("n_completed", F.lit(0)).cast("long").alias(
                "n_completed"
            ),
        )
    )
    wc = W.orderBy("ym")
    return (
        j.select(
            "ym",
            "n_placed",
            "n_completed",
            (
                F.sum("n_placed").over(wc) - F.sum("n_completed").over(wc)
            ).cast("long").alias("open_backlog"),
        )
        .orderBy("ym")
    )


@query(
    "order_lines_histogram",
    oracle="""
    WITH per AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1
    )
    SELECT n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST((1000000 * COUNT(*)) // SUM(COUNT(*)) OVER () AS BIGINT)
             AS share_fp
    FROM per GROUP BY n_lines ORDER BY n_lines
    """,
)
def order_lines_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines-per-order distribution with shares — the fact-table shape
    audit (fan-out of the orderkey join, MERGE batch sizing, and the
    denominator behind every per-order average). Trivial statistic,
    non-trivial plan point: the per-order count is a groupBy ON THE
    BUCKET KEY, so over the prepared orderkey layout the corpus-sized
    aggregation runs with NO exchange at all — the same
    HashPartitioning(l_orderkey, 16) that co-locates the fact joins
    satisfies the aggregation's distribution; only the ≤7-row histogram
    shuffles."""
    from trialstreamer_spark.io import bucketed_table

    lb = bucketed_table(spark, sf_dir, "lineitem_by_orderkey")
    li = (
        lb.select("l_orderkey")
        if lb is not None
        else load(spark, sf_dir, "lineitem").select("l_orderkey")
    )
    per = li.groupBy("l_orderkey").agg(F.count("*").alias("n_lines"))
    return (
        per.groupBy("n_lines")
        .agg(F.count("*").alias("n_orders"))
        .select(
            "n_lines",
            "n_orders",
            F.expr("(1000000 * n_orders) DIV SUM(n_orders) OVER ()").alias(
                "share_fp"
            ),
        )
        .orderBy("n_lines")
    )


@query(
    "customer_repeat_rate_yoy",
    oracle="""
    WITH cy AS (
      SELECT DISTINCT c.c_nationkey,
             CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS yr,
             o.o_custkey
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    j AS (
      SELECT a.c_nationkey, a.yr,
             CAST(COUNT(*) AS BIGINT) AS n_active,
             CAST(SUM(CASE WHEN b.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_retained
      FROM cy a
      LEFT JOIN cy b ON b.c_nationkey = a.c_nationkey
                    AND b.o_custkey = a.o_custkey
                    AND b.yr = a.yr + 1
      GROUP BY 1, 2
    )
    SELECT n.n_name AS nation, j.yr, j.n_active, j.n_retained,
           CAST((1000000 * j.n_retained) // j.n_active AS BIGINT)
             AS retained_fp
    FROM j JOIN nation n ON j.c_nationkey = n.n_nationkey
    WHERE j.yr < (SELECT MAX(CAST(EXTRACT(year FROM o_orderdate) AS BIGINT))
                  FROM orders)
    ORDER BY nation, yr
    """,
)
def customer_repeat_rate_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year repeat-customer rate per nation: of the customers
    active in year Y, what share ordered again in Y+1 — the commerce
    retention KPI (the order-side sibling of the event-side
    retention_cohorts). The trailing year is excluded (no Y+1 to retain
    into); 1e-6 fixed-point shares of exact distinct-customer counts.

    Scale shape: ONE fact pass — collapse to a per-customer year SET
    (the groupBy rides HashPartitioning(custkey) on the bucket layouts
    with no exchange; set size ≤ |calendar years|), explode, and read
    "retained at Y" off the same row as "Y+1 ∈ set". No self-join (the
    old cy⋈cy consumed the distinct subtree twice = two fact scans),
    no separate maxyr scan (max(yr) of the tiny rollup is the corpus
    max year); the |nations × years| tail is single-partition.
    Measured trade: at sf0.1 the collect_set buffer costs more than the
    extra scans it saves (bench 0.46→~0.7 s) but wins at sf1
    (0.82→0.65 s) and the gap grows with scale — one fact pass is the
    100 TB-correct shape, so the toy-scale cost is accepted.

    FK assumption (r10 ADVICE): maxyr is the window max of the
    CUSTOMER-JOINED rollup, so an order whose custkey is absent from
    customer cannot cap the output year. Identical to a raw-scan max
    only under orders.o_custkey ⊆ customer.c_custkey — a stated corpus
    invariant (TPC-H referential integrity; tools/gen_scale.py draws
    custkeys from the customer keyspace). On a corpus with orphan
    orders, derive maxyr from the raw orders scan instead."""
    from trialstreamer_spark.io import bucketed_table

    ob = bucketed_table(spark, sf_dir, "orders_by_custkey")
    cb = bucketed_table(spark, sf_dir, "customer_by_custkey")
    o = (ob if ob is not None else load(spark, sf_dir, "orders")).select(
        "o_custkey", F.year("o_orderdate").cast("long").alias("yr")
    )
    c = (
        cb.select("c_custkey", "c_nationkey")
        if cb is not None
        else load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    )
    if ob is not None and cb is not None:
        c = c.hint("shuffle_hash")
    else:
        c = _sf_dim(c)
    # Per-customer year SET in one pass (groupBy custkey rides the
    # bucket layout exchange-free), then explode: "retained at Y" is
    # simply "Y+1 in the same set". The old cy⋈cy self-join consumed
    # the distinct subtree twice — two full fact scans + joins — and a
    # THIRD orders pass computed maxyr; maxyr is just max(yr) of the
    # rollup (every order year appears), free on the tiny frame.
    yrs = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.collect_set("yr").alias("yrs"))
    )
    j = (
        yrs.select(
            "c_nationkey",
            F.explode("yrs").alias("yr"),
            F.col("yrs").alias("all_yrs"),
        )
        .groupBy("c_nationkey", "yr")
        .agg(
            F.count("*").alias("n_active"),
            F.sum(
                F.when(
                    F.array_contains(F.col("all_yrs"), F.col("yr") + 1), 1
                ).otherwise(0)
            ).alias("n_retained"),
        )
        # |nations × years| rows: windows/join/sort below run
        # exchange-free on one partition (r9 VERDICT #5).
        .coalesce(1)
    )
    # nation inlined as a 25-entry literal map (_nation_region_rows,
    # r11): no nation broadcast build; isNotNull = the old inner join.
    nation = _nation_name_of(spark, sf_dir, "c_nationkey")
    return (
        j.withColumn("maxyr", F.max("yr").over(W.partitionBy()))
        .where(F.col("yr") < F.col("maxyr"))
        .where(nation.isNotNull())
        .select(
            nation.alias("nation"),
            "yr",
            "n_active",
            "n_retained",
            F.expr("(1000000 * n_retained) DIV n_active").alias(
                "retained_fp"
            ),
        )
        .sortWithinPartitions("nation", "yr")
    )


@query(
    "trade_flow_matrix",
    oracle="""
    WITH f AS (
      SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
             CAST(SUM(CAST(ROUND(l.l_extendedprice
                                 * (1 - l.l_discount) * 100) AS BIGINT))
                  AS BIGINT) AS volume_cents,
             CAST(COUNT(*) AS BIGINT) AS n_items
      FROM lineitem l
      JOIN orders o    ON l.l_orderkey = o.o_orderkey
      JOIN customer c  ON o.o_custkey = c.c_custkey
      JOIN supplier s  ON l.l_suppkey = s.s_suppkey
      JOIN nation ns   ON s.s_nationkey = ns.n_nationkey
      JOIN nation nc   ON c.c_nationkey = nc.n_nationkey
      GROUP BY 1, 2
    )
    SELECT supp_nation, cust_nation, n_items, volume_cents,
           CAST((1000000 * volume_cents)
                // SUM(volume_cents) OVER (PARTITION BY supp_nation)
                AS BIGINT) AS export_share_fp
    FROM f
    ORDER BY supp_nation, cust_nation
    """,
)
def trade_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full bilateral trade-flow matrix (TPC-H Q7 generalized from one
    nation pair to all |nations|²): discounted volume shipped from
    every supplier nation to every customer nation, plus each lane's
    share of its exporter's total — the trade-concentration dashboard
    (an exporter with one dominant lane is a supply-chain risk the
    Q7-style two-nation query never surfaces).

    Scale shape: ONE fact-fact join (lineitem ⋈ orders rides the
    orderkey buckets exchange-free when prepared); customer, supplier,
    and both nation legs broadcast; the rollup collapses map-side to
    ≤|nations|² rows and the exporter-share window runs on that matrix.
    Exact integer cents; shares at 1e-6 fixed point.

    r11 residual (sf1, 100 ms/job floor): 0.80-1.03 s / 6 jobs = 0.45 s
    of pure scheduler floor — the remaining exchanges are the four dim
    broadcasts + the single rollup exchange, all required; the fix this
    round was the merge hint (the planner was broadcasting the 1.5M-row
    orders projection: 2.17 -> 0.80 s)."""
    from trialstreamer_spark.io import bucketed_table

    lb = bucketed_table(spark, sf_dir, "lineitem_by_orderkey")
    li = (
        lb
        if lb is not None
        else load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
        )
    )
    ob = bucketed_table(spark, sf_dir, "orders_by_orderkey")
    o = (
        ob
        if ob is not None
        else load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    )
    # nation inlined as a 25-entry literal map on each side's nationkey
    # (_nation_region_rows, r11): the two nation broadcast builds (one
    # scheduler job each) never enter the plan; the isNotNull guards
    # reproduce the old inner joins exactly.
    c = (
        load(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            _nation_name_of(spark, sf_dir, "c_nationkey").alias("cust_nation"),
        )
        .where(F.col("cust_nation").isNotNull())
    )
    s = (
        load(spark, sf_dir, "supplier")
        .select(
            "s_suppkey",
            _nation_name_of(spark, sf_dir, "s_nationkey").alias("supp_nation"),
        )
        .where(F.col("supp_nation").isNotNull())
    )
    if lb is not None and ob is not None:
        # Without the hint the planner BROADCASTS the orders-side key
        # projection (it sits under the 10 MB cap at bench scale) — a
        # fact-derived build side that grows with the corpus and is
        # lethal at 100 TB; measured r11 at sf1: 1.84 s with the
        # broadcast vs ~0.7 s on the co-located bucket merge. Same fix
        # regional_revenue carries.
        li = li.hint("merge")
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    f = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(_sf_dim(c), o.o_custkey == c.c_custkey)
        .join(_sf_dim(s), li.l_suppkey == s.s_suppkey)
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.sum(rev).alias("volume_cents"),
            F.count("*").alias("n_items"),
        )
        # ≤|nations|² rows: one partition BEFORE the exporter-share
        # window so it and the final sort run exchange-free (r9 #5).
        .coalesce(1)
    )
    return f.select(
        "supp_nation",
        "cust_nation",
        "n_items",
        "volume_cents",
        F.expr(
            "(1000000 * volume_cents)"
            " DIV SUM(volume_cents) OVER (PARTITION BY supp_nation)"
        ).alias("export_share_fp"),
    ).sortWithinPartitions("supp_nation", "cust_nation")


@query(
    "revenue_cube_flag_status",
    oracle="""
    SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
           COALESCE(l_linestatus, '(all)') AS linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT)
             AS grouping_id,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY grouping_id, returnflag, linestatus
    """,
)
def revenue_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): every combination PLUS both
    one-dimension margins PLUS the grand total in ONE aggregation pass
    — the grouping-sets surface (the sibling of rollup_priority_status'
    hierarchical ROLLUP; the reference's matview refresh recomputes its
    margins as separate queries, crud.py). grouping_id disambiguates a
    real 'N/A' value from a margin row; margin dimension values print
    as '(all)' identically in both engines.

    Scale shape: Catalyst lowers CUBE to one Expand (4 grouping sets →
    4× rows pre-aggregation) feeding a single hash aggregate — map-side
    partials collapse each set to its ≤|flags × statuses| cells, so the
    one exchange carries ~4× a dimension-sized frame, never the fact.
    At 100 TB this beats four separate rollups by three corpus scans."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("grouping_id"),
            F.count("*").alias("n_items"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("revenue_cents"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "grouping_id",
            "n_items",
            "revenue_cents",
        )
        # dimension-sized tail: single-partition sort, no range
        # exchange / sampling job (r9 VERDICT #5a; util.ordered_small)
        .coalesce(1)
        .sortWithinPartitions("grouping_id", "returnflag", "linestatus")
    )


@query(
    "session_duration_percentiles",
    oracle="""
    WITH g AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                              ROWS UNBOUNDED PRECEDING) AS sid,
             ts_us
      FROM g
    ),
    dur AS (
      SELECT (MAX(ts_us) - MIN(ts_us)) // 1000000 AS dur_s
      FROM sess GROUP BY user_id, sid
    ),
    vc AS (
      SELECT dur_s, CAST(COUNT(*) AS BIGINT) AS cnt FROM dur GROUP BY 1
    ),
    cum AS (
      SELECT dur_s, cnt,
             SUM(cnt) OVER (ORDER BY dur_s) AS cum_n,
             SUM(cnt) OVER () AS n
      FROM vc
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_sessions,
           CAST(MIN(CASE WHEN 100 * cum_n >= 50 * n THEN dur_s END)
                AS BIGINT) AS p50_s,
           CAST(MIN(CASE WHEN 100 * cum_n >= 90 * n THEN dur_s END)
                AS BIGINT) AS p90_s,
           CAST(MIN(CASE WHEN 100 * cum_n >= 99 * n THEN dur_s END)
                AS BIGINT) AS p99_s
    FROM cum
    """,
)
def session_duration_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p90/p99 session duration (first-to-last event of each
    30-min-gap session, whole seconds) — the session-length SLO behind
    state-store TTLs and the session_window gap choice itself
    (a p99 near the 30-min gap means the threshold is splitting real
    sessions). Completes the sessionization family: sessionize counts,
    session_count_histogram distributes, this one sizes.

    Scale shape: the boundary flag, the running session-id, and the
    per-session rollup all ride ONE user_id exchange (same-key window →
    window → groupBy chain, Catalyst reuses the partitioning); then the
    value-count collapse + cumulative window of the exact-quantile
    discipline — the global window runs over |distinct durations|
    (bounded by the corpus time span in seconds), and ties on equal
    timestamps pin via event_id in the boundary ordering."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts"))
    gap = ts_us - F.lag(ts_us).over(w)
    new_s = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    g = e.select(
        "user_id", ts_us.alias("ts_us"), "event_id", new_s.alias("new_s")
    )
    wses = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sess = g.select(
        "user_id", "ts_us", F.sum("new_s").over(wses).alias("sid")
    )
    dur = (
        sess.groupBy("user_id", "sid")
        .agg(((F.max("ts_us") - F.min("ts_us"))).alias("dur_us"))
        .select(F.expr("dur_us DIV 1000000").alias("dur_s"))
    )
    vc = dur.groupBy("dur_s").agg(F.count("*").alias("cnt"))
    cum = vc.select(
        "dur_s",
        F.sum("cnt").over(W.orderBy("dur_s")).alias("cum_n"),
        F.sum("cnt").over(W.partitionBy()).alias("n"),
    )

    def pctl(p: int) -> Column:
        return F.min(
            F.when(100 * F.col("cum_n") >= p * F.col("n"), F.col("dur_s"))
        ).cast("long").alias(f"p{p}_s")

    return cum.agg(
        F.max("n").alias("n_sessions"), pctl(50), pctl(90), pctl(99)
    )
