"""Physical-plan hygiene: assertions on .explain output for key
operators, so scale regressions (lost pushdown, surprise cartesian,
de-broadcast, single-task hot stages) fail CI instead of surfacing as
cluster bills.

These encode the 100 TB design decisions:
- filters/projections must reach the parquet scan (PushedFilters /
  ReadSchema) — a scan reading all columns for a 2-column projection is
  wrong at any scale;
- small dims broadcast; corpus-side never shuffles for a probe join;
- candidate generation is equi-join (bucket keys), never cartesian;
- the CPU-heavy shingle projection sits ABOVE the pinned-width exchange
  (the explode_outer regression test — an implicit size>0 pushdown once
  re-serialized it into the single-split scan).
"""

from __future__ import annotations

import os
import re

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from trialstreamer_spark.io import load
from trialstreamer_spark.operators import dedup, similarity
from trialstreamer_spark.plans.registry import QUERIES

import trialstreamer_spark.plans.all_queries  # noqa: F401  (registry fill)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= "1998-09-02")
        .select("l_returnflag", "l_quantity")
    )
    p = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p or "LessThanOrEqual(l_shipdate" in p
    # column pruning: ReadSchema carries only the referenced columns
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "l_returnflag" in read_schema and "l_quantity" in read_schema
    assert "l_orderkey" not in read_schema and "l_comment" not in read_schema


def test_core_join_broadcasts_small_side(spark, sf_dir):
    p = plan_of(QUERIES["core_join_topk"](spark, sf_dir))
    # two independent assertions (the old OR passed vacuously whenever
    # there was simply no BNLJ): the dim leg must actually broadcast,
    # AND no nested-loop fallback may appear anywhere in the plan.
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def _tree_marker_col(line: str) -> int:
    """Column of the plan-tree branch marker ('+- ' / ':- '), or -1 for
    root lines — deeper subtree lines have strictly larger columns."""
    cols = [i for i in (line.find("+- "), line.find(":- ")) if i >= 0]
    return min(cols) if cols else -1


def _unbounded_bnlj_builds(p: str) -> list[str]:
    """BroadcastNestedLoopJoin build sides whose subtree has no bounded-
    cardinality source. An IdentityBroadcastMode exchange is the BNLJ
    build; legitimate ones carry a one-row/tiny frame (an aggregate, a
    literal LocalTableScan, a limit). A raw table scan there is the
    silent fallback Catalyst picks when an equi-key is lost — at 100 TB
    that is an O(n*m) loop join, so it must fail CI."""
    BOUNDED = (
        "HashAggregate", "SortAggregate", "ObjectHashAggregate",
        "LocalTableScan", "GlobalLimit", "CollectLimit",
        "TakeOrderedAndProject", "ReusedExchange", "OneRowRelation",
        "Range (0, 1,",  # inline_rows: literal rows exploded over a 1-row Range
    )
    bad: list[str] = []
    lines = p.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange IdentityBroadcastMode" not in line:
            continue
        if "ReusedExchange" in line:
            continue
        col = _tree_marker_col(line)
        subtree: list[str] = []
        for nxt in lines[i + 1:]:
            c = _tree_marker_col(nxt)
            if 0 <= c <= col:
                break
            subtree.append(nxt)
        body = "\n".join(subtree)
        if not any(tok in body for tok in BOUNDED):
            bad.append(line.strip())
    return bad


def _unbounded_single_partition_exchanges(p: str) -> list[str]:
    """SinglePartition exchanges whose subtree has no bounded-
    cardinality source — the plan shape of a GLOBAL window/sort over
    corpus-sized rows (one task does all the work at 100 TB). A
    legitimate one serializes only a rollup (an aggregate sits below)
    or a literal/limited frame. Same subtree walk as the BNLJ check."""
    BOUNDED = (
        "HashAggregate", "SortAggregate", "ObjectHashAggregate",
        "LocalTableScan", "GlobalLimit", "CollectLimit",
        "TakeOrderedAndProject", "ReusedExchange", "OneRowRelation",
        "Range (0, 1,",
    )
    bad: list[str] = []
    lines = p.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        if "ReusedExchange" in line:
            continue
        col = _tree_marker_col(line)
        subtree: list[str] = []
        for nxt in lines[i + 1:]:
            c = _tree_marker_col(nxt)
            if 0 <= c <= col:
                break
            subtree.append(nxt)
        body = "\n".join(subtree)
        if not any(tok in body for tok in BOUNDED):
            bad.append(line.strip())
    return bad


def test_no_cartesian_anywhere():
    """Candidate generation across the dedup/similarity family must be
    key-equi-joins; a cartesian in any registered plan is a scale bug.
    Likewise any BroadcastNestedLoopJoin must build from a bounded
    (aggregate/literal/limit) frame — a BNLJ over a real table is the
    silent plan Catalyst falls back to when an equi-key is lost. And no
    plan may funnel non-rollup rows through a SinglePartition exchange
    or a constant-key window partition (the pmod(x, 1) device) — the
    global-window formulation that dies at 100 TB (VERDICT r8 #5)."""
    from trialstreamer_spark.session import get_spark

    spark = get_spark("plan-hygiene")
    sf_dir = SF_DIR
    for name, fn in sorted(QUERIES.items()):
        try:
            p = plan_of(fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            pytest.fail(f"query {name!r} failed to plan: {exc}")
        # broadcast of a literal single-row query vector is fine; an
        # unkeyed join of two full tables is not
        assert "CartesianProduct" not in p, name
        unbounded = _unbounded_bnlj_builds(p)
        assert not unbounded, (name, unbounded)
        single = _unbounded_single_partition_exchanges(p)
        assert not single, (name, single)
        # pmod(x, 1) is constant 0 — its ONLY use is smuggling a global
        # window past the SinglePartition check. Ban it anywhere in the
        # plan, not just inline in a hashpartitioning: Catalyst aliases
        # the expression into a Project (`pmod(k, 1) AS _w0`) and then
        # partitions on the alias, which the old inline-only regex
        # missed (found live in top_supplier_revenue, r11).
        assert not re.search(r"pmod\([^,]+, 1\)", p), name


def test_sf_dim_join_strategy_is_size_dependent(spark, sf_dir):
    """VERDICT r6 #2: SF-scaled dims (customer/supplier/part) must not
    be hint-forced into a broadcast. Under the session threshold the
    customer leg of returned_item_topk broadcasts (tiny at test SF);
    with the threshold disabled — simulating a dim whose stats exceed
    it on a 100 TB corpus — the very same plan must fall back to a
    shuffle join, while the SPEC-FIXED nation labeling stays join-free
    (r11: nation⋈region is folded to a 25-entry literal map, so the
    threshold cannot touch it). A forced F.broadcast(customer) would
    keep BHJ in both runs and fail the shuffle-join assertion."""
    q = QUERIES["returned_item_topk"]
    p_default = plan_of(q(spark, sf_dir))
    assert "BroadcastHashJoin" in p_default
    assert "element_at(map(" in p_default  # nation labels: literal map
    assert "nation.parquet" not in p_default  # ... not a dim-leg join
    conf = spark.conf
    old = conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        p = plan_of(q(spark, sf_dir))
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, p
        # the fixed-size nation labeling is immune to the threshold
        assert "element_at(map(" in p
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)


def test_sf_dim_leg_count_is_keyed_by_its_source(spark, tmp_path):
    """The measured rows of an SF-scaled dim leg (relational._sf_dim's
    counted branch) belong to the leg's input files: two same-schema
    corpora whose customer tables differ in rows each get their own
    count, although their unwarmed plan strings are identical."""
    import pyarrow.parquet as pq

    from trialstreamer_spark import util
    from trialstreamer_spark.plans.relational import _sf_dim

    cust = pq.read_table(os.path.join(SF_DIR, "customer.parquet"))
    corpora = {}
    for name, n in (("small", 40), ("large", 80)):
        corpus = tmp_path / name
        corpus.mkdir()
        pq.write_table(cust.slice(0, n), str(corpus / "customer.parquet"))
        corpora[str(corpus)] = n
    conf = spark.conf
    old = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # a 16-byte cap: every leaf scan is over it, so each leg is counted
        conf.set("spark.sql.autoBroadcastJoinThreshold", "16")
        for corpus, n in corpora.items():
            leg = load(spark, corpus, "customer").select("c_custkey", "c_nationkey")
            _sf_dim(leg)
            counts = [
                v for k, v in util._PLAN_CACHE.items()
                if "dim_leg_rows" in k and any(corpus in str(el) for el in k)
            ]
            assert counts == [n], (corpus, counts)
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for corpus in corpora:
            util.evict_caches(corpus)


def test_shingle_projection_above_exchange(spark, sf_dir, monkeypatch):
    # the plan that builds the shingle_postings sidecar, captured before
    # any write or cache
    built = {}

    def capture(spark, sf_dir, name, builder, **kw):
        built[name] = builder()
        return built[name]

    monkeypatch.setattr(dedup, "disk_cached_plan", capture)
    dedup.shingle_postings(spark, sf_dir)
    p = plan_of(built["shingle_postings"])
    # the scan must NOT evaluate the shingle expression (the DataFilters
    # regression): regexp machinery appears only above the exchange
    scan_part = p.split("Exchange")[-1]  # text below/incl. last Exchange
    assert "regexp_extract_all" not in scan_part
    assert "REPARTITION_BY_NUM" in p  # pinned width, AQE can't coalesce


def test_lsh_candidates_equi_join(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    p = plan_of(similarity.lsh_candidate_pairs(e))
    assert "CartesianProduct" not in p
    assert "bucket" in p


def test_ivf_search_reads_sidecar_not_corpus(spark, sf_dir):
    """The IVF SEARCH plan must not rebuild the coarse quantizer: after
    the sidecar is built (ivf_centroids — the offline step), the query
    plan is filter(label IN cells) → Arrow scoring → top-k. A
    posexplode/aggregate in the search plan means a full-corpus
    aggregation per query — the 100 TB regression this guards against."""
    similarity.prepare_indexes(spark, sf_dir)
    df = QUERIES["ann_ivf_topk"](spark, sf_dir)
    p = plan_of(df)
    assert "posexplode" not in p
    assert "collect_list" not in p
    assert "TakeOrderedAndProject" in p
    # cell pruning is a pushable IN-filter on the cluster/partition key
    assert "label" in p and ("In(label" in p or "label#" in p)


def test_topk_per_group_window_group_limit(spark, sf_dir):
    """rank<=k window top-k must trigger WindowGroupLimit pushdown with a
    Partial pass BELOW the exchange — each map task ships at most k rows
    per group instead of its whole partition. Losing this turns a
    bounded shuffle into a full-table shuffle at 100 TB."""
    p = plan_of(QUERIES["topk_per_group"](spark, sf_dir))
    assert "WindowGroupLimit" in p
    assert "Partial" in p.split("Exchange hashpartitioning")[-1]


def test_upw_probe_side_never_shuffles(spark):
    """The (huge) dump side of the Unpaywall join must stream map-side:
    broadcast on the lookup, no Exchange between the dump scan and the
    join."""
    import json

    from trialstreamer_spark.sources import upw

    dump = spark.createDataFrame(
        [(f"10.1/{i}", True, ("u", "p"), "{}") for i in range(10)],
        "doi string, is_oa boolean, best_oa_location struct<url:string,url_for_pdf:string>, upw_data string",
    )
    lookup = spark.createDataFrame([("10.1/1", "p1")], "doi string, pmid string")
    p = plan_of(upw.build_upw_table(dump, lookup))
    assert "BroadcastHashJoin" in p


def test_incremental_dedup_never_shuffles_corpus(spark, sf_dir):
    """dedup_incremental's scale contract: every join broadcasts the
    (tiny) new-batch side; the corpus fingerprint/signature relations
    stream map-side. A SortMergeJoin or shuffled hash join appearing
    here means a corpus-wide exchange snuck back in."""
    p = plan_of(QUERIES["dedup_incremental"](spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_q5_join_broadcasts_all_dims(spark, sf_dir):
    """regional_revenue: the SF-scaled customer/supplier dims must
    broadcast into the orders/lineitem fact join (2 BroadcastHashJoins,
    no SortMergeJoin), the SPEC-FIXED region->nation chain is folded to
    a literal map (r11 — no dim-leg scans at all), and the date filter
    must reach the orders scan."""
    p = plan_of(QUERIES["regional_revenue"](spark, sf_dir))
    assert p.count("BroadcastHashJoin") == 2, p.count("BroadcastHashJoin")
    assert "element_at(map(" in p  # nation/region labels: literal map
    assert "nation.parquet" not in p and "region.parquet" not in p
    assert "SortMergeJoin" not in p
    pushed = p.split("PushedFilters:")
    assert (len(pushed) > 1 and "o_orderdate" in pushed[1].splitlines()[0]) or (
        "GreaterThanOrEqual(o_orderdate" in p
    )


def test_decontaminate_broadcasts_eval_postings(spark, sf_dir):
    """decontaminate_overlap joins corpus postings against a BROADCAST
    eval-set postings relation — the corpus side must not shuffle."""
    from trialstreamer_spark.operators import dedup as dd

    p = plan_of(QUERIES["decontaminate_overlap"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_minhash_incremental_broadcasts_batch_side(spark, sf_dir):
    """dedup_minhash_incremental's scale contract: the daily batch's
    banded keys BROADCAST; the corpus-sized band table streams map-side
    (no SortMergeJoin = no corpus shuffle for the candidate join)."""
    p = plan_of(QUERIES["dedup_minhash_incremental"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_small_qty_revenue_is_decorrelated_not_windowed(spark, sf_dir):
    """The Q17 shape must run as per-part aggregate + co-partitioned
    join back — never a Window sort over the full fact table — and the
    part dim must broadcast."""
    p = plan_of(QUERIES["small_qty_revenue"](spark, sf_dir))
    assert "Window" not in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_late_shipment_runs_as_semi_join(spark, sf_dir):
    """EXISTS compiles to LeftSemi — late lineitems are never
    materialized per-order (an inner join + distinct would be)."""
    p = plan_of(QUERIES["late_shipment_priority"](spark, sf_dir))
    assert "LeftSemi" in p


def test_doc_keywords_rides_sidecar_with_group_limit(spark, sf_dir):
    """After the doc_tf_stats sidecar exists, the keyword query must
    (a) read the cached statistics table, not re-tokenize (no
    regexp/split in the executed plan), and (b) prune the per-doc
    window with WindowGroupLimit before the final sort."""
    from trialstreamer_spark.operators.retrieval import doc_tf_stats

    doc_tf_stats(spark, sf_dir)  # register + (lazily) build the sidecar
    df = QUERIES["doc_keywords_topk"](spark, sf_dir)
    p = plan_of(df)
    assert "InMemoryTableScan" in p
    assert "WindowGroupLimit" in p
    # the query-side plan (everything ABOVE the cached relation — the
    # relation's stored build plan legitimately contains the tokenizer)
    # must not re-tokenize
    query_side = p.split("InMemoryRelation")[0]
    assert "split" not in query_side and "regexp" not in query_side


def test_erasure_manifest_reads_materialized_featurizations(spark, sf_dir):
    """The audit legs must scan the chunk-hash and shingle-postings
    sidecars (InMemoryTableScan), never re-tokenize the corpus: the
    only parquet scan in the plan is the documents leg's."""
    # build both sidecars first (prepare_curation/prepare_dedup analog)
    from trialstreamer_spark.operators.dedup import shingle_postings

    shingle_postings(spark, sf_dir)
    p = plan_of(QUERIES["erasure_manifest"](spark, sf_dir))
    assert p.count("InMemoryTableScan") >= 2, p


# every parity query and the tag of its replay sidecar ("replay_<tag>") —
# single-batch memory sinks, the production upsert sink, and the
# multi-batch staged replays all ride the one sidecar lifecycle, so the
# reuse contract is testable uniformly across the full family.
PARITY_TAGS = {
    "sessionize_stream_parity": "sessionize",
    "running_totals_stream_parity": "totals",
    "windowed_rollup_stream_parity": "rollup",
    "hopping_rollup_stream_parity": "hopping",
    "dedup_stream_parity": "dedup",
    "stream_static_join_parity": "stream_static",
    "stream_stream_join_parity": "stream_stream",
    "topk_stream_parity": "topk",
    "upsert_sink_stream_parity": "upsert_sink",
    "watermark_finalize_stream_parity": "wm_finalize",
    "update_mode_rollup_stream_parity": "upd_rollup",
    "dedup_expiry_stream_parity": "dedup_expiry",
    "session_window_stream_parity": "session_window",
}


@pytest.mark.parametrize("qname", sorted(PARITY_TAGS))
def test_parity_second_call_reuses_completed_replay(
    spark, sf_dir, qname, monkeypatch
):
    """A completed parity replay is a sidecar per (operator, corpus
    version): the second invocation starts no streaming query and
    returns the same rows — asserted for EVERY parity query, so no
    operator can quietly grow its own bespoke uncached sink path
    again."""
    from pyspark.sql.streaming import DataStreamWriter

    from trialstreamer_spark import sidecars

    first = QUERIES[qname](spark, sf_dir).collect()
    replay = sidecars.sidecar_path(sf_dir, f"replay_{PARITY_TAGS[qname]}")
    assert os.path.exists(os.path.join(replay, "_current"))

    def no_stream(*a, **k):
        raise AssertionError(f"{qname}: second call started a stream")

    monkeypatch.setattr(DataStreamWriter, "start", no_stream)
    second = QUERIES[qname](spark, sf_dir).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_hhi_broadcasts_both_dims_single_fact_exchange(spark, sf_dir):
    """supplier_revenue_hhi: the SF-scaled supplier dim must broadcast
    into the lineitem scan (the SPEC-FIXED nation label is a literal
    map since r11 — no nation dim leg); the (nation, supplier) rollup
    is the only fact-sized exchange (everything after runs on the
    |suppliers| frame)."""
    p = plan_of(QUERIES["supplier_revenue_hhi"](spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 1
    assert "element_at(map(" in p
    assert "nation.parquet" not in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_lorenz_has_no_global_window_over_docs(spark, sf_dir):
    """token_lorenz_curve: the per-doc rank must come from the
    per-value tie window (partitioned, distributed), never a global
    NTILE / row_number over the whole corpus — no window in the plan
    may have an empty partition spec ordering doc-sized input. The
    empty-spec windows that DO appear must sit above the tiny
    (n_tokens, cnt) rollup or the 10-row decile frame, which both
    arrive via a broadcast; a global window directly over the
    documents scan would show a SinglePartition exchange feeding a
    Window with no upstream aggregate."""
    df = QUERIES["token_lorenz_curve"](spark, sf_dir)
    p = plan_of(df)
    # the distributed tie-break window is partitioned on n_tokens
    assert "windowspecdefinition(n_tokens" in p
    # every SinglePartition exchange must carry post-aggregate rows
    segs = p.split("Exchange SinglePartition")
    for seg in segs[1:]:
        below = seg.split("Exchange ")[0]
        assert "HashAggregate" in below or "Scan" not in below


def test_first_touch_single_user_shuffle(spark, sf_dir):
    """first_touch_attribution: the rank-1-per-user window and the
    converted flag ride ONE user_id exchange over ONE events scan
    (r11: the converter set is a whole-partition max on the same
    window frame) — a min-ts or distinct-converters formulation would
    show a second fact scan and a join."""
    p = plan_of(QUERIES["first_touch_attribution"](spark, sf_dir))
    assert "WindowGroupLimit" in p or "Window" in p
    assert "CartesianProduct" not in p
    assert p.count("hashpartitioning(user_id") == 1
    assert " Join" not in p
    assert p.count("Scan parquet") + p.count("InMemoryTableScan") <= 2


def test_rank_shift_prunes_year_at_scan(spark, sf_dir):
    """nation_revenue_rank_shift: the two-year predicate must reach the
    orders parquet scan (partition pruning on a date-partitioned
    warehouse), and the nation dim must broadcast."""
    p = plan_of(QUERIES["nation_revenue_rank_shift"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "o_orderdate" in p.split("ReadSchema:")[1].splitlines()[0] or (
        "PushedFilters" in p
    )
    assert "CartesianProduct" not in p


def test_census_audits_run_exchange_free(spark, sf_dir):
    """The rate/seasonality audits ride the event_type-clustered minute
    census: their executed plans must read the cached census
    (InMemoryTableScan) and need NO hash exchange anywhere — the moment
    rollup, broadcast join-back, island window, and final rollups all
    reuse the cache's HashPartitioning(event_type) (hash partitioning
    on a PREFIX of the grouping keys satisfies the distribution). A
    hashpartitioning exchange reappearing here means the census lost
    its clustering and every audit re-pays a corpus-shaped shuffle."""
    from trialstreamer_spark.operators.temporal import prepare_temporal

    def query_side(p: str) -> str:
        # drop each InMemoryRelation's STORED build subtree (it
        # legitimately contains the one-time clustering repartition);
        # what remains is the per-query plan
        out, skip_past = [], -1
        for line in p.splitlines():
            col = _tree_marker_col(line)
            if skip_past >= 0 and (col < 0 or col > skip_past):
                continue
            skip_past = -1
            if "InMemoryRelation" in line:
                skip_past = col
                continue
            out.append(line)
        return "\n".join(out)

    prepare_temporal(spark, sf_dir)
    for name in ("event_rate_anomaly", "hour_of_week_peak", "event_burst_runs"):
        p = plan_of(QUERIES[name](spark, sf_dir))
        assert "InMemoryTableScan" in p, name
        assert "Exchange hashpartitioning" not in query_side(p), name
    # daily_value_drift re-keys the census by day (a |days×types|-sized
    # exchange — fine); it must still read the census, not the fact
    p = plan_of(QUERIES["daily_value_drift"](spark, sf_dir))
    assert "InMemoryTableScan" in p
    assert "events.parquet" not in query_side(p)


def test_degree_histogram_reuses_candidate_pairs(spark, sf_dir):
    """dup_graph_degree_histogram must ride the shared cached
    candidate-pair set — the executed plan must not re-tokenize
    (no regexp split of documents.text below the degree rollup when
    the cache is warm)."""
    from trialstreamer_spark.operators.dedup import minhash_candidates

    minhash_candidates(spark, sf_dir).count()  # warm the cache
    p = plan_of(QUERIES["dup_graph_degree_histogram"](spark, sf_dir))
    assert "InMemoryTableScan" in p or "TableCacheQueryStage" in p
