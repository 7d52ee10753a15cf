"""Ranked retrieval over the corpus: BM25-style scoring in exact
fixed-point arithmetic.

The reference ranks search results by a precomputed relevance score
(cnxapp.py ORDER BY score DESC LIMIT k over the annotations join); this
operator adds the corpus-side ranking function itself — the BM25 family
every retrieval pipeline (and every RAG data build) needs.

**Cross-engine determinism.** Classic BM25's idf is log((N-df+0.5)/
(df+0.5)); transcendental functions are NOT bit-identical across engines
(DuckDB's libm vs the JVM's intrinsics), so the hash-compared variant here
uses the *rational* idf (N-df+0.5)/(df+0.5) — the same monotone ranking
signal without the log. Every remaining operation is IEEE-754 +,*,/ on
identical operand orders (correctly rounded, so bit-identical), and the
per-term score is floored to a 1e-6 fixed-point int64 BEFORE the per-doc
sum — integer addition commutes, so partial aggregation order cannot flip
the hash. This is the same exact-arithmetic discipline as
operators/similarity (fixed-point cosine) and plans/relational
(integer-cent money).

Scale design: per-doc length and per-term tf are regexp_count projections
evaluated INSIDE the corpus scan — no tokenize-explode, no postings
shuffle; the only aggregate over the corpus is the narrow per-doc count
row (map-side combined), df/N/avgdl are a 1-row aggregate broadcast back,
and the final ranking is TakeOrderedAndProject. At 100 TB the heavy stage
is the embarrassingly parallel scan; nothing else grows with corpus size.
(For ad-hoc multi-query workloads you would materialize a postings table
once instead — plans/postings.py is that path.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trialstreamer_spark import util
from trialstreamer_spark.io import load
from trialstreamer_spark.plans.registry import query

K1 = 1.2
B = 0.75
SCORE_SCALE = 1_000_000
QUERY_TERMS: tuple[str, ...] = ("table", "merge", "spark")
# Single source of truth for the oracle IN-lists: both engines MUST share
# one term definition or a QUERY_TERMS edit would silently desynchronize
# the Spark and DuckDB arms (r9 ADVICE — the rrf/bm25 oracles used to
# hardcode the literals).
_QUERY_TERMS_IN = ", ".join(f"'{t}'" for t in QUERY_TERMS)


def _per_doc(
    spark: SparkSession, sf_dir: str, terms: tuple[str, ...]
) -> DataFrame:
    """Per-doc (doc_id, dl, tf…) projection, a session-persisted plan:
    like the lexicon stats, this is the index side of a search engine —
    the tokenize/tf pass over the corpus happens once per corpus
    version, not once per query (prepare_stats is the offline build)."""

    def build() -> DataFrame:
        alternation = "|".join(terms)
        m = F.regexp_extract_all(
            F.col("text"), F.lit(rf"(?:^|\s)({alternation})(?=\s|$)"), 1
        )
        return load(spark, sf_dir, "documents").select(
            "doc_id",
            F.regexp_count(F.col("text"), F.lit(r"\S+")).alias("dl"),
            m.alias("m"),
        ).select(
            "doc_id",
            "dl",
            *[
                F.size(F.filter(F.col("m"), lambda x: x == F.lit(t))).alias(
                    f"tf_{i}"
                )
                for i, t in enumerate(terms)
            ],
        )

    return util.cached_plan(spark, ("bm25_per_doc", sf_dir, terms), build)


def prepare_stats(
    spark: SparkSession, sf_dir: str, terms: tuple[str, ...] = QUERY_TERMS
) -> None:
    """Offline index build for ranked retrieval: the per-doc (dl, tf)
    projection and the lexicon statistics (N, avgdl, df) for a corpus
    version, the keyword-extraction (doc_id, tok, tf, df, n) sidecar, and
    the sharded on-disk token postings. Queries then score from the
    narrow persisted rows — the corpus text is never re-scanned per
    query, which is exactly how an inverted-index engine serves BM25."""
    for sidecar in (_per_doc(spark, sf_dir, terms), doc_tf_stats(spark, sf_dir)):
        sidecar.count()
    _corpus_stats(spark, sf_dir, terms)
    doc_token_postings(spark, sf_dir)


def _corpus_stats(spark: SparkSession, sf_dir: str, terms: tuple[str, ...]):
    """(n_docs, avgdl, df_0…) of the per-doc projection: one 1-row
    aggregate collected to the driver, memoized per corpus version."""

    def build():
        return _per_doc(spark, sf_dir, terms).agg(
            F.count("*").alias("n_docs"),
            (F.sum("dl").cast("double") / F.count("*").cast("double")).alias(
                "avgdl"
            ),
            *[
                F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(
                    f"df_{i}"
                )
                for i in range(len(terms))
            ],
        ).collect()[0]

    return util.memo(("bm25_stats", sf_dir, terms), build)


def bm25_scores(
    spark: SparkSession, sf_dir: str, terms: tuple[str, ...] = QUERY_TERMS
) -> DataFrame:
    """Per-document fixed-point BM25(rational-idf) scores for ``terms``.

    Returns (doc_id, score_fp, n_terms_hit) for documents matching at
    least one term. score_fp = Σ_t floor(idf_r(t) · tf_norm(t,d) · 1e6).
    """
    # NO explode, NO postings shuffle: everything is computed from two
    # scan-side regex projections per document —
    #   dl  = count of \S+ runs (≡ |tokens|),
    #   m   = the matches of ONE alternation pattern over all query terms
    #         as complete whitespace-bounded tokens (terms are
    #         alphanumeric literals, so no escaping); per-term tf is then
    #         an array filter over m, which has ~tf elements, so the
    #         interpreted-HOF cost is proportional to the MATCHES, not
    #         the text (one JVM regex pass instead of one per term).
    # The corpus never leaves its scan stage; only the narrow
    # (doc_id, dl, tf...) projection flows on — and that projection is
    # itself the persisted index side (see _per_doc), so scoring
    # re-reads 4 narrow columns, not the text.
    per_doc = _per_doc(spark, sf_dir, terms)
    # Globals (N, avgdl) and per-term document frequencies: ONE 1-row
    # aggregate materialized to the driver and re-entered as literals —
    # the scalar-subquery pattern. A broadcast-join formulation was tried
    # and measured ~0.7 s of pure AQE stage scheduling (4 query stages
    # for <1 ms of data); with literals the scoring pass below is a
    # SINGLE scan-side projection with no join and no aggregation at all.
    # These are index-side corpus statistics (a search engine's lexicon
    # stats), so like similarity.prepare_indexes they are memoized per
    # corpus version — a deployed engine computes them once per corpus
    # build, not per query.
    row = _corpus_stats(spark, sf_dir, terms)
    n_docs = row["n_docs"]
    avgdl = row["avgdl"] if row["avgdl"] is not None else 1.0
    # Per-term fixed-point score columns (operand order mirrors the SQL
    # oracle EXACTLY); summing the floored int64 contributions
    # horizontally — misses contribute 0 — equals the oracle's per-doc
    # SUM over hit terms.
    term_fps = []
    hits = []
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}")
        df = row[f"df_{i}"]
        idf_r = (F.lit(n_docs) - F.lit(df) + 0.5) / (F.lit(df) + 0.5)
        tf_norm = (tf * (K1 + 1.0)) / (
            tf + K1 * ((1.0 - B) + B * (F.col("dl") / F.lit(avgdl)))
        )
        fp = F.floor(idf_r * tf_norm * float(SCORE_SCALE)).cast("long")
        term_fps.append(F.when(tf > 0, fp).otherwise(F.lit(0).cast("long")))
        hits.append(F.when(tf > 0, 1).otherwise(0))
    score_fp = term_fps[0]
    n_hit = hits[0]
    for t_fp, h in zip(term_fps[1:], hits[1:]):
        score_fp = score_fp + t_fp
        n_hit = n_hit + h
    any_hit = F.col("tf_0") > 0
    for i in range(1, len(terms)):
        any_hit = any_hit | (F.col(f"tf_{i}") > 0)
    return per_doc.where(any_hit).select(
        "doc_id",
        score_fp.alias("score_fp"),
        n_hit.cast("long").alias("n_terms_hit"),
    )


@query(
    "bm25_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
      FROM documents
    ),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    g AS (SELECT COUNT(*) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
          FROM dl),
    posting AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM posting WHERE tok IN ({_QUERY_TERMS_IN})
      GROUP BY 1, 2
    ),
    df_t AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.doc_id,
             CAST(FLOOR(((g.n_docs - df_t.df + 0.5) / (df_t.df + 0.5))
                        * ((tf.tf * {K1 + 1.0}) /
                           (tf.tf + {K1} * (({1.0 - B}) + {B} * (dl.dl / g.avgdl))))
                        * {float(SCORE_SCALE)}) AS BIGINT) AS term_fp
      FROM tf
      JOIN dl ON dl.doc_id = tf.doc_id
      JOIN df_t ON df_t.tok = tf.tok
      CROSS JOIN g
    )
    SELECT doc_id, CAST(SUM(term_fp) AS BIGINT) AS score_fp,
           COUNT(*) AS n_terms_hit
    FROM scored
    GROUP BY doc_id
    ORDER BY score_fp DESC, doc_id
    LIMIT 20
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for the fixed query ('table','merge','spark') by
    fixed-point rational-idf BM25, deterministic tiebreak on doc_id. The
    final ranking compiles to TakeOrderedAndProject — only 20 rows per
    partition survive to the driver-side merge."""
    return (
        bm25_scores(spark, sf_dir)
        .orderBy(F.col("score_fp").desc(), "doc_id")
        .limit(20)
    )


#: Keywords emitted per document by doc_keywords_topk.
KEYWORDS_K = 3


def doc_tf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keyword-extraction index sidecar: one row per (doc_id, tok)
    carrying tf, the token's corpus document frequency df, and the
    corpus doc count n. Built once per corpus version (prepare_stats);
    persisted hash-partitioned on doc_id so every per-doc rollup
    downstream is exchange-free. One explode feeds everything — df rides
    a tok-keyed window over the tf rollup and n is a 1-row broadcast
    derived from the same rollup, not a second corpus scan."""
    from pyspark.sql import Window as W

    from trialstreamer_spark.operators.textstats import tokens_col

    def build() -> DataFrame:
        d = load(spark, sf_dir, "documents")
        tf = (
            d.select(
                "doc_id",
                F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"),
            )
            .groupBy("doc_id", "tok")
            .agg(F.count("*").alias("tf"))
        )
        n_parts = spark.sparkContext.defaultParallelism
        tok_w = W.partitionBy("tok")
        return (
            # df AND the token's global occurrence count f ride the same
            # tok-keyed window (one exchange computes both): df powers
            # idf, f powers the unigram-LM frequency score
            tf.withColumn("df", F.count("*").over(tok_w))
            .withColumn("f", F.sum("tf").over(tok_w))
            .crossJoin(
                F.broadcast(tf.agg(F.countDistinct("doc_id").alias("n")))
            )
        )

    from trialstreamer_spark.sidecars import disk_cached_plan

    n_parts = spark.sparkContext.defaultParallelism
    return disk_cached_plan(
        spark,
        sf_dir,
        "doc_tf_stats",
        build,
        post=lambda df: df.repartition(n_parts, F.col("doc_id")),
    )


@query(
    "doc_keywords_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> t <> '')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, tok
    ),
    df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks GROUP BY tok
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM toks),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             CAST(FLOOR(1000000.0 * tf.tf * (n.n + 1) / (df.df + 1))
                  AS BIGINT) AS score_fp,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY CAST(tf.tf AS DOUBLE) * (n.n + 1) / (df.df + 1) DESC,
                        tf.tok) AS rk
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, CAST(rk AS INTEGER) AS rank, tok, tf, df, score_fp
    FROM scored WHERE rk <= {KEYWORDS_K}
    ORDER BY doc_id, rank
    """,
)
def doc_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction: the top KEYWORDS_K terms
    by tf · (N+1)/(df+1) — the rational-idf variant (module docstring:
    transcendental-free, so the ranking signal is engine-portable), with
    the deterministic (score desc, token) tie-break. Keywords feed index
    previews, cluster labeling, and weak-supervision features in corpus
    curation.

    Scale shape: the ENTIRE statistics table — (doc_id, tok, tf, df, N)
    — is the once-per-corpus-version sidecar (``doc_tf_stats``, built by
    prepare_stats: the inverted index with term statistics every
    ranked-retrieval engine materializes offline). The build pays the
    tok-keyed df shuffle once and lands hash-partitioned on doc_id, so
    the query path is scan → score expression → per-doc top-k window
    with NO exchange before the window (the persisted partitioning
    satisfies its ClusteredDistribution), and WindowGroupLimit prunes to
    k rows per doc before the tiny final range sort. Everything is
    counts + one fixed expression — the floored fixed-point score
    crosses the oracle boundary, the double only orders within a doc."""
    from pyspark.sql import Window as W

    scored = doc_tf_stats(spark, sf_dir).withColumn(
        "score",
        F.col("tf").cast("double") * (F.col("n") + 1) / (F.col("df") + 1),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KEYWORDS_K)
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            "tok",
            "tf",
            "df",
            # same operation ORDER as the oracle's expression — floored
            # doubles only match when every intermediate rounding does
            F.floor(
                F.lit(1_000_000.0)
                * F.col("tf")
                * (F.col("n") + 1)
                / (F.col("df") + 1)
            )
            .cast("long")
            .alias("score_fp"),
        )
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# Sharded on-disk token postings — the GIN-replacement physical design
# (SURVEY §4, plans/postings.py) generalized from annotation CUIs to corpus
# tokens, so the 100 TB inverted-index search path has a benched, driver-
# checked query (round-5 directive #7), not just equivalence tests.
# ---------------------------------------------------------------------------

#: The registered conjunctive query. 'dup' is the selective leg (~5% df in
#: the synthetic corpus); the other two are common — the shape a real
#: multi-term lookup has.
POSTINGS_QUERY_TERMS: tuple[str, ...] = ("dup", "vector", "stream")
TOK_SHARDS = 8


def doc_token_postings(spark: SparkSession, sf_dir: str) -> str:
    """Build-or-reuse the sharded token-postings layout for a corpus
    version; returns its directory. Physical design is write_postings'
    (plans/postings.py:58): hive-partitioned by an md5 token shard so a
    term lookup opens only its shard directories (PartitionFilters), one
    sorted file per shard. Stamped with the corpus fingerprint — same
    staleness contract as every disk sidecar."""
    from trialstreamer_spark.operators.textstats import tokens_col
    from trialstreamer_spark.plans.postings import cui_shard_col
    from trialstreamer_spark.sidecars import (
        corpus_fingerprint,
        sidecar_path,
        stamp_current,
        write_stamp,
    )

    path = sidecar_path(sf_dir, "doc_tok_postings")
    fp = corpus_fingerprint(sf_dir)
    if stamp_current(path, fp):
        return path
    d = load(spark, sf_dir, "documents")
    post = (
        d.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"),
        )
        .distinct()
        .withColumn("tok_shard", cui_shard_col(F.col("tok"), TOK_SHARDS))
    )
    (
        post.repartition(TOK_SHARDS, F.col("tok_shard"))
        .sortWithinPartitions("tok", "doc_id")
        .write.partitionBy("tok_shard")
        .mode("overwrite")
        .parquet(path)
    )
    write_stamp(path, fp)
    return path


@query(
    "postings_term_search",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, lang,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id, source, lang FROM t
    WHERE {' AND '.join(f"list_contains(toks, '{t}')" for t in POSTINGS_QUERY_TERMS)}
    ORDER BY doc_id
    """,
)
def postings_term_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive term search served from the SHARDED POSTINGS INDEX —
    the scale path that replaces per-query corpus scans (the reference's
    Postgres GIN `@>` lookups, trialstreamer/cnxapp.py:188-207, served
    here by plans/postings.py's design over tokens):

    1. per term: a partition-pruned lookup touching only that term's
       shard directory (driver-side shard_of matches the written
       cui_shard_col hash, so the predicate lands in PartitionFilters);
    2. AND across terms as ONE aggregation — tag each term's postings
       with its index, count distinct satisfied terms per doc, keep
       full matches: one shuffle regardless of term count (chained
       semi-joins would be n);
    3. left-semi join the surviving doc_ids back to the documents table
       (both sides doc_id-keyed; bucketed at 100 TB → co-located).

    The oracle evaluates the same conjunction by scanning the corpus —
    identical rows, so the driver hash-checks index path ≡ scan path
    every round."""
    from functools import reduce

    from trialstreamer_spark.plans.postings import shard_of

    path = doc_token_postings(spark, sf_dir)
    post = spark.read.parquet(path)
    legs = [
        post.filter(
            (F.col("tok_shard") == shard_of(term, TOK_SHARDS))
            & (F.col("tok") == term)
        ).select("doc_id", F.lit(idx).alias("term_idx"))
        for idx, term in enumerate(POSTINGS_QUERY_TERMS)
    ]
    tagged = reduce(lambda a, b: a.unionByName(b), legs)
    hits = (
        tagged.groupBy("doc_id")
        # plain COUNT, not countDistinct: the postings sidecar is
        # .distinct() over (doc_id, tok) at build time, so each term
        # leg contributes at most one row per doc — countDistinct's
        # second expand/aggregate exchange bought nothing (r11).
        .agg(F.count("*").alias("n_terms"))
        .filter(F.col("n_terms") == len(POSTINGS_QUERY_TERMS))
        .select("doc_id")
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return d.join(hits, "doc_id", "left_semi").orderBy("doc_id")


#: RRF constant (Cormack et al., SIGIR'09: 60 is the published default)
#: and the per-arm candidate depth fused by rrf_fusion_topk.
RRF_K = 60
RRF_DEPTH = 20


@query(
    "rrf_fusion_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
      FROM documents
    ),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    g AS (SELECT COUNT(*) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
          FROM dl),
    posting AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM posting WHERE tok IN ({_QUERY_TERMS_IN})
      GROUP BY 1, 2
    ),
    df_t AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    bm25 AS (
      SELECT tf.doc_id,
             CAST(SUM(CAST(FLOOR(((g.n_docs - df_t.df + 0.5) / (df_t.df + 0.5))
                        * ((tf.tf * {K1 + 1.0}) /
                           (tf.tf + {K1} * (({1.0 - B}) + {B} * (dl.dl / g.avgdl))))
                        * {float(SCORE_SCALE)}) AS BIGINT)) AS BIGINT) AS score_fp
      FROM tf
      JOIN dl ON dl.doc_id = tf.doc_id
      JOIN df_t ON df_t.tok = tf.tok
      CROSS JOIN g
      GROUP BY tf.doc_id
    ),
    lex AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (
               ORDER BY score_fp DESC, doc_id) AS INTEGER) AS lex_rank
      FROM bm25 ORDER BY score_fp DESC, doc_id LIMIT {RRF_DEPTH}
    ),
    q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT e.vec_id AS doc_id,
             CAST(list_aggregate(list_transform(list_zip(e.embedding, q.qvec),
                    p -> CAST(FLOOR(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                                    * 10000000) AS BIGINT)), 'sum') AS BIGINT)
               / SQRT(CAST(CAST(list_aggregate(list_transform(list_zip(e.embedding, e.embedding),
                    p -> CAST(FLOOR(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                                    * 10000000) AS BIGINT)), 'sum') AS BIGINT) AS DOUBLE)
                      * CAST(CAST(list_aggregate(list_transform(list_zip(q.qvec, q.qvec),
                    p -> CAST(FLOOR(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                                    * 10000000) AS BIGINT)), 'sum') AS BIGINT) AS DOUBLE))
               AS cosine
      FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    sem AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (
               ORDER BY cosine DESC, doc_id) AS INTEGER) AS sem_rank
      FROM cos ORDER BY cosine DESC, doc_id LIMIT {RRF_DEPTH}
    )
    SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
           COALESCE(lex.lex_rank, -1) AS lex_rank,
           COALESCE(sem.sem_rank, -1) AS sem_rank,
           CAST(COALESCE(1000000 // ({RRF_K} + lex.lex_rank), 0)
                + COALESCE(1000000 // ({RRF_K} + sem.sem_rank), 0)
                AS BIGINT) AS rrf_fp
    FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    ORDER BY rrf_fp DESC, doc_id
    LIMIT 10
    """,
)
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval RECIPROCAL-RANK FUSION (Cormack et al.,
    SIGIR'09): fuse the lexical BM25 ranking (fixed query terms, the
    bm25_topk arm) with the semantic embedding ranking (cosine vs
    vec_id 0, the ann_cosine_topk arm, doc_id ≡ vec_id) by
    score(d) = Σ_arms 1e6 DIV (60 + rank_arm(d)) over each arm's top-20
    — the standard RAG retriever combiner that needs no score
    calibration between arms because only RANKS cross the boundary.
    Emits the fused top-10 with each arm's rank (−1 = not retrieved by
    that arm).

    Engine parity: both arms' ranks come from orderings already proven
    bit-identical (fixed-point BM25 from the shared scores sidecar; the
    fixed-point cosine kernel), and the fusion itself is pure integer
    arithmetic — 1e6 DIV (60+rank) — so the fused scores are exact
    int64 on both engines.

    Scale shape: each arm is distributed top-k (TakeOrderedAndProject —
    per-partition heads, never a global sort); the rank row_numbers run
    on 20-row frames (bounded by the limit, so the hygiene sweep's
    SinglePartition rule is satisfied by construction), and the fusion
    is a 20×20 full-outer join. At 100 TB the arms scale independently
    (inverted index / ANN index) and the fusion cost is O(depth)."""
    from pyspark.sql import Window as W

    from trialstreamer_spark.operators.similarity import (
        _query_vector,
        fp_dot_vec,
        scores_vs_query_udf,
    )

    lex20 = (
        bm25_scores(spark, sf_dir)
        .orderBy(F.col("score_fp").desc(), "doc_id")
        .limit(RRF_DEPTH)
    )
    lex = lex20.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("score_fp").desc(), "doc_id"))
        .cast("int")
        .alias("lex_rank"),
    )
    e = load(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir, 0)
    qnsq = fp_dot_vec(qv, qv)
    s = scores_vs_query_udf(qv)
    sem20 = (
        e.filter(F.col("vec_id") != 0)
        .select(F.col("vec_id").alias("doc_id"), s(F.col("embedding")).alias("s"))
        .select(
            "doc_id",
            (
                F.col("s.dot")
                / F.sqrt(F.col("s.nsq").cast("double") * F.lit(float(qnsq)))
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "doc_id")
        .limit(RRF_DEPTH)
    )
    sem = sem20.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("cosine").desc(), "doc_id"))
        .cast("int")
        .alias("sem_rank"),
    )
    contrib = lambda c: F.coalesce(  # noqa: E731
        F.expr(f"1000000 DIV ({RRF_K} + {c})"), F.lit(0)
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lex_rank", F.lit(-1)).alias("lex_rank"),
            F.coalesce("sem_rank", F.lit(-1)).alias("sem_rank"),
            (contrib("lex_rank") + contrib("sem_rank"))
            .cast("long")
            .alias("rrf_fp"),
        )
        .orderBy(F.col("rrf_fp").desc(), "doc_id")
        .limit(10)
    )
