"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, document fingerprinting.

These generalize the reference's text surface (cleanup at ictrp.py:156-159,
abstract handling at pmreader.py:86-104) into the corpus-hygiene operators a
100 TB document pipeline needs. Everything is built-in column expressions —
JVM-side, whole-stage-codegen'd, zero Python in the hot path.

Float determinism: ratios are single divisions of exact integer counts, so
they are bit-identical across engines (see plans/relational.py docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from trialstreamer_spark.io import load
from trialstreamer_spark.plans.registry import query

# Tiny stopword profiles for the n-gram-free language-ID heuristic.
# Real deployments would use character-trigram profiles; the mechanism
# (score = |tokens ∩ profile| per language, argmax with deterministic
# tie-break) is identical.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "des", "un"),
}

STOPWORDS = ("a", "the", "of", "and", "to", "in")


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization with empty-token removal — the shared
    tokenizer for every text operator (array expression, no explode)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def profile_hits(toks: Column, words: tuple[str, ...]) -> Column:
    """|tokens ∩ profile| counting duplicates (integer, exact)."""
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(*words)))


# ---------------------------------------------------------------------------
# queries()/oracle_sql() registrations
# ---------------------------------------------------------------------------

# DuckDB fragment mirroring tokens_col + counts (kept in one place so the
# oracle snippets below stay consistent).
_DD_TOKS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"


@query(
    "text_quality_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {_DD_TOKS} AS toks FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS INTEGER)
               AS n_token_chars,
           CAST(len(list_filter(toks, x -> lower(x) IN ('a','the','of','and','to','in'))) AS INTEGER)
               AS n_stopwords,
           CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
           CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS INTEGER)
               / greatest(CAST(len(toks) AS INTEGER), 1) AS avg_token_len,
           CAST(len(list_filter(toks, x -> lower(x) IN ('a','the','of','and','to','in'))) AS INTEGER)
               / greatest(CAST(len(toks) AS INTEGER), 1) AS stopword_ratio,
           CAST(len(list_distinct(toks)) AS INTEGER)
               / greatest(CAST(len(toks) AS INTEGER), 1) AS distinct_ratio
    FROM t
    ORDER BY doc_id
    """,
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics (token count, char count, stopword and
    distinct ratios). Pure array expressions on the scan — no shuffle, no
    UDF; scales linearly with input bytes."""
    d = load(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n_tokens = F.size(toks)
    n_token_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    n_stop = profile_hits(toks, STOPWORDS)
    n_distinct = F.size(F.array_distinct(toks))
    denom = F.greatest(n_tokens, F.lit(1))
    return d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        n_token_chars.alias("n_token_chars"),
        n_stop.alias("n_stopwords"),
        n_distinct.alias("n_distinct_tokens"),
        (n_token_chars / denom).alias("avg_token_len"),
        (n_stop / denom).alias("stopword_ratio"),
        (n_distinct / denom).alias("distinct_ratio"),
    ).orderBy("doc_id")


def lang_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document language-profile hit counts (doc_id, lang, score_*)
    — the featurization behind lang_id and the confusion matrix, built
    once per corpus version (the profile scan is the whole cost of both
    queries). Disk-backed (sidecars.disk_cached_plan): a restarted
    session reads the committed parquet."""
    from trialstreamer_spark.sidecars import disk_cached_plan

    def build() -> DataFrame:
        d = load(spark, sf_dir, "documents")
        toks = tokens_col(F.col("text"))
        return d.select(
            "doc_id",
            "lang",
            *[
                profile_hits(toks, words).alias(f"score_{lang}")
                for lang, words in LANG_PROFILES.items()
            ],
        )

    return disk_cached_plan(spark, sf_dir, "lang_scores", build)


@query(
    "lang_id",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DD_TOKS} AS toks FROM documents
    ), s AS (
      SELECT doc_id,
             CAST(len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in'))) AS INTEGER) AS score_en,
             CAST(len(list_filter(toks, x -> lower(x) IN ('el','la','de','que','y','los'))) AS INTEGER) AS score_es,
             CAST(len(list_filter(toks, x -> lower(x) IN ('der','die','das','und','ist','ein'))) AS INTEGER) AS score_de,
             CAST(len(list_filter(toks, x -> lower(x) IN ('le','la','les','et','des','un'))) AS INTEGER) AS score_fr
      FROM t
    )
    SELECT doc_id, score_en, score_es, score_de, score_fr,
           CASE WHEN greatest(score_en, score_es, score_de, score_fr) = 0 THEN 'unknown'
                WHEN score_en = greatest(score_en, score_es, score_de, score_fr) THEN 'en'
                WHEN score_es = greatest(score_en, score_es, score_de, score_fr) THEN 'es'
                WHEN score_de = greatest(score_en, score_es, score_de, score_fr) THEN 'de'
                WHEN score_fr = greatest(score_en, score_es, score_de, score_fr) THEN 'fr'
                ELSE 'unknown' END AS lang_pred
    FROM s
    ORDER BY doc_id
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (argmax over per-language hit counts,
    deterministic tie-break in profile order). Rides the lang_scores
    sidecar — the 100 TB cost is one pass over text bytes per corpus
    version, shared with the confusion matrix."""
    scored = lang_scores(spark, sf_dir).drop("lang")
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_PROFILES])
    pred = F.when(best == 0, F.lit("unknown"))
    for lang in LANG_PROFILES:
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return scored.select(
        "*", pred.otherwise(F.lit("unknown")).alias("lang_pred")
    ).orderBy("doc_id")


@query(
    "doc_fingerprint",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')))) AS n_fingerprints
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprinting (lowercase → strip non-alnum →
    collapse whitespace → md5), rolled up per source. The dedup pipeline
    joins on this fingerprint; md5 hex is identical across engines.
    COUNT(DISTINCT) shuffles on (source, fp) then re-aggregates — two
    stages, both partial-aggregated."""
    d = load(spark, sf_dir, "documents")
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return (
        d.select("source", F.md5(normalized).alias("fp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_fingerprints"),
        )
        .orderBy("source")
    )


@query(
    "token_count_by_lang",
    oracle=f"""
    WITH t AS (
      SELECT lang, {_DD_TOKS} AS toks FROM documents
    )
    SELECT lang,
           CAST(SUM(CAST(len(toks) AS INTEGER)) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$'))) AS INTEGER)) AS BIGINT)
               AS alpha_tokens,
           COUNT(*) AS n_docs
    FROM t
    GROUP BY lang
    ORDER BY lang
    """,
)
def token_count_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per language (whitespace tokens + a
    BPE-ish alpha-token subset via regex). Integer sums — exact and
    order-independent; one tiny shuffle on lang."""
    d = load(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    alpha = F.filter(toks, lambda t: t.rlike("^[a-z]+$"))
    return (
        d.select("lang", F.size(toks).alias("nt"), F.size(alpha).alias("na"))
        .groupBy("lang")
        .agg(
            F.sum("nt").alias("total_tokens"),
            F.sum("na").alias("alpha_tokens"),
            F.count("*").alias("n_docs"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


@query(
    "heavy_hitter_tokens",
    oracle="""
    SELECT tok, COUNT(*) AS n
    FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    t -> t <> '')) AS tok
          FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 20
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters: top-20 lowercased tokens by frequency
    (vocabulary skew diagnostics for a training-data pipeline — the
    exact baseline whose approximate sibling is a count-min sketch at
    100 TB). explode → count: map-side partial aggregation collapses the
    shuffle to one row per distinct token per partition; top-k is
    TakeOrderedAndProject, no global sort."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(20)
    )


@query(
    "cms_heavy_hitter_estimate",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> t <> '')) AS tok
      FROM documents
    ),
    cells AS (
      SELECT row_id, substr(md5(row_id || ':' || tok), 1, 2) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM toks, (SELECT unnest(['0','1','2','3']) AS row_id)
      GROUP BY 1, 2
    ),
    top AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM toks GROUP BY tok
      ORDER BY exact_n DESC, tok LIMIT 20
    ),
    probes AS (
      SELECT t.tok, r.row_id,
             substr(md5(r.row_id || ':' || t.tok), 1, 2) AS bucket
      FROM top t
      CROSS JOIN (SELECT unnest(['0','1','2','3']) AS row_id) r
    ),
    est AS (
      SELECT p.tok, MIN(c.c) AS cms_n
      FROM probes p JOIN cells c
        ON c.row_id = p.row_id AND c.bucket = p.bucket
      GROUP BY p.tok
    )
    SELECT t.tok, t.exact_n, e.cms_n
    FROM top t JOIN est e ON e.tok = t.tok
    ORDER BY t.exact_n DESC, t.tok
    """,
)
def cms_heavy_hitter_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=4 rows x w=256 md5 buckets) built over the
    token stream, with the top-20 exact heavy hitters' true counts
    joined against their sketch estimates — the approximate counting
    primitive the exact heavy_hitter_tokens rollup is replaced by at
    100 TB, where the distinct-token shuffle outgrows memory but the
    sketch stays 4x256 int64 cells regardless of corpus size. md5-derived
    bucket hashing makes the sketch bit-identical across engines (the
    standard seeded-multiply-shift hashes would not oracle-check).
    cms_n >= exact_n always (one-sided error); the gap on collision-heavy
    buckets is the figure of merit for sizing w.

    Scale shape: this EVALUATION query needs the exact vocabulary rollup
    anyway (for exact_n), so the cells are built from it — vocab-sized
    work, identical cell totals. A production sketch-ONLY pass skips the
    vocab rollup and aggregates token occurrences straight to (row,
    bucket): that shuffle is bounded by d*w cells per partition no
    matter how large the corpus or vocabulary — the property that makes
    CMS the replacement for exact counting at 100 TB."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"))
    rows = F.array(*[F.lit(str(i)) for i in range(4)])
    # ONE corpus-wide token rollup feeds everything: cells are built by
    # exploding the (vocabulary-sized) count table x4 and summing counts
    # per cell — identical cell totals to hashing every token occurrence,
    # at vocab cost instead of 4 corpus-wide explodes
    vocab = toks.groupBy("tok").agg(F.count("*").alias("exact_n"))
    cells = (
        vocab.select("tok", "exact_n", F.explode(rows).alias("row_id"))
        .select(
            "row_id",
            F.substring(
                F.md5(F.concat(F.col("row_id"), F.lit(":"), F.col("tok"))), 1, 2
            ).alias("bucket"),
            "exact_n",
        )
        .groupBy("row_id", "bucket")
        .agg(F.sum("exact_n").alias("c"))
        # ≤ 4×256 cells: one partition, so the probe join below is an
        # in-partition merge with NO broadcast build job (r11, §2.4)
        .coalesce(1)
    )
    top = vocab.orderBy(F.col("exact_n").desc(), F.col("tok")).limit(20)
    probes = top.select(
        "tok", "exact_n", F.explode(rows).alias("row_id")
    ).withColumn(
        "bucket",
        F.substring(
            F.md5(F.concat(F.col("row_id"), F.lit(":"), F.col("tok"))), 1, 2
        ),
    )
    return (
        probes.hint("merge")
        .join(cells, ["row_id", "bucket"])
        .groupBy("tok", "exact_n")
        .agg(F.min("c").alias("cms_n"))
        # 20-row tail: single-partition sort, no range exchange /
        # sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions(F.col("exact_n").desc(), "tok")
    )


@query(
    "unigram_freq_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                        t -> t <> '')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY tok)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(f.f) AS BIGINT) * 1.0 / COUNT(*) AS avg_tok_freq
    FROM toks t JOIN freq f ON t.tok = f.tok
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def unigram_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality proxy per document: the mean corpus frequency
    of the document's token occurrences. A transcendental-free stand-in
    for average log-likelihood under a corpus unigram model (the
    KenLM-style perplexity filter of CCNet/RedPajama) — exact integer
    sums and ONE double division keep it bit-identical across engines,
    where a log-based score would drift in the last ulp and break hash
    comparison. Low score = rare-token-heavy (OCR noise, code, gibberish);
    high = boilerplate-common tokens; both tails get reviewed.

    Scale shape: rides the doc_tf_stats sidecar (retrieval's inverted
    index with statistics — f, the token's global occurrence count, is
    stamped on the same tok window that computes df, so the build pays
    no extra exchange). The score is a pure per-doc rollup over the
    doc_id-partitioned sidecar: Σtf = instance count, Σ(tf·f) = the
    instance-frequency sum — identical to the explode-and-join
    formulation, with zero corpus re-tokenization at query time."""
    from trialstreamer_spark.operators.retrieval import doc_tf_stats

    s = doc_tf_stats(spark, sf_dir)
    return (
        s.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            (
                F.sum(F.col("tf") * F.col("f")) * F.lit(1.0) / F.sum("tf")
            ).alias("avg_tok_freq"),
        )
        .orderBy("doc_id")
    )


@query(
    "bpe_pair_counts",
    oracle="""
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT unnest(list_transform(range(1, len(tok)),
                    i -> substr(tok, i, 2))) AS pair
      FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      t -> t <> '')) AS tok
            FROM documents)
      WHERE len(tok) >= 2
    )
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 50
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training support: corpus-wide adjacent character-pair
    frequencies WITHIN words (the statistic the first BPE merge step
    maximizes — Sennrich et al. 2016). Top-50 pairs by count.

    Scale shape: ONE JVM regex pass per document — "adjacent pair
    within a word" is exactly "two consecutive non-space characters",
    so the overlapping windows (zero-width lookahead, the shingles_col
    trick) come straight off the lowered text with no per-token
    intermediate (measured 1.6x faster than the tokenize-then-pair
    double explode it replaces). One narrow explode, then map-side
    partial aggregation collapses the shuffle to one row per distinct
    pair per partition — the pair alphabet is tiny (≤ chars²), so the
    exchange is near-constant regardless of corpus size, and the top-k
    is TakeOrderedAndProject. Iterating merges (BPE training proper)
    re-runs this over re-tokenized text; each round is the same plan."""
    d = load(spark, sf_dir, "documents")
    pairs = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(r"(?=([^\s]{2}))"), 1
    )
    return (
        d.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# dictionary NER over the documents table (X2 as a driver query)
# ---------------------------------------------------------------------------

# Demo lexicon/lemma table over the synthetic corpus vocabulary, chosen
# so matches OVERLAP (key agg / agg row scan / row scan) and the lemma
# layer fires ('big' → 'large' makes surface "big table" hit lexicon
# entry "large table") — exercising the matcher's greedy non-overlap and
# lemma lookup under the driver's hash comparison.
CONCEPT_LEXICON = (
    ("key agg", "C-KA"),
    ("agg row scan", "C-ARS"),
    ("row scan", "C-RS"),
    ("table", "C-TBL"),
    ("large table", "C-LT"),
    ("merge batch", "C-MB"),
    ("sort", "C-SRT"),
)
CONCEPT_LEMMAS = (("big", "large"),)


@query(
    "concept_match_greedy",
    oracle="""
    WITH RECURSIVE
    lex(term, cui) AS (VALUES
      ('key agg', 'C-KA'), ('agg row scan', 'C-ARS'), ('row scan', 'C-RS'),
      ('table', 'C-TBL'), ('large table', 'C-LT'), ('merge batch', 'C-MB'),
      ('sort', 'C-SRT')),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS tk
      FROM documents
    ),
    tl AS (
      SELECT doc_id, tk,
             list_transform(tk, t -> CASE WHEN t = 'big' THEN 'large' ELSE t END) AS lm
      FROM toks
    ),
    grams AS (
      SELECT doc_id, i AS s, i + k - 1 AS e,
             array_to_string(lm[i:i+k-1], ' ') AS term,
             array_to_string(tk[i:i+k-1], ' ') AS surface
      FROM tl, unnest([1,2,3]) AS ks(k), unnest(range(1, len(tk) + 1)) AS pos(i)
      WHERE i + k - 1 <= len(tk)
    ),
    cand AS (
      SELECT g.doc_id, g.s, g.e, g.term, g.surface, l.cui,
             ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.s, g.e DESC, l.cui) AS rn
      FROM grams g JOIN lex l ON g.term = l.term
    ),
    sel AS (
      SELECT doc_id, s, e, term, surface, cui, rn FROM cand WHERE rn = 1
      UNION
      SELECT c.doc_id, c.s, c.e, c.term, c.surface, c.cui, c.rn
      FROM sel JOIN cand c ON c.doc_id = sel.doc_id AND c.rn > sel.rn AND c.s > sel.e
      WHERE c.rn = (SELECT min(c2.rn) FROM cand c2
                    WHERE c2.doc_id = sel.doc_id AND c2.rn > sel.rn AND c2.s > sel.e)
    )
    SELECT doc_id AS id, term, surface,
           CAST(s AS INTEGER) AS start, CAST(e AS INTEGER) AS "end", cui
    FROM sel ORDER BY id, start, cui
    """,
)
def concept_match_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary NER (minimap matcher, SURVEY X2) over the documents
    table: lemma lookup → n-gram windows → broadcast lexicon join →
    greedy left-to-right non-overlap (functions.text.match_concepts,
    ref minimap.py:152-201). The DuckDB oracle replicates the greedy
    sweep with a recursive CTE (next kept match = first candidate in
    (start, -end, cui) order starting after the current right border)."""
    from trialstreamer_spark.functions.text import match_concepts
    from trialstreamer_spark.util import inline_rows

    d = load(spark, sf_dir, "documents")
    # inline_rows, not createDataFrame: a handful of literal rows as a
    # 1-partition JVM local relation — zero Python transfer, and its
    # SinglePartition makes prepare_lexicon's ambiguity window
    # exchange-free inside the broadcast build (r11; createDataFrame
    # cost ~0.6 s/call here and parallelized 7 rows into 32 pickled
    # partitions).
    lexicon = inline_rows(
        spark, list(CONCEPT_LEXICON), [("term", "string"), ("cui", "string")]
    )
    lemmas = inline_rows(
        spark, list(CONCEPT_LEMMAS), [("token", "string"), ("lemma", "string")]
    )
    return match_concepts(d, lexicon, lemma_table=lemmas, max_ngram=3).orderBy(
        "id", "start", "cui"
    )


@query(
    "abbrev_pairs",
    oracle="""
    SELECT doc_id, 'table' AS abbrev,
           'training active block logic engine' AS definition
    FROM documents
    WHERE text LIKE '% table %'
    ORDER BY doc_id
    """,
)
def abbrev_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schwartz-Hearst abbreviation extraction (SURVEY X3) as a driver
    query. The synthetic corpus has no parentheticals, so the query
    plants one deterministically — every ' table ' becomes
    ' training active block logic engine (table) ' — and the pandas-UDF
    extractor must recover exactly {table: training active block logic
    engine} via the published char-back-matching rules (first short-form
    char starts a word; |definition| ≤ min(|A|+5, |A|·2) tokens). The
    oracle states the analytically-known answer per matching document;
    the extraction itself is inherently sequential per document and runs
    Arrow-batched (functions.text.abbreviations_udf).

    Round-9 measured result: the residual >2x ratio is the per-query
    Python/Arrow boundary on a corpus where the scan-side '(' gate
    barely prunes (the 30-word synthetic vocabulary makes ' table '
    near-universal; real prose prunes far harder). The cost is
    sub-linear in data — 0.73 s at sf1 -> 1.49 s at sf10 (10x data) —
    and the ratio shrinks 52.7x -> 9.6x -> 4.4x across the decades, the
    amortizing-seam curve, so no plan change is warranted."""
    from trialstreamer_spark.functions.text import abbreviations_udf

    d = load(spark, sf_dir, "documents")
    planted = F.regexp_replace(
        F.col("text"),
        " table ",
        " training active block logic engine (table) ",
    )
    # Schwartz-Hearst can only yield pairs from texts containing a
    # parenthesized candidate, so gate the Python stage behind a cheap
    # JVM-side contains('(') filter: the Arrow UDF sees only the (small)
    # fraction of the corpus that can possibly match. Rows without '('
    # would be dropped anyway by the inner explode of an empty map —
    # identical semantics, ~5x less Python. Same pruning holds at 100 TB:
    # the filter is a scan-side column expression ahead of the exchange.
    return (
        d.select("doc_id", planted.alias("planted"))
        .where(F.instr(F.col("planted"), "(") > 0)
        .select("doc_id", abbreviations_udf(F.col("planted")).alias("m"))
        .select("doc_id", F.explode("m").alias("abbrev", "definition"))
        .orderBy("doc_id")
    )


#: Linear-counting bitmap width (buckets). At 100 TB the sketch state
#: per group is LC_M bits regardless of cardinality; estimate error
#: ~sqrt(m)·(e^{n/m}-1) — size m to the cardinality band of interest.
LC_M = 1024


@query(
    "linear_probe_distinct",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      t -> t <> '')) AS tok
      FROM documents
    ),
    exact AS (
      SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct
      FROM toks GROUP BY lang
    ),
    occ AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_occupied
      FROM (SELECT DISTINCT lang,
                   ('0x' || substr(md5(tok), 1, 8))::BIGINT % {LC_M} AS bucket
            FROM toks)
      GROUP BY lang
    )
    SELECT e.lang AS lang, e.n_distinct, o.n_occupied,
           CAST({LC_M} AS BIGINT) AS m
    FROM exact e JOIN occ o ON e.lang = o.lang
    ORDER BY lang
    """,
)
def linear_probe_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear counting (Whang et al. 1990) — the bounded-state distinct
    sketch: hash every token into an LC_M-bit bitmap per language and
    count occupied buckets. The cardinality estimate is
    −m·ln(1−occupied/m), applied by the caller (ln is engine-divergent
    in the last ulp, so only the EXACT integers cross the oracle
    boundary — same discipline as cms_heavy_hitter_estimate).

    The exact distinct count is computed alongside ONLY to measure the
    sketch (it is what the sketch replaces). Both counts derive from ONE
    distinct (lang, tok) pass: n_distinct(lang) = Σ_bucket |tokens in
    bucket| and n_occupied(lang) = |non-empty buckets|, so a single
    (lang, bucket) rollup over the distinct token set serves both — the
    r11 rewrite of the old two-leg plan, which tokenized the corpus
    TWICE and paid two corpus-sized distinct exchanges for legs that
    are projections of the same set (guide §2.4). After the (lang, tok)
    distinct, every downstream exchange is bounded by langs × m rows
    per partition (map-side partial aggregation). Spark's own
    approx_count_distinct (HLL++) is the production alternative; linear
    counting is used here because its md5-bucket state is
    engine-portable and oracle-checkable."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"),
    )
    per_bucket = (
        toks.distinct()
        .groupBy(
            "lang",
            (
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
                % LC_M
            ).alias("bucket"),
        )
        .agg(F.count("*").alias("n_toks"))
    )
    return (
        per_bucket.groupBy("lang")
        .agg(
            F.sum("n_toks").alias("n_distinct"),
            F.count("*").alias("n_occupied"),
        )
        .select(
            "lang",
            "n_distinct",
            "n_occupied",
            F.lit(LC_M).cast("long").alias("m"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


#: Vocabulary size for the tokenizer-coverage check. Real tokenizers
#: carry 32k-256k entries; 256 keeps the fixture's OOV rate measurable.
VOCAB_N = 256


@query(
    "oov_rate_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> t <> '')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
        ORDER BY c DESC, tok LIMIT {VOCAB_N}
      )
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
             AS oov_frac
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def oov_rate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage check: build the corpus's top-VOCAB_N token
    vocabulary (count-desc, token tie-break — a total order, so the
    boundary is deterministic) and report each document's out-of-
    vocabulary token count and rate. High-OOV documents are the ones a
    fixed tokenizer will shred into bytes — the pre-training audit run
    before committing a tokenizer to a corpus (and the mechanism behind
    vocabulary-fit checks in BPE training pipelines).

    Scale shape: the vocabulary rollup partial-aggregates map-side and
    its top-N is a TakeOrdered over (count, token) — driver state is
    VOCAB_N rows. The per-doc pass then BROADCASTS the vocabulary into
    the token stream (map-side hash lookup, no shuffle of the corpus
    tokens for the join) and rolls up on the doc_id keys the explode
    already carries. The corpus is scanned twice; a production run
    builds the vocab once per corpus version (same sidecar discipline as
    prepare_dedup) and amortizes the first scan away."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens_col(F.lower(F.col("text")))).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(VOCAB_N)
        .select("tok")
    )
    return (
        toks.join(
            F.broadcast(vocab.withColumn("__in_vocab", F.lit(1))),
            "tok",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (F.col("n_oov") * F.lit(1.0) / F.col("n_tokens")).alias(
                "oov_frac"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "sketch_merge_parity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> t <> '')) AS tok
      FROM documents
    ),
    buckets AS (
      SELECT DISTINCT lang, doc_id % 2 AS shard,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % {LC_M} AS bucket
      FROM toks
    )
    SELECT lang,
           CAST(COUNT(DISTINCT CASE WHEN shard = 0 THEN bucket END)
                AS BIGINT) AS occ_shard0,
           CAST(COUNT(DISTINCT CASE WHEN shard = 1 THEN bucket END)
                AS BIGINT) AS occ_shard1,
           CAST(COUNT(DISTINCT bucket) AS BIGINT) AS occ_merged
    FROM buckets
    GROUP BY lang
    ORDER BY lang
    """,
)
def sketch_merge_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY proof — the property that makes bounded-state
    sketches work on a 1000-executor cluster: each shard builds its own
    linear-counting bitmap independently, and the union (bitwise OR) of
    the shard bitmaps is EXACTLY the bitmap of the union of the data.
    Emitted per language: each shard's occupancy and the merged
    occupancy, with merged = |B0 ∪ B1| (tested: bounded by the sum,
    at least the max — the lattice the OR-merge lives in). Counters
    (CMS) merge by +, bitmaps (LC, Bloom) by OR, HLL by max — this query
    is the engine's executable witness for the OR case over the same
    md5-bucket state as linear_probe_distinct.

    Scale shape: the distinct (lang, shard, bucket) projection is
    map-side-partial distinct bounded by langs × shards × LC_M rows per
    partition — corpus volume never reaches the exchange."""
    d = load(spark, sf_dir, "documents")
    buckets = (
        d.select(
            "lang",
            (F.col("doc_id") % 2).alias("shard"),
            F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"),
        )
        .select(
            "lang",
            "shard",
            (
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
                % LC_M
            ).alias("bucket"),
        )
        .distinct()
    )
    return (
        buckets.groupBy("lang")
        .agg(
            F.countDistinct(
                F.when(F.col("shard") == 0, F.col("bucket"))
            ).alias("occ_shard0"),
            F.countDistinct(
                F.when(F.col("shard") == 1, F.col("bucket"))
            ).alias("occ_shard1"),
            F.countDistinct("bucket").alias("occ_merged"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


#: source-signature extraction knobs: a token must appear at least
#: MIN_SOURCE_TF times within a source to be a signature candidate;
#: DISTINCTIVE_K tokens reported per source.
MIN_SOURCE_TF = 5
DISTINCTIVE_K = 5


@query(
    "source_distinctive_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                        t -> t <> '')) AS tok
      FROM documents
    ),
    st AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n_st
      FROM toks GROUP BY source, tok
    ),
    w AS (
      SELECT source, tok, n_st,
             CAST(SUM(n_st) OVER (PARTITION BY source) AS BIGINT) AS n_s,
             CAST(SUM(n_st) OVER (PARTITION BY tok) AS BIGINT) AS n_t,
             CAST(SUM(n_st) OVER () AS BIGINT) AS n_total
      FROM st
    ),
    scored AS (
      SELECT source, tok, n_st,
             CAST((1000000 * (n_st * (n_total - n_s)))
                  // (GREATEST(n_t - n_st, 1) * n_s) AS BIGINT) AS lift_fp
      FROM w WHERE n_st >= {MIN_SOURCE_TF}
    )
    SELECT source, CAST(rk AS INTEGER) AS rank, tok, n_st, lift_fp
    FROM (SELECT s.*, ROW_NUMBER() OVER (
            PARTITION BY source ORDER BY lift_fp DESC, tok) AS rk
          FROM scored s)
    WHERE rk <= {DISTINCTIVE_K}
    ORDER BY source, rank
    """,
)
def source_distinctive_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-signature extraction: the DISTINCTIVE_K tokens most
    over-represented in each source relative to the rest of the corpus,
    by rate lift — (tf_in_source / source_tokens) ÷ (tf_elsewhere /
    other_tokens). The quick answer to "what makes this source
    different", feeding mixture design, domain classifiers, and
    contamination triage (a crawl whose signature tokens suddenly match
    a benchmark's is a red flag).

    Determinism: the lift is computed ENTIRELY in int64 — ``(10⁶ ·
    n_st · (N − n_s)) div (max(n_t − n_st, 1) · n_s)`` — and ranked by
    (lift_fp desc, tok): integer ordering, no float ever crosses the
    comparison or the oracle boundary. (At a 10¹²-token corpus the
    numerator needs 128-bit — DECIMAL(38) on both engines — before
    int64 overflows; the shape is unchanged.)

    Scale shape: everything downstream of the explode operates on the
    (source, tok) rollup — vocabulary × sources rows, not corpus rows.
    Its three statistics ride two window exchanges (tok-keyed, then
    source-keyed) plus a 1-row broadcast total; the final top-k is a
    WindowGroupLimit over the source partitioning the rollup already
    carries. MIN_SOURCE_TF prunes the rare-token tail before ranking.
    The whole scored-and-ranked signature table is a per-corpus-version
    statistic (|sources| × K rows), so it is a prepare_curation sidecar
    — the query path is a read + sort (round-5 perf-weak fix)."""

    def build() -> DataFrame:
        from pyspark.sql import Window as W

        d = load(spark, sf_dir, "documents")
        st = (
            d.select(
                "source",
                F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"),
            )
            .groupBy("source", "tok")
            .agg(F.count("*").alias("n_st"))
        )
        tot = st.agg(F.sum("n_st").alias("n_total"))
        w = (
            st.withColumn("n_t", F.sum("n_st").over(W.partitionBy("tok")))
            .withColumn("n_s", F.sum("n_st").over(W.partitionBy("source")))
            .crossJoin(F.broadcast(tot))
        )
        scored = w.where(F.col("n_st") >= MIN_SOURCE_TF).withColumn(
            "lift_fp",
            F.expr(
                "(1000000 * (n_st * (n_total - n_s)))"
                " DIV (GREATEST(n_t - n_st, 1) * n_s)"
            ),
        )
        rk = W.partitionBy("source").orderBy(F.col("lift_fp").desc(), "tok")
        return (
            scored.withColumn("rank", F.row_number().over(rk))
            .where(F.col("rank") <= DISTINCTIVE_K)
            .select(
                "source",
                F.col("rank").cast("int").alias("rank"),
                "tok",
                "n_st",
                "lift_fp",
            )
        )

    from trialstreamer_spark.sidecars import disk_cached_plan

    return (
        disk_cached_plan(spark, sf_dir, "source_token_signatures", build)
        .orderBy("source", "rank")
    )


@query(
    "lang_confusion_matrix",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {{TOKS}} AS toks FROM documents
    ), s AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in'))) AS INTEGER) AS score_en,
             CAST(len(list_filter(toks, x -> lower(x) IN ('el','la','de','que','y','los'))) AS INTEGER) AS score_es,
             CAST(len(list_filter(toks, x -> lower(x) IN ('der','die','das','und','ist','ein'))) AS INTEGER) AS score_de,
             CAST(len(list_filter(toks, x -> lower(x) IN ('le','la','les','et','des','un'))) AS INTEGER) AS score_fr
      FROM t
    ), pred AS (
      SELECT lang,
             CASE WHEN greatest(score_en, score_es, score_de, score_fr) = 0 THEN 'unknown'
                  WHEN score_en = greatest(score_en, score_es, score_de, score_fr) THEN 'en'
                  WHEN score_es = greatest(score_en, score_es, score_de, score_fr) THEN 'es'
                  WHEN score_de = greatest(score_en, score_es, score_de, score_fr) THEN 'de'
                  WHEN score_fr = greatest(score_en, score_es, score_de, score_fr) THEN 'fr'
                  ELSE 'unknown' END AS lang_pred
      FROM s
    ), cells AS (
      SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n FROM pred
      GROUP BY lang, lang_pred
    )
    SELECT lang, lang_pred, n,
           CAST((1000000 * n) // SUM(n) OVER (PARTITION BY lang) AS BIGINT)
             AS frac_fp
    FROM cells
    ORDER BY lang, lang_pred
    """.format(TOKS=_DD_TOKS),
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation against the corpus's labeled lang column:
    the (labeled, predicted) confusion matrix with each cell's
    fixed-point share of its labeled row — the accuracy/leakage report
    that decides whether the cheap n-gram heuristic suffices for a
    source or a real classifier is needed (the diagonal is per-language
    recall; off-diagonal mass localizes which pairs confuse).

    Scale shape: ONE projection pass scores all language profiles (no
    join back to the labels — the label rides the same scan), then a
    rollup whose key space is |langs|² and a window over that tiny
    frame. Shares are integer divisions of exact counts."""
    scored = lang_scores(spark, sf_dir)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_PROFILES])
    pred = F.when(best == 0, F.lit("unknown"))
    for lang in LANG_PROFILES:
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    pred = pred.otherwise(F.lit("unknown"))
    from pyspark.sql import Window as W

    return (
        scored.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
        .withColumn("total", F.sum("n").over(W.partitionBy("lang")))
        .select(
            "lang",
            "lang_pred",
            "n",
            F.expr("(1000000 * n) DIV total").alias("frac_fp"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("lang", "lang_pred")
    )


#: Sequence-length histogram bucket width (tokens) — matches the
#: packing chunk scale so the histogram reads directly as "how many
#: sequences fit per bucket".
LEN_BUCKET = 32


@query(
    "doc_length_histogram",
    oracle=f"""
    WITH t AS (
      SELECT CAST(len({_DD_TOKS}) AS BIGINT) AS n_tokens FROM documents
    )
    SELECT CAST((n_tokens // {LEN_BUCKET}) * {LEN_BUCKET} AS BIGINT)
             AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total
    FROM t
    GROUP BY 1
    ORDER BY bucket_lo
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution in LEN_BUCKET-token buckets (doc
    count and token mass per bucket) — the histogram that sizes
    max_seq_len, predicts packing efficiency (sequence_packing's waste
    is the mass above each candidate cut), and exposes truncation loss
    before a training run commits to a context length.

    Scale shape: one scan-side projection (token count), one
    aggregation whose key space is the bucket count — entirely
    map-side-combinable; integers throughout."""
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(tokens_col(F.col("text"))).cast("long")
    return (
        d.select(
            ((n_tokens / LEN_BUCKET).cast("long") * LEN_BUCKET).alias(
                "bucket_lo"
            ),
            n_tokens.alias("n_tokens"),
        )
        .groupBy("bucket_lo")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens_total"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("bucket_lo")
    )


def source_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, tok, c) token-frequency rollup per source — the raw
    distribution table behind cross-source drift statistics. A
    per-corpus featurization (one explode + one grouped count), so a
    prepare_curation sidecar; every consumer operates on |vocabulary ×
    sources| rows, never corpus rows. Disk-backed."""
    from trialstreamer_spark.sidecars import disk_cached_plan

    def build() -> DataFrame:
        d = load(spark, sf_dir, "documents")
        return (
            d.select(
                "source",
                F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"),
            )
            .groupBy("source", "tok")
            .agg(F.count("*").alias("c"))
        )

    return disk_cached_plan(spark, sf_dir, "source_token_counts", build)


@query(
    "token_tv_distance_by_source",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> t <> '')) AS tok
      FROM documents
    ),
    c AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks GROUP BY 1, 2),
    n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY source),
    matched AS (
      SELECT a.source AS sa, b.source AS sb,
             abs(a.c * nb.n - b.c * na.n) AS contrib
      FROM c a
      JOIN c b ON a.tok = b.tok AND a.source < b.source
      JOIN n na ON na.source = a.source
      JOIN n nb ON nb.source = b.source
    ),
    onesided AS (
      SELECT least(a.source, o.source) AS sa,
             greatest(a.source, o.source) AS sb,
             a.c * o.n AS contrib
      FROM c a
      JOIN n o ON o.source <> a.source
      LEFT JOIN c b ON b.source = o.source AND b.tok = a.tok
      WHERE b.c IS NULL
    ),
    allc AS (SELECT * FROM matched UNION ALL SELECT * FROM onesided)
    SELECT sa AS source_a, sb AS source_b,
           CAST(SUM(contrib) AS BIGINT) AS tv_num,
           na.n AS n_a, nb.n AS n_b,
           SUM(contrib) / (2.0 * na.n * nb.n) AS tv
    FROM allc
    JOIN n na ON na.source = sa
    JOIN n nb ON nb.source = sb
    GROUP BY sa, sb, na.n, nb.n
    ORDER BY source_a, source_b
    """,
)
def token_tv_distance_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift audit: exact total-variation distance between every
    pair of sources' token distributions — TV(P,Q) = ½·Σ|p_t − q_t|,
    the statistic mixture design and crawl-regression monitoring read
    ("did src7's language shift this snapshot?"). Emitted as an exact
    integer numerator ``tv_num = Σ_t |c_a(t)·N_b − c_b(t)·N_a|`` over
    the union vocabulary plus both token totals, so the comparison is
    pure int64 — TV itself is the single final division
    tv_num/(2·N_a·N_b), identical IEEE doubles on both engines.

    Scale shape: everything operates on the (source, tok, c) rollup
    sidecar (source_token_counts — |vocab × sources| rows, never corpus
    rows). Matched terms are one tok-keyed self-join constrained
    source_a < source_b; terms ABSENT from one side need no anti-join —
    with x+y−|x−y| = 2·min(x,y), the one-sided mass folds into the
    matched sum algebraically:

        tv_num = Σ_matched |ca·Nb − cb·Na| + Σ_onlyA ca·Nb + Σ_onlyB cb·Na
               = 2·(Na·Nb − Σ_matched min(ca·Nb, cb·Na))

    (Σ_onlyA ca = Na − Σ_matched ca and symmetrically for B; every term
    is exact int64, so the folded form is bit-identical to the summed
    form — r11 optimization: the whole |rollup|×|sources| expand +
    anti-probe leg is gone, one tok-keyed self-join and one pair rollup
    remain.) Pairs that share no term get tv = 1 from the |sources|²
    pair universe (a bounded BNLJ over the totals aggregate). The pair
    rollup has |sources|² keys. At a 10¹²-token corpus the products
    need DECIMAL(38) before int64 overflows; the shape is unchanged."""
    c = source_token_counts(spark, sf_dir)
    n = c.groupBy("source").agg(F.sum("c").alias("n"))
    a = c.select(F.col("source").alias("sa"), "tok", F.col("c").alias("ca"))
    b = c.select(
        F.col("source").alias("sb"),
        F.col("tok").alias("tokb"),
        F.col("c").alias("cb"),
    )
    na = F.broadcast(n.select(F.col("source").alias("sa"), F.col("n").alias("n_a")))
    nb = F.broadcast(n.select(F.col("source").alias("sb"), F.col("n").alias("n_b")))
    matched_min = (
        a.join(b, (F.col("tok") == F.col("tokb")) & (F.col("sa") < F.col("sb")))
        .join(na, "sa")
        .join(nb, "sb")
        .groupBy("sa", "sb")
        .agg(
            F.sum(
                F.least(F.col("ca") * F.col("n_b"), F.col("cb") * F.col("n_a"))
            ).alias("min_sum")
        )
    )
    pairs = na.join(nb, F.col("sa") < F.col("sb"))
    return (
        pairs.join(matched_min, ["sa", "sb"], "left")
        .select(
            "sa",
            "sb",
            "n_a",
            "n_b",
            (
                2 * (F.col("n_a") * F.col("n_b")
                     - F.coalesce(F.col("min_sum"), F.lit(0)))
            ).alias("tv_num"),
        )
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "tv_num",
            "n_a",
            "n_b",
            (F.col("tv_num") / (2.0 * F.col("n_a") * F.col("n_b"))).alias("tv"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# round 6: lexical-richness and n-gram coverage audits
# ---------------------------------------------------------------------------


@query(
    "type_token_stats",
    oracle="""
    WITH tf AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT source,
                   unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      t -> t <> '')) AS tok
            FROM documents)
      GROUP BY source, tok
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST((1000000 * COUNT(*)) // SUM(cnt) AS BIGINT) AS ttr_fp,
           CAST((1000000 * SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS hapax_fp
    FROM tf
    GROUP BY source
    ORDER BY source
    """,
)
def type_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness audit per source: type-token ratio and hapax-
    legomenon share — the standard diversity signals for spotting
    template-generated or boilerplate-heavy corpus slices before they
    reach a training mix (low TTR = heavy repetition; low hapax share =
    stamped-out text).

    Determinism: all three counts are exact integers; the ratios are
    single integer floor-divisions at 1e-6 (`_fp` convention).

    Scale shape: explode → (source, tok) rollup partial-aggregates
    map-side (same exchange class as source_distinctive_tokens); the
    second rollup keys on |sources|. Nothing is corpus-sized after the
    first aggregation."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(
            "source",
            F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        tf.groupBy("source")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.expr("(1000000 * n_types) DIV n_tokens").alias("ttr_fp"),
            F.expr("(1000000 * n_hapax) DIV n_types").alias("hapax_fp"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("source")
    )


#: Coverage checkpoints for the bigram curve below.
COVERAGE_KS = (10, 100, 1000)


@query(
    "bigram_coverage_curve",
    oracle=f"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1])) AS bg
      FROM toks
    ),
    cnts AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY bg),
    total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM cnts),
    top AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, bg) AS rk
      FROM cnts
      QUALIFY rk <= {max(COVERAGE_KS)}
    )
    SELECT ks.k,
           CAST(SUM(CASE WHEN t.rk <= ks.k THEN t.cnt ELSE 0 END) AS BIGINT)
               AS covered_occurrences,
           CAST(ANY_VALUE(total.tot) AS BIGINT) AS total_occurrences,
           CAST((1000000 * SUM(CASE WHEN t.rk <= ks.k THEN t.cnt ELSE 0 END))
                // ANY_VALUE(total.tot) AS BIGINT) AS coverage_fp
    FROM top t
    CROSS JOIN total
    CROSS JOIN (VALUES {", ".join(f"({k})" for k in COVERAGE_KS)}) ks(k)
    GROUP BY ks.k
    ORDER BY ks.k
    """,
)
def bigram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-coverage curve of the corpus bigram distribution: what share
    of all bigram OCCURRENCES the top-{{10,100,1000}} bigram TYPES
    account for. A steep curve means templated text (a handful of
    n-grams dominates); a flat one means diverse prose — the quick
    Zipf-shape audit run before choosing dedup/quality thresholds.

    Determinism: occurrence counts are exact integers; the top-1000
    selection orders by (count DESC, bigram ASC) so boundary ties are
    total; coverage is an integer floor-division at 1e-6.

    Scale shape: the type counts serve from the shared bigram_census
    sidecar (vocab²-bounded, one build per corpus version); the
    top-1000 is TakeOrderedAndProject over it (distributed heap top-k,
    no global sort), and the curve itself is a window over that
    ≤1000-row frame broadcast-joined to the 1-row grand total — no
    corpus-sized work on the query path at all."""
    from pyspark.sql import Window as W

    cnts = bigram_census(spark, sf_dir).select(
        F.concat_ws(" ", F.col("w1"), F.col("w2")).alias("bg"), "cnt"
    )
    # both the grand total and the top-k read the cached census — two
    # InMemoryTableScans of a vocab-sized table, zero re-tokenization
    total = cnts.agg(F.sum("cnt").alias("tot"))
    top = (
        cnts.orderBy(F.col("cnt").desc(), F.col("bg"))
        .limit(max(COVERAGE_KS))
        .withColumn(
            "rk",
            F.row_number().over(
                W.orderBy(F.col("cnt").desc(), F.col("bg"))
            ),
        )
    )
    ks = F.explode(F.array(*[F.lit(k) for k in COVERAGE_KS])).alias("k")
    return (
        top.crossJoin(F.broadcast(total))
        .select("cnt", "rk", "tot", ks)
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("k"), F.col("cnt")).otherwise(0))
            .alias("covered_occurrences"),
            F.first("tot").alias("total_occurrences"),
        )
        .select(
            "k",
            "covered_occurrences",
            "total_occurrences",
            F.expr(
                "(1000000 * covered_occurrences) DIV total_occurrences"
            ).alias("coverage_fp"),
        )
        .orderBy("k")
    )


@query(
    "tokenizer_fertility_stats",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM((length(tok) + 3) // 4) AS BIGINT) AS n_subword,
           CAST(SUM(length(tok)) AS BIGINT) AS n_chars,
           CAST((1000000 * SUM((length(tok) + 3) // 4)) // COUNT(*) AS BIGINT)
               AS fertility_fp,
           CAST((1000000 * SUM(length(tok))) // COUNT(*) AS BIGINT)
               AS chars_per_tok_fp
    FROM (
      SELECT lang,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    )
    GROUP BY lang
    ORDER BY lang
    """,
)
def tokenizer_fertility_stats(spark, sf_dir: str) -> DataFrame:
    """Tokenizer cost model per language: fertility (subword units per
    whitespace token, modeling a fixed-width-4 BPE merge table) and
    chars-per-token — the statistics a training pipeline uses to budget
    token counts per corpus slice before committing to a tokenizer (the
    same per-slice audit as token_count_by_lang, with the subword
    blow-up factor added).

    Scale shape: one explode pass over the corpus feeding a |langs|-key
    rollup — map-side partial aggregation collapses each partition to a
    handful of rows before the shuffle; the subword count is pure
    integer arithmetic on token length (no second tokenize). Ratios are
    integer floor-divisions at 1e-6 resolution, exact on both
    engines."""
    from trialstreamer_spark.io import load

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"),
    )
    return (
        toks.groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.expr("CAST((length(tok) + 3) DIV 4 AS BIGINT)")).alias(
                "n_subword"
            ),
            F.sum(F.length("tok").cast("long")).alias("n_chars"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_subword",
            "n_chars",
            F.expr("(1000000 * n_subword) DIV n_tokens").alias("fertility_fp"),
            F.expr("(1000000 * n_chars) DIV n_tokens").alias(
                "chars_per_tok_fp"
            ),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


@query(
    "vocab_growth_curve",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DD_TOKS} AS toks FROM documents
      WHERE text IS NOT NULL
    ),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
    first AS (SELECT tok, MIN(doc_id) AS first_doc FROM tok GROUP BY tok),
    b AS (
      SELECT CAST(length(bin(first_doc + 1)) AS INTEGER) AS doc_bucket
      FROM first
    ),
    per AS (
      SELECT doc_bucket, CAST(COUNT(*) AS BIGINT) AS n_new_types
      FROM b GROUP BY 1
    )
    SELECT doc_bucket, n_new_types,
           CAST(SUM(n_new_types) OVER (ORDER BY doc_bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS vocab_size
    FROM per ORDER BY doc_bucket
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: how many NEW token types appear in
    each power-of-two prefix of the corpus (documents taken in doc_id
    order), and the cumulative vocabulary size at each checkpoint — the
    curve that predicts tokenizer OOV pressure and vocab sizing as a
    100 TB corpus keeps growing (type_token_stats is the endpoint;
    this is the trajectory).

    Plan: a token's first appearance is MIN(doc_id) per type — one
    explode + one map-side-combined rollup keyed on the token (the
    same shuffle every unigram statistic pays, NOT a per-prefix
    distinct, which would rescan the corpus once per checkpoint); the
    bit-length bucketing and the cumulative window then run on ≤64
    rows. doc_id+1 keeps bucket arithmetic exact at doc_id 0. The ≤64-row
    bucket rollup coalesces to one partition BEFORE the cumulative
    window (Coalesce(1) outputs SinglePartition, satisfying the
    empty-partition window's distribution), so the window costs no
    exchange and the bounded tail sorts in-partition — r11, guide §2.4;
    the old shape paid a separate SinglePartition exchange plus a range
    sort with its sampling job."""
    d = load(spark, sf_dir, "documents")
    first = (
        d.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(tokens_col(F.col("text"))).alias("tok"),
        )
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    per = (
        first.select(
            F.length(F.bin(F.col("first_doc") + 1)).cast("int").alias(
                "doc_bucket"
            )
        )
        .groupBy("doc_bucket")
        .agg(F.count("*").alias("n_new_types"))
    )
    return (
        per.coalesce(1)
        .select(
            "doc_bucket",
            "n_new_types",
            F.expr(
                "SUM(n_new_types) OVER (ORDER BY doc_bucket"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            ).alias("vocab_size"),
        )
        .sortWithinPartitions("doc_bucket")
    )


def _profile_sql(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        "len(list_filter(toks, x -> list_contains([" + lst + "], x)))"
    )


@query(
    "stopword_coverage_by_lang",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    per AS (
      SELECT lang,
             CAST(len(toks) AS BIGINT) AS n_toks,
             CAST(CASE lang
               WHEN 'en' THEN {_profile_sql(LANG_PROFILES["en"])}
               WHEN 'es' THEN {_profile_sql(LANG_PROFILES["es"])}
               WHEN 'de' THEN {_profile_sql(LANG_PROFILES["de"])}
               WHEN 'fr' THEN {_profile_sql(LANG_PROFILES["fr"])}
               ELSE 0 END AS BIGINT) AS n_hits
      FROM t
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(SUM(n_hits) AS BIGINT) AS n_stopword_hits,
           CAST(CASE WHEN SUM(n_toks) > 0
                     THEN (1000000 * SUM(n_hits)) // SUM(n_toks)
                     ELSE -1 END AS BIGINT) AS coverage_fp
    FROM per GROUP BY lang ORDER BY lang
    """,
)
def stopword_coverage_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile coverage per labeled language: what share of a
    language's token mass its OWN function-word profile captures — the
    label-quality audit for a mixed-language corpus (a labeled-en shard
    with near-zero 'the/of/and' coverage is mislabeled or boilerplate;
    a profile-less language like zh reads 0, flagging the profile gap
    itself). This is the statistic that validates lang-ID labels before
    they route documents into per-language tokenizer/filter branches.

    Scale shape: entirely array higher-order functions on the document
    scan — per-doc token count and profile-hit count with NO explode
    (the profile is a ≤6-literal IN list, evaluated in codegen), then
    one |langs|-key rollup that collapses map-side. 1e-6 fixed-point
    share of exact integer sums; -1 sentinel for an empty language."""
    d = load(spark, sf_dir, "documents")
    toks = tokens_col(F.lower(F.col("text")))
    hit_cases = None
    for lang, words in LANG_PROFILES.items():
        hits = profile_hits(toks, words)
        hit_cases = (
            F.when(F.col("lang") == lang, hits)
            if hit_cases is None
            else hit_cases.when(F.col("lang") == lang, hits)
        )
    per = d.select(
        "lang",
        F.size(toks).cast("long").alias("n_toks"),
        hit_cases.otherwise(F.lit(0)).cast("long").alias("n_hits"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.sum("n_hits").alias("n_stopword_hits"),
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "n_stopword_hits",
            F.when(
                F.col("n_tokens") > 0,
                F.expr("(1000000 * n_stopword_hits) DIV n_tokens"),
            )
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("coverage_fp"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


def bigram_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram table ``(w1, w2, cnt)`` — the once-per-corpus LM
    artifact shared by the collocation (lift), Zipf-coverage, and
    bigram-LM-fluency queries. Vocabulary²-bounded (far below corpus
    size; map-side partials collapse the explode), disk-backed like
    doc_tf_stats — at 100 TB this is the n-gram count table a language
    model build materializes anyway."""
    from trialstreamer_spark.sidecars import disk_cached_plan

    def build() -> DataFrame:
        d = load(spark, sf_dir, "documents")
        t = d.select(tokens_col(F.lower(F.col("text"))).alias("toks")).where(
            F.size("toks") >= 2
        )
        bi = t.select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> named_struct('w1', toks[i], 'w2', toks[i+1]))"
                )
            ).alias("b")
        )
        return bi.groupBy(
            F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
        ).agg(F.count("*").alias("cnt"))

    return disk_cached_plan(
        spark, sf_dir, "bigram_census", build, source_tables=("documents",)
    )


def vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary statistics sidecar ``(tok, f, n)``: per-token corpus
    occurrence count plus the corpus token total stamped on every row —
    the ANALYZE-style table a deployed engine maintains next to its
    inverted index. Derived from doc_tf_stats' tok window at build time
    so query plans join ONE tiny vocab-keyed table instead of
    re-aggregating the doc-keyed index per reference (r11: bigram lift
    paid two unigram rollup exchanges + a separate corpus-total agg +
    three broadcast builds per run)."""
    from trialstreamer_spark.sidecars import disk_cached_plan

    def build() -> DataFrame:
        from trialstreamer_spark.operators.retrieval import doc_tf_stats

        c1 = (
            doc_tf_stats(spark, sf_dir)
            .groupBy("tok")
            .agg(F.max("f").alias("f"))
        )
        tot = c1.agg(F.sum("f").alias("n"))
        return c1.crossJoin(F.broadcast(tot))

    return disk_cached_plan(
        spark, sf_dir, "vocab_stats", build, source_tables=("documents",)
    )


def bigram_lm_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM probability table ``(w1, w2, p_fp)`` — P(w2|w1) in
    1e-6 fixed point over the census. The once-per-corpus LM-table
    build the bigram_lm_score docstring already calls sidecar material:
    promoting it moves the census scan + prefix-rollup exchange + join
    out of every scoring run (r11)."""
    from trialstreamer_spark.sidecars import disk_cached_plan

    def build() -> DataFrame:
        c12 = bigram_census(spark, sf_dir).withColumnRenamed("cnt", "c12")
        c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
        return c12.join(c1, "w1").select(
            "w1", "w2", F.expr("(1000000 * c12) DIV c1").alias("p_fp")
        )

    return disk_cached_plan(
        spark, sf_dir, "bigram_lm_table", build, source_tables=("documents",)
    )


@query(
    "bigram_lift_topk",
    oracle="""
    WITH t AS (
      SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    bi AS (
      SELECT unnest(list_transform(range(1, len(toks)),
               i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS b
      FROM t WHERE len(toks) >= 2
    ),
    c12 AS (
      SELECT b.w1 AS w1, b.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= 5
    ),
    uni AS (SELECT unnest(toks) AS tok FROM t),
    c1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni)
    SELECT c12.w1, c12.w2, c12.n_pair,
           CAST((1000 * c12.n_pair * n.n) // (a.c * b.c) AS BIGINT)
             AS lift_fp
    FROM c12
    JOIN c1 a ON c12.w1 = a.tok
    JOIN c1 b ON c12.w2 = b.tok
    CROSS JOIN n
    ORDER BY lift_fp DESC, w1, w2
    LIMIT 50
    """,
)
def bigram_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 token bigrams by pointwise lift
    (observed / expected-under-independence) among pairs seen ≥5 times
    — the statistic behind phrase vocabularies and multi-word tokenizer
    merges (lift, unlike raw count, surfaces 'los angeles' over 'of
    the'). Lift is exact 1e-3 fixed point: ``1000·c12·N DIV (c1·c2)``
    keeps every product in int64 at rehearsal scales with ~500×
    headroom (a 100 TB corpus moves the numerator to decimal(38,0) —
    same plan); the min-count floor bounds the result set and kills the
    hapax noise that dominates unfloored lift.

    Scale shape: bigrams come from one zip-of-adjacent-slices per doc
    (array expressions, one narrow explode — no self-join); unigram
    counts are the standard explode+rollup; the pair table joins the
    unigram table twice ON THE TOKEN KEY (shuffle joins both sides
    collapse to vocabulary size, far below corpus size), the 1-row
    total broadcasts, and the top-k is TakeOrderedAndProject with a
    fully-pinned tiebreak."""
    # all three count tables are corpus-version sidecars: the bigram
    # census directly, and the unigram counts + corpus token total from
    # the vocab_stats table (same tokenizer; f stamped at index-build
    # time) — query-time work is the vocab-sized join + top-k only, no
    # corpus re-tokenization and no per-run unigram rollups (r11:
    # 7 jobs -> the two vocab joins' builds + the top-k).
    c12 = (
        bigram_census(spark, sf_dir)
        .where(F.col("cnt") >= 5)
        .select("w1", "w2", F.col("cnt").alias("n_pair"))
    )
    v = vocab_stats(spark, sf_dir)
    a = v.select(F.col("tok").alias("w1"), F.col("f").alias("c_a"), "n")
    b = v.select(F.col("tok").alias("w2"), F.col("f").alias("c_b"))
    return (
        c12.join(a, "w1")
        .join(b, "w2")
        .select(
            "w1",
            "w2",
            "n_pair",
            F.expr("(1000 * n_pair * n) DIV (c_a * c_b)").alias("lift_fp"),
        )
        .orderBy(F.col("lift_fp").desc(), "w1", "w2")
        .limit(50)
    )


@query(
    "nonascii_ratio_by_lang",
    oracle="""
    WITH per AS (
      SELECT lang,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(text)
                  - length(regexp_replace(text, '[^\\x00-\\x7f]', '', 'g'))
                  AS BIGINT) AS n_nonascii
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(n_nonascii) AS BIGINT) AS n_nonascii,
           CAST(CASE WHEN SUM(n_chars) > 0
                     THEN (1000000 * SUM(n_nonascii)) // SUM(n_chars)
                     ELSE -1 END AS BIGINT) AS nonascii_fp
    FROM per GROUP BY lang ORDER BY lang
    """,
)
def nonascii_ratio_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-vs-label audit: share of non-ASCII characters per labeled
    language — the complement of stopword_coverage_by_lang (that one
    checks function words; this one checks the raw character
    inventory). A labeled-en shard with a high non-ASCII ratio is
    mojibake, mislabeled, or markup-heavy; a labeled-de/fr shard with a
    ZERO ratio lost its diacritics in some upstream transcode — both
    are routing bugs this statistic trips before per-language branches
    consume the shard.

    Scale shape: two codegen length() expressions per row on the
    document scan (the non-ASCII count is length minus length after
    stripping the [^\\x00-\\x7f] class — no explode, no UDF), then one
    |langs|-key rollup collapsing map-side. 1e-6 fixed point, -1
    sentinel for an empty language."""
    d = load(spark, sf_dir, "documents")
    stripped = F.regexp_replace(F.col("text"), "[^\\x00-\\x7f]", "")
    per = d.select(
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        (F.length("text") - F.length(stripped))
        .cast("long")
        .alias("n_nonascii"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_nonascii").alias("n_nonascii"),
        )
        .select(
            "lang",
            "n_docs",
            "n_chars",
            "n_nonascii",
            F.when(
                F.col("n_chars") > 0,
                F.expr("(1000000 * n_nonascii) DIV n_chars"),
            )
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("nonascii_fp"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


@query(
    "token_length_histogram",
    oracle="""
    WITH t AS (
      SELECT unnest(list_transform(
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> ''),
               x -> CASE WHEN len(x) >= 16 THEN 16 ELSE len(x) END))
             AS len_bucket
      FROM documents
    ),
    h AS (
      SELECT CAST(len_bucket AS BIGINT) AS len_bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM t GROUP BY 1
    )
    SELECT len_bucket, n,
           CAST((1000000 * n) // SUM(n) OVER () AS BIGINT) AS share_fp
    FROM h
    ORDER BY len_bucket
    """,
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution (capped at 16+) with corpus shares —
    the tokenizer-health fingerprint: a mass spike at 1–2 chars means
    over-splitting (bad normalization), a heavy 16+ tail means unsplit
    URLs/DNA/base64 junk that will explode a subword vocabulary. Pairs
    with tokenizer_fertility_stats (this is the PRE-tokenizer view).

    Scale shape: the length map runs INSIDE the array (list_transform
    before any explode — rows stay narrow), one explode feeds a
    map-side-collapsing ≤17-key rollup, and the share window runs on
    those ≤17 rows."""
    d = load(spark, sf_dir, "documents")
    toks = tokens_col(F.lower(F.col("text")))
    lens = F.transform(
        toks, lambda x: F.least(F.length(x), F.lit(16))
    )
    h = (
        d.select(F.explode(lens).alias("lb"))
        .select(F.col("lb").cast("long").alias("len_bucket"))
        .groupBy("len_bucket")
        .agg(F.count("*").alias("n"))
    )
    return h.select(
        "len_bucket",
        "n",
        F.expr("(1000000 * n) DIV SUM(n) OVER ()").alias("share_fp"),
    ).orderBy("len_bucket")


@query(
    "hapax_mass_by_source",
    oracle="""
    WITH st AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n_st
      FROM (SELECT source,
                   unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      x -> x <> '')) AS tok
            FROM documents)
      GROUP BY 1, 2
    ),
    vocab AS (SELECT tok, CAST(SUM(n_st) AS BIGINT) AS c FROM st GROUP BY 1)
    SELECT st.source,
           CAST(SUM(st.n_st) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.c <= 2 THEN st.n_st ELSE 0 END) AS BIGINT)
             AS hapax_mass,
           CAST(COUNT(DISTINCT CASE WHEN v.c <= 2 THEN st.tok END) AS BIGINT)
             AS n_hapax_types,
           CAST((1000000 * SUM(CASE WHEN v.c <= 2 THEN st.n_st ELSE 0 END))
                // SUM(st.n_st) AS BIGINT) AS hapax_mass_fp
    FROM st JOIN vocab v ON st.tok = v.tok
    GROUP BY st.source ORDER BY st.source
    """,
)
def hapax_mass_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token mass per source: the share of a source's token stream
    spent on corpus-wide hapax/dis legomena (global frequency ≤ 2) —
    the noise/OCR-junk/contamination proxy (a clean prose source runs a
    few percent; a source full of serial numbers, mangled encodings, or
    unique boilerplate IDs spikes) that, with oov_rate_stats (fixed
    external vocab) and token-TV distance, completes the source-quality
    triangle.

    Scale shape: ONE explode feeds the (source, token) rollup; the
    global per-token total is a WINDOW over that rollup keyed on tok
    (vocab-sized, not corpus-sized — r11, guide §2.4: the old separate
    vocabulary aggregate + token-keyed join back cost one more exchange
    and a sort-merge join for the same per-row `c`); the final rollup
    is |sources| rows. Nothing after the first aggregation touches
    corpus-sized data."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    st = (
        d.select(
            "source", F.explode(tokens_col(F.lower(F.col("text")))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n_st"))
    )
    c = F.sum("n_st").over(W.partitionBy("tok"))
    rare = F.col("c") <= 2
    return (
        st.withColumn("c", c)
        .groupBy("source")
        .agg(
            F.sum("n_st").alias("n_tokens"),
            F.sum(F.when(rare, F.col("n_st")).otherwise(0)).alias(
                "hapax_mass"
            ),
            # (source, tok) is unique in the rollup, so every non-null
            # rare token is distinct within its source: plain COUNT —
            # countDistinct's expand/second-agg bought nothing (r11)
            F.count(F.when(rare, F.col("tok"))).alias(
                "n_hapax_types"
            ),
        )
        .select(
            "source",
            "n_tokens",
            "hapax_mass",
            "n_hapax_types",
            F.expr("(1000000 * hapax_mass) DIV n_tokens").alias(
                "hapax_mass_fp"
            ),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("source")
    )


@query(
    "source_scorecard",
    oracle="""
    WITH base AS (
      SELECT source, doc_id, text,
             md5(text) AS fp,
             CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_words,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(text)
                  - length(regexp_replace(text, '[^\\x00-\\x7f]', '', 'g'))
                  AS BIGINT) AS n_nonascii
      FROM documents
    ),
    dup AS (
      SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM base GROUP BY fp
    )
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b.n_words) // COUNT(*) AS BIGINT) AS mean_words,
           CAST((1000000 * SUM(CASE WHEN d.n_copies > 1 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS dup_doc_share_fp,
           CAST(CASE WHEN SUM(b.n_chars) > 0
                     THEN (1000000 * SUM(b.n_nonascii)) // SUM(b.n_chars)
                     ELSE -1 END AS BIGINT) AS nonascii_fp
    FROM base b JOIN dup d ON b.fp = d.fp
    GROUP BY b.source
    ORDER BY b.source
    """,
)
def source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row-per-source reliability scorecard a curation run
    reads FIRST: volume, mean document length, exact-duplicate document
    share, and non-ASCII character share — the triage view that decides
    which source gets the expensive treatments (fuzzy dedup, manual
    review, per-language branching) before any of them run. Composes
    the signals the specialist audits (dedup_exact,
    nonascii_ratio_by_lang, text_quality_stats) measure individually,
    keyed by source in ONE pass.

    Scale shape: every per-doc signal (md5, token count, char counts)
    is computed scan-side in the same projection; ONE fp-keyed
    repartition then serves the whole chain — the (fp, source) rollup
    and the fp-partitioned copy-count window both ride it (identical
    text ⟹ identical per-doc stats, so min() recovers them per group)
    — and the final rollup is |sources| rows. r11 (guide §2.4): the
    old shape aggregated a census AND shuffled the corpus again to
    join it back on fp; same bytes now cross one exchange instead of
    two, and the corpus-sized join is gone. The fp is-not-null guard
    reproduces the oracle's inner self-join on fp: md5(NULL text) is
    NULL and never equi-matches, so NULL-text docs are out of the
    scorecard entirely (r11 ADVICE)."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    base = d.where(F.col("text").isNotNull()).select(
        "source",
        F.md5(F.col("text")).alias("fp"),
        F.size(tokens_col(F.lower(F.col("text")))).cast("long").alias(
            "n_words"
        ),
        F.length("text").cast("long").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), "[^\\x00-\\x7f]", ""))
        )
        .cast("long")
        .alias("n_nonascii"),
    )
    per_sf = (
        base.repartition(F.col("fp"))
        .groupBy("fp", "source")
        .agg(
            F.count("*").alias("n_sf"),
            F.min("n_words").alias("w"),
            F.min("n_chars").alias("c"),
            F.min("n_nonascii").alias("na"),
        )
        .withColumn(
            "n_copies", F.sum("n_sf").over(W.partitionBy("fp"))
        )
    )
    return (
        per_sf.groupBy("source")
        .agg(
            F.sum("n_sf").alias("n_docs"),
            F.sum(F.col("n_sf") * F.col("w")).alias("sum_words"),
            F.sum(
                F.when(F.col("n_copies") > 1, F.col("n_sf")).otherwise(0)
            ).alias("n_dup_docs"),
            F.sum(F.col("n_sf") * F.col("c")).alias("sum_chars"),
            F.sum(F.col("n_sf") * F.col("na")).alias("sum_nonascii"),
        )
        .select(
            "source",
            "n_docs",
            F.expr("sum_words DIV n_docs").alias("mean_words"),
            F.expr("(1000000 * n_dup_docs) DIV n_docs").alias(
                "dup_doc_share_fp"
            ),
            F.when(
                F.col("sum_chars") > 0,
                F.expr("(1000000 * sum_nonascii) DIV sum_chars"),
            )
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("nonascii_fp"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("source")
    )


@query(
    "bigram_lm_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    t2 AS (SELECT * FROM t WHERE len(toks) >= 2),
    bi AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(toks)),
               i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS b
      FROM t2
    ),
    c12 AS (
      SELECT b.w1 AS w1, b.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bi GROUP BY 1, 2
    ),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
    p AS (
      SELECT c12.w1 AS w1, c12.w2 AS w2,
             CAST((1000000 * c12.c12) // c1.c1 AS BIGINT) AS p_fp
      FROM c12 JOIN c1 ON c12.w1 = c1.w1
    ),
    ds AS (
      SELECT bi.doc_id, bi.source,
             CAST(SUM(p.p_fp) // COUNT(*) AS BIGINT) AS score_fp
      FROM bi JOIN p ON bi.b.w1 = p.w1 AND bi.b.w2 = p.w2
      GROUP BY bi.doc_id, bi.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(score_fp) // COUNT(*) AS BIGINT) AS mean_score_fp,
           CAST(SUM(CASE WHEN score_fp < 100000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low
    FROM ds GROUP BY source ORDER BY source
    """,
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM fluency scoring: each document's mean bigram transition
    probability P(w2|w1) under the corpus's OWN bigram model, 1e-6 fixed
    point, rolled up per source with a low-fluency count — the
    perplexity-style quality gate (CCNet/Gopher's LM filter) expressed
    without transcendentals so both engines emit identical integers
    (probability per bigram is one int64 floor division; the per-doc
    mean is a second).

    Scale shape: the bigram census and its prefix rollup collapse to
    vocabulary-squared/vocabulary cardinality via map-side partials
    (the once-per-corpus LM-table build — sidecar material at 100 TB);
    scoring re-joins the doc bigram stream on the (w1, w2) key — a
    shuffle join whose dim side is vocab-bounded — and the per-doc mean
    reuses a doc_id rollup. No per-row Python, no window over the
    corpus."""
    d = load(spark, sf_dir, "documents")
    toks = tokens_col(F.lower(F.col("text")))
    t = d.select("doc_id", "source", toks.alias("toks")).where(
        F.size("toks") >= 2
    )
    bi = t.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> named_struct('w1', toks[i], 'w2', toks[i+1]))"
            )
        ).alias("b"),
    )
    # LM table from its own sidecar (the per-doc bigram stream above is
    # the irreducible query-time work; the census scan + prefix rollup
    # + probability join moved to the bigram_lm_table build — r11)
    p = bigram_lm_table(spark, sf_dir)
    ds = (
        bi.join(
            p,
            (F.col("b.w1") == F.col("w1")) & (F.col("b.w2") == F.col("w2")),
        )
        .groupBy("doc_id", "source")
        .agg(F.expr("CAST(SUM(p_fp) DIV COUNT(*) AS LONG)").alias("score_fp"))
    )
    return (
        ds.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr("SUM(score_fp) DIV COUNT(*)").alias("mean_score_fp"),
            F.sum(F.when(F.col("score_fp") < 100000, 1).otherwise(0)).alias(
                "n_low"
            ),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("source")
    )


@query(
    "token_gini_by_source",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> t <> '')) AS tok
      FROM documents
    ),
    cnt AS (
      SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY source, tok
    ),
    agg AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(c * c) AS BIGINT) AS sum_sq
      FROM cnt GROUP BY source
    )
    SELECT source, n_tokens, n_types, sum_sq,
           CAST(((CAST(n_tokens AS HUGEINT) * n_tokens - sum_sq) * 1000000)
                // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT) AS gini_fp
    FROM agg
    ORDER BY source
    """,
)
def token_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity of each source's unigram distribution — the
    rational-arithmetic twin of Shannon entropy (1 − Σp², no logs, so
    both engines compute identical integers) used as a cheap "is this
    slice dominated by a few tokens" mixture diagnostic alongside
    [hapax mass / TV distance]. Emitted as exact int64: token total,
    type count, Σc², and the impurity in 1e-6 fixed point.

    Scale shape: reads ONLY the (source, tok, c) rollup sidecar
    (|vocab × sources| rows, built once per corpus version by
    prepare_curation); the query itself is one dimension-bounded
    groupBy with map-side partials. The fixed-point step computes
    n_tokens² × 10⁶ in DECIMAL(38,0) (HUGEINT on the DuckDB side) —
    int64 would wrap silently in Spark's non-ANSI mode once a source
    exceeds ~3.0M tokens (n²·10⁶ > 2⁶³); Σc² itself stays int64-safe
    until ~3×10⁹ same-token occurrences per source."""
    c = source_token_counts(spark, sf_dir)
    return (
        c.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "sum_sq",
            F.expr(
                "CAST(((CAST(n_tokens AS DECIMAL(38,0)) * n_tokens - sum_sq)"
                " * 1000000)"
                " DIV (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens) AS BIGINT)"
            ).alias("gini_fp"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("source")
    )


#: span_corruption_plan — T5-style denoising accounting (Raffel et al.
#: JMLR'20 §3.1.4): noise density 15%, mean span length 3.
SPAN_NOISE_PCT = 15
SPAN_MEAN_LEN = 3
SPAN_BUCKET = 64


@query(
    "span_corruption_plan",
    oracle=f"""
    WITH t AS (
      SELECT CAST(len({_DD_TOKS}) AS BIGINT) AS n FROM documents
    ),
    plan AS (
      SELECT n,
             GREATEST(1, (n * {SPAN_NOISE_PCT}) // 100) AS num_noise,
             GREATEST(1, GREATEST(1, (n * {SPAN_NOISE_PCT}) // 100)
                         // {SPAN_MEAN_LEN}) AS num_spans
      FROM t WHERE n >= 1
    ),
    lens AS (
      SELECT n - num_noise + num_spans AS input_len,
             num_noise + num_spans + 1 AS target_len,
             num_spans
      FROM plan
    )
    SELECT CAST((input_len // {SPAN_BUCKET}) * {SPAN_BUCKET} AS BIGINT)
             AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(input_len) AS BIGINT) AS input_tokens,
           CAST(SUM(target_len) AS BIGINT) AS target_tokens,
           CAST(SUM(num_spans) AS BIGINT) AS n_spans,
           CAST((1000000 * SUM(target_len)) // SUM(input_len) AS BIGINT)
             AS expansion_fp
    FROM lens
    GROUP BY 1
    ORDER BY bucket_lo
    """,
)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption (T5 denoising) length accounting: for every doc,
    the deterministic noise plan — num_noise = max(1, 15% of tokens),
    num_spans = max(1, num_noise/3), encoder input length
    n - num_noise + num_spans (each span collapses to one sentinel) and
    decoder target length num_noise + num_spans + 1 — rolled up into
    SPAN_BUCKET-token input-length buckets with the target/input
    expansion ratio. This is the table that sizes encoder/decoder
    max lengths and predicts step cost before a seq2seq pretraining run
    commits to a batch geometry; integer floor arithmetic throughout so
    both engines bucket identically (no float noise-density math).

    Scale shape: the whole plan is a scan-side integer projection; the
    only exchange is a map-side-combinable aggregation on the bucket
    key (a few hundred distinct values at any corpus size). The tail is
    dimension-bounded → single-partition sort, no range exchange."""
    d = load(spark, sf_dir, "documents")
    n = F.size(tokens_col(F.col("text"))).cast("long")
    base = d.select(n.alias("n")).where(F.col("n") >= 1)
    planned = base.select(
        "n",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(n * {SPAN_NOISE_PCT}) DIV 100"),
        ).alias("num_noise"),
    ).select(
        "n",
        "num_noise",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"num_noise DIV {SPAN_MEAN_LEN}"),
        ).alias("num_spans"),
    )
    lens = planned.select(
        (F.col("n") - F.col("num_noise") + F.col("num_spans")).alias(
            "input_len"
        ),
        (F.col("num_noise") + F.col("num_spans") + F.lit(1)).alias(
            "target_len"
        ),
        "num_spans",
    )
    return (
        lens.groupBy(
            F.expr(
                f"(input_len DIV {SPAN_BUCKET}) * {SPAN_BUCKET}"
            ).alias("bucket_lo")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("input_len").alias("input_tokens"),
            F.sum("target_len").alias("target_tokens"),
            F.sum("num_spans").alias("n_spans"),
        )
        .select(
            "bucket_lo",
            "n_docs",
            "input_tokens",
            "target_tokens",
            "n_spans",
            F.expr("(1000000 * target_tokens) DIV input_tokens").alias(
                "expansion_fp"
            ),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("bucket_lo")
    )
