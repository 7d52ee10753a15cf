"""Text operators: Schwartz-Hearst abbreviation extraction, minimap-style
concept-string normalization, and dictionary NER (concept matching).

References into /root/reference/ for behavior parity:
- Schwartz-Hearst: trialstreamer/schwartz_hearst.py:49-297 (the
  published Schwartz & Hearst 2003 algorithm; reimplemented here from
  the paper's rules — candidate window, char back-matching, the
  min(|A|+5, |A|*2) definition-length constraint).
- Normalization: trialstreamer/minimap.py:59-145 (parenthetical removal,
  hyphen→space, possessive/NOS strip, syntactic uninversion guarded by a
  preposition list, whitespace collapse).
- Concept matcher: trialstreamer/minimap.py:152-201 (sliding windows
  longest-first over lemmas against a string→CUI dict, then greedy
  left-to-right non-overlap).

Spark shapes:
- normalization is pure column expressions (codegen, no Python);
- Schwartz-Hearst is inherently sequential per document → Arrow-batched
  pandas UDF returning map<string,string>; at query time the reference
  runs it per result row (≤250), here it precomputes into the
  annotations table (SURVEY §3.1 note);
- the concept matcher is explode n-grams → broadcast join lexicon →
  window-based greedy non-overlap — all JVM-side; the lexicon rides a
  broadcast join like the reference's in-memory dict.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Schwartz-Hearst
# ---------------------------------------------------------------------------


def _valid_short_form(cand: str) -> bool:
    # 2..10 chars, ≤2 tokens, starts alnum, contains a letter
    return (
        2 <= len(cand) <= 10
        and len(cand.split()) <= 2
        and cand[0].isalnum()
        and any(c.isalpha() for c in cand)
    )


def _best_long_form(short: str, candidate: str) -> str | None:
    """Back-match: every char of the short form (case-insensitive) must
    appear in order in the long form; the char matching the short form's
    first char must start a word."""
    s_idx = len(short) - 1
    l_idx = len(candidate) - 1
    while s_idx >= 0:
        c = short[s_idx].lower()
        if not c.isalnum():
            s_idx -= 1
            continue
        while l_idx >= 0 and (
            candidate[l_idx].lower() != c
            or (s_idx == 0 and l_idx > 0 and candidate[l_idx - 1].isalnum())
        ):
            l_idx -= 1
        if l_idx < 0:
            return None
        s_idx -= 1
        l_idx -= 1
    long_form = candidate[l_idx + 1 :].strip()
    # length constraint from the paper: |definition| ≤ min(|A|+5, |A|*2) words
    n_words = len(long_form.split())
    if n_words > min(len(short) + 5, len(short) * 2):
        return None
    if not long_form or long_form.lower() == short.lower():
        return None
    return long_form


_PAREN_RE = re.compile(r"\(([^()]{1,60})\)")


def extract_abbreviation_pairs(text: str | None) -> dict[str, str]:
    """{short_form: long_form} pairs from one document."""
    if not text:
        return {}
    out: dict[str, str] = {}
    for m in _PAREN_RE.finditer(text):
        short = m.group(1).strip()
        if not _valid_short_form(short):
            continue
        # definition window: up to min(|A|+5, |A|*2) words left of '('
        prefix = text[: m.start()].rstrip()
        words = prefix.split()
        window = words[-min(len(short) + 5, len(short) * 2) :]
        if not window:
            continue
        long_form = _best_long_form(short, " ".join(window))
        if long_form:
            out[short] = long_form
    return out


@F.pandas_udf(T.MapType(T.StringType(), T.StringType()))
def abbreviations_udf(texts: pd.Series) -> pd.Series:
    return texts.map(extract_abbreviation_pairs)


# ---------------------------------------------------------------------------
# minimap-style normalization (column expressions)
# ---------------------------------------------------------------------------

_PREPOSITIONS = (
    "about against and as at by for from in of on or to with without".split()
)


def normalize_concept_string(c: Column) -> Column:
    """minimap.py:59-145 normalization chain as column expressions:
    lowercase → parentheticals removed → hyphen→space → possessive strip
    → ', NOS'/' NOS' strip → syntactic uninversion ('aneurysm, ruptured'
    → 'ruptured aneurysm', skipped when either side contains a
    preposition/conjunction) → whitespace collapse."""
    s = F.lower(c)
    s = F.regexp_replace(s, r"^\([^)]*\)\s*", "")  # leading parenthetical
    s = F.regexp_replace(s, r"\s*\([^)]*\)\s*$", "")  # trailing parenthetical
    s = F.regexp_replace(s, "-", " ")
    s = F.regexp_replace(s, r"'s\b", "")
    s = F.regexp_replace(s, r",? nos$", "")
    # uninversion: "<head>, <mod>" with no prepositions on either side
    head = F.regexp_extract(s, r"^([^,]+), ([^,]+)$", 1)
    mod = F.regexp_extract(s, r"^([^,]+), ([^,]+)$", 2)
    prep_arr = F.array(*[F.lit(p) for p in _PREPOSITIONS])
    has_prep = (
        F.arrays_overlap(F.split(head, " "), prep_arr)
        | F.arrays_overlap(F.split(mod, " "), prep_arr)
    )
    s = F.when(
        (head != "") & (mod != "") & ~has_prep, F.concat(mod, F.lit(" "), head)
    ).otherwise(s)
    return F.trim(F.regexp_replace(s, r"\s+", " "))


# ---------------------------------------------------------------------------
# dictionary NER (concept matcher)
# ---------------------------------------------------------------------------

# Frozen English stopword snapshot (the reference consults spaCy's
# nlp.Defaults.stop_words at match time, minimap.py:166-167; freezing the
# list makes matching reproducible across library versions — SURVEY §7
# hard-part 2 prescribes freezing exactly this kind of drift).
DEFAULT_STOPWORDS = frozenset(
    """a about above across after again against all almost alone along already
    also although always am among an and another any anyone anything anywhere
    are around as at back be became because become becomes been before behind
    being below between both but by can cannot could did do does doing done
    down during each either enough even ever every everyone everything
    everywhere few first for former from further had has have having he hence
    her here hers herself him himself his how however i if in into is it its
    itself just last latter least less many may me meanwhile might mine more
    moreover most mostly much must my myself namely neither never nevertheless
    next no nobody none nor not nothing now nowhere of off often on once one
    only onto or other others otherwise our ours ourselves out over own per
    perhaps please rather re same seem seemed seeming seems several she should
    since so some somehow someone something sometime sometimes somewhere still
    such than that the their them themselves then thence there thereafter
    thereby therefore therein these they this those though through throughout
    thus to together too toward towards under until up upon us used using
    various very via was we well were what whatever when whence whenever where
    whereafter whereas whereby wherein wherever whether which while whither
    who whoever whole whom whose why will with within without would yet you
    your yours yourself yourselves""".split()
)


#: Lemma tables up to this many entries are inlined into the plan as a
#: literal map (applied inside the token array — no explode, no shuffle);
#: larger tables fall back to one broadcast token-level join. The table
#: is in-memory-dict-sized by contract either way (the reference loads
#: it into a Python dict); the cap only bounds the EXPRESSION size.
LEMMA_INLINE_MAX = 4096


def prepare_lexicon(
    lexicon: DataFrame, max_cuis: int = 15, min_term_chars: int = 3
) -> DataFrame:
    """minimap's lexicon-hygiene filters (minimap.py:42-56) as prep:
    drop strings mapping to more than ``max_cuis`` distinct CUIs ("too
    ambiguous... 15 from experimentation") and strings of 2 chars or
    fewer ("tends to generate nonsense CUIs"). Terms are normalized with
    the same chain applied to concept strings."""
    lex = lexicon.select(
        normalize_concept_string(F.col("term")).alias("term"), "cui"
    )
    # The lexicon is dimension-bounded by contract (every consumer
    # broadcasts it, mirroring the reference's in-memory dict), so the
    # ambiguity count rides a window instead of the old groupBy +
    # self-join (three exchanges and a sort-merge join inside every
    # broadcast build). Callers pass the lexicon as a 1-partition JVM
    # local relation (util.inline_rows) whose SinglePartition already
    # satisfies the window's clustering requirement — exchange-free; an
    # arbitrary-partitioned lexicon just gets one tiny hash exchange.
    # (Do NOT coalesce(1) here: on a createDataFrame input that chains
    # all defaultParallelism pickled partitions into ONE task that
    # spins a Python worker per parent partition — measured 4.8 s for
    # a 7-row lexicon.)
    n_cui = F.size(F.collect_set("cui").over(W.partitionBy("term")))
    return (
        lex.withColumn("n_cui", n_cui)
        .filter(
            (F.col("n_cui") <= max_cuis) & (F.length("term") >= min_term_chars)
        )
        .drop("n_cui")
    )


def match_concepts(
    docs: DataFrame,
    lexicon: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_ngram: int = 4,
    lemma_table: DataFrame | None = None,
    ignore_terms: DataFrame | None = None,
    stopwords: frozenset[str] = DEFAULT_STOPWORDS,
    max_cuis: int = 15,
    min_term_chars: int = 3,
) -> DataFrame:
    """Dictionary NER with lemma lookup, candidate filters, and greedy
    non-overlap (minimap.py:42-56, 152-201).

    1. tokenize (lowercased whitespace split — a frozen stand-in for the
       reference's spaCy tokenizer) and LEMMATIZE each token through a
       broadcast ``lemma_table`` (token → lemma, unmatched tokens pass
       through) — the frozen-lookup-table replacement for spaCy's
       lemmatizer that SURVEY §7 hard-part 2 requires, so "aneurysms"
       hits a lexicon entry "aneurysm";
    2. build n-gram windows carrying BOTH the lemma term (the join key,
       mirroring ``window_lemma in str_to_cui``) and the surface text
       (``window_text``, kept for output and the stopword check);
    3. candidate filters, per minimap: surface windows in the stopword
       set are dropped (minimap.py:166-167), windows matching the
       ``ignore_terms`` list are dropped (the ignorelist.txt anti-join),
       and the lexicon itself is pre-filtered by prepare_lexicon
       (ambiguous >``max_cuis``-CUI strings, ≤2-char strings);
    4. broadcast-join against the prepared lexicon (term → cui);
    5. greedy left-to-right non-overlap: sort candidates by
       (start, -end) per document (minimap.py:189's sort) and keep a
       match iff it starts after every kept match ends. Same-span ties
       break by cui (the reference keeps dict insertion order —
       declared deterministic divergence).

    Returns (id, term, surface, start, end, cui). Tokenization, lemma
    lookup, and n-gram assembly all happen inside the per-document
    token array (array lambdas — no per-token explode, no window), so
    the only corpus-sized exchange in the plan is the id-repartition
    feeding the greedy stage, and it carries lexicon-MATCHED candidates
    only; the lexicon, lemma table, and ignore list are broadcast (or
    plan-inlined) like the reference's in-memory dicts.
    """
    toks_arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    base = docs.select(F.col(id_col).alias("id"), toks_arr.alias("toks"))

    # The n-gram assembly below is the CPU-heavy stage, and it rides
    # whatever parallelism the docs scan has. When the input arrives in
    # fewer splits than the session has cores (bench: documents.parquet
    # is ONE row group → one task; measured 7.5 s vs 2 s serial-vs-
    # parallel at sf0.1), hash-repartition at DOC granularity by id
    # first — one exchange carrying each token array once (strictly
    # fewer bytes than the pre-r11 token-level window shuffle), which
    # the greedy stage then reuses, so the plan still has exactly one
    # corpus-sized exchange. When the scan is already wide (the 100 TB
    # layout — many files), skip it: the only exchange then carries
    # lexicon-MATCHED candidates (guide §2.2: shuffle the fewest bytes
    # the algorithm allows).
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    prepartitioned = docs.rdd.getNumPartitions() >= max(2, n_parts // 2)
    if not prepartitioned:
        base = base.repartition(n_parts, "id")

    # Lemmatization and n-gram assembly stay INSIDE the per-document
    # token array (array lambdas, whole-stage codegen) — no per-token
    # explode, no window, and therefore NO full-corpus token shuffle
    # (r11; the old shape shuffled every (id, pos, tok, lem) row to
    # feed a lead() window — the only exchange left below carries
    # lexicon-MATCHED candidates, which is what survives the broadcast
    # join). The lemma table is in-memory-dict-sized by contract (the
    # reference holds it in a Python dict), so up to LEMMA_INLINE_MAX
    # entries it rides the plan as a literal map; a larger table falls
    # back to one token-level shuffle that re-assembles the lemma array
    # per document. lemma_table must be a function (one lemma per
    # token) — duplicate tokens keep the last row, matching a sane
    # lookup-dict load.
    if lemma_table is not None:
        sample = lemma_table.select(
            F.lower(F.col("token")), F.lower(F.col("lemma"))
        ).limit(LEMMA_INLINE_MAX + 1).collect()
        if len(sample) <= LEMMA_INLINE_MAX:
            entries = dict((r[0], r[1]) for r in sample)
            if entries:
                lmap = F.create_map(
                    *[F.lit(v) for kv in sorted(entries.items()) for v in kv]
                )
                base = base.withColumn(
                    "lems",
                    F.transform(
                        "toks",
                        lambda t: F.coalesce(F.element_at(lmap, t), t),
                    ),
                )
            else:
                base = base.withColumn("lems", F.col("toks"))
        else:
            lt = F.broadcast(
                lemma_table.select(
                    F.lower(F.col("token")).alias("tok"),
                    F.lower(F.col("lemma")).alias("lem0"),
                )
            )
            ptl = (
                base.select("id", F.posexplode("toks").alias("pos", "tok"))
                .join(lt, "tok", "left")
                .groupBy("id")
                .agg(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "pos",
                                F.col("tok").alias("tok"),
                                F.coalesce("lem0", "tok").alias("lem"),
                            )
                        )
                    ).alias("ptl")
                )
            )
            base = ptl.select(
                "id",
                F.col("ptl.tok").alias("toks"),
                F.col("ptl.lem").alias("lems"),
            )
    else:
        base = base.withColumn("lems", F.col("toks"))

    def _gram(k: int):
        # single-parameter lambda: a second parameter would be bound to
        # the ARRAY INDEX by F.transform, not a Python default
        return lambda i: F.struct(
            F.array_join(F.slice("lems", i, k), " ").alias("term"),
            F.array_join(F.slice("toks", i, k), " ").alias("surface"),
            i.cast("int").alias("start"),
            (i + F.lit(k - 1)).cast("int").alias("end"),
        )

    gram_arrays = []
    for k in range(1, max_ngram + 1):
        idx = F.when(
            F.size("toks") >= k,
            F.sequence(F.lit(1), F.size("toks") - F.lit(k - 1)),
        ).otherwise(F.array().cast("array<int>"))
        gram_arrays.append(F.transform(idx, _gram(k)))
    cands = base.select(
        "id", F.explode(F.concat(*gram_arrays)).alias("g")
    ).select("id", "g.term", "g.surface", "g.start", "g.end")
    if stopwords:
        cands = cands.filter(~F.col("surface").isin(*sorted(stopwords)))
    if ignore_terms is not None:
        cands = cands.join(
            F.broadcast(
                ignore_terms.select(F.lower(F.col("term")).alias("term"))
            ),
            "term",
            "left_anti",
        )
    cands = cands.join(
        F.broadcast(prepare_lexicon(lexicon, max_cuis, min_term_chars)), "term"
    ).select("id", "term", "surface", "start", "end", "cui")

    # Greedy left-to-right non-overlap is a sequential scan over the
    # per-document candidate list (a running max over *kept* rows — not
    # expressible as a window over all earlier rows, since a dropped long
    # candidate must not mask later ones). One mapInPandas pass over
    # id-partitioned, (start, -end, cui)-sorted candidates — per-partition
    # Python, NOT per-group (5000 tiny FlatMapGroups calls measured ~20×
    # slower); the repartition reuses the window's id partitioning.
    if not prepartitioned:
        # base was already hash-partitioned by id above and every op
        # since (array lambdas, explode, broadcast joins, filters) is
        # partitioning-preserving, so per-id contiguity holds — sort
        # within partitions only, no second exchange.
        sorted_cands = cands
    else:
        sorted_cands = cands.repartition(n_parts, "id")
    sorted_cands = sorted_cands.sortWithinPartitions(
        "id", F.col("start"), F.col("end").desc(), "cui"
    )

    def greedy_scan(batches):
        import pandas as pd

        state = {"id": None, "border": 0}
        for pdf in batches:
            keep = []
            ids = pdf["id"].to_numpy()
            starts = pdf["start"].to_numpy()
            ends = pdf["end"].to_numpy()
            for i in range(len(pdf)):
                if ids[i] != state["id"]:
                    state["id"] = ids[i]
                    state["border"] = 0
                if starts[i] > state["border"]:
                    keep.append(i)
                    state["border"] = int(ends[i])
            yield pdf.iloc[keep] if keep else pdf.iloc[0:0]

    return sorted_cands.mapInPandas(
        greedy_scan,
        schema="id long, term string, surface string, start int, end int, cui string",
    )


def unique_concepts(matches: DataFrame) -> DataFrame:
    """get_unique_terms (minimap.py:204-217): one row per (id, cui),
    keeping the first match in reading order (start asc, end desc) and
    dropping the span columns, as the reference does before storing."""
    w = W.partitionBy("id", "cui").orderBy(F.col("start"), F.col("end").desc())
    return (
        matches.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "cui", "term")
    )
