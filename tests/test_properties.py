"""Property-based tests (hypothesis) for the semantics most likely to
hide edge-case bugs: CDC merge replay, RIS round-trip, Schwartz-Hearst
invariants. Spark-backed properties keep max_examples small (each
example is a Spark job); pure-Python ones run at default volume."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from trialstreamer_spark.functions.text import extract_abbreviation_pairs
from trialstreamer_spark.sources.ris import dumps, parse_ris_text

# ---------------------------------------------------------------------------
# RIS round-trip (S11/S12)
# ---------------------------------------------------------------------------

TAGS = st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ", min_size=2, max_size=4).filter(
    lambda t: t != "ER"
)
VALUES = st.text(
    alphabet=st.characters(
        codec="ascii", exclude_characters="\n\r", exclude_categories=("Cc",)
    ),
    min_size=1,
    max_size=40,
).map(str.strip).filter(bool)

RECORDS = st.lists(
    st.dictionaries(TAGS, st.lists(VALUES, min_size=1, max_size=3), min_size=1, max_size=5),
    min_size=1,
    max_size=4,
)


@given(RECORDS)
def test_ris_roundtrip_property(records):
    """parse(dumps(x)) == x for any well-formed record set — the writer
    and the PubMed-dialect reader are inverses."""
    text = dumps(records)
    parsed = parse_ris_text(text)
    assert parsed == records


# ---------------------------------------------------------------------------
# Schwartz-Hearst invariants (X3)
# ---------------------------------------------------------------------------

WORDS = st.lists(
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=2, max_size=8),
    min_size=1,
    max_size=12,
)


@given(WORDS, st.text(alphabet="ABCDEFGHIJ", min_size=2, max_size=6))
def test_schwartz_hearst_invariants(words, short):
    """Whatever the extractor returns must satisfy the published
    constraints: short form 2-10 chars, first char of the short form
    appears in the long form (case-insensitive), and the long form is a
    substring of the sentence left of the parenthetical."""
    sentence = " ".join(words) + f" ({short}) trailing text."
    out = extract_abbreviation_pairs(sentence)
    for s, longform in out.items():
        assert 2 <= len(s) <= 10
        assert s[0].lower() in longform.lower()
        assert longform in sentence.split("(")[0]


@given(st.text(max_size=200))
def test_schwartz_hearst_never_crashes(text):
    out = extract_abbreviation_pairs(text)
    assert isinstance(out, dict)


# ---------------------------------------------------------------------------
# CDC merge replay (S13-S16, F14) — Spark-backed, few examples
# ---------------------------------------------------------------------------

KEYS = st.sampled_from(["k1", "k2", "k3"])
OPS = st.lists(
    st.tuples(
        st.sampled_from(["upsert", "delete"]),
        KEYS,
        st.integers(min_value=0, max_value=99),  # payload / file ordinal
    ),
    min_size=1,
    max_size=12,
)


def _python_replay(ops):
    """Reference semantics (pubmed.py:534-543): files applied in order;
    within a file deletes run before upserts. Here each op carries its
    file ordinal, and optionally a payload after it (default: the file
    ordinal); replay sequentially, so a file's last upsert of a key wins."""
    state: dict = {}
    # group ops by file ordinal, apply files in order
    by_file: dict[int, list] = {}
    for op in ops:
        by_file.setdefault(op[2], []).append(op)
    for f in sorted(by_file):
        for kind, key, *_ in by_file[f]:
            if kind == "delete":
                state.pop(key, None)
        for kind, key, _, *payload in by_file[f]:
            if kind == "upsert":
                state[key] = payload[0] if payload else f
    return state


@pytest.mark.parametrize("seed_ops", [
    # hand-picked adversarial sequences (fast, deterministic)
    [("upsert", "k1", 1), ("delete", "k1", 2)],
    [("delete", "k1", 1), ("upsert", "k1", 1)],           # same-file: survives
    [("upsert", "k1", 1), ("delete", "k1", 2), ("upsert", "k1", 2)],
    [("upsert", "k1", 2), ("upsert", "k1", 1)],           # later file wins
    [("upsert", "k1", 1), ("upsert", "k2", 1), ("delete", "k2", 3),
     ("upsert", "k2", 2)],
])
def test_merge_replay_matches_reference_semantics(spark, tmp_path, seed_ops):
    import os
    import uuid

    from trialstreamer_spark.operators.upsert import ParquetTable
    from trialstreamer_spark.streaming.pipeline import PubmedPipeline

    wh = str(tmp_path / f"wh_{uuid.uuid4().hex[:8]}")
    pipe = PubmedPipeline(spark, wh)

    # the parser's tagged record shape; articles of one file keep their
    # order in ``record_idx``
    in_file: dict = {}
    rows = []
    for kind, k, f in seed_ops:
        name = f"pubmed26n{f:04d}.xml.gz"
        if kind == "upsert":
            rows.append(("article", k, f"title-{f}", 2020, name, in_file.get(f, 0)))
            in_file[f] = in_file.get(f, 0) + 1
        else:
            rows.append(("delete", k, None, None, name, None))
    records = spark.createDataFrame(
        rows,
        "kind string, pmid string, title string, year int, "
        "source_filename string, record_idx int",
    )

    # run through the pipeline's one micro-batch core
    pipe._apply(records)
    got = {
        r.pmid: int(r.source_filename[9:13])
        for r in ParquetTable(spark, os.path.join(wh, "pubmed_raw"))
        .read()
        .collect()
    }
    assert got == _python_replay(seed_ops)


# few files, so one file often holds a key twice (the record_idx tie)
# or deletes and re-inserts it
FILE_OPS = st.lists(
    st.tuples(
        st.sampled_from(["upsert", "delete"]),
        KEYS,
        st.integers(min_value=0, max_value=3),
    ),
    max_size=10,
)


def _records(spark, ops, first_op: int):
    """One batch in the parser's record shape: an upsert's title names
    its op (``t<n>``), and ``record_idx`` is its position among the
    file's articles. Every batch also holds a record without a pmid,
    which the resolver drops."""
    from trialstreamer_spark.util import inline_rows

    rows, in_file = [("article", None, "x", "pubmed26n0000.xml.gz", 0)], {}
    for n, (kind, key, f) in enumerate(ops, first_op):
        name = f"pubmed26n{f:04d}.xml.gz"
        if kind == "upsert":
            rows.append(("article", key, f"t{n}", name, in_file.get(f, 0)))
            in_file[f] = in_file.get(f, 0) + 1
        else:
            rows.append(("delete", key, None, name, None))
    return inline_rows(spark, rows, [
        ("kind", "string"), ("pmid", "string"), ("title", "string"),
        ("source_filename", "string"), ("record_idx", "int"),
    ])


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(FILE_OPS, FILE_OPS)
@example(  # the same file upserts k1 twice: its last occurrence wins
    [("upsert", "k1", 1), ("upsert", "k1", 1)], [("upsert", "k2", 0)]
)
@example(  # deleted and re-inserted in one file, over a target holding it
    [("upsert", "k1", 0), ("upsert", "k2", 0)],
    [("upsert", "k1", 1), ("delete", "k1", 1), ("upsert", "k1", 1),
     ("delete", "k2", 2), ("upsert", "k2", 1)],
)
def test_latest_events_match_replay_property(spark, first, second):
    """MERGEing two resolved batches, the second's files after the
    first's, leaves the rows the sequential replay of every op leaves."""
    from trialstreamer_spark.operators.upsert import merge_upsert
    from trialstreamer_spark.streaming.pipeline import latest_events

    second = [(kind, key, f + 10) for kind, key, f in second]
    ops = first + second
    table = spark.createDataFrame(
        [], "pmid string, title string, source_filename string, record_idx int"
    )
    for batch, first_op in ((first, 0), (second, len(first))):
        upserts, deletes = latest_events(_records(spark, batch, first_op))
        table = merge_upsert(table, upserts, "pmid", deletes=deletes)
    got = {r.pmid: r.title for r in table.collect()}
    want = _python_replay(
        [(kind, key, f, f"t{n}") for n, (kind, key, f) in enumerate(ops)]
    )
    assert got == want
