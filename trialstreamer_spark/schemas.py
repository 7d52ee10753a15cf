"""Typed StructType schemas for every trialstreamer table — the
schema-on-write replacement for the reference's schema-less jsonb columns
(DDL at reference trialstreamer/dbutil.py:19-227; pm_data shape per
readers/pmreader.py:158-177).

Every field is nullable: the reference tolerates missing jsonb keys
(SURVEY §7 hard part 6), so partial records must ingest with nulls.
"""

from __future__ import annotations

from pyspark.sql import types as T


def _s(*fields: T.StructField) -> T.StructType:
    return T.StructType(list(fields))


def _f(name: str, dtype: T.DataType) -> T.StructField:
    return T.StructField(name, dtype, True)


S = T.StringType()
I = T.IntegerType()
FL = T.FloatType()
B = T.BooleanType()
TS = T.TimestampType()

# concept object carried in *_mesh arrays (ref dbutil.py:74-90 jsonb shape)
MESH = _s(_f("cui", S), _f("mesh_ui", S), _f("mesh_term", S), _f("cui_str", S))
MESH_ARR = T.ArrayType(MESH)
STR_ARR = T.ArrayType(S)

# the three PICO fields: each is a span array plus a ``<field>_mesh``
# concept array in the annotation tables below
PICO_FIELDS = ("population", "interventions", "outcomes")

# pm_data — typed replacement for the pubmed jsonb document
# (ref readers/pmreader.py:158-177)
PM_DATA = _s(
    _f("pmid", S),
    _f("status", S),
    _f("indexing_method", S),
    _f("title", S),
    _f("abstract", T.ArrayType(_s(_f("header", S), _f("text", S)))),
    _f("abstract_plaintext", S),
    _f(
        "authors",
        T.ArrayType(
            _s(
                _f("Initials", S),
                _f("LastName", S),
                _f("ForeName", S),
                _f("Affiliation", S),
            )
        ),
    ),
    _f("journal", S),
    _f("journal_abbrv", S),
    _f("year", S),
    _f("mesh", STR_ARR),
    _f("month", S),
    _f("volume", S),
    _f("issue", S),
    _f("pages", _s(_f("page_from", S), _f("page_to", S))),
    _f("ptyp", STR_ARR),
    _f("registry_ids", STR_ARR),
    _f("dois", STR_ARR),
)

# ref dbutil.py:19-45
PUBMED = _s(
    _f("pmid", S),
    _f("pm_status", S),
    _f("year", I),
    _f("ti", S),
    _f("ab", S),
    _f("pm_data", PM_DATA),
    _f("ptyp_rct", T.ShortType()),
    _f("indexing_method", S),
    _f("is_human", B),
    _f("is_rct_precise", B),
    _f("is_rct_balanced", B),
    _f("is_rct_sensitive", B),
    _f("clf_type", S),
    _f("clf_score", FL),
    _f("clf_date", TS),
    _f("score_cnn", FL),
    _f("score_svm", FL),
    _f("score_svm_cnn", FL),
    _f("score_cnn_ptyp", FL),
    _f("score_svm_ptyp", FL),
    _f("score_svm_cnn_ptyp", FL),
    _f("rct_probability", FL),
    _f("updated_date", TS),
    _f("source_filename", S),
)

# ref dbutil.py:74-90
PUBMED_ANNOTATIONS = _s(
    _f("pmid", S),
    _f("population", STR_ARR),
    _f("interventions", STR_ARR),
    _f("outcomes", STR_ARR),
    _f("population_mesh", MESH_ARR),
    _f("interventions_mesh", MESH_ARR),
    _f("outcomes_mesh", MESH_ARR),
    _f("num_randomized", I),
    _f("prob_low_rob", FL),
    _f("punchline_text", S),
    _f("effect", S),
)

# ref dbutil.py:108-128
ICTRP = _s(
    _f("regid", S),
    _f("ti", S),
    _f("year", I),
    _f(
        "ictrp_data",
        _s(
            _f("study_id", S),
            _f("scientific_title", S),
            _f("study_design", S),
            _f("recruitment_status", S),
            _f("target_size", S),
            _f("date_registered", S),
            _f("countries", STR_ARR),
        ),
    ),
    _f("url", S),
    _f("population", STR_ARR),
    _f("interventions", STR_ARR),
    _f("outcomes", STR_ARR),
    _f("population_mesh", MESH_ARR),
    _f("interventions_mesh", MESH_ARR),
    _f("outcomes_mesh", MESH_ARR),
    _f("target_size", S),
    _f("is_rct", S),
    _f("is_recruiting", S),
    _f("countries", STR_ARR),
    _f("date_registered", TS),
    _f("source_filename", S),
    _f("updated_date", TS),
)

# ref dbutil.py:191-217 (denormalized)
MEDRXIV_COVID19 = _s(
    _f("doi", S),
    _f("url", S),
    _f("year", I),
    _f("date", TS),
    _f("ti", S),
    _f("ab", S),
    _f("is_human", B),
    _f("is_rct_precise", B),
    _f("is_rct_balanced", B),
    _f("is_rct_sensitive", B),
    _f("rct_probability", FL),
    _f("population", STR_ARR),
    _f("interventions", STR_ARR),
    _f("outcomes", STR_ARR),
    _f("population_mesh", MESH_ARR),
    _f("interventions_mesh", MESH_ARR),
    _f("outcomes_mesh", MESH_ARR),
    _f("authors", T.ArrayType(_s(_f("author_name", S)))),
    _f("source", S),
    _f("num_randomized", I),
    _f("punchline_text", S),
    _f("prob_low_bias", FL),
    _f("effect", S),
    _f("updated_date", TS),
)

REGISTRY_LINKS = _s(_f("regid", S), _f("pmid", S))  # ref dbutil.py:147-151

UPW = _s(  # ref dbutil.py:130-137
    _f("pmid", S),
    _f("is_oa", B),
    _f("url", S),
    _f("url_for_pdf", S),
    _f(
        "upw_data",
        _s(
            _f("doi", S),
            _f("is_oa", B),
            _f(
                "best_oa_location",
                _s(_f("url", S), _f("url_for_pdf", S)),
            ),
        ),
    ),
)

PMID_DOIS = _s(_f("pmid", S), _f("doi", S))  # ref dbutil.py:139-143

UPDATE_LOG = _s(  # ref dbutil.py:156-163
    _f("update_type", S),
    _f("source_filename", S),
    _f("source_date", TS),
    _f("download_date", TS),
    _f("update_date", TS),
)

# ontology closure (ref cnxapp.py:53-62 get_subtree; depth 0 = self)
CUI_CLOSURE = _s(_f("ancestor_cui", S), _f("descendant_cui", S), _f("depth", I))

# autocomplete suggestions (ref trialstreamer_api.yml:308-335)
AUTOCOMPLETE = _s(
    _f("cui", S),
    _f("cui_str", S),
    _f("cui_pico_display", S),
    _f("field", S),
    _f("count", T.LongType()),
)
