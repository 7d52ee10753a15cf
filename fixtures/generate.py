"""Deterministic trialstreamer-shaped fixture tables (FIXTURES.md, seed=42).

Generates the full relational surface the reference engine queries:
pubmed, pubmed_annotations, ictrp, medrxiv_covid19, registry_links, upw,
pmid_dois, update_log, plus the ontology closure and autocomplete sidecars.
Written as parquet so both Spark and the DuckDB oracle read the same bytes.

The concept pool is a 3-level forest (20 roots × 3 children × 2
grandchildren ≈ 200 CUIs + the TS-COV19 sentinel) so subtree-expansion
tests exercise parent-only vs child-only annotations.
"""

from __future__ import annotations

import datetime as dt
import random

WORDS = (
    "stroke diabetes hypertension aspirin placebo therapy randomized trial "
    "outcome mortality cancer vaccine infection treatment dose cohort blind "
    "chronic acute renal cardiac pulmonary hepatic screening risk efficacy "
    "safety adverse remission relapse biomarker"
).split()

REGISTRY_FMTS = (
    ("NCT", 8),
    ("ISRCTN", 8),
    ("ACTRN", 14),
    ("CTRI/2020/", 6),
    ("ChiCTR", 10),
)

ABBR_PAIRS = (
    ("randomized controlled trial", "RCT"),
    ("adverse event", "AE"),
    ("quality of life", "QOL"),
    ("myocardial infarction", "MI"),
    ("confidence interval", "CI"),
)

COVID_CUI = "TS-COV19"
COVID_MESH_UI = "C000657245"


def build_concepts(rng: random.Random):
    """Concept forest: returns (concepts, closure_rows).
    closure = (ancestor, descendant, depth) incl. depth 0 self-rows."""
    concepts = []
    closure = []
    cui_n = 1

    def mk(term_idx: int) -> dict:
        nonlocal cui_n
        cui = f"C{cui_n:07d}"
        cui_n += 1
        term = f"{WORDS[term_idx % len(WORDS)]} {cui_n % 97}"
        return {
            "cui": cui,
            "mesh_ui": f"D{cui_n:06d}",
            "mesh_term": term,
            "cui_str": term,
        }

    for r in range(20):
        root = mk(r)
        concepts.append(root)
        closure.append((root["cui"], root["cui"], 0))
        for c in range(3):
            child = mk(r * 3 + c)
            concepts.append(child)
            closure.append((child["cui"], child["cui"], 0))
            closure.append((root["cui"], child["cui"], 1))
            for g in range(2):
                grand = mk(r * 6 + c * 2 + g)
                concepts.append(grand)
                closure.append((grand["cui"], grand["cui"], 0))
                closure.append((child["cui"], grand["cui"], 1))
                closure.append((root["cui"], grand["cui"], 2))
    covid = {
        "cui": COVID_CUI,
        "mesh_ui": COVID_MESH_UI,
        "mesh_term": "COVID-19",
        "cui_str": "COVID-19",
    }
    concepts.append(covid)
    closure.append((COVID_CUI, COVID_CUI, 0))
    return concepts, closure


def _regid(rng: random.Random) -> str:
    prefix, n = REGISTRY_FMTS[rng.randrange(len(REGISTRY_FMTS))]
    return prefix + "".join(rng.choice("0123456789") for _ in range(n))


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _abstract(rng: random.Random, regids: list[str]) -> str:
    parts = [_sentence(rng, rng.randint(20, 60))]
    if rng.random() < 0.4:
        long, short = ABBR_PAIRS[rng.randrange(len(ABBR_PAIRS))]
        parts.append(f"this {long} ({short}) assessed {_sentence(rng, 5)}")
    for rid in regids:
        parts.append(f"registered as {rid}")
    parts.append(_sentence(rng, rng.randint(20, 80)))
    return ". ".join(parts)


def _ts(rng: random.Random, y0=2019, y1=2026) -> dt.datetime:
    return dt.datetime(
        rng.randint(y0, y1), rng.randint(1, 12), rng.randint(1, 28), rng.randint(0, 23)
    )


def _mesh_sample(rng: random.Random, concepts, lo=0, hi=6):
    k = rng.randint(lo, hi)
    return [concepts[rng.randrange(len(concepts))] for _ in range(k)] if k else []


def generate(out_dir: str, n_pubmed: int = 1200, seed: int = 42) -> dict:
    """Write all fixture tables to out_dir; returns {table: n_rows}."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from trialstreamer_spark import schemas

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    concepts, closure = build_concepts(rng)
    non_covid = [c for c in concepts if c["cui"] != COVID_CUI]

    # --- pubmed -----------------------------------------------------------
    pubmed, annotations, links_from_pm = [], [], []
    for i in range(n_pubmed):
        pmid = str(10000 + i)
        sensitive = rng.random() < 0.6
        balanced = sensitive and rng.random() < 0.66
        precise = balanced and rng.random() < 0.5
        regids = [_regid(rng) for _ in range(rng.randint(0, 2))]
        ab_regids = [_regid(rng)] if rng.random() < 0.3 else []
        ab = None if rng.random() < 0.03 else _abstract(rng, ab_regids)
        year = None if rng.random() < 0.02 else rng.randint(1947, 2026)
        n_auth = rng.randint(0, 6)
        pm_data = {
            "pmid": pmid,
            "status": rng.choice(["MEDLINE", "PubMed-not-MEDLINE", "In-Process"]),
            "indexing_method": rng.choice(["Human", "Automated", "Curated"]),
            "title": _sentence(rng, 8),
            "abstract": [{"header": "BACKGROUND", "text": _sentence(rng, 15)}]
            if rng.random() > 0.05
            else None,
            "abstract_plaintext": ab,
            "authors": [
                {
                    "Initials": "AB",
                    "LastName": f"Name{rng.randint(1, 400)}",
                    "ForeName": "Alex",
                    "Affiliation": None,
                }
                for _ in range(n_auth)
            ],
            "journal": f"Journal {rng.randint(1, 40)}",
            "journal_abbrv": f"J{rng.randint(1, 40)}",
            "year": str(year) if year else None,
            "mesh": (["Humans"] if rng.random() < 0.5 else [])
            + [rng.choice(WORDS) for _ in range(rng.randint(0, 4))],
            "month": str(rng.randint(1, 12)),
            "volume": str(rng.randint(1, 90)),
            "issue": str(rng.randint(1, 12)),
            "pages": {"page_from": "123", "page_to": "129"}
            if rng.random() > 0.05
            else None,
            "ptyp": ["Randomized Controlled Trial"] if rng.random() < 0.4 else [],
            "registry_ids": regids,
            "dois": [f"10.{rng.randint(1000, 9999)}/j{i}"]
            if rng.random() < 0.6
            else [],
        }
        pubmed.append(
            {
                "pmid": pmid,
                "pm_status": pm_data["status"],
                "year": year,
                "ti": _sentence(rng, rng.randint(5, 15)),
                "ab": ab,
                "pm_data": pm_data,
                "ptyp_rct": 1 if pm_data["ptyp"] else 0,
                "indexing_method": pm_data["indexing_method"],
                "is_human": rng.random() < 0.9,
                "is_rct_precise": precise,
                "is_rct_balanced": balanced,
                "is_rct_sensitive": sensitive,
                "clf_type": rng.choice(["svm_cnn", "svm_cnn_ptyp"]),
                "clf_score": rng.uniform(-2.0, 5.0),
                "clf_date": _ts(rng),
                "score_cnn": rng.uniform(0, 1),
                "score_svm": rng.uniform(-3, 3),
                "score_svm_cnn": rng.uniform(-3, 3),
                "score_cnn_ptyp": rng.uniform(0, 1),
                "score_svm_ptyp": rng.uniform(-3, 3),
                "score_svm_cnn_ptyp": rng.uniform(-3, 3),
                "rct_probability": rng.uniform(0, 1),
                "updated_date": _ts(rng),
                "source_filename": f"pubmed/updatefiles/pubmed26n{rng.randint(1, 1400):04d}.xml.gz",
            }
        )
        for rid in set(regids + ab_regids):
            links_from_pm.append({"regid": rid, "pmid": pmid})
        if balanced and rng.random() < 0.9:
            pm_mesh = _mesh_sample(rng, non_covid)
            if rng.random() < 0.01:
                pm_mesh = pm_mesh + [concepts[-1]]  # COVID concept
            annotations.append(
                {
                    "pmid": pmid,
                    "population": [_sentence(rng, 4) for _ in range(rng.randint(0, 4))],
                    "interventions": [
                        _sentence(rng, 3) for _ in range(rng.randint(0, 4))
                    ],
                    "outcomes": [_sentence(rng, 3) for _ in range(rng.randint(0, 4))],
                    "population_mesh": pm_mesh,
                    "interventions_mesh": _mesh_sample(rng, non_covid),
                    "outcomes_mesh": _mesh_sample(rng, non_covid),
                    "num_randomized": None
                    if rng.random() < 0.15
                    else rng.randint(10, 5000),
                    "prob_low_rob": None if rng.random() < 0.1 else rng.uniform(0, 1),
                    "punchline_text": _sentence(rng, 10),
                    "effect": rng.choice(
                        ["significant-benefit", "no-diff", "significant-harm"]
                    ),
                }
            )
    # dangling annotation rows (join tests)
    for j in range(10):
        annotations.append(
            {
                "pmid": str(99000 + j),
                "population": [],
                "interventions": [],
                "outcomes": [],
                "population_mesh": _mesh_sample(rng, non_covid, 1, 3),
                "interventions_mesh": [],
                "outcomes_mesh": [],
                "num_randomized": rng.randint(10, 500),
                "prob_low_rob": rng.uniform(0, 1),
                "punchline_text": _sentence(rng, 8),
                "effect": "no-diff",
            }
        )

    # --- ictrp ------------------------------------------------------------
    rct_phrases = ["randomized controlled trial", "parallel group rct"]
    nonrct_phrases = ["single arm study", "observational cohort"]
    ictrp = []
    ictrp_regids = [lk["regid"] for lk in links_from_pm[: len(links_from_pm) // 2]]
    while len(ictrp_regids) < 600:
        ictrp_regids.append(_regid(rng))
    for rid in ictrp_regids[:600]:
        reg_ts = None if rng.random() < 0.05 else _ts(rng, 2005, 2026)
        design_pool = rct_phrases + nonrct_phrases + ["phase ii evaluation"]
        ictrp.append(
            {
                "regid": rid,
                "ti": _sentence(rng, rng.randint(5, 12)),
                "year": reg_ts.year if reg_ts else None,
                "ictrp_data": {
                    "study_id": rid,
                    "scientific_title": _sentence(rng, 10),
                    "study_design": rng.choice(design_pool),
                    "recruitment_status": rng.choice(
                        ["Recruiting", "Not Recruiting", "Unknown"]
                    ),
                    "target_size": str(rng.randint(10, 2000)),
                    "date_registered": reg_ts.strftime("%d/%m/%Y") if reg_ts else None,
                    "countries": [
                        rng.choice(["US", "UK", "DE", "CN", "BR"])
                        for _ in range(rng.randint(0, 5))
                    ],
                },
                "url": f"https://trials.example/{rid}",
                "population": [_sentence(rng, 3)],
                "interventions": [_sentence(rng, 2)],
                "outcomes": [_sentence(rng, 3)],
                "population_mesh": _mesh_sample(rng, non_covid),
                "interventions_mesh": _mesh_sample(rng, non_covid),
                "outcomes_mesh": _mesh_sample(rng, non_covid),
                "target_size": str(rng.randint(10, 2000))
                if rng.random() > 0.1
                else "unknown",
                "is_rct": rng.choices(
                    ["RCT", "non-RCT", "unknown"], weights=[85, 10, 5]
                )[0],
                "is_recruiting": rng.choice(
                    ["recruiting", "not recruiting", "unknown"]
                ),
                "countries": [
                    rng.choice(["US", "UK", "DE", "CN", "BR"])
                    for _ in range(rng.randint(0, 5))
                ],
                "date_registered": reg_ts,
                "source_filename": "ictrp-week-2026-01.jsonl",
                "updated_date": _ts(rng),
            }
        )

    # --- medrxiv_covid19 ----------------------------------------------------
    medrxiv = []
    for i in range(80):
        y = rng.randint(2020, 2026)
        medrxiv.append(
            {
                "doi": f"10.1101/2020.{i:02d}.{rng.randint(1, 28):02d}.20{i:03d}",
                "url": f"https://medrxiv.example/{i}",
                "year": y,
                "date": _ts(rng, y, y),
                "ti": _sentence(rng, 10),
                "ab": _abstract(rng, []),
                "is_human": True,
                "is_rct_precise": rng.random() < 0.2,
                "is_rct_balanced": rng.random() < 0.4,
                "is_rct_sensitive": rng.random() < 0.7,
                "rct_probability": rng.uniform(0, 1),
                "population": [_sentence(rng, 3)],
                "interventions": [_sentence(rng, 2)],
                "outcomes": [_sentence(rng, 3)],
                "population_mesh": _mesh_sample(rng, non_covid, 0, 3)
                + [concepts[-1]],
                "interventions_mesh": _mesh_sample(rng, non_covid, 0, 3),
                "outcomes_mesh": _mesh_sample(rng, non_covid, 0, 3),
                "authors": [
                    {"author_name": f"Author {rng.randint(1, 200)}"}
                    for _ in range(rng.randint(1, 5))
                ],
                "source": rng.choice(["medRxiv", "SSRN"]),
                "num_randomized": rng.randint(10, 3000),
                "punchline_text": _sentence(rng, 10),
                "prob_low_bias": rng.uniform(0, 1),
                "effect": rng.choice(
                    ["significant-benefit", "no-diff", "significant-harm"]
                ),
                "updated_date": _ts(rng),
            }
        )

    # --- link/aux tables ----------------------------------------------------
    registry_links = links_from_pm + [
        {"regid": _regid(rng), "pmid": str(10000 + rng.randrange(n_pubmed))}
        for _ in range(200)
    ]
    pmid_dois = []
    for i in range(800):
        doi = None
        r = rng.random()
        if r > 0.1:
            doi = (
                f"10.{rng.randint(1000, 9999)}/x{i}"
                if r > 0.2
                else f"10.1/{i}"  # short doi exercising the >12-char guard
            )
        pmid_dois.append({"pmid": str(10000 + rng.randrange(n_pubmed)), "doi": doi})
    upw = [
        {
            "pmid": str(10000 + rng.randrange(n_pubmed)),
            "is_oa": rng.random() < 0.7,
            "url": f"https://oa.example/{i}",
            "url_for_pdf": f"https://oa.example/{i}.pdf" if rng.random() < 0.8 else None,
            "upw_data": {
                "doi": f"10.{rng.randint(1000, 9999)}/u{i}",
                "is_oa": True,
                "best_oa_location": {
                    "url": f"https://oa.example/{i}",
                    "url_for_pdf": None,
                },
            },
        }
        for i in range(400)
    ]
    update_log = []
    for utype in [
        "pubmed_baseline",
        "pubmed_update",
        "ictrp",
        "medrxiv",
        "doi_update",
        "fullcheck",  # end-of-run watermark rows — what /meta reads
    ]:
        for k in range(8):
            sd = _ts(rng, 2024, 2026)
            update_log.append(
                {
                    "update_type": utype,
                    "source_filename": f"{utype}/file{k}.gz",
                    "source_date": sd,
                    "download_date": sd + dt.timedelta(hours=1),
                    "update_date": sd + dt.timedelta(hours=2),
                }
            )

    closure_rows = [
        {"ancestor_cui": a, "descendant_cui": d, "depth": depth}
        for a, d, depth in closure
    ]

    # autocomplete suggestions: derived counts per (cui, field) over
    # annotations (ref cnxapp.py:41-43 trie source)
    from collections import Counter

    ac_counter: Counter = Counter()
    for row in annotations:
        for field in ("population", "interventions", "outcomes"):
            for m in row[f"{field}_mesh"]:
                ac_counter[(m["cui"], m["cui_str"], field)] += 1
    autocomplete = [
        {
            "cui": cui,
            "cui_str": cui_str,
            "cui_pico_display": f"{cui_str} ({field})",
            "field": field,
            "count": n,
        }
        for (cui, cui_str, field), n in sorted(ac_counter.items())
    ]

    tables = {
        "pubmed": (pubmed, schemas.PUBMED),
        "pubmed_annotations": (annotations, schemas.PUBMED_ANNOTATIONS),
        "ictrp": (ictrp, schemas.ICTRP),
        "medrxiv_covid19": (medrxiv, schemas.MEDRXIV_COVID19),
        "registry_links": (registry_links, schemas.REGISTRY_LINKS),
        "upw": (upw, schemas.UPW),
        "pmid_dois": (pmid_dois, schemas.PMID_DOIS),
        "update_log": (update_log, schemas.UPDATE_LOG),
        "cui_closure": (closure_rows, schemas.CUI_CLOSURE),
        "autocomplete_suggestions": (autocomplete, schemas.AUTOCOMPLETE),
    }
    counts = {}
    for name, (rows, schema) in tables.items():
        arrow_schema = pa.schema(
            T.StructType(schema.fields).toArrowSchema()
            if hasattr(schema, "toArrowSchema")
            else from_spark(schema)
        )
        pq.write_table(
            pa.Table.from_pylist(rows, schema=arrow_schema),
            os.path.join(out_dir, f"{name}.parquet"),
        )
        counts[name] = len(rows)
    return counts


def from_spark(schema):  # pragma: no cover - helper for older pyspark
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema)


if __name__ == "__main__":
    import os
    import sys

    out = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
    )
    print(generate(out))
