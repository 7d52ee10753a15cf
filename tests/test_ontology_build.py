"""Ontology builder tests (G4/G5/G6): tree-file closure vs a Python
reference walk, pharm-action XML parse, autocomplete suggestion counts
vs the fixture generator's Counter-based construction."""

from __future__ import annotations

import os

import pytest

from tests.oracle_util import run_oracle
from trialstreamer_spark.plans import ontology

MESH_TREE = """MeSH Tree Hierarchy
generated test file
---
TREE_NUMBER DESCRIPTOR
A01 Body Regions
A01.111 Abdomen
A01.111.massive Abdominal Cavity
A01.222 Back
A01.222.333 Lumbosacral Region
B01 Organisms
B01.111 Eukaryota
"""


@pytest.fixture(scope="module")
def tree_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("mesh") / "mesh_tree.txt"
    p.write_text(MESH_TREE)
    return str(p)


def test_parse_and_edges(spark, tree_path):
    nodes = ontology.parse_mesh_tree(spark, tree_path)
    got = {r.tree_number: r.term for r in nodes.collect()}
    assert got["A01"] == "Body Regions"
    assert got["A01.222.333"] == "Lumbosacral Region"
    assert "TREE_NUMBER" not in got and "---" not in got
    # header lines with spaces parse as (first-token, rest) but only
    # dotted descendants of real codes produce edges
    edges = {
        (r.parent_term, r.child_term)
        for r in ontology.tree_edges(nodes).collect()
    }
    assert ("Body Regions", "Abdomen") in edges
    assert ("Abdomen", "Abdominal Cavity") in edges
    assert ("Back", "Lumbosacral Region") in edges
    assert ("Body Regions", "Back") in edges
    assert ("Organisms", "Eukaryota") in edges


def test_transitive_closure_depths(spark, tree_path):
    closure = ontology.transitive_closure(
        ontology.tree_edges(ontology.parse_mesh_tree(spark, tree_path))
    )
    got = {
        (r.ancestor_cui, r.descendant_cui): r.depth for r in closure.collect()
    }
    assert got[("Body Regions", "Abdomen")] == 1
    assert got[("Body Regions", "Abdominal Cavity")] == 2
    assert got[("Body Regions", "Lumbosacral Region")] == 2
    assert ("Abdomen", "Back") not in got
    # self rows at depth 0 (self-inclusive expansion); no inverted edges
    assert got[("Abdomen", "Abdomen")] == 0
    assert all(d > 0 for (a, b), d in got.items() if a != b)
    assert ("Abdomen", "Body Regions") not in got


def test_closure_matches_fixture_table(spark, fixture_dir):
    """The fixture generator builds cui_closure by Python BFS; rebuilding
    it from the generator's edge list through transitive_closure must
    reproduce it exactly (min-depth per pair)."""
    from pyspark.sql import functions as F

    fixture = spark.read.parquet(
        os.path.join(fixture_dir, "cui_closure.parquet")
    )
    edges = fixture.filter(F.col("depth") == 1).select(
        F.col("ancestor_cui").alias("parent_term"),
        F.col("descendant_cui").alias("child_term"),
    )
    rebuilt = (
        ontology.transitive_closure(edges)
        .groupBy("ancestor_cui", "descendant_cui")
        .agg(F.min("depth").alias("depth"))
    )
    # isolated nodes (self-row only, e.g. TS-COV19) are invisible to an
    # edge-list rebuild; compare over nodes that have edges
    edge_nodes = {
        r[0] for r in edges.collect()
    } | {r[1] for r in edges.collect()}
    f = {
        (r[0], r[1]): r[2]
        for r in fixture.collect()
        if r[0] in edge_nodes
    }
    g = {(r[0], r[1]): r[2] for r in rebuilt.collect()}
    assert f == g


PA_XML = """<PharmacologicalActionSet>
<PharmacologicalAction>
<DescriptorReferredTo><DescriptorUI>D000959</DescriptorUI>
<DescriptorName><String>Antihypertensive Agents</String></DescriptorName></DescriptorReferredTo>
<PharmacologicalActionSubstanceList>
<Substance><RecordUI>D000068297</RecordUI><RecordName><String>Amlodipine</String></RecordName></Substance>
<Substance><RecordUI>D008750</RecordUI><RecordName><String>Metoprolol</String></RecordName></Substance>
</PharmacologicalActionSubstanceList>
</PharmacologicalAction>
<PharmacologicalAction>
<DescriptorReferredTo><DescriptorUI>D000894</DescriptorUI>
<DescriptorName><String>Anti-Inflammatory Agents</String></DescriptorName></DescriptorReferredTo>
<PharmacologicalActionSubstanceList>
<Substance><RecordUI>D001241</RecordUI><RecordName><String>Aspirin</String></RecordName></Substance>
</PharmacologicalActionSubstanceList>
</PharmacologicalAction>
</PharmacologicalActionSet>"""


def test_pharm_action_maps(spark, tmp_path):
    p = tmp_path / "pa.xml"
    p.write_text(PA_XML)
    long = ontology.read_pharm_actions(spark, str(p))
    assert long.count() == 3
    d = {r.class_term: r.drugs for r in ontology.drugs_from_class(long).collect()}
    assert d["Antihypertensive Agents"] == ["Amlodipine", "Metoprolol"]
    assert d["Anti-Inflammatory Agents"] == ["Aspirin"]
    c = {r.drug_term: r.classes for r in ontology.class_from_drug(long).collect()}
    assert c["Aspirin"] == ["Anti-Inflammatory Agents"]


def test_autocomplete_suggestions_match_fixture(spark, fixture_dir):
    """Rebuilding the suggestion table from annotations must match the
    generator's Counter-based table (same keys, counts, display)."""
    ann = spark.read.parquet(
        os.path.join(fixture_dir, "pubmed_annotations.parquet")
    )
    built = ontology.build_autocomplete_suggestions(ann)
    oracle = run_oracle(
        "SELECT cui, cui_str, cui_pico_display, field, count "
        "FROM autocomplete_suggestions",
        fixture_dir,
    )
    want = {
        (r.cui, r.cui_str, r.cui_pico_display, r.field): r.count
        for r in oracle.itertuples(index=False)
    }
    got = {
        (r.cui, r.cui_str, r.cui_pico_display, r.field): r["count"]
        for r in built.collect()
    }
    assert got == want and len(got) > 0
