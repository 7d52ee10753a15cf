"""Ontology build jobs (SURVEY G4/G5/G6): MeSH tree → closure table,
pharmacological-action XML → drug-class maps, annotations → autocomplete
suggestion table.

The reference builds these as notebook one-offs into pickles
(nb/mesh graph.ipynb → subtrees.pck; nb/pharmacological actions.ipynb →
drugs_from_class.pck; cnxapp.py:41-43 loads the trie). Here they are
batch DataFrame jobs producing the query-time sidecar tables the engine
reads (api/engine.py: cui_closure, autocomplete_suggestions).

Scale note: ontologies are tiny (MeSH ~60k nodes) next to the corpus —
these jobs exist for correctness and lineage, not throughput. The one
genuinely iterative piece (transitive closure) is a bounded loop of
self-joins; each iteration extends paths by one hop, and the loop stops
at the tree's max depth or fixpoint. The *output* closure is what must
scale: it is joined (broadcast) into every picosearch, so it stays a
narrow 3-column table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# G4 — MeSH tree file → nodes, edges, closure
# ---------------------------------------------------------------------------


def parse_mesh_tree(spark: SparkSession, path: str) -> DataFrame:
    """NLM tree-hierarchy text → (tree_number, term) rows
    (nb/mesh graph.ipynb pass 1: split on whitespace, first token is the
    dotted tree number, remainder is the descriptor name; header /
    separator / TREE_NUMBER lines dropped)."""
    lines = spark.read.text(path)
    parsed = lines.select(
        F.regexp_extract("value", r"^(\S+)\s+(.*)$", 1).alias("tree_number"),
        F.trim(F.regexp_extract("value", r"^(\S+)\s+(.*)$", 2)).alias("term"),
    )
    return parsed.filter(
        (F.col("tree_number") != "")
        & (F.col("tree_number") != "TREE_NUMBER")
        & ~F.col("tree_number").startswith("---")
        & (F.col("term") != "")
    )


def tree_edges(nodes: DataFrame) -> DataFrame:
    """(parent_term, child_term) edges: a node's parent is its tree
    number minus the last dotted segment (mesh graph.ipynb:
    ``'.'.join(code_parts[:-1])``) — an equi self-join on that prefix.
    Terms with several tree numbers contribute one edge per position;
    edges are distinct on the term pair."""
    child = nodes.filter(F.col("tree_number").contains(".")).select(
        F.regexp_replace("tree_number", r"\.[^.]+$", "").alias("parent_tn"),
        F.col("term").alias("child_term"),
    )
    parent = nodes.select(
        F.col("tree_number").alias("parent_tn"), F.col("term").alias("parent_term")
    )
    return (
        child.join(parent, "parent_tn")
        .select("parent_term", "child_term")
        .distinct()
    )


def transitive_closure(
    edges: DataFrame, max_depth: int = 16, include_self: bool = True
) -> DataFrame:
    """(ancestor, descendant, depth) by iterated join — depth 1 is the
    edge set; each pass extends the frontier one hop via
    frontier ⋈ edges. Stops at fixpoint (empty frontier) or max_depth.
    The engine's levels=1 default (cnxapp.py:53) needs depth carried
    exactly (SURVEY §7 hard part 3). include_self adds the depth-0
    identity rows the engine's self-inclusive expansion reads
    (cnxapp.py:58: the queried CUI is always in its own subtree).

    Column names follow the engine's closure table: ancestor_cui /
    descendant_cui are whatever key the edges carry (terms here; CUIs
    when the MeSH→CUI mapping is joined upstream)."""
    base = edges.select(
        F.col("parent_term").alias("ancestor_cui"),
        F.col("child_term").alias("descendant_cui"),
        F.lit(1).alias("depth"),
    )
    closure = base
    frontier = base
    step = edges.select(
        F.col("parent_term").alias("descendant_cui"),
        F.col("child_term").alias("next_desc"),
    )
    for depth in range(2, max_depth + 1):
        frontier = (
            frontier.join(step, "descendant_cui")
            .select(
                "ancestor_cui",
                F.col("next_desc").alias("descendant_cui"),
                F.lit(depth).alias("depth"),
            )
            .distinct()
        )
        # localCheckpoint breaks the exponentially-deepening lineage so
        # each iteration's plan stays O(1); the row count drives the stop
        frontier = frontier.localCheckpoint(eager=True)
        if frontier.isEmpty():
            break
        closure = closure.unionByName(frontier)
    if include_self:
        nodes = (
            edges.select(F.col("parent_term").alias("node"))
            .unionByName(edges.select(F.col("child_term").alias("node")))
            .distinct()
        )
        closure = nodes.select(
            F.col("node").alias("ancestor_cui"),
            F.col("node").alias("descendant_cui"),
            F.lit(0).alias("depth"),
        ).unionByName(closure)
    return closure


# ---------------------------------------------------------------------------
# G5 — pharmacological-action maps
# ---------------------------------------------------------------------------

PA_SCHEMA = T.StructType(
    [
        T.StructField(
            "DescriptorReferredTo",
            T.StructType(
                [
                    T.StructField("DescriptorUI", T.StringType()),
                    T.StructField(
                        "DescriptorName",
                        T.StructType([T.StructField("String", T.StringType())]),
                    ),
                ]
            ),
        ),
        T.StructField(
            "PharmacologicalActionSubstanceList",
            T.StructType(
                [
                    T.StructField(
                        "Substance",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("RecordUI", T.StringType()),
                                    T.StructField(
                                        "RecordName",
                                        T.StructType(
                                            [
                                                T.StructField(
                                                    "String", T.StringType()
                                                )
                                            ]
                                        ),
                                    ),
                                ]
                            )
                        ),
                    )
                ]
            ),
        ),
    ]
)


def read_pharm_actions(spark: SparkSession, path: str) -> DataFrame:
    """pa XML → long (class_ui, class_term, drug_ui, drug_term) rows
    (nb/pharmacological actions.ipynb) via the native XML source with an
    explicit schema (Substance is an array even when a class has one
    member — inference would collapse it to a struct)."""
    pa = (
        spark.read.format("xml")
        .option("rowTag", "PharmacologicalAction")
        .schema(PA_SCHEMA)
        .load(path)
    )
    return pa.select(
        F.col("DescriptorReferredTo.DescriptorUI").alias("class_ui"),
        F.col("DescriptorReferredTo.DescriptorName.String").alias("class_term"),
        F.explode("PharmacologicalActionSubstanceList.Substance").alias("s"),
    ).select(
        "class_ui",
        "class_term",
        F.col("s.RecordUI").alias("drug_ui"),
        F.col("s.RecordName.String").alias("drug_term"),
    )


def drugs_from_class(pa_long: DataFrame) -> DataFrame:
    """class_term → sorted member drugs (drugs_from_class.pck analog);
    the inverse (class_from_drug) is the same groupBy on the other
    key."""
    return pa_long.groupBy("class_term").agg(
        F.sort_array(F.collect_list("drug_term")).alias("drugs")
    )


def class_from_drug(pa_long: DataFrame) -> DataFrame:
    return pa_long.groupBy("drug_term").agg(
        F.sort_array(F.collect_list("class_term")).alias("classes")
    )


# ---------------------------------------------------------------------------
# G6 — autocomplete suggestion table
# ---------------------------------------------------------------------------

PICO_FIELDS = ("population", "interventions", "outcomes")


def build_autocomplete_suggestions(annotations: DataFrame) -> DataFrame:
    """Annotations → (cui, cui_str, cui_pico_display, field, count):
    explode each *_mesh concept array tagged with its field, count
    occurrences per (cui, cui_str, field) (the trie's payload,
    cnxapp.py:41-43 / api yml pico-terms-counts). One shuffle on the
    narrow concept key; display string formatted scan-side."""
    legs = [
        annotations.select(
            F.explode(F.col(f"{field}_mesh")).alias("m"),
            F.lit(field).alias("field"),
        )
        for field in PICO_FIELDS
    ]
    exploded = legs[0]
    for leg in legs[1:]:
        exploded = exploded.unionByName(leg)
    return (
        exploded.groupBy(
            F.col("m.cui").alias("cui"),
            F.col("m.cui_str").alias("cui_str"),
            "field",
        )
        .agg(F.count("*").alias("count"))
        .select(
            "cui",
            "cui_str",
            F.concat(F.col("cui_str"), F.lit(" ("), F.col("field"), F.lit(")")).alias(
                "cui_pico_display"
            ),
            "field",
            "count",
        )
    )
