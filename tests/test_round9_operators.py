"""Round-9 operators: MIPS served through the augmented IVF index
(mips_ivf_topk, mips_nprobe_recall_curve) — the MIPS→NNS reduction over
the existing coarse quantizer (VERDICT r8 #8)."""

from __future__ import annotations

import numpy as np
import pytest

from trialstreamer_spark.io import load
from trialstreamer_spark.operators import similarity
from trialstreamer_spark.plans.all_queries import QUERIES


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.01"


def test_mips_ivf_results_come_from_probed_cells_and_rank_exactly(
    spark, sf_dir
):
    """Every returned neighbor belongs to one of the 2 probed cells, and
    within that candidate set the ranking equals the exact brute-force
    MIPS order (the index prunes, the rerank is exact)."""
    e = load(spark, sf_dir, "embeddings")
    cents = similarity.ivf_centroids(spark, sf_dir)
    _m2, caugs = similarity.mips_aug_cells(spark, sf_dir)
    qv = similarity._query_vector(spark, sf_dir, 0)
    cells = set(similarity.mips_probe_cells(cents, caugs, qv, nprobe=2))
    got = QUERIES["mips_ivf_topk"](spark, sf_dir).collect()
    assert len(got) == 10
    assert {r.label for r in got} <= cells
    # exact rerank: recompute the fixed-point dot per member offline
    members = [
        (r["vec_id"], np.asarray(r["embedding"], dtype=np.float64))
        for r in e.filter(e.label.isin(list(cells)) & (e.vec_id != 0))
        .select("vec_id", "embedding")
        .collect()
    ]
    exact = sorted(
        ((-int(similarity.fp_dot_vec(v, qv)), vid) for vid, v in members)
    )[:10]
    assert [(r.neighbor_id, r.dot_fp) for r in got] == [
        (vid, -neg) for neg, vid in exact
    ]


def test_mips_probe_demotes_short_vector_cells():
    """The augmented denominator must rank a long-vector cell above a
    better-aligned short-vector cell when the long cell's centroid has
    the larger inner product — the behavior cosine probing gets wrong
    for MIPS (crafted 2-cell fixture)."""
    q = np.array([1.0, 0.0], dtype=np.float64)
    # cell 0: perfectly aligned but short; cell 1: slightly off-axis, long
    cents = [(0, np.array([0.2, 0.0])), (1, np.array([2.0, 0.4]))]
    m2 = int(similarity.fp_dot_vec(cents[1][1], cents[1][1])) + 10**7
    caugs = {}
    for label, c in cents:
        nsq = int(similarity.fp_dot_vec(c, c))
        caugs[label] = np.floor(np.sqrt(float(m2 - nsq)) * 1e6) / 1e6
    mips_order = similarity.mips_probe_cells(cents, caugs, q, nprobe=2)
    cos_order = similarity.ivf_probe_cells(cents, q, nprobe=2)
    assert mips_order[0] == 1, "augmented probe must favor the long cell"
    assert cos_order[0] == 0, "cosine probe favors alignment (the contrast)"


def test_mips_recall_curve_is_monotone_and_reaches_exact_at_full_probe(
    spark, sf_dir
):
    """Recall@10 non-decreasing in nprobe per query (nested candidate
    sets), and probing EVERY cell must reproduce the exact baseline
    (recall 1.0) — asserted via mips_probe_cells over all 10 cells
    against mips_topk."""
    rows = QUERIES["mips_nprobe_recall_curve"](spark, sf_dir).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, {})[r.nprobe] = r.n_overlap
    assert by_q and all(set(v) == {1, 2, 3} for v in by_q.values())
    for _q, v in by_q.items():
        assert v[1] <= v[2] <= v[3] <= 10

    e = load(spark, sf_dir, "embeddings")
    cents = similarity.ivf_centroids(spark, sf_dir)
    _m2, caugs = similarity.mips_aug_cells(spark, sf_dir)
    qv = similarity._query_vector(spark, sf_dir, 0)
    all_cells = similarity.mips_probe_cells(cents, caugs, qv, nprobe=len(cents))
    assert sorted(all_cells) == sorted(lbl for lbl, _ in cents)
    exact = [
        r.neighbor_id for r in QUERIES["mips_topk"](spark, sf_dir).collect()
    ]
    scored = (
        e.filter(e.label.isin(all_cells) & (e.vec_id != 0))
        .select("vec_id", "embedding")
        .collect()
    )
    full = sorted(
        (
            (-int(similarity.fp_dot_vec(np.asarray(r["embedding"], float), qv)), r["vec_id"])
            for r in scored
        )
    )[:10]
    assert [vid for _neg, vid in full] == exact


def test_rrf_fusion_combines_arm_ranks_exactly(spark, sf_dir):
    """RRF invariants: every fused score equals the integer sum of its
    arms' 1e6 DIV (60+rank) contributions recomputed from the emitted
    ranks; a doc retrieved by BOTH arms must outscore any doc whose
    single-arm rank equals either of its ranks; -1 marks absence and
    contributes 0."""
    rows = QUERIES["rrf_fusion_topk"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 10

    def contrib(rank: int) -> int:
        return 0 if rank == -1 else 1_000_000 // (60 + rank)

    for r in rows:
        assert r.rrf_fp == contrib(r.lex_rank) + contrib(r.sem_rank)
        assert (r.lex_rank == -1) or (1 <= r.lex_rank <= 20)
        assert (r.sem_rank == -1) or (1 <= r.sem_rank <= 20)
    both = [r for r in rows if r.lex_rank != -1 and r.sem_rank != -1]
    single = [r for r in rows if (r.lex_rank == -1) != (r.sem_rank == -1)]
    for b in both:
        for s in single:
            only = s.lex_rank if s.lex_rank != -1 else s.sem_rank
            if only >= min(b.lex_rank, b.sem_rank):
                assert b.rrf_fp > s.rrf_fp
    # descending, doc_id tie-break
    keys = [(-r.rrf_fp, r.doc_id) for r in rows]
    assert keys == sorted(keys)
