"""Round-11 operator tests: first-principles semantics pinning for the
three new registry members (the whale-class discipline — none of these
reuse the registered oracle SQL, so a shared-spec error in the oracle
pair cannot hide here).

- span_corruption_plan: the T5 noise plan recomputed by hand for known
  token counts, including both GREATEST(1, …) floors and the
  empty-document exclusion.
- training_shard_manifest: disjoint-exhaustive shard assignment and the
  full per-shard aggregate recomputed independently in pandas/hashlib.
- ann_two_stage_rerank: pool membership, rank density, cosines and
  exact-top-k flags recomputed independently in numpy.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pandas as pd

from tests.conftest import write_documents
from trialstreamer_spark.plans.all_queries import QUERIES


def _rerank_cosines(sf_dir: str):
    """(ids, stage-1 cosine, exact cosine) of every vector against vector
    0, recomputed in numpy with the rerank's fixed-point floors: stage 1
    reads the first 16 dimensions, the exact rerank all of them."""
    emb = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = np.asarray(
        emb.loc[emb["vec_id"] == 0, "embedding"].iloc[0], dtype=np.float64
    )
    rest = emb[emb["vec_id"] != 0]
    m = np.stack(rest["embedding"].to_numpy()).astype(np.float64)
    ids = rest["vec_id"].to_numpy().astype(np.int64)
    scale = 10_000_000.0
    tq = np.floor(m * q[None, :] * scale).astype(np.int64)
    ts = np.floor(m * m * scale).astype(np.int64)
    qn_lo = np.floor(q[:16] * q[:16] * scale).astype(np.int64).sum()
    qn_hi = np.floor(q * q * scale).astype(np.int64).sum()
    c_lo = tq[:, :16].sum(axis=1) / np.sqrt(
        ts[:, :16].sum(axis=1).astype(np.float64) * float(qn_lo)
    )
    c_hi = tq.sum(axis=1) / np.sqrt(
        ts.sum(axis=1).astype(np.float64) * float(qn_hi)
    )
    return ids, c_lo, c_hi


def _docs(rows: list[tuple[int, str, str]]) -> pd.DataFrame:
    """(doc_id, text, source) rows → full documents schema."""
    return pd.DataFrame(
        {
            "doc_id": pd.Series([r[0] for r in rows], dtype="int64"),
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": [r[2] for r in rows],
            "n_chars": pd.Series([len(r[1]) for r in rows], dtype="int64"),
        }
    )


def test_span_corruption_plan_first_principles(spark, tmp_path):
    # n=1:   noise=max(1, 0)=1,  spans=max(1, 0)=1 -> input=1,  target=3
    # n=7:   noise=max(1, 1)=1,  spans=max(1, 0)=1 -> input=7,  target=3
    # n=20:  noise=3,  spans=1  -> input=18,  target=5
    # n=100: noise=15, spans=5  -> input=90,  target=21   (bucket 64)
    # n=640: noise=96, spans=32 -> input=576, target=129  (bucket 576)
    # n=0 (empty text): excluded entirely.
    rows = [
        (1, "a"),
        (2, " ".join("w" for _ in range(7))),
        (3, " ".join("w" for _ in range(20))),
        (4, " ".join("w" for _ in range(100))),
        (5, " ".join("w" for _ in range(640))),
        (6, ""),
    ]
    write_documents(str(tmp_path), rows)
    out = (
        QUERIES["span_corruption_plan"](spark, str(tmp_path))
        .toPandas()
        .set_index("bucket_lo")
    )
    # bucket 0: docs n=1,7,20 -> inputs 1+7+18=26, targets 3+3+5=11,
    # spans 1+1+1=3
    assert out.loc[0, "n_docs"] == 3
    assert out.loc[0, "input_tokens"] == 26
    assert out.loc[0, "target_tokens"] == 11
    assert out.loc[0, "n_spans"] == 3
    assert out.loc[0, "expansion_fp"] == (1_000_000 * 11) // 26
    # bucket 64: the n=100 doc alone
    assert out.loc[64, "n_docs"] == 1
    assert out.loc[64, "input_tokens"] == 90
    assert out.loc[64, "target_tokens"] == 21
    assert out.loc[64, "n_spans"] == 5
    # bucket 576: the n=640 doc alone
    assert out.loc[576, "n_docs"] == 1
    assert out.loc[576, "input_tokens"] == 576
    assert out.loc[576, "target_tokens"] == 129
    assert out.loc[576, "n_spans"] == 32
    # the empty doc appears nowhere
    assert int(out["n_docs"].sum()) == 5


def _py_tokens(text: str) -> int:
    return len([t for t in re.split(r"\s+", text) if t != ""])


def test_shard_manifest_matches_independent_recompute(spark, sf_dir):
    out = (
        QUERIES["training_shard_manifest"](spark, sf_dir)
        .toPandas()
        .set_index("shard")
        .sort_index()
    )
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))

    def shard_of(doc_id: int) -> int:
        h = hashlib.md5(str(int(doc_id)).encode()).hexdigest()
        return int(h[:8], 16) % 16

    def chunk_of(doc_id, lang, text) -> int:
        joined = "\x1f".join([str(int(doc_id)), str(lang), str(text)])
        return int(hashlib.md5(joined.encode()).hexdigest()[:12], 16)

    exp: dict[int, dict] = {}
    for r in docs.itertuples(index=False):
        s = shard_of(r.doc_id)
        e = exp.setdefault(
            s,
            {
                "n_docs": 0,
                "n_tokens": 0,
                "min_doc_id": None,
                "max_doc_id": None,
                "checksum": 0,
            },
        )
        e["n_docs"] += 1
        e["n_tokens"] += _py_tokens(r.text)
        e["min_doc_id"] = (
            r.doc_id
            if e["min_doc_id"] is None
            else min(e["min_doc_id"], r.doc_id)
        )
        e["max_doc_id"] = (
            r.doc_id
            if e["max_doc_id"] is None
            else max(e["max_doc_id"], r.doc_id)
        )
        e["checksum"] += chunk_of(r.doc_id, r.lang, r.text)
    # disjoint-exhaustive: every doc counted exactly once
    assert int(out["n_docs"].sum()) == len(docs)
    assert set(out.index) == set(exp)
    for s, e in exp.items():
        assert int(out.loc[s, "n_docs"]) == e["n_docs"]
        assert int(out.loc[s, "n_tokens"]) == e["n_tokens"]
        assert int(out.loc[s, "min_doc_id"]) == e["min_doc_id"]
        assert int(out.loc[s, "max_doc_id"]) == e["max_doc_id"]
        assert int(out.loc[s, "checksum"]) == e["checksum"] % 9007199254740993


def test_shard_assignment_is_append_stable(spark, tmp_path):
    # Adding documents must not move any existing doc's shard: the
    # assignment is a pure function of doc_id (the property that makes
    # incremental shard writes safe).
    write_documents(str(tmp_path), [(i, f"tok{i} tok{i}") for i in range(1, 21)])
    first = (
        QUERIES["training_shard_manifest"](spark, str(tmp_path))
        .toPandas()
        .set_index("shard")
    )
    write_documents(str(tmp_path), [(i, f"tok{i} tok{i}") for i in range(1, 41)])
    second = (
        QUERIES["training_shard_manifest"](spark, str(tmp_path))
        .toPandas()
        .set_index("shard")
    )
    # every shard's doc count can only grow, never shrink/move
    for s in first.index:
        assert second.loc[s, "n_docs"] >= first.loc[s, "n_docs"]
    assert int(second["n_docs"].sum()) == 40


def test_two_stage_rerank_matches_numpy(spark, sf_dir):
    out = QUERIES["ann_two_stage_rerank"](spark, sf_dir).toPandas()
    ids, c_lo, c_hi = _rerank_cosines(sf_dir)
    pool = np.lexsort((ids, -c_lo))[:100]
    rer = pool[np.lexsort((ids[pool], -c_hi[pool]))][:10]
    exact = np.lexsort((ids, -c_hi))[:10]
    exact_ids = set(ids[exact].tolist())

    assert list(out["rank"]) == list(range(1, 11))
    assert list(out["neighbor_id"]) == ids[rer].tolist()
    for got, want in zip(out["cosine"], c_hi[rer]):
        assert got == want  # identical IEEE arithmetic, exact equality
    assert list(out["in_exact_topk"]) == [
        1 if i in exact_ids else 0 for i in ids[rer]
    ]
    # the served list is a subset of the stage-1 pool by construction
    assert set(out["neighbor_id"]).issubset(set(ids[pool].tolist()))


def test_novelty_by_arrival_first_principles(spark, tmp_path):
    # 20 docs, ids 0..19 -> max id 19, decile = (10*id) DIV 20: two ids
    # per decile. Duplicate structure (after lowercase/punct-strip
    # normalization):
    #   id 0  "alpha beta"      novel
    #   id 1  "gamma"           novel
    #   id 10 "Alpha, BETA!"    dup of 0 (normalization-aware)
    #   id 11 "gamma"           dup of 1
    #   id 18 "alpha beta"      dup of 0
    #   id 19 "omega"           novel
    # everything else unique -> novel.
    texts = {i: f"unique text {i}" for i in range(20)}
    texts[0] = "alpha beta"
    texts[1] = "gamma"
    texts[10] = "Alpha, BETA!"
    texts[11] = "gamma"
    texts[18] = "alpha beta"
    texts[19] = "omega"
    write_documents(str(tmp_path), [(i, texts[i]) for i in range(20)])
    out = (
        QUERIES["dedup_novelty_by_arrival"](spark, str(tmp_path))
        .toPandas()
        .set_index("decile")
    )
    assert int(out["n_docs"].sum()) == 20
    assert (out["n_docs"] == 2).all()
    # decile 5 holds ids 10, 11 — both dups
    assert out.loc[5, "n_novel"] == 0
    assert out.loc[5, "dup_rate_fp"] == 1_000_000
    # decile 9 holds ids 18 (dup), 19 (novel)
    assert out.loc[9, "n_novel"] == 1
    assert out.loc[9, "dup_rate_fp"] == 500_000
    # every other decile is fully novel
    for d in (0, 1, 2, 3, 4, 6, 7, 8):
        assert out.loc[d, "n_novel"] == 2
        assert out.loc[d, "dup_rate_fp"] == 0


def test_cross_shard_pairs_first_principles(spark, tmp_path):
    # Build a dup group of 4 copies and one of 2 copies; recompute the
    # within/cross split from the REAL md5 shard assignment in python.
    group_a = [1, 2, 3, 4]       # 4 copies of "alpha" -> 6 pairs
    group_b = [10, 11]           # 2 copies of "beta"  -> 1 pair
    uniques = [20, 21, 22]
    rows = (
        [(i, "alpha") for i in group_a]
        + [(i, "beta") for i in group_b]
        + [(i, f"unique {i}") for i in uniques]
    )
    write_documents(str(tmp_path), rows)

    def shard_of(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 16

    def pairs(ids: list[int]) -> tuple[int, int]:
        total = len(ids) * (len(ids) - 1) // 2
        by_shard: dict[int, int] = {}
        for i in ids:
            by_shard[shard_of(i)] = by_shard.get(shard_of(i), 0) + 1
        within = sum(c * (c - 1) // 2 for c in by_shard.values())
        return total, within

    ta, wa = pairs(group_a)
    tb, wb = pairs(group_b)
    total, within = ta + tb, wa + wb

    out = QUERIES["dedup_cross_shard_pairs"](spark, str(tmp_path)).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["n_dup_groups"] == 2
    assert r["total_pairs"] == total == 7
    assert r["within_pairs"] == within
    assert r["cross_pairs"] == total - within
    assert r["cross_share_fp"] == (1_000_000 * (total - within)) // total


def test_cross_shard_pairs_no_dups_is_zero(spark, tmp_path):
    write_documents(str(tmp_path), [(i, f"unique {i}") for i in range(5)])
    r = QUERIES["dedup_cross_shard_pairs"](spark, str(tmp_path)).toPandas().iloc[0]
    assert r["n_dup_groups"] == 0
    assert r["total_pairs"] == 0
    assert r["cross_share_fp"] == 0


def test_storage_budget_first_principles(spark, tmp_path):
    # doc_id % 3 fixes modality: 0,3 -> image; 1,4 -> audio; 2 -> video.
    # ASCII text -> content bytes == len(text).
    rows = [
        (0, "a" * 10),     # image, 10 B
        (3, "b" * 30),     # image, 30 B
        (6, "c" * 30),     # image, 30 B
        (1, "d" * 100),    # audio, 100 B
        (2, "e" * 7),      # video, 7 B
    ]
    write_documents(str(tmp_path), rows)
    out = (
        QUERIES["multimodal_storage_budget"](spark, str(tmp_path))
        .toPandas()
        .set_index("modality")
    )
    img = out.loc["image"]
    assert img["n_items"] == 3 and img["total_bytes"] == 70
    # CDF: 10 (cum 1), 30 (cum 3); n=3 -> p50 first cum*100 >= 150 -> 30
    assert img["p50_bytes"] == 30 and img["p90_bytes"] == 30
    assert img["n_shards"] == 1  # ceil(70 / 1 MiB)
    assert out.loc["audio", "p50_bytes"] == 100
    assert out.loc["video", "n_items"] == 1
    assert int(out["n_items"].sum()) == 5


def test_storage_budget_plan_ships_no_bytes_to_python(spark, sf_dir):
    # The prune-before-decode contract: the whole plan is JVM-side —
    # no Python/Arrow evaluation node anywhere (octet_length runs in
    # Catalyst; the binary content never crosses to a worker process).
    df = QUERIES["multimodal_storage_budget"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_rerank_pool_curve_matches_numpy(spark, sf_dir):
    out = (
        QUERIES["ann_rerank_pool_curve"](spark, sf_dir)
        .toPandas()
        .set_index("pool_size")
    )
    ids, c_lo, c_hi = _rerank_cosines(sf_dir)
    order_lo = np.lexsort((ids, -c_lo))
    exact_ids = set(ids[np.lexsort((ids, -c_hi))[:10]].tolist())
    prev = -1
    for p in (10, 25, 50, 100):
        pool = order_lo[:p]
        rer = pool[np.lexsort((ids[pool], -c_hi[pool]))][:10]
        n = len(exact_ids & set(ids[rer].tolist()))
        assert int(out.loc[p, "n_overlap"]) == n
        assert int(out.loc[p, "recall_fp"]) == (1_000_000 * n) // 10
        # a larger pool can only improve the exact-rerank overlap
        assert n >= prev
        prev = n


def test_rerank_pool_curve_consistent_with_two_stage(spark, sf_dir):
    # The pool=100 curve point counts exactly the flagged rows of
    # ann_two_stage_rerank (same kernel, same semantics, independent
    # plans).
    curve = (
        QUERIES["ann_rerank_pool_curve"](spark, sf_dir)
        .toPandas()
        .set_index("pool_size")
    )
    rer = QUERIES["ann_two_stage_rerank"](spark, sf_dir).toPandas()
    assert int(curve.loc[100, "n_overlap"]) == int(rer["in_exact_topk"].sum())
