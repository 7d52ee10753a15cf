"""Embedding-space clustering: k-means assignment in exact fixed-point
arithmetic.

Corpus clustering (topic balancing, dedup-aware sampling, domain mixing)
is a standard stage in training-data pipelines; the reference's embedding
surface stops at ANN search (PICO_search.py:18-85), so this extends it
with the assignment step of Lloyd's algorithm. The centroid-update step
is the same mechanics as similarity.vector_centroids (grouped per-label
mean with map-side partial aggregation), so one Lloyd iteration =
kmeans_assign ∘ vector_centroids.

Exactness: distances use the same 1e-7 fixed-point kernel as
operators/similarity — dist_fp(a,c) = fp(a,a) − 2·fp_dot(a,c) + fp(c,c),
all int64, so argmin (tiebreak: lowest centroid id) is bit-identical
across engines and partitionings.

Scale design: the k centroids ride in the Arrow UDF's closure (broadcast
by serialization); each corpus vector is scored against all k in one
vectorized batch matmul — a single narrow Python stage, no join, no
shuffle until the (tiny) per-cluster rollup a caller may add. At 100 TB
the stage is embarrassingly parallel and the only state per task is the
k×dim centroid matrix.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401  (worker-side)
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from trialstreamer_spark import util
from trialstreamer_spark.io import load
from trialstreamer_spark.operators.similarity import SCALE
from trialstreamer_spark.plans.registry import query

K_CLUSTERS = 8

_ASSIGN_TYPE = StructType(
    [StructField("cluster", IntegerType()), StructField("dist_fp", LongType())]
)


def seed_centroids(
    spark: SparkSession, sf_dir: str, k: int = K_CLUSTERS
) -> np.ndarray:
    """Deterministic init: the k vectors with the smallest vec_id (the
    k-means++ of a reproducible pipeline is any pure function of the
    corpus version; lowest-id is the simplest). Tiny driver-side read of
    k rows (same precedent as similarity._query_vector), memoized per
    (corpus dir, k) — k is part of the key so callers requesting
    different cluster counts against the same corpus never share a
    wrong-sized matrix."""

    def build() -> np.ndarray:
        rows = (
            load(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < k)
            .select("vec_id", "embedding")
            .orderBy("vec_id")
            .collect()
        )
        return np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])

    return util.memo(("seed_centroids", sf_dir, k), build)


def assign_udf(centroids: np.ndarray):
    """pandas UDF: nearest centroid per vector, one vectorized pass.
    Self-contained closure (by-value pickling — see
    similarity._build_kernel_udfs)."""
    c = np.asarray(centroids, dtype=np.float64)
    scale = float(SCALE)

    def assign(v: pd.Series) -> pd.DataFrame:
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.DataFrame(
                {
                    "cluster": pd.Series(dtype="int32"),
                    "dist_fp": pd.Series(dtype="int64"),
                }
            )
        m = np.stack(v.to_numpy()).astype(np.float64)
        # fp(a,a), fp(c,c): elementwise floor-sum per vector
        nsq_a = np.floor(m * m * scale).astype(np.int64).sum(axis=1)
        nsq_c = np.floor(c * c * scale).astype(np.int64).sum(axis=1)
        # fp_dot(a,c) for all pairs: floor per (row, centroid, dim)
        cross = (
            np.floor(m[:, None, :] * c[None, :, :] * scale)
            .astype(np.int64)
            .sum(axis=2)
        )
        d = nsq_a[:, None] - 2 * cross + nsq_c[None, :]
        best = d.argmin(axis=1)  # ties -> lowest centroid index
        return pd.DataFrame(
            {
                "cluster": best.astype("int32"),
                "dist_fp": d[np.arange(len(best)), best],
            }
        )

    return F.pandas_udf(assign, _ASSIGN_TYPE)


_DOT = (
    "list_aggregate(list_transform(list_zip({a}, {b}), "
    "p -> CAST(FLOOR(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 10000000) AS BIGINT)), 'sum')"
)


def kmeans_assign_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster, dist_fp): the k-means assignment sidecar behind
    kmeans_assign — one Arrow stage with the seed-centroid matrix in the
    closure, built once per embeddings version (disk-backed)."""
    from trialstreamer_spark.sidecars import disk_cached_plan

    def build() -> DataFrame:
        a = assign_udf(seed_centroids(spark, sf_dir))
        return (
            load(spark, sf_dir, "embeddings")
            .select("vec_id", a(F.col("embedding")).alias("a"))
            .select(
                "vec_id",
                F.col("a.cluster").alias("cluster"),
                F.col("a.dist_fp").alias("dist_fp"),
            )
        )

    return disk_cached_plan(
        spark, sf_dir, "kmeans_assign", build, source_tables=("embeddings",)
    )


@query(
    "kmeans_assign",
    oracle=f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < {K_CLUSTERS}
    ),
    d AS (
      SELECT e.vec_id, c.cid,
             CAST({_DOT.format(a="e.embedding", b="e.embedding")} AS BIGINT)
             - 2 * CAST({_DOT.format(a="e.embedding", b="c.cemb")} AS BIGINT)
             + CAST({_DOT.format(a="c.cemb", b="c.cemb")} AS BIGINT) AS dist_fp
      FROM embeddings e CROSS JOIN c
    ),
    best AS (
      SELECT vec_id, cid, dist_fp,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist_fp, cid) AS rn
      FROM d
    )
    SELECT vec_id, CAST(cid AS INTEGER) AS cluster, dist_fp
    FROM best WHERE rn = 1
    ORDER BY vec_id
    """,
)
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means assignment step (k=8, lowest-id seeds): every embedding →
    (cluster, fixed-point squared distance). The oracle replays the same
    fixed-point argmin as a cross join + window; the Spark path is one
    Arrow stage with the centroid matrix in the closure. The assignment
    table is the classic persisted clustering artifact — a per-corpus
    sidecar (prepare_semdedup) read by the balance audit and any
    cluster-routed downstream job."""
    return kmeans_assign_table(spark, sf_dir).orderBy("vec_id")


#: SemDeDup cosine threshold: pairs at/above it within a cluster are
#: semantic duplicates; on the synthetic corpus (no planted embedding
#: dups) 0.3 sits at the ~99th percentile of within-cluster cosines, so
#: the prune stage does real work without flagging everything.
SEMDEDUP_TAU = 0.3

_COS = (
    f"CAST({{d}} AS BIGINT) / SQRT(CAST(CAST({{na}} AS BIGINT) AS DOUBLE)"
    f" * CAST(CAST({{nb}} AS BIGINT) AS DOUBLE))"
)


def semdedup_asn_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, cluster): SemDeDup's enriched k-means
    assignment, a disk sidecar per embeddings version — the Arrow
    assignment stage feeds three references of semantic_dedup (both
    join sides + the size rollup), so it is built once, not per
    reference."""
    from trialstreamer_spark.sidecars import disk_cached_plan

    def build() -> DataFrame:
        a = assign_udf(seed_centroids(spark, sf_dir))
        return load(spark, sf_dir, "embeddings").select(
            "vec_id",
            "embedding",
            a(F.col("embedding")).getField("cluster").alias("cluster"),
        )

    return disk_cached_plan(
        spark, sf_dir, "semdedup_asn", build, source_tables=("embeddings",)
    )


@query(
    "semantic_dedup",
    oracle=f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < {K_CLUSTERS}
    ),
    d AS (
      SELECT e.vec_id, e.embedding, c.cid,
             CAST({_DOT.format(a="e.embedding", b="e.embedding")} AS BIGINT)
             - 2 * CAST({_DOT.format(a="e.embedding", b="c.cemb")} AS BIGINT)
             + CAST({_DOT.format(a="c.cemb", b="c.cemb")} AS BIGINT) AS dist_fp
      FROM embeddings e CROSS JOIN c
    ),
    asn AS (
      SELECT vec_id, embedding, cid AS cluster
      FROM (SELECT vec_id, embedding, cid, row_number() OVER (
              PARTITION BY vec_id ORDER BY dist_fp, cid) AS rn FROM d)
      WHERE rn = 1
    ),
    pairs AS (
      SELECT a.cluster, a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM asn a JOIN asn b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {_COS.format(
          d=_DOT.format(a="a.embedding", b="b.embedding"),
          na=_DOT.format(a="a.embedding", b="a.embedding"),
          nb=_DOT.format(a="b.embedding", b="b.embedding"),
      )} >= {SEMDEDUP_TAU}
    ),
    agg AS (
      SELECT cluster, COUNT(*) AS n_dup_pairs,
             COUNT(DISTINCT vec_b) AS n_pruned
      FROM pairs GROUP BY cluster
    ),
    sizes AS (SELECT cluster, COUNT(*) AS n_vectors FROM asn GROUP BY cluster)
    SELECT CAST(s.cluster AS INTEGER) AS cluster,
           s.n_vectors,
           COALESCE(a.n_dup_pairs, 0) AS n_dup_pairs,
           COALESCE(a.n_pruned, 0) AS n_pruned,
           (s.n_vectors - COALESCE(a.n_pruned, 0)) * 1.0 / s.n_vectors
             AS keep_frac
    FROM sizes s LEFT JOIN agg a ON s.cluster = a.cluster
    ORDER BY cluster
    """,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings with the k-means
    assignment above, then mark within-cluster pairs with cosine ≥ τ as
    semantic duplicates and prune every non-lowest-id member. Extends the
    reference's embedding surface (PICO_search.py:18-85 stops at ANN) with
    the curation step modern pipelines run before training.

    Scale shape: the assignment is the same closure-broadcast Arrow stage
    as kmeans_assign (no shuffle); candidate pairs come ONLY from the
    within-cluster equi-join — never corpus × corpus — and the verify is
    the shared fixed-point cosine kernel in one fused Arrow pass. At
    100 TB, k grows ~√N (SemDeDup's own regime) so per-cluster pair
    counts stay bounded; cluster-id skew is the knob, and AQE skew-join
    covers stragglers. Output is the per-cluster prune accounting a
    curation run logs."""
    from trialstreamer_spark.operators.similarity import cosine_pairs_pd

    asn = semdedup_asn_table(spark, sf_dir)
    l, r = asn.alias("l"), asn.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.cluster") == F.col("r.cluster"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(
            F.col("l.cluster").alias("cluster"),
            F.col("r.vec_id").alias("vec_b"),
            cosine_pairs_pd(F.col("l.embedding"), F.col("r.embedding")).alias(
                "cosine"
            ),
        )
        .where(F.col("cosine") >= SEMDEDUP_TAU)
    )
    agg = pairs.groupBy("cluster").agg(
        F.count("*").alias("n_dup_pairs"),
        F.countDistinct("vec_b").alias("n_pruned"),
    )
    sizes = asn.groupBy("cluster").agg(F.count("*").alias("n_vectors"))
    return (
        sizes.join(agg, "cluster", "left")
        .select(
            "cluster",
            "n_vectors",
            F.coalesce(F.col("n_dup_pairs"), F.lit(0)).alias("n_dup_pairs"),
            F.coalesce(F.col("n_pruned"), F.lit(0)).alias("n_pruned"),
            (
                (F.col("n_vectors") - F.coalesce(F.col("n_pruned"), F.lit(0)))
                * F.lit(1.0)
                / F.col("n_vectors")
            ).alias("keep_frac"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------

#: PQ geometry: 64-d vectors → 4 subspaces × 16 dims, 8 codes each.
#: One code byte per subspace ⇒ 4 bytes per vector vs 256 (64×f32) raw —
#: the 64× compression that makes billion-vector ANN shards RAM-resident.
PQ_M = 4
PQ_DIM = 16
PQ_K = 8

_PQ_TYPE = StructType(
    [StructField(f"code_{s}", IntegerType()) for s in range(PQ_M)]
    + [StructField("recon_dist_fp", LongType())]
)


def pq_assign_udf(centroids: np.ndarray):
    """pandas UDF: per-subspace nearest sub-centroid codes for every
    vector in one vectorized pass. ``centroids`` is the (PQ_K, dim) seed
    matrix; sub-codebook s = its dims [s·PQ_DIM, (s+1)·PQ_DIM). The same
    fixed-point distance as assign_udf, applied per slice, so codes and
    reconstruction distances are bit-identical across engines."""
    c = np.asarray(centroids, dtype=np.float64).reshape(PQ_K, PQ_M, PQ_DIM)
    scale = float(SCALE)

    def assign(v: pd.Series) -> pd.DataFrame:
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            cols = {f"code_{s}": pd.Series(dtype="int32") for s in range(4)}
            cols["recon_dist_fp"] = pd.Series(dtype="int64")
            return pd.DataFrame(cols)
        m = np.stack(v.to_numpy()).astype(np.float64).reshape(len(v), PQ_M, PQ_DIM)
        # fp(a,a), fp(c,c) per subspace; fp_dot(a,c) for all (row, code, s)
        nsq_a = np.floor(m * m * scale).astype(np.int64).sum(axis=2)
        nsq_c = np.floor(c * c * scale).astype(np.int64).sum(axis=2)
        cross = (
            np.floor(m[:, None, :, :] * c[None, :, :, :] * scale)
            .astype(np.int64)
            .sum(axis=3)
        )
        d = nsq_a[:, None, :] - 2 * cross + nsq_c[None, :, :]
        best = d.argmin(axis=1)  # (n, PQ_M); ties -> lowest code
        recon = d.min(axis=1).sum(axis=1)
        out = {
            f"code_{s}": best[:, s].astype("int32") for s in range(PQ_M)
        }
        out["recon_dist_fp"] = recon
        return pd.DataFrame(out)

    return F.pandas_udf(assign, _PQ_TYPE)


def _pq_oracle() -> str:
    legs = []
    for s in range(PQ_M):
        lo, hi = s * PQ_DIM + 1, (s + 1) * PQ_DIM
        a, b = f"e.embedding[{lo}:{hi}]", f"c.cemb[{lo}:{hi}]"
        legs.append(
            f"""
      SELECT e.vec_id, {s} AS s, c.cid,
             CAST({_DOT.format(a=a, b=a)} AS BIGINT)
             - 2 * CAST({_DOT.format(a=a, b=b)} AS BIGINT)
             + CAST({_DOT.format(a=b, b=b)} AS BIGINT) AS dist_fp
      FROM embeddings e CROSS JOIN c"""
        )
    union = "\n      UNION ALL\n".join(legs)
    case = ",\n           ".join(
        f"CAST(MAX(CASE WHEN s = {s} THEN cid END) AS INTEGER) AS code_{s}"
        for s in range(PQ_M)
    )
    return f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < {PQ_K}
    ),
    d AS ({union}
    ),
    best AS (
      SELECT vec_id, s, cid, dist_fp, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY dist_fp, cid) AS rn
      FROM d
    )
    SELECT vec_id,
           {case},
           CAST(SUM(dist_fp) AS BIGINT) AS recon_dist_fp
    FROM best WHERE rn = 1
    GROUP BY vec_id
    ORDER BY vec_id
    """


@query("pq_codes", oracle=_pq_oracle())
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): split each
    vector into PQ_M subspaces, assign each slice to its nearest
    sub-centroid (sub-codebooks = slices of the lowest-id seed vectors),
    and emit the code tuple plus the total fixed-point reconstruction
    distance. This is the compressed representation the IVF path
    (similarity.ivf_centroids) would store per cell at 100 TB: 4 code
    bytes instead of 256 raw bytes per vector.

    Scale shape: identical to kmeans_assign — the (PQ_K × dim) codebook
    rides in the Arrow closure, assignment is one narrow vectorized
    stage, no join, no shuffle; the output is columnar codes ready to be
    written partition-aligned with the source vectors."""
    e = load(spark, sf_dir, "embeddings")
    c = seed_centroids(spark, sf_dir, k=PQ_K)
    a = pq_assign_udf(c)
    code_cols = [F.col(f"a.code_{s}").alias(f"code_{s}") for s in range(PQ_M)]
    return (
        e.select("vec_id", a(F.col("embedding")).alias("a"))
        .select("vec_id", *code_cols, F.col("a.recon_dist_fp").alias("recon_dist_fp"))
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# IVFPQ search (ADC)
# ---------------------------------------------------------------------------

def pq_codes_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, code_0..code_{M-1}) — the compressed corpus
    representation, built once and persisted (sidecar, like
    similarity.ivf_centroids and dedup.prepare_dedup). Codes are encoded
    ONCE per corpus version (the offline stage of every PQ system); the
    search below touches only codes + the 32-entry distance LUT."""

    def build() -> DataFrame:
        e = load(spark, sf_dir, "embeddings")
        a = pq_assign_udf(seed_centroids(spark, sf_dir, k=PQ_K))
        code_cols = [
            F.col(f"a.code_{s}").alias(f"code_{s}") for s in range(PQ_M)
        ]
        return e.select("vec_id", "label", a(F.col("embedding")).alias("a")).select(
            "vec_id", "label", *code_cols
        )

    return util.cached_plan(spark, ("pq_codes", sf_dir), build)


def prepare_pq(spark: SparkSession, sf_dir: str) -> None:
    """Offline-encode hook for bench/deploy (one corpus pass)."""
    pq_codes_table(spark, sf_dir).count()


def _adc_lut(qvec: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """(PQ_M × PQ_K) asymmetric-distance lookup table: fixed-point
    distance between query slice s and sub-centroid (j, s). Same floor
    kernel as pq_assign_udf, computed driver-side (32 scalars)."""
    scale = float(SCALE)
    q = np.asarray(qvec, dtype=np.float64).reshape(PQ_M, PQ_DIM)
    c = np.asarray(centroids, dtype=np.float64).reshape(PQ_K, PQ_M, PQ_DIM)
    nsq_q = np.floor(q * q * scale).astype(np.int64).sum(axis=1)  # (M,)
    nsq_c = np.floor(c * c * scale).astype(np.int64).sum(axis=2)  # (K, M)
    cross = (
        np.floor(q[None, :, :] * c * scale).astype(np.int64).sum(axis=2)
    )  # (K, M)
    return (nsq_q[None, :] - 2 * cross + nsq_c).T  # (M, K)


def _ivfpq_oracle() -> str:
    # per-subspace code assignment (as in pq_codes) ...
    legs, luts = [], []
    for s in range(PQ_M):
        lo, hi = s * PQ_DIM + 1, (s + 1) * PQ_DIM
        a, b = f"e.embedding[{lo}:{hi}]", f"c.cemb[{lo}:{hi}]"
        legs.append(
            f"""
      SELECT e.vec_id, e.label, {s} AS s, c.cid,
             CAST({_DOT.format(a=a, b=a)} AS BIGINT)
             - 2 * CAST({_DOT.format(a=a, b=b)} AS BIGINT)
             + CAST({_DOT.format(a=b, b=b)} AS BIGINT) AS dist_fp
      FROM embeddings e CROSS JOIN c"""
        )
        # ... and the ADC lookup table: query slice vs sub-centroid slice
        qa, qb = f"q.qvec[{lo}:{hi}]", f"c.cemb[{lo}:{hi}]"
        luts.append(
            f"""
      SELECT {s} AS s, c.cid,
             CAST({_DOT.format(a=qa, b=qa)} AS BIGINT)
             - 2 * CAST({_DOT.format(a=qa, b=qb)} AS BIGINT)
             + CAST({_DOT.format(a=qb, b=qb)} AS BIGINT) AS lut_fp
      FROM c CROSS JOIN q"""
        )
    union = "\n      UNION ALL\n".join(legs)
    lut_union = "\n      UNION ALL\n".join(luts)
    cos = (
        f"CAST({_DOT.format(a='cent.cvec', b='q.qvec')} AS BIGINT)"
        f" / SQRT(CAST(CAST({_DOT.format(a='cent.cvec', b='cent.cvec')} AS BIGINT) AS DOUBLE)"
        f" * CAST(CAST({_DOT.format(a='q.qvec', b='q.qvec')} AS BIGINT) AS DOUBLE))"
    )
    return f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < {PQ_K}
    ),
    q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    d AS ({union}
    ),
    best AS (
      SELECT vec_id, label, s, cid, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY dist_fp, cid) AS rn
      FROM d
    ),
    lut AS ({lut_union}
    ),
    cc AS (
      SELECT label, CAST(idx AS INTEGER) AS idx,
             CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT)
               / 1000000.0 / COUNT(*) AS cv
      FROM (SELECT label, generate_subscripts(embedding, 1) AS idx,
                   unnest(embedding) AS val
            FROM embeddings)
      GROUP BY label, idx
    ),
    cent AS (SELECT label, list(cv ORDER BY idx) AS cvec FROM cc GROUP BY label),
    cells AS (
      SELECT cent.label FROM cent, q
      ORDER BY {cos} DESC, cent.label
      LIMIT 2
    )
    SELECT b.vec_id AS neighbor_id, b.label,
           CAST(SUM(l.lut_fp) AS BIGINT) AS adc_dist_fp
    FROM best b JOIN lut l ON l.s = b.s AND l.cid = b.cid
    WHERE b.rn = 1
      AND b.label IN (SELECT label FROM cells)
      AND b.vec_id <> 0
    GROUP BY b.vec_id, b.label
    ORDER BY adc_dist_fp, neighbor_id
    LIMIT 10
    """


@query("ivfpq_topk", oracle=_ivfpq_oracle())
def ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ search (Jégou et al. 2011), the billion-vector ANN layout:
    the IVF coarse quantizer picks nprobe=2 cells driver-side from the
    broadcast-sized centroid sidecar (similarity.ivf_centroids), then
    candidates are scored by ASYMMETRIC distance — the query's 32-entry
    (PQ_M × PQ_K) distance LUT is computed driver-side and the per-vector
    distance is pure column arithmetic over the precomputed code table:
    element_at(lut_s, code_s + 1) summed across subspaces.

    Scale design: the search plan touches ONLY the 4-byte codes + label
    (the compressed sidecar — 64× smaller than raw vectors), scoring is
    whole-stage-codegen JVM arithmetic (no Python, no join: the LUT is a
    32-literal array), and the cell filter prunes at the partition level
    when the code table is written partitioned by cell. This is the
    query path that stays RAM-resident at 100 TB of raw vectors."""
    from trialstreamer_spark.operators.similarity import (
        _query_vector,
        ivf_centroids,
        ivf_probe_cells,
    )

    qvec = _query_vector(spark, sf_dir, 0)
    cells = ivf_probe_cells(ivf_centroids(spark, sf_dir), qvec, nprobe=2)
    lut = _adc_lut(qvec, seed_centroids(spark, sf_dir, k=PQ_K))
    codes = pq_codes_table(spark, sf_dir)
    adc = None
    for s in range(PQ_M):
        arr = F.array(*[F.lit(int(v)) for v in lut[s]])
        term = F.element_at(arr, F.col(f"code_{s}") + 1).cast("long")
        adc = term if adc is None else adc + term
    return (
        codes.where(F.col("label").isin(cells) & (F.col("vec_id") != 0))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "label",
            adc.alias("adc_dist_fp"),
        )
        .orderBy(F.col("adc_dist_fp").asc(), F.col("neighbor_id"))
        .limit(10)
    )


def prepare_semdedup(spark: SparkSession, sf_dir: str) -> None:
    """Build the cluster-assignment sidecars (SemDeDup's enriched
    assignment and the plain k-means assignment table)."""
    for sidecar in (
        semdedup_asn_table(spark, sf_dir),
        kmeans_assign_table(spark, sf_dir),
    ):
        sidecar.count()


def _lloyd2_oracle() -> str:
    dist1 = (
        f"CAST({_DOT.format(a='e.embedding', b='e.embedding')} AS BIGINT)"
        f" - 2 * CAST({_DOT.format(a='e.embedding', b='c.cemb')} AS BIGINT)"
        f" + CAST({_DOT.format(a='c.cemb', b='c.cemb')} AS BIGINT)"
    )
    return f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < {K_CLUSTERS}
    ),
    d1 AS (
      SELECT e.vec_id, c.cid, {dist1} AS dist_fp
      FROM embeddings e CROSS JOIN c
    ),
    asn1 AS (
      SELECT vec_id, cid
      FROM (SELECT vec_id, cid, row_number() OVER (
              PARTITION BY vec_id ORDER BY dist_fp, cid) AS rn FROM d1)
      WHERE rn = 1
    ),
    vals AS (
      SELECT e.vec_id, generate_subscripts(e.embedding, 1) AS idx,
             unnest(e.embedding) AS val
      FROM embeddings e
    ),
    sums AS (
      SELECT a.cid AS cluster, v.idx,
             CAST(SUM(CAST(FLOOR(CAST(v.val AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT)
               / 1000000.0 / COUNT(*) AS cv
      FROM vals v JOIN asn1 a ON a.vec_id = v.vec_id
      GROUP BY 1, 2
    ),
    cent2 AS (SELECT cluster, list(cv ORDER BY idx) AS cvec FROM sums GROUP BY cluster),
    d2 AS (
      SELECT e.vec_id, c2.cluster AS cid,
             CAST({_DOT.format(a="e.embedding", b="e.embedding")} AS BIGINT)
             - 2 * CAST({_DOT.format(a="e.embedding", b="c2.cvec")} AS BIGINT)
             + CAST({_DOT.format(a="c2.cvec", b="c2.cvec")} AS BIGINT) AS dist_fp
      FROM embeddings e CROSS JOIN cent2 c2
    )
    SELECT vec_id, CAST(cid AS INTEGER) AS cluster, dist_fp
    FROM (SELECT vec_id, cid, dist_fp, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist_fp, cid) AS rn FROM d2)
    WHERE rn = 1
    ORDER BY vec_id
    """


@query("kmeans_lloyd2", oracle=_lloyd2_oracle())
def kmeans_lloyd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One FULL Lloyd iteration — assign (seed centroids) → centroid
    UPDATE (fixed-point per-cluster means, the vector_centroids
    mechanics keyed by the round-1 assignment) → REASSIGN against the
    updated centroids. Shows the iterative-refinement loop composing
    from the engine's own pieces, with the round-2 centroid matrix
    collected driver-side (k×dim doubles — broadcast-sized, the
    ivf_centroids precedent) and the reassignment again one narrow
    Arrow stage.

    Determinism across engines: centroid components are
    sum(floor(val·1e6))/1e6/count — exact int64 sums, then the identical
    two-division sequence in both engines → bit-identical doubles →
    bit-identical fixed-point distances (oracle unrolls the same two
    rounds in SQL). Empty clusters cannot occur: each seed vector is
    distance 0 from its own centroid in round 1.

    At 100 TB: each iteration is one narrow Arrow pass + one
    (cluster, dim)-keyed aggregation whose shuffle is k×dim rows
    regardless of corpus size; iterations materialize nothing but the
    tiny centroid matrix."""
    e = load(spark, sf_dir, "embeddings")
    cent1 = seed_centroids(spark, sf_dir)
    a1 = assign_udf(cent1)
    asn1 = e.select(
        "vec_id",
        "embedding",
        a1(F.col("embedding")).getField("cluster").alias("cluster"),
    )
    # r11 (guide §2.4): the (cluster, idx) aggregate's k×dim rows are
    # collected DIRECTLY and the centroid matrix assembled driver-side
    # — the old second groupBy(cluster) + collect_list/array_sort pass
    # cost one more aggregate exchange to re-shape 512 rows the driver
    # was about to materialize anyway. (A wide one-level
    # groupBy(cluster) with one sum column per dimension was measured
    # 3× SLOWER at sf0.1 — 65 aggregate buffers fall out of whole-stage
    # codegen — so the posexplode shape stays.) Per-component
    # arithmetic is unchanged (exact int64 fixed-point sums, then the
    # identical two-division sequence), so the centroids are
    # bit-identical.
    sums = (
        asn1.select(
            "cluster", F.posexplode("embedding").alias("idx0", "val")
        )
        .select(
            "cluster",
            F.col("idx0").alias("idx"),
            F.floor(F.col("val").cast("double") * 1_000_000)
            .cast("long")
            .alias("v_fp"),
        )
        .groupBy("cluster", "idx")
        .agg((F.sum("v_fp") / 1_000_000.0 / F.count("*")).alias("cv"))
    )
    dim = cent1.shape[1]
    cent2 = np.zeros((K_CLUSTERS, dim), dtype=np.float64)
    for r in sums.collect():
        cent2[r["cluster"], r["idx"]] = r["cv"]
    # round-2 cluster ids = positions in the sorted centroid matrix; all
    # K_CLUSTERS clusters are non-empty (each seed sits in its own), so
    # position == round-1 cluster id
    a2 = assign_udf(cent2)
    return (
        e.select("vec_id", a2(F.col("embedding")).alias("a"))
        .select(
            "vec_id",
            F.col("a.cluster").alias("cluster"),
            F.col("a.dist_fp").alias("dist_fp"),
        )
        .orderBy("vec_id")
    )


@query(
    "kmeans_cluster_balance",
    oracle=f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < {K_CLUSTERS}
    ),
    d AS (
      SELECT e.vec_id, c.cid,
             CAST({_DOT.format(a="e.embedding", b="e.embedding")} AS BIGINT)
             - 2 * CAST({_DOT.format(a="e.embedding", b="c.cemb")} AS BIGINT)
             + CAST({_DOT.format(a="c.cemb", b="c.cemb")} AS BIGINT) AS dist_fp
      FROM embeddings e CROSS JOIN c
    ),
    best AS (
      SELECT vec_id, cid, dist_fp,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist_fp, cid) AS rn
      FROM d
    ),
    asn AS (SELECT vec_id, cid AS cluster, dist_fp FROM best WHERE rn = 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM asn)
    SELECT CAST(a.cluster AS INTEGER) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST((1000000 * COUNT(*)) // t.n_total AS BIGINT) AS share_fp,
           CAST((1000000 * {K_CLUSTERS} * COUNT(*)) // t.n_total AS BIGINT)
             AS balance_fp,
           CAST(MAX(a.dist_fp) AS BIGINT) AS max_dist_fp
    FROM asn a CROSS JOIN tot t
    GROUP BY a.cluster, t.n_total
    ORDER BY cluster
    """,
)
def kmeans_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-load audit for the IVF/k-means partitioning: per cluster,
    its vector count, fixed-point corpus share, balance factor (share ×
    k — 10⁶ means perfectly balanced; ≫10⁶ flags a hot cell that will
    dominate every probe that touches it), and the worst assignment
    distance (a large max_dist_fp marks a cell whose tail is barely
    represented by its centroid — split candidates). The partition-skew
    dashboard every IVF deployment watches before fixing nlist/nprobe.

    Determinism: shares are integer divisions of exact counts
    (`(10⁶·n) div N`), distances the fixed-point kernel's int64 — no
    float crosses the oracle boundary.

    Scale shape: one Arrow assignment pass (centroids in the closure) →
    per-cluster rollup partial-aggregated map-side to k rows; the
    corpus total is Σ n_vecs, riding a single-partition window over
    those k rows (r11, guide §2.4 — the old separate COUNT(*) leg was
    a SECOND full assignment pass plus a broadcast build, two more
    scheduler jobs for a value the rollup already holds). Nothing
    shuffles but (cluster, partial) rows."""
    asn = kmeans_assign(spark, sf_dir)
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        asn.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vecs"),
            F.max("dist_fp").alias("max_dist_fp"),
        )
        .coalesce(1)
        .withColumn("n_total", F.sum("n_vecs").over(w_all))
        .select(
            "cluster",
            "n_vecs",
            F.expr("(1000000 * n_vecs) DIV n_total").alias("share_fp"),
            F.expr(f"(1000000 * {K_CLUSTERS} * n_vecs) DIV n_total").alias(
                "balance_fp"
            ),
            "max_dist_fp",
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("cluster")
    )


@query(
    "kmeans_cluster_purity",
    oracle=f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < {K_CLUSTERS}
    ),
    d AS (
      SELECT e.vec_id, c.cid,
             CAST({_DOT.format(a="e.embedding", b="e.embedding")} AS BIGINT)
             - 2 * CAST({_DOT.format(a="e.embedding", b="c.cemb")} AS BIGINT)
             + CAST({_DOT.format(a="c.cemb", b="c.cemb")} AS BIGINT) AS dist_fp
      FROM embeddings e CROSS JOIN c
    ),
    best AS (
      SELECT vec_id, cid, dist_fp,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist_fp, cid) AS rn
      FROM d
    ),
    asn AS (
      SELECT b.vec_id, b.cid AS cluster, e.label
      FROM best b JOIN embeddings e ON b.vec_id = e.vec_id
      WHERE b.rn = 1
    ),
    cl AS (
      SELECT cluster, label, COUNT(*) AS n
      FROM asn GROUP BY 1, 2
    ),
    ranked AS (
      SELECT cluster, label, n,
             CAST(SUM(n) OVER (PARTITION BY cluster) AS BIGINT) AS n_vecs,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY n DESC, label) AS rn
      FROM cl
    )
    SELECT CAST(cluster AS INTEGER) AS cluster,
           n_vecs,
           CAST(label AS INTEGER) AS majority_label,
           CAST(n AS BIGINT) AS majority_n,
           CAST((1000000 * n) // n_vecs AS BIGINT) AS purity_fp
    FROM ranked
    WHERE rn = 1
    ORDER BY cluster
    """,
)
def kmeans_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-purity evaluation: per k-means cell, the majority ground-
    truth label and its share — the standard external clustering metric
    (purity) a pipeline computes before trusting cluster-routed
    curation (SemDeDup-style pruning inherits every impurity). Pairs
    with kmeans_cluster_balance: balance says cells are evenly loaded,
    purity says the load is semantically coherent.

    Determinism: majority pick is (count DESC, label) pinned both
    sides; purity is an integer floor-division of exact counts.

    Scale shape: rides the SAME persisted assignment sidecar as the
    balance audit (no re-assignment — the featurization is one Arrow
    pass per corpus version); the label join keys on vec_id; the
    (cluster, label) rollup is |k × labels| rows, the per-cluster
    window runs over that tiny frame, never the corpus."""
    asn = kmeans_assign(spark, sf_dir)
    labels = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    cl = (
        asn.join(labels, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count("*").alias("n"))
    )
    wsum = W.partitionBy("cluster")
    wrank = W.partitionBy("cluster").orderBy(F.col("n").desc(), "label")
    return (
        cl.withColumn("n_vecs", F.sum("n").over(wsum))
        .withColumn("rn", F.row_number().over(wrank))
        .where(F.col("rn") == 1)
        .select(
            "cluster",
            "n_vecs",
            F.col("label").alias("majority_label"),
            F.col("n").alias("majority_n"),
            F.expr("(1000000 * n) DIV n_vecs").alias("purity_fp"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("cluster")
    )


@query(
    "label_source_affinity",
    oracle="""
    WITH j AS (
      SELECT e.label, d.source
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
    ),
    ls AS (SELECT label, source, CAST(COUNT(*) AS BIGINT) AS n_ls
           FROM j GROUP BY 1, 2),
    l AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_l FROM j GROUP BY 1),
    s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM j GROUP BY 1),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM j)
    SELECT ls.label, ls.source, ls.n_ls,
           CAST((1000000 * ls.n_ls * t.n) // (l.n_l * s.n_s) AS BIGINT)
             AS lift_fp
    FROM ls JOIN l ON ls.label = l.label
            JOIN s ON ls.source = s.source
            CROSS JOIN t
    ORDER BY ls.label, ls.source
    """,
)
def label_source_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-label × document-source contingency with pointwise
    lift (observed / expected-under-independence, 1e-6 fixed point):
    the leakage audit run before stratified splits — a label that
    concentrates in one source (lift >> 1) means the embedding space
    memorized provenance, and any eval split keyed on label silently
    keys on source too (the reference's match-rate pivot is the same
    contingency shape over registries).

    Scale shape: ONE doc-keyed join (at 100 TB both sides bucket by
    doc_id; here the embedding projection is narrow) feeding ONE
    (label, source) rollup; both margins and the total are re-sums of
    that |labels × sources|-bounded contingency frame, never re-joins
    of the corpus (the round-8 formulation re-ran the join once per
    margin — 4 corpus joins — and measured 53x DuckDB at sf1 on pure
    fixed overhead; round 10 folded the remaining three broadcast-back
    legs into windows on the single-partition frame). The lift
    arithmetic is exact int64: counts ≤ corpus size keep
    1e6 · n_ls · n far below 2^63."""
    from trialstreamer_spark.io import load_meta

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    d = load_meta(spark, sf_dir, "documents").select("doc_id", "source")
    j = e.join(d, e.vec_id == d.doc_id).select("label", "source")
    # Margins and total as WINDOWS over the single-partition contingency
    # frame (≤|labels × sources| rows), not as three aggregate legs
    # broadcast-joined back: each broadcast build was its own job (plus
    # a re-read of the ls exchange), so the plan paid ~5 scheduler
    # round-trips for a 200-row frame. One corpus shuffle, zero
    # broadcasts, every downstream op on SinglePartition (r9 VERDICT #5).
    from pyspark.sql import Window as W

    ls = (
        j.groupBy("label", "source")
        .agg(F.count("*").alias("n_ls"))
        .coalesce(1)
    )
    return (
        ls.select(
            "label",
            "source",
            "n_ls",
            F.sum("n_ls").over(W.partitionBy("label")).alias("n_l"),
            F.sum("n_ls").over(W.partitionBy("source")).alias("n_s"),
            F.sum("n_ls").over(W.partitionBy()).alias("n"),
        )
        .select(
            "label",
            "source",
            "n_ls",
            F.expr("(1000000 * n_ls * n) DIV (n_l * n_s)").alias("lift_fp"),
        )
        .sortWithinPartitions("label", "source")
    )
