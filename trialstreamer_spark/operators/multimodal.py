"""Multimodal columns: image/audio/video as opaque binary columns with
typed metadata, processed by Arrow-batched mapInPandas stages.

North-star extension (not in the reference, which is text-only): a
100 TB training-data pipeline carries media columns through the same
tables. Design:

- media rows are ``(id, modality, content binary, meta struct)`` —
  binary stays opaque to Catalyst (no codec in the JVM path), metadata
  is typed so filters on (modality, width, sample_rate, duration) prune
  BEFORE any decode;
- decode / feature-extract / resize / frame-sample run as mapInPandas
  over Arrow batches — one decoder init per batch, zero-copy binary
  transfer;
- the actual codecs (PIL/libav) are NOT in this container, so the
  decode step is pluggable: production injects a real decoder, tests a
  deterministic fake. The Spark plumbing — schema, batch shape,
  partitioning, pushdown-friendly metadata — is real and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trialstreamer_spark.plans.registry import query

MEDIA_SCHEMA = (
    "media_id long, modality string, content binary, "
    "meta struct<width:int, height:int, sample_rate:int, duration_ms:int, codec:string>"
)

FEATURE_SCHEMA = "media_id long, modality string, n_bytes int, feature array<float>"


def real_decoder(content: bytes, modality: str) -> list[float]:  # pragma: no cover
    """Production decode+featurize. Requires PIL/torchaudio/av — not in
    this container by design."""
    raise NotImplementedError(
        "media codecs unavailable in this environment; inject a decoder"
    )


def fake_decoder(content: bytes, modality: str) -> list[float]:
    """Deterministic stand-in: 8 md5-derived floats. Same signature and
    output shape as real_decoder, so the pipeline is swap-tested."""
    h = hashlib.md5(content).hexdigest()
    return [int(h[i * 4 : i * 4 + 4], 16) / 65535.0 for i in range(8)]


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes, str], list[float]] = fake_decoder,
    modality: str | None = None,
) -> DataFrame:
    """Decode+featurize as a mapInPandas stage. The modality filter and
    any metadata predicates apply BEFORE this stage so only matching
    rows' binary ever crosses the Arrow boundary."""
    df = media if modality is None else media.filter(F.col("modality") == modality)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["content"].map(len),
                    "feature": [
                        decoder(bytes(c), m)
                        for c, m in zip(pdf["content"], pdf["modality"])
                    ],
                }
            )

    return df.select("media_id", "modality", "content").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic media table over the documents corpus (the testdata
    has no binary columns): content = utf-8 bytes of the text, modality
    cycles by id, metadata derived from n_chars. Exists so the multimodal
    plumbing is driver-oracle-checkable end-to-end, not just unit-tested."""
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        modality.alias("modality"),
        F.col("text").cast("binary").alias("content"),
        F.struct(
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.col("n_chars") % 5000).cast("int").alias("duration_ms"),
            F.lit("synthetic").alias("codec"),
        ).alias("meta"),
    )


# first md5-derived feature of fake_decoder, spelled in portable SQL:
# 4 hex chars -> int via digit positions, / 65535.0, narrowed to REAL to
# match the pipeline's array<float> storage (same IEEE double->float
# rounding in both engines).
_DD_HEX4 = (
    "((instr('0123456789abcdef', substr({h}, 1, 1)) - 1) * 4096"
    " + (instr('0123456789abcdef', substr({h}, 2, 1)) - 1) * 256"
    " + (instr('0123456789abcdef', substr({h}, 3, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr({h}, 4, 1)) - 1))"
)


@query(
    "multimodal_decode_stats",
    oracle=f"""
    WITH media AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             encode(text) AS content,
             -- DuckDB md5 takes VARCHAR only; hashing the varchar hashes
             -- the same utf-8 bytes as md5 over encode(text)
             md5(text) AS content_md5,
             CAST(n_chars % 640 AS INTEGER) AS width
      FROM documents
    ),
    decoded AS (
      SELECT media_id, modality,
             CAST(octet_length(content) AS INTEGER) AS n_bytes,
             CAST({_DD_HEX4.format(h="content_md5")} / 65535.0 AS REAL) AS f0
      FROM media
      WHERE width >= 100
    )
    SELECT media_id, modality, n_bytes, f0
    FROM decoded
    ORDER BY media_id
    """,
)
def multimodal_decode_stats(spark, sf_dir: str) -> DataFrame:
    """Driver-checked multimodal pipeline: synthesize media → prune on
    typed metadata (width >= 100, BEFORE any binary crosses to Python) →
    Arrow-batched decode/featurize (deterministic md5 fake in place of
    the codec seam) → per-media feature projection. The oracle replays
    the fake decoder's first feature in SQL; the full 8-float feature
    vector is computed by the same plumbing production uses."""
    from trialstreamer_spark.io import load

    d = load(spark, sf_dir, "documents")
    media = synthesize_media(d).filter(F.col("meta.width") >= 100)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "modality",
        "n_bytes",
        F.col("feature")[0].alias("f0"),
    ).orderBy("media_id")  # per-media output scales with the corpus; the
    # Arrow decode has no shuffle below it, so a coalesce(1) would
    # serialize the decode stage — keep the parallel range sort.


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling plan: one output row per sampled timestamp,
    computed from metadata only (duration_ms) — the expensive decode is
    deferred to extract_features on the exploded rows. Explode is narrow;
    no shuffle until a downstream aggregate."""
    n_frames = F.greatest(
        (F.col("meta.duration_ms") / every_ms).cast("int"), F.lit(1)
    )
    return media.filter(F.col("modality") == "video").select(
        "media_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_frames - 1), lambda i: i * every_ms
            )
        ).alias("frame_ts_ms"),
        "content",
    )


RESIZED_SCHEMA = (
    "media_id long, width int, height int, content binary, n_bytes_out int"
)


def fake_resizer(content: bytes, w: int, h: int) -> bytes:
    """Deterministic stand-in for an image resize: produce exactly w·h
    bytes by tiling/truncating the source. Same signature as a PIL-backed
    resizer (bytes in, bytes out, target geometry), so the pipeline is
    swap-tested without the codec."""
    need = w * h
    if not content:
        return b"\x00" * need
    reps = -(-need // len(content))
    return (content * reps)[:need]


def resize_images(
    media: DataFrame,
    width: int = 64,
    height: int = 64,
    resizer: Callable[[bytes, int, int], bytes] = fake_resizer,
) -> DataFrame:
    """Image resize as a mapInPandas stage: modality filter + metadata
    pruning stay ABOVE the Arrow boundary (only image rows' binary
    crosses); one resizer init per batch. Production injects a
    PIL/libvips-backed resizer; the fake keeps the byte-geometry
    contract (len == width·height) testable here."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = [resizer(bytes(c), width, height) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": width,
                    "height": height,
                    "content": out,
                    "n_bytes_out": [len(c) for c in out],
                }
            )

    return (
        media.filter(F.col("modality") == "image")
        .select("media_id", "content")
        .mapInPandas(run, schema=RESIZED_SCHEMA)
    )


FRAME_FEATURE_SCHEMA = "media_id long, frame_ts_ms long, f0 float"


def fake_frame_decoder(content: bytes, ts_ms: int) -> float:
    """Per-frame feature stand-in: first md5-derived float of the frame
    'decoded' at ts_ms (hash of content bytes + ':' + timestamp — the
    portable hash family, reproducible in SQL)."""
    h = hashlib.md5(content + f":{ts_ms}".encode()).hexdigest()
    return int(h[:4], 16) / 65535.0


@query(
    "multimodal_frame_features",
    oracle=f"""
    WITH media AS (
      SELECT doc_id AS media_id, text,
             CAST(n_chars % 5000 AS INTEGER) AS duration_ms
      FROM documents
      WHERE doc_id % 3 = 2
    ),
    frames AS (
      SELECT media_id, CAST(i * 1000 AS BIGINT) AS frame_ts_ms,
             md5(text || ':' || CAST(i * 1000 AS BIGINT)) AS fh
      FROM media,
           UNNEST(range(0, GREATEST(duration_ms // 1000, 1))) AS u(i)
    )
    SELECT media_id, frame_ts_ms,
           CAST({_DD_HEX4.format(h="fh")} / 65535.0 AS REAL) AS f0
    FROM frames
    ORDER BY media_id, frame_ts_ms
    """,
)
def multimodal_frame_features(spark, sf_dir: str) -> DataFrame:
    """Driver-checked frame-sampling pipeline: synthesize media → explode
    sample timestamps from METADATA ONLY (frame_sample — no binary is
    touched to decide the frames) → Arrow-batched per-frame decode
    (deterministic fake in place of the libav seam). One row per
    (video, sampled frame) with the frame's first feature.

    Scale shape: the explode multiplies rows BEFORE the Python stage, so
    each Arrow batch carries (content, ts) pairs and the decoder inits
    once per batch — the same batch-amortization a real video pipeline
    needs; no shuffle anywhere (narrow end-to-end until the final
    presentation sort)."""
    from trialstreamer_spark.io import load

    d = load(spark, sf_dir, "documents")
    frames = frame_sample(synthesize_media(d), every_ms=1000)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_ts_ms": pdf["frame_ts_ms"],
                    "f0": pd.Series(
                        [
                            fake_frame_decoder(bytes(c), int(t))
                            for c, t in zip(pdf["content"], pdf["frame_ts_ms"])
                        ],
                        dtype="float32",
                    ),
                }
            )

    return (
        frames.mapInPandas(run, schema=FRAME_FEATURE_SCHEMA)
        # per-frame output scales with the corpus and the frame
        # featurizer has no shuffle below it — a coalesce(1) would
        # run the whole Arrow stage in one task; keep the range sort.
        .orderBy("media_id", "frame_ts_ms")
    )


#: Audio segmentation window/hop (ms): 1 s windows every 500 ms — the
#: overlapping pre-segmentation an ASR/embedding pass consumes.
AUDIO_WIN_MS, AUDIO_HOP_MS = 1000, 500


def audio_segments(media: DataFrame) -> DataFrame:
    """Audio window plan: one row per (media, segment window), computed
    from TYPED METADATA ONLY (duration_ms, sample_rate) — the binary
    column never crosses to Python here; the expensive decode runs later
    on exactly the surviving segment rows (same defer-the-decode
    discipline as frame_sample). Windows start every AUDIO_HOP_MS and
    are clipped to the clip's duration; n_samples is exact integer
    arithmetic over the metadata."""
    seg_start = F.col("seg_idx") * AUDIO_HOP_MS
    seg_end = F.least(seg_start + AUDIO_WIN_MS, F.col("meta.duration_ms"))
    return (
        media.filter(
            (F.col("modality") == "audio") & (F.col("meta.duration_ms") > 0)
        )
        .select(
            "media_id",
            "content",
            "meta",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.col("meta.duration_ms") / AUDIO_HOP_MS).cast("int")
                    - 1,
                )
            ).alias("seg_idx"),
        )
        .select(
            "media_id",
            "content",
            "seg_idx",
            seg_start.cast("long").alias("start_ms"),
            seg_end.cast("long").alias("end_ms"),
            ((seg_end - seg_start) * F.col("meta.sample_rate") / 1000)
            .cast("long")
            .alias("n_samples"),
        )
    )


@query(
    "multimodal_audio_segments",
    oracle=f"""
    WITH audio AS (
      SELECT doc_id AS media_id,
             CAST(n_chars % 5000 AS INTEGER) AS duration_ms
      FROM documents
      WHERE doc_id % 3 = 1 AND n_chars % 5000 > 0
    ),
    segs AS (
      SELECT media_id, CAST(i AS INTEGER) AS seg_idx,
             CAST(i * {AUDIO_HOP_MS} AS BIGINT) AS start_ms,
             CAST(LEAST(i * {AUDIO_HOP_MS} + {AUDIO_WIN_MS}, duration_ms)
                  AS BIGINT) AS end_ms
      FROM audio,
           UNNEST(range(0, CAST(CEIL(duration_ms / {AUDIO_HOP_MS}.0) AS BIGINT)))
             AS u(i)
    )
    SELECT media_id, seg_idx, start_ms, end_ms,
           CAST((end_ms - start_ms) * 16000 // 1000 AS BIGINT) AS n_samples
    FROM segs
    ORDER BY media_id, seg_idx
    """,
)
def multimodal_audio_segments(spark, sf_dir: str) -> DataFrame:
    """Driver-checked audio pre-segmentation: synthesize media →
    metadata-only overlapping windows (audio_segments) → per-segment
    bounds and exact sample counts. Completes the per-modality stage
    set: resize (image), frame-sample (video), segment (audio) — all
    three prune/plan from typed metadata and defer binary decode to the
    Arrow seam."""
    from trialstreamer_spark.io import load

    d = load(spark, sf_dir, "documents")
    return (
        audio_segments(synthesize_media(d))
        .select("media_id", "seg_idx", "start_ms", "end_ms", "n_samples")
        .orderBy("media_id", "seg_idx")
    )


#: Perceptual-hash geometry for the media near-dup path: a 60-bit hash
#: (15 md5 hex chars — int64-safe in every engine), banded into 4
#: 15-bit LSH buckets (4 hex chars each from the leading 16), candidate
#: pairs verified by Hamming distance ≤ PHASH_MAX_HAMMING.
PHASH_HEX = 15
PHASH_BANDS = 4
PHASH_MAX_HAMMING = 8
#: The deterministic "decode" downsamples the blob to its canonical
#: 12-token prefix before hashing — the thumbnail step of a real
#: perceptual hash (downsample → hash), so blobs of near-identical
#: media collide while the pipeline stays bit-exact and oracle-checkable.
PHASH_PREFIX_TOKENS = 12


def media_phash_bands(spark, sf_dir: str) -> DataFrame:
    """(media_id, phash, band_id, band_key): the persisted media index of
    multimodal_phash_dedup — each blob decoded, hashed to its
    perceptual fingerprint and banded once per corpus version (a disk
    sidecar). Both sides of the candidate self-join read it; uncached,
    each side would decode the whole media corpus independently."""
    from trialstreamer_spark.io import load
    from trialstreamer_spark.sidecars import disk_cached_plan

    def build_bands() -> DataFrame:
        media = synthesize_media(load(spark, sf_dir, "documents"))
        # "decode" the blob: normalize the decoded bytes and DOWNSAMPLE
        # to the canonical PHASH_PREFIX_TOKENS-token prefix (the
        # thumbnail step a real perceptual hash performs on pixels),
        # then hash.
        norm = F.trim(
            F.regexp_replace(
                F.regexp_replace(
                    F.lower(F.col("content").cast("string")),
                    "[^a-z0-9 ]",
                    " ",
                ),
                " +",
                " ",
            )
        )
        toks = F.filter(F.split(norm, r"\s+"), lambda t: t != "")
        md5c = F.md5(
            F.concat_ws(" ", F.slice(toks, 1, PHASH_PREFIX_TOKENS))
        )
        n_parts = spark.sparkContext.defaultParallelism
        return (
            media.repartition(n_parts, F.col("media_id"))
            .select(
                "media_id",
                F.conv(F.substring(md5c, 1, PHASH_HEX), 16, 10)
                .cast("long")
                .alias("phash"),
                F.substring(md5c, 1, 16).alias("hex16"),
            )
            .select(
                "media_id",
                "phash",
                F.posexplode(
                    F.array(
                        *[
                            F.substring("hex16", 1 + 4 * i, 4)
                            for i in range(PHASH_BANDS)
                        ]
                    )
                ).alias("band_id", "band_key"),
            )
        )

    return disk_cached_plan(spark, sf_dir, "media_phash_bands", build_bands)


@query(
    "multimodal_phash_dedup",
    oracle=f"""
    WITH dec AS (
      SELECT doc_id AS media_id,
             md5(array_to_string(list_slice(list_filter(
                 string_split_regex(trim(regexp_replace(regexp_replace(
                     lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')),
                   '\\s+'),
                 t -> t <> ''), 1, {PHASH_PREFIX_TOKENS}), ' ')) AS m
      FROM documents
    ),
    ph AS (
      SELECT media_id,
             ('0x' || substr(m, 1, {PHASH_HEX}))::BIGINT AS phash,
             substr(m, 1, 16) AS hex16
      FROM dec
    ),
    bands AS (
      SELECT media_id, phash, i AS band_id,
             substr(hex16, 1 + 4 * i, 4) AS band_key
      FROM ph, UNNEST(range(0, {PHASH_BANDS})) AS u(i)
    ),
    cand AS (
      SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
             a.phash AS pa, b.phash AS pb
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.media_id < b.media_id
    )
    SELECT media_a, media_b,
           CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(pa, pb)) <= {PHASH_MAX_HAMMING}
    ORDER BY media_a, media_b
    """,
)
def multimodal_phash_dedup(spark, sf_dir: str) -> DataFrame:
    """Near-dup detection for BINARY media columns: perceptual-hash LSH
    — decode each blob to its canonical representation, hash to a
    60-bit fingerprint, band into 4 buckets, equi-join bucket
    collisions, verify candidates by Hamming distance. The standard
    image-dedup shape (pHash/aHash + banded Hamming join); the
    DECODE+HASH is the deterministic codec-seam stand-in (text
    normalization + md5 over the decoded bytes — a real deployment
    swaps in a true perceptual hash
    behind the same column contract, exactly like extract_features'
    decoder seam), while the banding, candidate join, XOR/bit_count
    verify, and pair output are the production plumbing, all JVM-side.

    Scale shape: identical to minhash_candidates — band-bucket equi-join
    over a (media, 4-band) table, never media × media; the binary never
    leaves the scan (the fingerprint is computed in the JVM); verify is
    two integer ops per candidate pair. At 100 TB the fingerprint table
    is the persisted sidecar and re-banding for a different radius is a
    metadata-only operation."""
    bands = media_phash_bands(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.expr("bit_count(pa ^ pb)")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
            F.col("a.phash").alias("pa"),
            F.col("b.phash").alias("pb"),
        )
        .distinct()
        .where(hamming <= PHASH_MAX_HAMMING)
        .select(
            "media_a",
            "media_b",
            hamming.cast("int").alias("hamming"),
        )
        .orderBy("media_a", "media_b")
    )


@query(
    "multimodal_aspect_buckets",
    oracle="""
    WITH img AS (
      SELECT CAST(n_chars % 640 AS INTEGER) AS width,
             CAST(n_chars % 480 AS INTEGER) AS height
      FROM documents
      WHERE doc_id % 3 = 0
    )
    SELECT CASE WHEN width * 3 >= height * 4 THEN 'wide'
                WHEN height * 3 >= width * 4 THEN 'tall'
                ELSE 'balanced' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(MIN(width) AS INTEGER) AS min_w,
           CAST(MAX(width) AS INTEGER) AS max_w,
           CAST(MIN(height) AS INTEGER) AS min_h,
           CAST(MAX(height) AS INTEGER) AS max_h
    FROM img
    GROUP BY 1
    ORDER BY 1
    """,
)
def multimodal_aspect_buckets(spark, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing for batched image inference: group the
    image corpus into wide/tall/balanced shape classes so a resize/
    batch-inference stage can pad within a bucket instead of to the
    global max — the standard multimodal-training batching strategy.

    Scale shape: METADATA-ONLY planning — the bucket assignment reads
    the typed meta struct, so no binary content column is ever scanned,
    decoded, or shipped to Python (the same prune-before-decode contract
    as multimodal_decode_stats; column pruning drops `content` at the
    scan). One |buckets|-key rollup finishes. The when-chain order is
    pinned and mirrored in the oracle CASE so boundary shapes (e.g.
    degenerate 0-width thumbnails) classify identically."""
    from trialstreamer_spark.io import load

    d = load(spark, sf_dir, "documents")
    media = synthesize_media(d).where(F.col("modality") == "image")
    w, h = F.col("meta.width"), F.col("meta.height")
    bucket = (
        F.when(w * 3 >= h * 4, "wide")
        .when(h * 3 >= w * 4, "tall")
        .otherwise("balanced")
    )
    return (
        media.select(bucket.alias("bucket"), w.alias("width"), h.alias("height"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_images"),
            F.min("width").alias("min_w"),
            F.max("width").alias("max_w"),
            F.min("height").alias("min_h"),
            F.max("height").alias("max_h"),
        )
        # dimension/calendar-bounded tail: single-partition sort,
        # no range exchange / sampling job (r10 registry-wide sweep)
        .coalesce(1)
        .sortWithinPartitions("bucket")
    )


#: multimodal_storage_budget — target media-shard file size. Scaled to
#: the synthetic corpus (production would use GiB-scale shards); the
#: ceiling arithmetic is size-independent.
MEDIA_SHARD_BYTES = 1 << 20


@query(
    "multimodal_storage_budget",
    oracle=f"""
    WITH media AS (
      SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    census AS (
      SELECT modality, n_bytes, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM media GROUP BY 1, 2
    ),
    cum AS (
      SELECT modality, n_bytes, cnt,
             SUM(cnt) OVER (PARTITION BY modality ORDER BY n_bytes) AS cum_n,
             SUM(cnt) OVER (PARTITION BY modality) AS n,
             SUM(n_bytes * cnt) OVER (PARTITION BY modality) AS total_bytes
      FROM census
    )
    SELECT modality,
           CAST(MAX(n) AS BIGINT) AS n_items,
           CAST(MAX(total_bytes) AS BIGINT) AS total_bytes,
           CAST(MIN(CASE WHEN 100 * cum_n >= 50 * n THEN n_bytes END)
                AS BIGINT) AS p50_bytes,
           CAST(MIN(CASE WHEN 100 * cum_n >= 90 * n THEN n_bytes END)
                AS BIGINT) AS p90_bytes,
           CAST((MAX(total_bytes) + {MEDIA_SHARD_BYTES} - 1)
                // {MEDIA_SHARD_BYTES} AS BIGINT) AS n_shards
    FROM cum
    GROUP BY modality
    ORDER BY modality
    """,
)
def multimodal_storage_budget(spark, sf_dir: str) -> DataFrame:
    """Per-modality storage budget for the media shard write: item
    count, total payload bytes, exact p50/p90 item sizes, and the
    projected shard-file count at MEDIA_SHARD_BYTES per shard — the
    table that sizes a webdataset-style media export (how many shard
    files, how skewed the item sizes, whether one modality needs its
    own shard budget) BEFORE any bytes move.

    METADATA-ONLY planning, the module's prune-before-decode contract:
    the payload size is octet_length of the content column — Catalyst
    evaluates it JVM-side without shipping a single binary byte to
    Python, and no decode runs. Exact quantiles use the same
    value-census CDF discipline as weekly_value_quantile_drift: the
    shuffle carries (modality, size, count) rows bounded by the size
    domain, never corpus rows; the per-modality window partitions on
    modality (3 groups, census-bounded frames)."""
    from trialstreamer_spark.io import load
    from pyspark.sql import Window as W

    media = synthesize_media(load(spark, sf_dir, "documents"))
    census = (
        media.select(
            "modality", F.octet_length("content").cast("long").alias("n_bytes")
        )
        .groupBy("modality", "n_bytes")
        .agg(F.count("*").alias("cnt"))
    )
    wm = W.partitionBy("modality")
    cum = census.select(
        "modality",
        "n_bytes",
        F.sum("cnt").over(wm.orderBy("n_bytes")).alias("cum_n"),
        F.sum("cnt").over(wm).alias("n"),
        F.sum(F.col("n_bytes") * F.col("cnt")).over(wm).alias("total_bytes"),
    )

    def pctl(p: int, name: str):
        return (
            F.min(
                F.when(
                    100 * F.col("cum_n") >= p * F.col("n"), F.col("n_bytes")
                )
            )
            .cast("long")
            .alias(name)
        )

    return (
        cum.groupBy("modality")
        .agg(
            F.max("n").alias("n_items"),
            F.max("total_bytes").alias("total_bytes"),
            pctl(50, "p50_bytes"),
            pctl(90, "p90_bytes"),
        )
        .select(
            "modality",
            "n_items",
            "total_bytes",
            "p50_bytes",
            "p90_bytes",
            F.expr(
                f"(total_bytes + {MEDIA_SHARD_BYTES} - 1)"
                f" DIV {MEDIA_SHARD_BYTES}"
            ).alias("n_shards"),
        )
        # modality-bounded tail: single-partition sort, no range exchange
        .coalesce(1)
        .sortWithinPartitions("modality")
    )
