"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for image/audio/video at 100 TB: media lives in ``binary``
columns (or object-store pointers) beside typed metadata; decode /
feature-extraction runs as Arrow-batched ``mapInPandas`` so bytes never
leave the executor and batches amortize Python crossing costs.

The container has no image/audio libraries, so the *decode* step is a
deterministic fake behind ``decode_stub`` (clearly marked; swap in PIL/
torchaudio per deployment) — everything Spark-side (schema, batch
iteration, partitioning, UDF signatures) is real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_realtime_pipeline_spark.session import load_table

MEDIA_SCHEMA = (
    "doc_id long, media_type string, payload binary, n_bytes long, width int, height int"
)

FEATURE_SCHEMA = "doc_id long, n_bytes long, width int, height int, mean_byte double"


def synthesize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → fake media rows: payload = utf-8 bytes of the text,
    metadata derived deterministically (stands in for real image blobs)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.length(F.encode(F.col("text"), "utf-8")).cast("long").alias("n_bytes"),
        (F.col("doc_id") % 640 + 1).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 1).cast("int").alias("height"),
    )


def decode_stub(payload: bytes) -> dict:
    """STUB decoder — deterministic fake features from raw bytes.

    Replace with a real decoder (PIL.Image.open / soundfile / pyav) in
    a deployment image; the operator contract (bytes in → feature dict
    out) is what the pipeline depends on.
    """
    if payload is None:
        raise NotImplementedError("real media decode requires PIL/soundfile/pyav")
    return {"mean_byte": (sum(payload) / len(payload)) if payload else 0.0}


def extract_media_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [decode_stub(p)["mean_byte"] for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["n_bytes"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "mean_byte": feats,
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal pipeline: synthesize → decode(stub) → features.

    mean_byte is round-tripped to 4 decimals; the oracle recomputes the
    same quantity from text bytes SQL-side, so the whole binary-column
    path (encode → mapInPandas → features) is oracle-gated.
    """
    out = extract_media_features(synthesize_media(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        F.round("mean_byte", 4).alias("mean_byte"),
    ).orderBy("doc_id")


# texts are ASCII (a-z words + spaces), so utf-8 bytes == unicode code
# points — mean_byte is expressible exactly in SQL.
MEDIA_FEATURES_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       CAST(doc_id % 640 + 1 AS INTEGER) AS width,
       CAST(doc_id % 480 + 1 AS INTEGER) AS height,
       round(list_sum(list_transform(string_split(text, ''), c -> unicode(c)))
             / greatest(length(text), 1), 4) AS mean_byte
FROM documents ORDER BY doc_id
"""


RESIZED_SCHEMA = (
    "doc_id long, media_type string, out_width int, out_height int, n_patches long"
)


_RESIZE_PX = 224  # short side after resize
_PATCH_PX = 16  # ViT patch edge


def resize_and_patch(media: DataFrame) -> DataFrame:
    """Image-pipeline plumbing: resize-to-``_RESIZE_PX`` + patch-count
    (the ViT preprocessing shape), as an Arrow-batched transform.

    The pixel work is stubbed (no image libs in this container — a real
    deployment drops PIL into ``_resize_stub``); the aspect-ratio and
    patch-grid math, batch iteration, and schema contract are real.
    """

    def _resize_stub(w: int, h: int) -> tuple[int, int]:
        # preserve aspect ratio, short side → target (PIL.Image.resize
        # would produce exactly these dims; bytes are not materialized).
        # floor(x+0.5), not round(): Python round() is banker's rounding
        # and would disagree with the SQL oracle on exact .5 halves.
        def r(x: float) -> int:
            return int(x + 0.5)

        if w <= h:
            return _RESIZE_PX, max(1, r(h * _RESIZE_PX / w))
        return max(1, r(w * _RESIZE_PX / h)), _RESIZE_PX

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            dims = [_resize_stub(w, h) for w, h in zip(pdf["width"], pdf["height"])]
            ow = [d[0] for d in dims]
            oh = [d[1] for d in dims]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "out_width": ow,
                    "out_height": oh,
                    "n_patches": [
                        (a // _PATCH_PX) * (b // _PATCH_PX) for a, b in dims
                    ],
                }
            )

    return media.mapInPandas(batches, RESIZED_SCHEMA)


def media_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/patch pipeline rolled up per media type — oracle recomputes
    the deterministic geometry in SQL, gating the mapInPandas plumbing."""
    out = resize_and_patch(synthesize_media(spark, sf_dir))
    return (
        out.groupBy("media_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_patches").alias("total_patches"),
            F.max("out_width").alias("max_w"),
            F.max("out_height").alias("max_h"),
        )
    )


MEDIA_RESIZE_STATS_SQL = """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         CAST(doc_id % 640 + 1 AS INTEGER) AS w,
         CAST(doc_id % 480 + 1 AS INTEGER) AS h
  FROM documents
), resized AS (
  SELECT doc_id, media_type,
         CASE WHEN w <= h THEN 224 ELSE greatest(1, CAST(floor(w * 224.0 / h + 0.5) AS INTEGER)) END AS out_width,
         CASE WHEN w <= h THEN greatest(1, CAST(floor(h * 224.0 / w + 0.5) AS INTEGER)) ELSE 224 END AS out_height
  FROM m
)
SELECT media_type,
       count(*) AS n,
       CAST(sum((out_width // 16) * (out_height // 16)) AS BIGINT) AS total_patches,
       max(out_width) AS max_w,
       max(out_height) AS max_h
FROM resized GROUP BY media_type
"""


def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON extraction: ``from_json`` with a declared schema over
    the ``props`` column (SURVEY §1.2 nested-JSON row), plus per-key
    aggregation of the extracted field."""
    from pyspark.sql import types as T

    ev = load_table(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.LongType())])
    parsed = ev.withColumn("p", F.from_json("props", schema))
    return (
        parsed.groupBy((F.col("p.k") % 10).alias("k_mod"))
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


PROPS_JSON_EXTRACT_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
       count(*) AS n,
       round(avg(value), 4) AS avg_value
FROM events
GROUP BY 1
"""


FPS = 24
FRAME_STRIDE_S = 2  # sample one frame every 2 seconds
MAX_FRAMES = 20


def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: each video row fans out to its sampled
    frame indices (every FRAME_STRIDE_S seconds at FPS, capped) with
    per-frame timestamps — the dataloader step before frame decode.
    Duration derives deterministically from the fake metadata
    (n_bytes/1000 seconds); the index arithmetic (sequence → explode)
    is all JVM-side, and the actual pixel decode of a sampled frame
    is the same stubbed seam as ``decode_stub``.
    """
    vids = synthesize_media(spark, sf_dir).filter(F.col("media_type") == "video/mp4")
    duration_s = (F.col("n_bytes") / 1000.0).alias("duration_s")
    n_frames = F.least(
        F.floor(F.col("duration_s") / FRAME_STRIDE_S).cast("int") + 1,
        F.lit(MAX_FRAMES),
    )
    fanned = (
        vids.withColumn("duration_s", duration_s)
        .withColumn(
            "sample_i", F.explode(F.sequence(F.lit(0), n_frames - 1))
        )
        .select(
            "doc_id",
            F.col("sample_i").cast("long").alias("sample_i"),
            (F.col("sample_i") * FRAME_STRIDE_S * FPS).cast("long").alias("frame_idx"),
            (F.col("sample_i") * FRAME_STRIDE_S * 1000).cast("long").alias("frame_ts_ms"),
        )
    )
    return fanned.orderBy("doc_id", "sample_i")


MEDIA_FRAME_SAMPLE_SQL = f"""
WITH vids AS (
  SELECT doc_id, octet_length(encode(text)) / 1000.0 AS duration_s
  FROM documents WHERE doc_id % 3 = 2
),
fanned AS (
  SELECT doc_id, sample_i
  FROM vids,
       LATERAL (SELECT unnest(range(0,
         least(CAST(floor(duration_s / {FRAME_STRIDE_S}) AS INTEGER) + 1, {MAX_FRAMES})
       )) AS sample_i)
)
SELECT doc_id,
       CAST(sample_i AS BIGINT) AS sample_i,
       CAST(sample_i * {FRAME_STRIDE_S * FPS} AS BIGINT) AS frame_idx,
       CAST(sample_i * {FRAME_STRIDE_S * 1000} AS BIGINT) AS frame_ts_ms
FROM fanned ORDER BY doc_id, sample_i
"""


def media_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact byte-level media dedup — content-hash the BINARY payload
    (md5 over the raw bytes; in production the object-store ETag is the
    free precomputed equivalent), group, and report per media type how
    many assets are redundant re-crawls and how many bytes
    deduplication reclaims. Decode-free by design: at 100 TB the win
    is that identical images/audio dedupe on bytes alone — one
    content-hash shuffle of (16-byte md5, n_bytes), the payloads
    themselves never re-shuffle.

    Runs over the planted-duplicate corpus (`docs_with_dupes`, the
    dedup family's shared fixture — replica payloads are byte-equal by
    construction), so the reclaimable-bytes column is non-vacuous and
    oracle-checkable: DuckDB's ``md5(text)`` hashes the same UTF-8
    bytes the Spark side encodes.
    """
    from cdc_realtime_pipeline_spark.operators.dedup import docs_with_dupes

    media = docs_with_dupes(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    grp = media.groupBy(
        "media_type", F.md5("payload").alias("content_md5")
    ).agg(
        F.count("*").alias("c"),
        F.max(F.length("payload")).cast("long").alias("nb"),
    )
    return (
        grp.groupBy("media_type")
        .agg(
            F.sum("c").alias("n_assets"),
            F.count("*").alias("n_unique"),
            F.sum(F.col("c") - 1).alias("n_dup_assets"),
            F.sum((F.col("c") - 1) * F.col("nb")).alias("bytes_reclaimable"),
        )
        .orderBy("media_type")
    )


MEDIA_DEDUP_EXACT_SQL = """
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, substring(text, 1, 400) AS text
  FROM documents WHERE doc_id % 11 = 0
),
media AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         md5(text) AS content_md5,
         octet_length(CAST(text AS BLOB)) AS nb
  FROM docs
),
grp AS (
  SELECT media_type, content_md5, count(*) AS c, max(nb) AS nb
  FROM media GROUP BY 1, 2
)
SELECT media_type,
       CAST(sum(c) AS BIGINT) AS n_assets,
       count(*) AS n_unique,
       CAST(sum(c - 1) AS BIGINT) AS n_dup_assets,
       CAST(sum((c - 1) * nb) AS BIGINT) AS bytes_reclaimable
FROM grp GROUP BY media_type ORDER BY media_type
"""


def media_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection for media — the image-side
    twin of MinHash banding: a 60-bit pHash per asset, 4×15-bit band
    blocking (a hamming-≤k pair must agree on ≥ 4−k bands, so every
    distance-≤3 pair is guaranteed a candidate), exact hamming verify
    via ``bit_count(xor)`` on candidates only. In production the pHash
    is the DCT-mean signature of the decoded image (the decode stub
    boundary, see module docstring); here it derives deterministically
    from payload bytes so the BANDING + VERIFY machinery — the part
    that must scale — is oracle-gated end-to-end.

    Near-dup fixtures are planted as single-bit-flipped variants
    (re-encoded / resized re-crawls in production): every 9th doc
    re-enters at +300000 with bit (doc_id mod 15) flipped — hamming 1;
    byte-identical replicas from the shared dup corpus land at
    hamming 0.

    Scale: the only fan-out is 4 band rows per asset (16-byte keys —
    payloads never shuffle); the band self-join keys on 15-bit values
    whose groups are duplicate-cluster-sized; verification touches
    candidates, never the n² pair space.
    """
    from cdc_realtime_pipeline_spark.operators.dedup import _hash64, docs_with_dupes

    base = docs_with_dupes(spark, sf_dir).select(
        "doc_id", _hash64(F.col("text"), 97).alias("phash")
    )
    variants = base.filter((F.col("doc_id") % 9 == 0) & (F.col("doc_id") < 100000)).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.col("phash")
        .bitwiseXOR(
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 15 AS INT)) AS BIGINT)")
        )
        .alias("phash"),
    )
    assets = base.unionByName(variants)
    bands = assets.select(
        "doc_id",
        "phash",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("band_id"),
    ).withColumn(
        "band_val",
        F.expr("CAST(shiftrightunsigned(phash, CAST(band_id * 15 AS INT)) AS BIGINT)")
        % F.lit(32768).cast("long"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("phash").alias("ph_a"), "band_id", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("phash").alias("ph_b"), "band_id", "band_val"
    )
    cand = (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ph_a", "ph_b")
        .distinct()
    )
    pairs = cand.withColumn(
        "hamming", F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    ).filter(F.col("hamming") <= 3)
    return (
        pairs.groupBy("hamming")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("doc_a").alias("n_left_docs"),
            F.count(F.when(F.col("doc_b") >= 300000, F.lit(1))).alias(
                "n_planted_variant_pairs"
            ),
        )
        .orderBy("hamming")
    )


def _media_phash_sql() -> str:
    from cdc_realtime_pipeline_spark.operators.dedup import (
        DOCS_WITH_DUPES_CTE,
        _HASH64_SQL,
    )

    phash = _HASH64_SQL.format(salt=97, col="text")
    return f"""
WITH {DOCS_WITH_DUPES_CTE.strip()},
base AS (
  SELECT doc_id, {phash} AS phash FROM docs
),
assets AS (
  SELECT doc_id, phash FROM base
  UNION ALL
  SELECT doc_id + 300000 AS doc_id,
         xor(phash, CAST(1 AS BIGINT) << CAST(doc_id % 15 AS INT)) AS phash
  FROM base WHERE doc_id % 9 = 0 AND doc_id < 100000
),
bands AS (
  SELECT doc_id, phash, band_id,
         (phash >> (band_id * 15)) & 32767 AS band_val
  FROM assets CROSS JOIN (SELECT unnest([0,1,2,3]) AS band_id) g
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.phash AS ph_a, b.phash AS ph_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b, bit_count(xor(ph_a, ph_b)) AS hamming
  FROM cand
)
SELECT hamming,
       count(*) AS n_pairs,
       count(DISTINCT doc_a) AS n_left_docs,
       count(CASE WHEN doc_b >= 300000 THEN 1 END) AS n_planted_variant_pairs
FROM pairs
WHERE hamming <= 3
GROUP BY hamming
ORDER BY hamming
"""


MEDIA_PHASH_NEAR_DUP_SQL = _media_phash_sql()



_SHARD_BYTES = 4096  # shard byte budget (scaled to the fixture blobs;
# a production run sets ~1 GiB tar shards — same plan, bigger constant)


def media_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard planning: pack media blobs into
    byte-budget shards per media_type, in deterministic doc_id order —
    the manifest a multimodal training pipeline writes before cutting
    tar shards (items stream into shard k = floor(cum_bytes_before /
    budget); whole items never split). Emits per (media_type, shard):
    item count, byte mass, and the [first, last] doc_id range the
    shard covers — exactly what a downstream loader needs to address
    a shard without listing it.

    The cumulative walk is PARTITIONED by media_type (three streams),
    so at 100 TB each media family plans independently — the same
    per-key cumsum shape as ``corpus_token_budget_pack``; no global
    sort, no unpartitioned window.
    """
    media = synthesize_media(spark, sf_dir)
    w = (
        Window.partitionBy("media_type")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sharded = media.select(
        "media_type",
        "doc_id",
        "n_bytes",
        F.floor(
            F.coalesce(F.sum("n_bytes").over(w), F.lit(0)) / _SHARD_BYTES
        )
        .cast("long")
        .alias("shard"),
    )
    return (
        sharded.groupBy("media_type", "shard")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum("n_bytes").cast("long").alias("n_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("media_type", "shard")
    )


MEDIA_SHARD_MANIFEST_SQL = f"""
WITH media AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
),
sharded AS (
  SELECT media_type, doc_id, n_bytes,
         CAST(floor(coalesce(sum(n_bytes) OVER (PARTITION BY media_type
                    ORDER BY doc_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    / {_SHARD_BYTES}) AS BIGINT) AS shard
  FROM media
)
SELECT media_type, shard, count(*) AS n_items,
       CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM sharded GROUP BY media_type, shard ORDER BY media_type, shard
"""


_AE_WIN = 64  # frame window (bytes; stands in for audio samples)
_AE_HOP = 32  # frame hop — 50% overlap, the STFT convention

AUDIO_ENERGY_SCHEMA = (
    "doc_id long, n_frames long, peak_frame long, peak_energy long,"
    " total_energy long"
)


def media_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style framed feature extraction over the binary payload —
    the one multimodal batch shape the family was missing: a
    PER-SAMPLE SLIDING LOOP inside the Arrow batch (overlapping
    {W}-byte frames at hop {H}, the STFT convention), where the other
    media ops are one-value-per-blob. Per audio blob: frame count,
    argmax-energy frame (first-occurrence tie-break), peak and total
    frame energy, with energy = Σ byte² per frame — exact integers,
    so the whole framing loop is oracle-gated (a real deployment swaps
    the byte array for decoded PCM samples; the frame walk, vectorized
    cumsum trick, batch iteration and schema contract are the
    production shape).

    Scale: mapInPandas with numpy O(n) cumulative-sum framing per
    blob (never a Python per-frame loop), one-to-one rows out, blobs
    never leave the executor; the output is doc-keyed and bounded.
    """
    media = synthesize_media(spark, sf_dir).filter(
        F.col("media_type") == "audio/wav"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {
                "doc_id": [],
                "n_frames": [],
                "peak_frame": [],
                "peak_energy": [],
                "total_energy": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                n = len(b)
                nf = (n - _AE_WIN) // _AE_HOP + 1 if n >= _AE_WIN else 0
                if nf > 0:
                    csq = np.concatenate(([0], np.cumsum(b * b)))
                    starts = np.arange(nf) * _AE_HOP
                    energies = csq[starts + _AE_WIN] - csq[starts]
                    peak = int(np.argmax(energies))
                    out["peak_frame"].append(peak)
                    out["peak_energy"].append(int(energies[peak]))
                    out["total_energy"].append(int(energies.sum()))
                else:
                    out["peak_frame"].append(-1)
                    out["peak_energy"].append(0)
                    out["total_energy"].append(0)
                out["doc_id"].append(doc_id)
                out["n_frames"].append(nf)
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, AUDIO_ENERGY_SCHEMA).orderBy("doc_id")


media_audio_energy.__doc__ = media_audio_energy.__doc__.format(
    W=_AE_WIN, H=_AE_HOP
)

# texts are ASCII, so byte == codepoint; the frame walk is the same
# windowed integer sum expressed with list HOFs.
MEDIA_AUDIO_ENERGY_SQL = f"""
WITH audio AS (
  SELECT doc_id, text, length(text) AS n
  FROM documents WHERE doc_id % 3 = 1
),
framed AS (
  SELECT doc_id,
         CASE WHEN n >= {_AE_WIN}
              THEN (n - {_AE_WIN}) // {_AE_HOP} + 1 ELSE 0 END AS n_frames,
         CASE WHEN n >= {_AE_WIN}
              THEN list_transform(
                     range(0, (n - {_AE_WIN}) // {_AE_HOP} + 1),
                     f -> list_sum(list_transform(
                            string_split(substr(text,
                              CAST(f * {_AE_HOP} + 1 AS INT), {_AE_WIN}), ''),
                            c -> CAST(unicode(c) AS BIGINT)
                                 * CAST(unicode(c) AS BIGINT))))
              ELSE [] END AS energies
  FROM audio
)
SELECT doc_id,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(CASE WHEN n_frames > 0
                 THEN list_indexof(energies, list_max(energies)) - 1
                 ELSE -1 END AS BIGINT) AS peak_frame,
       CAST(CASE WHEN n_frames > 0 THEN list_max(energies) ELSE 0 END
            AS BIGINT) AS peak_energy,
       CAST(CASE WHEN n_frames > 0 THEN list_sum(energies) ELSE 0 END
            AS BIGINT) AS total_energy
FROM framed
ORDER BY doc_id
"""


QUERIES = {
    "media_shard_manifest": media_shard_manifest,
    "media_audio_energy": media_audio_energy,
    "media_phash_near_dup": media_phash_near_dup,
    "media_features": media_features,
    "media_dedup_exact": media_dedup_exact,
    "media_resize_stats": media_resize_stats,
    "media_frame_sample": media_frame_sample,
    "props_json_extract": props_json_extract,
}
ORACLES = {
    "media_shard_manifest": MEDIA_SHARD_MANIFEST_SQL,
    "media_audio_energy": MEDIA_AUDIO_ENERGY_SQL,
    "media_phash_near_dup": MEDIA_PHASH_NEAR_DUP_SQL,
    "media_features": MEDIA_FEATURES_SQL,
    "media_dedup_exact": MEDIA_DEDUP_EXACT_SQL,
    "media_resize_stats": MEDIA_RESIZE_STATS_SQL,
    "media_frame_sample": MEDIA_FRAME_SAMPLE_SQL,
    "props_json_extract": PROPS_JSON_EXTRACT_SQL,
}
