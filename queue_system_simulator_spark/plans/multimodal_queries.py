"""Multimodal pipeline queries (functions/multimodal.py wired to the
driver's oracle gate).

The media table is synthesized deterministically from ``documents`` (blob =
md5-chain bytes), so the DuckDB oracle can re-derive every byte from the
hex string with pure SQL — which makes even the ``mapInPandas`` feature /
resize / frame paths hash-checkable, not just rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from queue_system_simulator_spark.functions.multimodal import (
    NUM_BLOB_CHUNKS,
    decode_media,
    extract_features,
    frame_sample,
    resize_media,
    synthesize_media,
)
from queue_system_simulator_spark.plans.registry import register

_HEXBLOB = " || ".join(
    ["md5(text)"]
    + [f"md5(text || '|{i}')" for i in range(1, NUM_BLOB_CHUNKS)]
)

#: the media rows' head: each document is one medium of a kind by doc_id
_MEDIA_KIND_SQL = """\
WITH m AS (
  SELECT doc_id AS media_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS kind,"""

#: bytes list re-derived from the hex string: byte i = 16*hi + lo nibble
_MEDIA_BYTES_SQL = f"""
{_MEDIA_KIND_SQL}
         substr({_HEXBLOB}, 1, CAST(2 * (64 + (doc_id % 4) * 16) AS INT)) AS hexblob
  FROM documents
),
b AS (
  SELECT media_id, kind, hexblob,
         list_transform(generate_series(1, CAST(len(hexblob) // 2 AS INT)),
            i -> 16 * (strpos('0123456789abcdef',
                              substr(hexblob, CAST(2*i-1 AS INT), 1)) - 1)
               + strpos('0123456789abcdef',
                        substr(hexblob, CAST(2*i AS INT), 1)) - 1) AS bytes
  FROM m
)
"""

#: byte statistics and a 4-bin histogram per medium, graded twice (pandas
#: and Arrow UDF boundaries)
_MEDIA_FEATURES_SQL = _MEDIA_BYTES_SQL + """
SELECT media_id, kind,
       CAST(len(bytes) AS BIGINT) AS n_bytes,
       CAST(list_aggregate(bytes, 'sum') AS BIGINT) AS sum_bytes,
       round(CAST(list_aggregate(bytes, 'sum') AS DOUBLE) / len(bytes), 6)
         AS mean_byte,
       CAST(list_aggregate(bytes, 'min') AS BIGINT) AS min_byte,
       CAST(list_aggregate(bytes, 'max') AS BIGINT) AS max_byte,
       CAST(len(list_filter(bytes, x -> x // 64 = 0)) AS BIGINT) AS hist_0,
       CAST(len(list_filter(bytes, x -> x // 64 = 1)) AS BIGINT) AS hist_1,
       CAST(len(list_filter(bytes, x -> x // 64 = 2)) AS BIGINT) AS hist_2,
       CAST(len(list_filter(bytes, x -> x // 64 = 3)) AS BIGINT) AS hist_3
FROM b
"""


@register(
    "multimodal_features",
    oracle=_MEDIA_FEATURES_SQL,
    description="Multimodal feature extraction: opaque binary blobs + typed "
    "metadata, byte stats + 4-bin histogram computed vectorized (numpy over "
    "Arrow batches) in mapInPandas — the codec-adjacent stage of an image/"
    "audio training pipeline with the decode stubbed deterministically "
    "(functions/multimodal.py).",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_features(synthesize_media(spark, sf_dir))


@register(
    "multimodal_features_arrow",
    oracle=_MEDIA_FEATURES_SQL,
    description="mapInArrow twin of multimodal_features: identical byte "
    "statistics computed on raw pyarrow RecordBatches — skips the "
    "Arrow->pandas conversion entirely, the lowest-overhead Python hop "
    "Spark offers; registered separately so the driver gate proves the "
    "two Python-boundary APIs are byte-identical on the same oracle.",
)
def q_multimodal_features_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.functions.multimodal import (
        extract_features_arrow,
    )

    return extract_features_arrow(synthesize_media(spark, sf_dir))


@register(
    "multimodal_frame_sample",
    oracle=_MEDIA_BYTES_SQL
    + """
SELECT media_id, f.frame_idx,
       CAST(len(hexblob) // 8 AS BIGINT) AS n_frame_bytes,
       substr(hexblob,
              CAST(f.frame_idx * (len(hexblob) // 8) * 2 + 1 AS INT),
              CAST((len(hexblob) // 8) * 2 AS INT)) AS frame_hex
FROM b, LATERAL (SELECT unnest([0, 2]) AS frame_idx) f
WHERE kind = 'video'
""",
    description="Video frame sampling: blob split into meta.n_frames equal "
    "frames inside mapInPandas, every 2nd frame kept; ≤ n_frames fan-out "
    "per asset, frame bytes verified against the oracle via hex encoding.",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = frame_sample(synthesize_media(spark, sf_dir), every_n=2)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.length("frame").cast("long").alias("n_frame_bytes"),
        F.lower(F.hex("frame")).alias("frame_hex"),
    )


@register(
    "multimodal_resize_stats",
    oracle=_MEDIA_BYTES_SQL
    + """
SELECT media_id, kind,
       CAST(list_aggregate(rpx, 'sum') AS BIGINT) AS sum_px,
       CAST(list_aggregate(rpx, 'min') AS BIGINT) AS min_px,
       CAST(list_aggregate(rpx, 'max') AS BIGINT) AS max_px
FROM (
  SELECT media_id, kind,
         list_transform(generate_series(0, 63),
            k -> bytes[CAST(((k // 8) * (len(bytes) // 16) // 8) * 16
                            + ((k % 8) * 16) // 8 + 1 AS INT)]) AS rpx
  FROM b
) r
""",
    description="Decode → nearest-neighbor resize to 8x8 → pixel stats: two "
    "chained mapInPandas stages (decode grid, numpy fancy-index resample) "
    "with the final reduction done JVM-side on the array column.",
)
def q_multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    resized = resize_media(
        decode_media(synthesize_media(spark, sf_dir)), out_width=8, out_height=8
    )
    px = F.col("pixels")
    return resized.select(
        "media_id",
        "kind",
        F.aggregate(px, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_px"),
        F.array_min(px).cast("long").alias("min_px"),
        F.array_max(px).cast("long").alias("max_px"),
    )


@register(
    "multimodal_audio_windows",
    oracle=_MEDIA_BYTES_SQL
    + """
SELECT media_id,
       CAST(w.window_idx AS BIGINT) AS window_idx,
       CAST(len(bytes) // 4 AS BIGINT) AS n_samples,
       CAST(list_aggregate(win, 'sum') AS BIGINT) AS sum_amp,
       CAST(list_aggregate(win, 'max') AS BIGINT) AS max_amp,
       CAST(len(list_filter(win, x -> x >= 192)) AS BIGINT) AS n_loud
FROM b,
     LATERAL (SELECT unnest([0, 1, 2, 3]) AS window_idx) w,
     LATERAL (SELECT bytes[CAST(w.window_idx * (len(bytes) // 4) + 1 AS INT)
                          :CAST((w.window_idx + 1) * (len(bytes) // 4) AS INT)]
              AS win) s
WHERE kind = 'audio' AND len(bytes) // 4 > 0
""",
    description="Audio window feature extraction (framed DSP shape): each "
    "audio asset's samples split into 4 equal windows inside mapInPandas "
    "(numpy reshape — one vectorized pass per Arrow batch), per-window "
    "amplitude sum/max and loud-sample count, all exact integers. The "
    "per-asset fan-out is the window count — bounded, so the operator "
    "scales with corpus bytes like every other map-only stage.",
)
def q_multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.functions.multimodal import (
        audio_window_stats,
    )

    return audio_window_stats(synthesize_media(spark, sf_dir))


@register(
    "multimodal_ahash_dedup",
    oracle=_MEDIA_BYTES_SQL
    + """
, px AS (
  SELECT media_id, list_slice(bytes, 1, 64) AS p,
         list_aggregate(list_slice(bytes, 1, 64), 'sum') AS s
  FROM b WHERE kind = 'image'
),
bits AS (
  SELECT media_id, ii.i,
         CASE WHEN p[ii.i] * 64 > s THEN 1 ELSE 0 END AS bit
  FROM px, (SELECT unnest(generate_series(1, 64)) AS i) ii
),
h AS (
  SELECT media_id,
         CAST(sum(CASE WHEN i <= 32
                       THEN bit * (1::BIGINT << CAST(i - 1 AS INT))
                       ELSE 0 END) AS BIGINT) AS h1,
         CAST(sum(CASE WHEN i > 32
                       THEN bit * (1::BIGINT << CAST(i - 33 AS INT))
                       ELSE 0 END) AS BIGINT) AS h2
  FROM bits GROUP BY media_id
)
SELECT media_id, h1, h2,
       CAST(h1 % 65536 AS BIGINT) AS band16,
       CAST(count(*) OVER (PARTITION BY h1 % 65536) - 1 AS BIGINT)
         AS n_bandmates
FROM h
""",
    description="Perceptual-hash dedup blocking for images: aHash (8x8 "
    "above-mean bits, integer cross-multiplied so no float mean) computed "
    "in mapInPandas over the binary blob, packed into two 32-bit halves, "
    "then banded on the low 16 bits — the image twin of SimHash banding. "
    "n_bandmates counts band collisions (the candidate mass a hamming "
    "verify stage would re-score; this corpus' fake pixels are md5 noise, "
    "so collisions are expectedly rare). At 100 TB the signature pass is "
    "map-only Python-vectorized, the band shuffle carries 24 bytes/image, "
    "and verify cost scales with collision mass — never all-pairs. With a "
    "real codec the byte grid becomes the downsampled luma plane; "
    "signature/banding/verify stages are unchanged "
    "(functions/multimodal.py:perceptual_ahash).",
)
def q_multimodal_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from queue_system_simulator_spark.functions.multimodal import (
        perceptual_ahash,
    )

    h = perceptual_ahash(synthesize_media(spark, sf_dir))
    band = h.withColumn("band16", F.col("h1") % 65536)
    n_mates = (
        F.count(F.lit(1)).over(Window.partitionBy("band16")) - 1
    ).cast("long")
    return band.select(
        "media_id", "h1", "h2",
        F.col("band16").cast("long").alias("band16"),
        n_mates.alias("n_bandmates"),
    )


# --------------------------------------------------------------------------
# WebDataset-style shard packing for media blobs
# --------------------------------------------------------------------------
MEDIA_SHARD_BUDGET = 1024  # bytes per shard (fixture-scaled; prod: ~1 GB)


@register(
    "multimodal_shard_packing",
    oracle=f"""
{_MEDIA_KIND_SQL}
         CAST(64 + (doc_id % 4) * 16 AS BIGINT) AS n_bytes
  FROM documents
),
c AS (
  SELECT media_id, kind, n_bytes,
         coalesce(sum(n_bytes) OVER (ORDER BY media_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM m
)
SELECT CAST(cb // {MEDIA_SHARD_BUDGET} AS BIGINT) AS shard,
       count(*) AS n_items,
       CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
       CAST(count(*) FILTER (WHERE kind = 'image') AS BIGINT) AS n_image,
       CAST(count(*) FILTER (WHERE kind = 'audio') AS BIGINT) AS n_audio,
       CAST(count(*) FILTER (WHERE kind = 'video') AS BIGINT) AS n_video,
       min(media_id) AS first_media,
       max(media_id) AS last_media
FROM c GROUP BY 1
""",
    description="WebDataset-style shard packing for binary media: blobs "
    "stream in media_id order into tar-shard-sized groups — shard = "
    f"exclusive-prefix-sum(bytes) div {MEDIA_SHARD_BUDGET} (fixture "
    "budget; production uses ~1 GB) via the two-phase distributed "
    "``global_cumsum``, manifest per shard with byte totals and per-kind "
    "counts. Spark measures the REAL blob (length of the binary column "
    "from the synthesized media frame); the oracle re-derives the "
    "declared geometry (64 + id%4·16 bytes) — the same declared-vs-"
    "measured pairing the other multimodal queries grade. This is the "
    "exact layout job that turns a 100 TB image corpus into loader-"
    "streamable tar shards.",
)
def q_multimodal_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.operators.statistics import (
        global_cumsum,
    )

    media = synthesize_media(spark, sf_dir).select(
        "media_id", "kind", F.length("blob").cast("long").alias("n_bytes")
    )
    c = global_cumsum(
        media,
        order_by=["media_id"],
        val_col="n_bytes",
        out_col="cb",
        inclusive=False,
    )
    kind_n = lambda k: F.sum((F.col("kind") == k).cast("long"))  # noqa: E731
    return (
        c.withColumn("shard", (F.col("cb") / MEDIA_SHARD_BUDGET).cast("long"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("shard_bytes"),
            kind_n("image").alias("n_image"),
            kind_n("audio").alias("n_audio"),
            kind_n("video").alias("n_video"),
            F.min("media_id").alias("first_media"),
            F.max("media_id").alias("last_media"),
        )
    )
