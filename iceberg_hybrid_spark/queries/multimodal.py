"""Multimodal-column queries over binary payloads (north-star family).

The payloads are synthesized deterministically from the documents table
(no media fixtures exist in the testdata), so the byte-level metadata is
oracle-checkable in DuckDB; the decode pipeline (mapInPandas over the
deterministic fake codec) is oracle-checked too — the oracle recomputes
the codec's byte math in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import round_stable
from ..session import local_frame
from ..sources.multimodal import (
    avi_video_features,
    image_resize_features,
    jpeg_pixel_features,
    media_jpeg_from_documents,
    media_mjpg_from_documents,
    mjpg_video_features,
    bmp_pixel_features,
    decode_media,
    media_avi_from_documents,
    media_bmp_from_documents,
    media_from_documents,
    media_png_from_documents,
    media_wav_from_documents,
    png_pixel_features,
    sample_frames,
    wav_audio_features,
)
from ..sources.tables import load_table
from .spec import QuerySpec


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_from_documents(load_table(spark, sf_dir, "documents"))


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary columns: byte length + content
    fingerprint per media item (all JVM-side column ops)."""
    m = _media(spark, sf_dir)
    return m.select(
        "media_id",
        "media_type",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5(F.col("payload")).alias("fingerprint"),
    ).orderBy("media_id")


MULTIMODAL_METADATA_SQL = """
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 3 AS INTEGER)
            WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
           AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS fingerprint
FROM documents ORDER BY media_id
"""


def multimodal_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _media(spark, sf_dir)
    return (
        m.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("media_count"),
            F.sum(F.col("meta.n_bytes")).cast("bigint").alias("total_bytes"),
            round_stable(F.avg(F.col("meta.n_bytes")), 4).alias("avg_bytes"),
        )
        .orderBy("media_type")
    )


MULTIMODAL_TYPE_STATS_SQL = """
SELECT CASE CAST(doc_id % 3 AS INTEGER)
            WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
           AS media_type,
       COUNT(*) AS media_count,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       ROUND(AVG(octet_length(encode(text))) - 0.000000001, 4) + 0.0 AS avg_bytes
FROM documents GROUP BY 1 ORDER BY media_type
"""


def video_frame_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plumbing: fixed-size byte windows per "video",
    exploded + re-aggregated (the explode is the per-frame fan-out a real
    frame extractor produces)."""
    frames = sample_frames(_media(spark, sf_dir), frame_size=64, max_frames=8)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("frame_count"),
            F.sum(F.octet_length("frame_bytes")).cast("bigint").alias("sampled_bytes"),
        )
        .orderBy("media_id")
    )


VIDEO_FRAME_COUNTS_SQL = """
SELECT doc_id AS media_id,
       CAST(least(CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT), 8)
            AS BIGINT) AS frame_count,
       CAST(least(octet_length(encode(text)), 512) AS BIGINT) AS sampled_bytes
FROM documents
WHERE CAST(doc_id % 3 AS INTEGER) = 2
ORDER BY media_id
"""


def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched decode pipeline (fake codec).  The fake decoder
    is pure byte math (md5-derived dims, Shannon byte entropy), so the
    oracle recomputes it in SQL: the ASCII payloads make per-character
    frequencies equal byte frequencies, and the md5 digest bytes come
    back via hex-pair casts.  Byte-exact behavior also pinned in
    tests/test_multimodal.py."""
    return decode_media(_media(spark, sf_dir), fake=True).orderBy("media_id")


MULTIMODAL_DECODE_SQL = """
WITH chars AS (
  SELECT doc_id, substr(text, i, 1) AS ch
  FROM documents, LATERAL unnest(generate_series(1, length(text))) AS t(i)
), freq AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) AS c
  FROM chars GROUP BY doc_id, ch
), ent AS (
  SELECT doc_id, ROUND(-SUM((c / n) * log2(c / n)), 6) AS byte_entropy
  FROM (SELECT doc_id, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM freq) f
  GROUP BY doc_id
)
SELECT d.doc_id AS media_id,
       CASE CAST(d.doc_id % 3 AS INTEGER)
            WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
       md5(d.text) AS fingerprint,
       CAST(16 + ('0x' || substr(md5(d.text), 1, 2))::INT % 64 AS INTEGER) AS width,
       CAST(16 + ('0x' || substr(md5(d.text), 3, 2))::INT % 64 AS INTEGER) AS height,
       e.byte_entropy
FROM documents d JOIN ent e ON d.doc_id = e.doc_id
ORDER BY media_id
"""


def bmp_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end — no fake codec anywhere in the
    path: per document a 24-bit BMP is encoded (deterministic linear
    pixel gradients, ``media_bmp_from_documents``), then independently
    DECODED by the pure-numpy BMP parser (header parse → padded
    bottom-up BGR row slicing → RGB array) and reduced to per-channel
    pixel statistics.  The oracle recomputes every statistic from the
    closed pixel formulas in SQL — so the header layout, the 0–3-byte
    row padding (width 8..16 sweeps every stride remainder), the
    bottom-up row order (pinned by the orientation-sensitive top-row
    mean), and the BGR→RGB swap (pinned by the distinct per-channel
    gradients) are all value-gated, not just smoke-tested.  Spec
    anchoring against hand-built golden bytes is in
    tests/test_multimodal.py.

    Scale shape: two chained map-only Arrow stages (encode fixture,
    decode+reduce) — zero shuffle, linear at any corpus size; a real
    deployment replaces the fixture stage with a binary-file scan."""
    docs = load_table(spark, sf_dir, "documents")
    feats = bmp_pixel_features(media_bmp_from_documents(docs))
    return feats.select(
        "media_id",
        "width",
        "height",
        round_stable(F.col("mean_r"), 4).alias("mean_r"),
        round_stable(F.col("mean_g"), 4).alias("mean_g"),
        round_stable(F.col("mean_b"), 4).alias("mean_b"),
        round_stable(F.col("top_row_mean_r"), 4).alias("top_row_mean_r"),
    ).orderBy("media_id")


# mean over x of (base + c1*x + c2*y), x in 0..w-1, y in 0..h-1:
#   base + c1*(w-1)/2 + c2*(h-1)/2 — exact in binary doubles (halves).
BMP_PIXEL_STATS_SQL = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(8 + doc_id % 9 AS INTEGER) AS w,
         CAST(8 + (3 * doc_id) % 9 AS INTEGER) AS h
  FROM documents
)
SELECT media_id, w AS width, h AS height,
       ROUND(CAST(media_id % 32 + (w - 1) + 1.5 * (h - 1) AS DOUBLE)
             - 0.000000001, 4) + 0.0 AS mean_r,
       ROUND(CAST((5 * media_id) % 32 + 0.5 * (w - 1) + (h - 1) AS DOUBLE)
             - 0.000000001, 4) + 0.0 AS mean_g,
       ROUND(CAST((11 * media_id) % 32 + 1.5 * (w - 1) + 0.5 * (h - 1)
                  AS DOUBLE)
             - 0.000000001, 4) + 0.0 AS mean_b,
       ROUND(CAST(media_id % 32 + (w - 1) AS DOUBLE) - 0.000000001, 4) + 0.0
         AS top_row_mean_r
FROM dims ORDER BY media_id
"""


def wav_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end — the WAV sibling of
    ``bmp_pixel_stats``: per document a 16-bit mono PCM RIFF/WAVE file
    is encoded (closed-form integer ramp, ``media_wav_from_documents``),
    independently DECODED by the pure-numpy chunk-walking parser, and
    reduced to duration/amplitude statistics.  The oracle recomputes
    everything from the ramp's closed forms (integer sum and
    sum-of-squares divided exactly once — both engines round-trip the
    identical double), so the RIFF chunk walk, int16 little-endian
    signedness (the ramps cross zero), and sample count are all
    value-gated.  Golden-bytes spec anchoring in
    tests/test_multimodal.py.

    Scale shape: two chained map-only Arrow stages — zero shuffle,
    linear at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    feats = wav_audio_features(media_wav_from_documents(docs))
    return feats.select(
        "media_id",
        "n_samples",
        "sample_rate",
        round_stable(F.col("mean_amp"), 4).alias("mean_amp"),
        round_stable(F.col("rms_amp"), 4).alias("rms_amp"),
        "peak_amp",
    ).orderBy("media_id")


# ramp s[i] = a + b*i, i in 0..n-1:
#   sum   = a*n + b*n(n-1)/2                     (exact integers)
#   sumsq = a²n + 2ab·n(n-1)/2 + b²·n(n-1)(2n-1)/6
#   peak  = max(|a|, |a + b(n-1)|)               (ramp is monotone)
WAV_AUDIO_STATS_SQL = """
WITH p AS (
  SELECT doc_id AS media_id,
         CAST(64 + doc_id % 37 AS BIGINT) AS n,
         CAST((doc_id % 64) - 32 AS BIGINT) AS a,
         CAST((doc_id % 7) - 3 AS BIGINT) AS b
  FROM documents
), s AS (
  SELECT media_id, n, a, b,
         a * n + b * (n * (n - 1) // 2) AS tot,
         a * a * n + 2 * a * b * (n * (n - 1) // 2)
           + b * b * (n * (n - 1) * (2 * n - 1) // 6) AS totsq
  FROM p
)
SELECT media_id,
       CAST(n AS INTEGER) AS n_samples,
       CAST(8000 + 1000 * (media_id % 3) AS INTEGER) AS sample_rate,
       ROUND(CAST(tot AS DOUBLE) / n - 0.000000001, 4) + 0.0 AS mean_amp,
       ROUND(sqrt(CAST(totsq AS DOUBLE) / n) - 0.000000001, 4) + 0.0
         AS rms_amp,
       GREATEST(ABS(a), ABS(a + b * (n - 1))) AS peak_amp
FROM s ORDER BY media_id
"""


def png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode end-to-end — the compressed-image sibling of
    ``bmp_pixel_stats``: per document an 8-bit truecolor PNG is encoded
    (closed-form linear gradients, ``media_png_from_documents``, with a
    per-row filter schedule sweeping ALL five PNG scanline filters in
    every image), then independently DECODED by the stdlib-zlib +
    numpy parser (CRC'd chunk walk → inflate → per-row un-filtering)
    and reduced to per-channel pixel statistics.  The oracle recomputes
    every statistic from the closed pixel formulas in SQL — so the
    chunk framing, the deflate stream, all five filter reconstructions
    (None/Sub/Up/Average/Paeth), and the top-down scanline order
    (pinned by the orientation-sensitive top-row mean) are value-gated.
    Spec anchoring against a hand-assembled golden PNG is in
    tests/test_multimodal.py.

    Scale shape: two chained map-only Arrow stages — zero shuffle,
    linear at any corpus size; a real deployment replaces the fixture
    stage with a binary-file scan."""
    docs = load_table(spark, sf_dir, "documents")
    feats = png_pixel_features(media_png_from_documents(docs))
    return feats.select(
        "media_id",
        "width",
        "height",
        round_stable(F.col("mean_r"), 4).alias("mean_r"),
        round_stable(F.col("mean_g"), 4).alias("mean_g"),
        round_stable(F.col("mean_b"), 4).alias("mean_b"),
        round_stable(F.col("top_row_mean_r"), 4).alias("top_row_mean_r"),
    ).orderBy("media_id")


# mean over x,y of (base + c1*x + c2*y) = base + c1*(w-1)/2 + c2*(h-1)/2
# — exact in binary doubles (halves).
PNG_PIXEL_STATS_SQL = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(8 + (5 * doc_id) % 9 AS INTEGER) AS w,
         CAST(8 + (7 * doc_id) % 9 AS INTEGER) AS h
  FROM documents
)
SELECT media_id, w AS width, h AS height,
       ROUND(CAST(media_id % 29 + 0.5 * (w - 1) + 1.5 * (h - 1) AS DOUBLE)
             - 0.000000001, 4) + 0.0 AS mean_r,
       ROUND(CAST((3 * media_id) % 29 + (w - 1) + 0.5 * (h - 1) AS DOUBLE)
             - 0.000000001, 4) + 0.0 AS mean_g,
       ROUND(CAST((7 * media_id) % 29 + (w - 1) + (h - 1) AS DOUBLE)
             - 0.000000001, 4) + 0.0 AS mean_b,
       ROUND(CAST(media_id % 29 + 0.5 * (w - 1) AS DOUBLE) - 0.000000001, 4)
             + 0.0 AS top_row_mean_r
FROM dims ORDER BY media_id
"""


def avi_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode end-to-end — the missing rung of the media
    ladder, reachable without codec libraries because uncompressed-RGB
    AVI is a RIFF container (the WAV path's chunk discipline) of DIB
    frames (the BMP path's padded bottom-up BGR rows): per document an
    AVI is encoded (closed-form gradients in x, y AND frame index,
    ``media_avi_from_documents``), independently DECODED by the
    pure-numpy RIFF-list walker (headers validated, every '00db' frame
    sliced), and reduced to container metadata + channel statistics.
    The temporal gradient pins frame ORDER: a decoder that drops,
    duplicates, or reorders frames fails the first/last-frame means.
    The oracle recomputes everything from the closed forms.  MJPG/H.264
    keep the honest NotImplementedError — those need real codecs.

    Scale shape: two chained map-only Arrow stages — zero shuffle,
    linear at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    feats = avi_video_features(media_avi_from_documents(docs))
    return feats.select(
        "media_id",
        "n_frames",
        "fps",
        "width",
        "height",
        round_stable(F.col("mean_r"), 4).alias("mean_r"),
        round_stable(F.col("first_frame_mean_g"), 4).alias(
            "first_frame_mean_g"
        ),
        round_stable(F.col("last_frame_mean_b"), 4).alias(
            "last_frame_mean_b"
        ),
    ).orderBy("media_id")


# mean over f,x,y of (base + c1*x + c2*y + c3*f)
#   = base + c1*(w-1)/2 + c2*(h-1)/2 + c3*(n-1)/2 — exact (halves).
AVI_VIDEO_STATS_SQL = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(2 + doc_id % 5 AS INTEGER) AS n,
         CAST(10 + doc_id % 5 AS INTEGER) AS fps,
         CAST(8 + doc_id % 9 AS INTEGER) AS w,
         CAST(8 + (3 * doc_id) % 9 AS INTEGER) AS h
  FROM documents
)
SELECT media_id, n AS n_frames, fps, w AS width, h AS height,
       ROUND(CAST(media_id % 24 + (w - 1) + 0.5 * (h - 1)
                  + 1.5 * (n - 1) AS DOUBLE) - 0.000000001, 4) + 0.0
         AS mean_r,
       ROUND(CAST((5 * media_id) % 24 + 0.5 * (w - 1) + (h - 1)
                  AS DOUBLE) - 0.000000001, 4) + 0.0
         AS first_frame_mean_g,
       ROUND(CAST((9 * media_id) % 24 + 0.5 * (w - 1) + 0.5 * (h - 1)
                  + 2.0 * (n - 1) AS DOUBLE) - 0.000000001, 4) + 0.0
         AS last_frame_mean_b
FROM dims ORDER BY media_id
"""


def video_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRAME-level video dedup — clip-reuse detection across videos
    that are NOT whole-payload duplicates: every AVI is really decoded,
    every frame fingerprinted (md5 over the decoded pixel array), and
    each video reports how many of its frames already exist in an
    earlier video (the canonical keeper of that frame's fingerprint
    group).  This is the video analogue of span-level text dedup: a
    training pipeline drops or downweights videos that are mostly
    recycled footage even when no two files are byte-identical.

    Value gate: fixture frame content is a pure function of
    (doc_id % 72, frame_index) while the frame COUNT cycles with
    doc_id % 5 (coprime), so same-class videos share exactly their
    common frame prefix with different lengths — the oracle replays
    the per-frame keeper assignment (window MIN over the congruence
    class at each frame index) and the per-video aggregation in SQL.

    Scale shape: decode is a map-only Arrow stage emitting one row per
    FRAME (linear in total footage); the fingerprint group-by is one
    shuffle on the digest; the star assignment (frame -> its group's
    min video) and the per-video re-aggregation are linear in frames at
    any duplicate multiplicity — the same no-all-pairs discipline as
    ``media_exact_dedup``."""
    import hashlib

    import pandas as pd
    from pyspark.sql import types as SPARK_T

    from ..sources.multimodal import avi_decode

    docs = load_table(spark, sf_dir, "documents")
    avis = media_avi_from_documents(docs)

    def frame_fps(batches):
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                frames, _fps = avi_decode(bytes(p))
                for f in range(frames.shape[0]):
                    rows.append((
                        int(mid),
                        f,
                        frames.shape[0],
                        hashlib.md5(frames[f].tobytes()).hexdigest(),
                    ))
            yield pd.DataFrame(
                rows, columns=["video_id", "frame_idx", "n_frames", "fp"]
            ).astype({"frame_idx": "int32", "n_frames": "int32"})

    frames = avis.mapInPandas(
        frame_fps,
        SPARK_T.StructType([
            SPARK_T.StructField("video_id", SPARK_T.LongType()),
            SPARK_T.StructField("frame_idx", SPARK_T.IntegerType()),
            SPARK_T.StructField("n_frames", SPARK_T.IntegerType()),
            SPARK_T.StructField("fp", SPARK_T.StringType()),
        ]),
    )
    # One window pass on the fingerprint shuffle (the oracle's own MIN
    # OVER PARTITION formulation) instead of groupBy + self-join, which
    # re-ran the whole per-frame decode subtree on both join sides —
    # same restructure as media_exact_dedup (guide §2.4).
    from pyspark.sql import Window

    stars = (
        frames.withColumn(
            "keep_video", F.min("video_id").over(Window.partitionBy("fp"))
        )
        .filter(F.col("video_id") != F.col("keep_video"))
    )
    return (
        stars.groupBy("video_id", "n_frames")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("dup_frames"),
            F.min("keep_video").alias("min_keeper"),
        )
        .orderBy("video_id")
    )


VIDEO_FRAME_DEDUP_SQL = """
WITH v AS (
  SELECT doc_id, CAST(2 + doc_id % 5 AS INTEGER) AS n FROM documents
), frames AS (
  SELECT doc_id, n, CAST(f AS INTEGER) AS f
  FROM v, LATERAL unnest(generate_series(0, n - 1)) AS t(f)
), k AS (
  SELECT doc_id, n, f,
         MIN(doc_id) OVER (PARTITION BY doc_id % 72, f) AS keep
  FROM frames
), stars AS (
  SELECT * FROM k WHERE doc_id <> keep
)
SELECT doc_id AS video_id, n AS n_frames,
       COUNT(*) AS dup_frames, MIN(keep) AS min_keeper
FROM stars GROUP BY doc_id, n ORDER BY video_id
"""


def media_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-MEDIA exact dedup: find documents whose attached media
    payloads are byte-identical under different doc_ids — the media
    modality a training pipeline dedups on, extending the text-only
    modality ladder (``dedup_modality_agreement``) with a true media
    member.  Both real-format fixtures (24-bit BMP, 16-bit PCM WAV) are
    encoded per document, run through the REAL ``decode_media`` path
    (which validates the payload structure and emits the md5
    fingerprint over the raw bytes), and duplicates come from a
    fingerprint group-by within media_type.  The output is the
    CANONICAL-STAR form a dedup pass actually consumes: one row per
    NON-canonical duplicate, paired with its group's keeper (the
    minimum media_id) — all-pairs within a duplicate group is quadratic
    in the group's multiplicity (a 64x salted corpus makes every doc a
    ~1,100-way media-dup and all-pairs blows past driver limits at
    ~177M rows; the star form stays linear in the corpus).  Each
    (keeper, duplicate) row is then joined to the TEXT exact-dup
    verdict (md5(text) equality of the two documents) so the output
    reports cross-modal agreement: media-identical rows whose text also
    collides vs media-only duplicates.

    Value gate: the fixtures are pure functions of doc_id, so payload
    equality has a closed congruence form the oracle derives
    independently — BMP params repeat iff doc_id ≡ (mod lcm(9,32)=288),
    PNG params iff doc_id ≡ (mod lcm(9,29)=261), AVI params iff
    doc_id ≡ (mod lcm(5,9,24)=360), WAV params iff
    doc_id ≡ (mod lcm(37,3,64,7)=49728); the formats never collide
    across modality keys (distinct leading bytes).  A fingerprint
    path that hashed anything but the exact encoded bytes (or an
    encoder that dropped any doc-dependent parameter) produces a
    different pair set and fails the hash compare.

    Scale shape: encode + decode are two chained map-only Arrow stages
    run ONCE (the dedup is a group-by on the fingerprint, not a
    self-join — a self-join would re-run the decode pipeline per side);
    one shuffle on (media_type, fingerprint); a min-aggregate picks the
    keeper and the star rows are one per group member — output LINEAR
    in the corpus regardless of duplicate multiplicity (the property
    all-pairs lacks).  Reference parity: the dedup ladder SURVEY.md §2
    LLM family; decode plumbing sources/multimodal.py."""
    docs = load_table(spark, sf_dir, "documents")
    media = (
        media_bmp_from_documents(docs)
        .unionByName(media_wav_from_documents(docs))
        .unionByName(
            media_png_from_documents(docs).withColumn(
                "media_type", F.lit("image_png")
            )
        )
        .unionByName(media_avi_from_documents(docs))
    )
    fps = decode_media(media).select("media_id", "media_type", "fingerprint")
    # Keeper assignment as ONE window pass over the fingerprint shuffle
    # (min + count over the same partition spec — exactly the oracle's
    # own formulation) instead of a groupBy + self-join: the join form
    # duplicated the entire encode+decode subtree on both sides of the
    # ShuffledHashJoin (plans/r12/media_exact_dedup_before.txt shows the
    # 4-codec Union + MapInPandas chain TWICE), so every payload was
    # encoded and really decoded twice per run.  One shuffle, one decode
    # pass, identical star rows (guide §2.4: share the exchange).
    from pyspark.sql import Window

    grp = Window.partitionBy("media_type", "fingerprint")
    stars = (
        fps.withColumn("keep_id", F.min("media_id").over(grp))
        .withColumn("group_size", F.count(F.lit(1)).over(grp))
        .filter(
            (F.col("group_size") > 1)
            & (F.col("media_id") != F.col("keep_id"))
        )
        .select(
            "media_type",
            "keep_id",
            F.col("media_id").alias("dup_id"),
        )
    )
    tf = docs.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("tf")
    )
    return (
        stars
        .join(tf.selectExpr("doc_id AS keep_id", "tf AS tf_a"), "keep_id")
        .join(tf.selectExpr("doc_id AS dup_id", "tf AS tf_b"), "dup_id")
        .select(
            "media_type",
            "keep_id",
            "dup_id",
            F.when(F.col("tf_a") == F.col("tf_b"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("is_text_dup"),
        )
        .orderBy("media_type", "keep_id", "dup_id")
    )


# Payload equality has a closed congruence form because the fixtures
# are pure functions of doc_id: the BMP depends on doc_id only through
# (doc_id % 9) [dims] and (doc_id % 32) [channel bases] -> equal iff
# doc_id ≡ (mod 288); the WAV through (%37, %3, %64, %7) -> (mod 49728).
MEDIA_EXACT_DEDUP_SQL = """
WITH classes AS (
  SELECT 'image' AS media_type, doc_id, doc_id % 288 AS cls
  FROM documents
  UNION ALL
  SELECT 'image_png', doc_id, doc_id % 261 FROM documents
  UNION ALL
  SELECT 'video', doc_id, doc_id % 360 FROM documents
  UNION ALL
  SELECT 'audio', doc_id, doc_id % 49728 FROM documents
), grouped AS (
  SELECT media_type, doc_id,
         MIN(doc_id) OVER (PARTITION BY media_type, cls) AS keep_id,
         COUNT(*) OVER (PARTITION BY media_type, cls) AS group_size
  FROM classes
), stars AS (
  SELECT media_type, keep_id, doc_id AS dup_id
  FROM grouped WHERE group_size > 1 AND doc_id <> keep_id
)
SELECT s.media_type, s.keep_id, s.dup_id,
       CAST(CASE WHEN md5(da.text) = md5(db.text) THEN 1 ELSE 0 END
            AS INT) AS is_text_dup
FROM stars s
JOIN documents da ON s.keep_id = da.doc_id
JOIN documents db ON s.dup_id = db.doc_id
ORDER BY media_type, keep_id, dup_id
"""


def jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode end-to-end — the entropy-coded rung of
    the media ladder (the r11 verdict's highest-value missing format):
    per document a grayscale JPEG of constant even 8x8 tiles is encoded
    (``media_jpeg_from_documents``), independently DECODED by the
    pure-numpy marker walk + canonical-Huffman bit reader + dequant +
    vectorized IDCT (``sources/jpeg.py``), and reduced to pixel stats.

    Tolerance contract: JPEG is lossy, but the fixture lives in the
    codec's exact fixed-point set — constant even tiles have one
    nonzero coefficient, DC = 8*(v-128), divisible by q_dc = 16 — so
    the decoded statistics equal the closed pixel formulas EXACTLY and
    the SQL oracle value-gates the whole chain: marker framing, DHT
    canonical code reconstruction, bit unstuffing, the DC differential
    chain across blocks, zigzag, dequantization, IDCT, and MCU raster
    order (pinned by the two corner-tile means).  Spec anchoring
    against a hand-assembled golden JPEG (independent of the in-repo
    encoder) is in tests/test_jpeg.py.

    Scale shape: two chained map-only Arrow stages — zero shuffle,
    linear at any corpus size; a real deployment replaces the fixture
    stage with a binary-file scan."""
    docs = load_table(spark, sf_dir, "documents")
    feats = jpeg_pixel_features(media_jpeg_from_documents(docs))
    return feats.select(
        "media_id",
        "width",
        "height",
        round_stable(F.col("mean_lum"), 4).alias("mean_lum"),
        round_stable(F.col("top_left_tile_mean"), 4).alias(
            "top_left_tile_mean"
        ),
        round_stable(F.col("bottom_right_tile_mean"), 4).alias(
            "bottom_right_tile_mean"
        ),
    ).orderBy("media_id")


# tile value v(tx, ty) = 60 + 2*((d % 37) + 3*tx + 5*ty); mean over the
# tile grid = 60 + 2*(d % 37) + 3*(tiles_x - 1) + 5*(tiles_y - 1) — all
# integers, so the lossless fixed-point roundtrip makes ROUND exact.
JPEG_PIXEL_STATS_SQL = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(2 + doc_id % 3 AS INTEGER) AS tx,
         CAST(2 + doc_id % 4 AS INTEGER) AS ty
  FROM documents
)
SELECT media_id,
       CAST(8 * tx AS INTEGER) AS width,
       CAST(8 * ty AS INTEGER) AS height,
       ROUND(CAST(60 + 2 * (media_id % 37) + 3 * (tx - 1) + 5 * (ty - 1)
                  AS DOUBLE) - 0.000000001, 4) + 0.0 AS mean_lum,
       ROUND(CAST(60 + 2 * (media_id % 37) AS DOUBLE) - 0.000000001, 4)
             + 0.0 AS top_left_tile_mean,
       ROUND(CAST(60 + 2 * ((media_id % 37) + 3 * (tx - 1) + 5 * (ty - 1))
                  AS DOUBLE) - 0.000000001, 4) + 0.0
         AS bottom_right_tile_mean
FROM dims ORDER BY media_id
"""


def mjpg_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Motion-JPEG video decode end-to-end: per document an AVI of
    per-frame baseline JPEGs is encoded (``media_mjpg_from_documents``),
    independently DECODED by the RIFF list walk routing every '00dc'
    chunk through the numpy JPEG decoder, and reduced to container
    metadata + luminance statistics.  Frames are 4:2:0 — the dominant
    real-corpus MJPG profile, so the gate covers the 2x2-sampled MCU
    interleave (4 Y + Cb + Cr), the chroma downsample, and the
    replication upsample.  The per-frame 7*f term pins frame ORDER
    through BOTH the container walk and each frame's own entropy
    decode; gray-valued even tiles keep the whole chain in the codec's
    exact fixed-point set (color transform rows summing to 1/0 hold
    Y = v, Cb = Cr = 128 — constant chroma makes the 2x2 average and
    the upsample exact too), so the SQL oracle is closed-form despite
    three nested lossy-in-general stages.

    Scale shape: two chained map-only Arrow stages — zero shuffle,
    linear at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    feats = mjpg_video_features(media_mjpg_from_documents(docs))
    return feats.select(
        "media_id",
        "n_frames",
        "fps",
        "width",
        "height",
        round_stable(F.col("mean_lum"), 4).alias("mean_lum"),
        round_stable(F.col("first_frame_mean"), 4).alias(
            "first_frame_mean"
        ),
        round_stable(F.col("last_frame_mean"), 4).alias(
            "last_frame_mean"
        ),
    ).orderBy("media_id")


# v(f, tx, ty) = 60 + 2*((d % 31) + 3*tx + 5*ty + 7*f): first-frame mean
# = 60 + 2*(d % 31) + 3*(tiles_x-1) + 5*(tiles_y-1), last = first +
# 14*(n-1), whole-video = first + 7*(n-1) — integers throughout.
MJPG_VIDEO_STATS_SQL = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(2 + doc_id % 2 AS INTEGER) AS n,
         CAST(8 + doc_id % 4 AS INTEGER) AS fps,
         CAST(2 + 2 * (doc_id % 2) AS INTEGER) AS tx,
         CAST(2 + 2 * ((doc_id % 4) // 2) AS INTEGER) AS ty,
         60 + 2 * (doc_id % 31) + 3 * (1 + 2 * (doc_id % 2))
            + 5 * (1 + 2 * ((doc_id % 4) // 2)) AS first_mean
  FROM documents
)
SELECT media_id, n AS n_frames, fps,
       CAST(8 * tx AS INTEGER) AS width,
       CAST(8 * ty AS INTEGER) AS height,
       ROUND(CAST(first_mean + 7 * (n - 1) AS DOUBLE) - 0.000000001, 4)
             + 0.0 AS mean_lum,
       ROUND(CAST(first_mean AS DOUBLE) - 0.000000001, 4) + 0.0
         AS first_frame_mean,
       ROUND(CAST(first_mean + 14 * (n - 1) AS DOUBLE) - 0.000000001, 4)
             + 0.0 AS last_frame_mean
FROM dims ORDER BY media_id
"""


def streaming_frame_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING form of ``video_frame_dedup`` replayed as two
    sequential micro-batches (r11 verdict stretch #7): videos arrive in
    id order, each batch's frames are really decoded and fingerprinted,
    claimed first-occurrence-within-batch, anti-joined against the
    ACCUMULATED frame-fingerprint state (``streaming/ingest.py::
    frame_dedup_ingest_batch``), novel frames appended to the state
    table, and a per-video (n_frames, novel_frames) report row emitted.
    Batch-2 videos that reuse batch-1 footage report fewer novel frames
    — incremental clip-reuse detection, the shape a real ingestion
    pipeline runs.

    Oracle: sequential batches over id-ordered videos reproduce global
    first-occurrence semantics, and fixture frame content is a pure
    function of (doc_id % 72, frame_idx) — so SQL replays the keeper
    assignment from the congruences alone, no decode.

    Scale shape: decode is map-only per batch; the state anti-join keys
    on the 16-byte digest; state grows one row per DISTINCT frame —
    the same no-all-pairs discipline as the batch operator."""
    import os
    import shutil
    import tempfile

    from ..lake.table import HyTable
    from ..streaming.ingest import FRAME_STATE_DDL, frame_dedup_ingest_batch

    root = os.path.join(
        tempfile.gettempdir(), "ihs_lake_ops", "frame_dedup_replay"
    )
    shutil.rmtree(root, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents")
    avis = media_avi_from_documents(docs)
    state = HyTable(spark, os.path.join(root, "state"))
    state.create(local_frame(spark, [], FRAME_STATE_DDL))
    report = HyTable(spark, os.path.join(root, "report"))
    report.create(local_frame(
        spark, [],
        "video_id bigint, n_frames bigint, novel_frames bigint,"
        " batch_seq bigint",
    ))
    half = docs.agg(
        F.floor((F.max("doc_id") + 1) / 2).cast("bigint")
    ).collect()[0][0]
    for seq, batch in enumerate((
        avis.filter(F.col("media_id") < half),
        avis.filter(F.col("media_id") >= half),
    )):
        frame_dedup_ingest_batch(batch, state, report, batch_seq=seq)
    return (
        report.read()
        .select("video_id", "n_frames", "novel_frames")
        .orderBy("video_id")
    )


# fixture frame content is a pure function of (doc_id % 72, frame_idx);
# a frame is novel iff its video is the SMALLEST id in its mod-72 class
# long enough to contain that frame index — global first-occurrence,
# which sequential id-ordered micro-batches reproduce exactly.
STREAMING_FRAME_DEDUP_REPLAY_SQL = """
WITH vids AS (
  SELECT doc_id AS video_id, CAST(2 + doc_id % 5 AS INTEGER) AS n
  FROM documents
), frames AS (
  SELECT video_id, n, unnest(range(n)) AS f FROM vids
), keepers AS (
  SELECT video_id % 72 AS cls, f, MIN(video_id) AS keeper
  FROM frames GROUP BY 1, 2
)
SELECT v.video_id,
       CAST(v.n AS BIGINT) AS n_frames,
       CAST(SUM(CASE WHEN k.keeper = v.video_id THEN 1 ELSE 0 END)
            AS BIGINT) AS novel_frames
FROM frames v
JOIN keepers k ON k.cls = v.video_id % 72 AND k.f = v.f
GROUP BY v.video_id, v.n
ORDER BY v.video_id
"""


def image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESIZE preprocessing stage of a training-data image pipeline,
    value-gated end-to-end: per document a real 24-bit BMP (closed-form
    linear gradients, 8..16 px sides) is encoded, really DECODED, and
    nearest-neighbor-resized to a fixed 16x16 model-input grid; the
    per-channel means and the two corner pixels of the RESIZED image
    are reported.  Nearest-neighbor picks source pixel
    ((i*h)//16, (j*w)//16) — pure integer arithmetic — so the oracle
    replays the exact source coordinates in SQL (a 16-row unnest per
    axis) and every statistic is exact: the decode, the orientation
    (corner pixels), and the index map all sit on the gate.

    Scale shape: two chained map-only Arrow stages — zero shuffle,
    linear at any corpus size; a real deployment replaces the fixture
    stage with a binary-file scan and the stats with a tensor write."""
    docs = load_table(spark, sf_dir, "documents")
    feats = image_resize_features(media_bmp_from_documents(docs))
    return feats.select(
        "media_id",
        "src_width",
        "src_height",
        "width",
        "height",
        round_stable(F.col("mean_r"), 4).alias("mean_r"),
        round_stable(F.col("mean_g"), 4).alias("mean_g"),
        round_stable(F.col("mean_b"), 4).alias("mean_b"),
        round_stable(F.col("top_left_r"), 4).alias("top_left_r"),
        round_stable(F.col("bottom_right_b"), 4).alias("bottom_right_b"),
    ).orderBy("media_id")


# resized(i, j) channel c = base_c + cx*((j*w)//16) + cy*((i*h)//16);
# the mean needs SUM_k (k*dim)//16 over k = 0..15 — an exact integer
# sum the 16-row unnest computes; /16.0 is a power-of-two divide, exact
# in binary doubles.
IMAGE_RESIZE_STATS_SQL = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(8 + doc_id % 9 AS INTEGER) AS w,
         CAST(8 + (3 * doc_id) % 9 AS INTEGER) AS h
  FROM documents
), grid AS (
  SELECT media_id, w, h, unnest(range(16)) AS k FROM dims
), sums AS (
  SELECT media_id,
         SUM((k * w) // 16) AS sx,
         SUM((k * h) // 16) AS sy
  FROM grid GROUP BY media_id
)
SELECT d.media_id,
       d.w AS src_width, d.h AS src_height,
       CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       ROUND(CAST(d.media_id % 32 + 2 * s.sx / 16.0 + 3 * s.sy / 16.0
                  AS DOUBLE) - 0.000000001, 4) + 0.0 AS mean_r,
       ROUND(CAST((5 * d.media_id) % 32 + s.sx / 16.0 + 2 * s.sy / 16.0
                  AS DOUBLE) - 0.000000001, 4) + 0.0 AS mean_g,
       ROUND(CAST((11 * d.media_id) % 32 + 3 * s.sx / 16.0 + s.sy / 16.0
                  AS DOUBLE) - 0.000000001, 4) + 0.0 AS mean_b,
       ROUND(CAST(d.media_id % 32 AS DOUBLE) - 0.000000001, 4) + 0.0
         AS top_left_r,
       ROUND(CAST((11 * d.media_id) % 32 + 3 * ((15 * d.w) // 16)
                  + ((15 * d.h) // 16) AS DOUBLE) - 0.000000001, 4) + 0.0
         AS bottom_right_b
FROM dims d JOIN sums s ON s.media_id = d.media_id
ORDER BY d.media_id
"""


SPECS = [
    QuerySpec("multimodal_metadata", multimodal_metadata, MULTIMODAL_METADATA_SQL,
              "binary payload + typed metadata projection"),
    QuerySpec("multimodal_type_stats", multimodal_type_stats, MULTIMODAL_TYPE_STATS_SQL,
              "per-media-type byte statistics"),
    QuerySpec("video_frame_counts", video_frame_counts, VIDEO_FRAME_COUNTS_SQL,
              "frame-sampling fan-out + re-aggregation"),
    QuerySpec("multimodal_decode_features", multimodal_decode_features,
              MULTIMODAL_DECODE_SQL,
              "mapInPandas decode pipeline vs SQL byte-math oracle"),
    QuerySpec("bmp_pixel_stats", bmp_pixel_stats, BMP_PIXEL_STATS_SQL,
              "REAL 24-bit BMP decode (pure numpy: header, padding, "
              "bottom-up BGR) to pixel stats vs closed-form gradient "
              "oracle"),
    QuerySpec("wav_audio_stats", wav_audio_stats, WAV_AUDIO_STATS_SQL,
              "REAL 16-bit PCM WAV decode (pure numpy RIFF chunk walk) "
              "to amplitude stats vs closed-form ramp oracle"),
    QuerySpec("png_pixel_stats", png_pixel_stats, PNG_PIXEL_STATS_SQL,
              "REAL PNG decode (stdlib zlib + numpy: CRC'd chunks, "
              "inflate, all five scanline filters) to pixel stats vs "
              "closed-form gradient oracle"),
    QuerySpec("media_exact_dedup", media_exact_dedup, MEDIA_EXACT_DEDUP_SQL,
              "cross-media exact dedup over four real codecs "
              "(BMP/PNG/WAV/AVI): real-decode md5 fingerprints "
              "equi-joined within media_type, pairs joined to the text "
              "dedup verdict, vs the fixtures' closed congruence "
              "oracle"),
    QuerySpec("video_frame_dedup", video_frame_dedup,
              VIDEO_FRAME_DEDUP_SQL,
              "frame-level video dedup: real per-frame decode + "
              "fingerprint star assignment finds clip reuse across "
              "videos that are not whole-file duplicates"),
    QuerySpec("avi_video_stats", avi_video_stats, AVI_VIDEO_STATS_SQL,
              "REAL uncompressed-RGB AVI video decode (pure numpy RIFF "
              "list walk + per-frame DIB slicing, frame-order-sensitive "
              "stats) vs closed-form gradient oracle"),
    QuerySpec("jpeg_pixel_stats", jpeg_pixel_stats, JPEG_PIXEL_STATS_SQL,
              "REAL baseline-JPEG decode (numpy marker walk, canonical "
              "Huffman entropy decode, dequant, vectorized IDCT) to "
              "pixel stats vs closed-form tile oracle — the fixture "
              "lives in the codec's exact fixed-point set"),
    QuerySpec("mjpg_video_stats", mjpg_video_stats, MJPG_VIDEO_STATS_SQL,
              "REAL Motion-JPEG AVI decode (RIFF walk + per-frame "
              "JPEG entropy decode, frame-order-sensitive stats) vs "
              "closed-form tile oracle"),
    QuerySpec("image_resize_stats", image_resize_stats,
              IMAGE_RESIZE_STATS_SQL,
              "training-pipeline image resize: real BMP decode + "
              "nearest-neighbor index-map resize to the model input "
              "grid, exact closed-form oracle incl. corner pixels"),
    QuerySpec("streaming_frame_dedup_replay", streaming_frame_dedup_replay,
              STREAMING_FRAME_DEDUP_REPLAY_SQL,
              "incremental frame-level video dedup: two sequential "
              "micro-batches of really-decoded frames against the "
              "accumulated fingerprint state table vs the congruence "
              "first-occurrence oracle"),
]
