"""Driver-contract entry for the multimodal pipeline (SURVEY.md §2.9):
decode -> resize -> feature-extract over binary media columns.

Since round 11 the image substrate is REAL binary PGM (netpbm P5) built
byte-for-byte in SQL (synth_pgm) and decoded by the genuine stdlib
parser (multimodal/media.py::_decode_pgm) — the WAV discipline applied
to images (r10 verdict ask #3): pixel values follow a deterministic
integer formula, so DuckDB predicts every decoded byte arithmetically
without parsing binary, and the full pipeline (decode -> nearest-
neighbor resize re-encoded as P5 -> re-decode -> histogram) is
oracle-checked end to end, including the per-bin histogram masses.
The FAKEIMG container remains only in tests for the error paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swiftbulkuploader_spark import memo
from swiftbulkuploader_spark.catalog import load_table
from swiftbulkuploader_spark.multimodal.media import (
    decode_image_meta,
    extract_image_features,
    resize_image,
)


def synth_media(docs: DataFrame, limit: int = 200) -> DataFrame:
    """documents -> deterministic FAKEIMG media frame (media_id, kind,
    format, data, meta). Pixels = sha2(text) bytes tiled to w*h; dims vary
    with doc_id so resize paths (landscape/portrait/no-op) all occur."""
    w = (F.col("doc_id") % 5 + 4).cast("int")   # 4..8
    h = (F.col("doc_id") % 4 + 3).cast("int")   # 3..6
    hex_needed = (w * h * 2).cast("int")
    pixel_hex = F.substring(
        F.repeat(F.sha2(F.col("text"), 256), 8), 1, 64 * 8 * 2
    )
    payload = F.concat(
        F.encode(F.concat_ws("", F.lit("FAKEIMG:"), w, F.lit("x"), h, F.lit(":")), "utf-8"),
        F.unhex(F.expr("substring(pixel_hex, 1, hex_needed)")),
    )
    return (
        docs.orderBy("doc_id")
        .limit(limit)
        .withColumn("pixel_hex", pixel_hex)
        .withColumn("hex_needed", hex_needed)
        .select(
            F.col("doc_id").alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit("fakeimg").alias("format"),
            payload.alias("data"),
            F.create_map(F.lit("source"), F.lit("synth")).alias("meta"),
        )
    )


PGM_LIMIT = 200


def synth_pgm(docs: DataFrame, limit: int = PGM_LIMIT) -> DataFrame:
    """documents -> REAL binary-PGM media frame: standard netpbm P5
    blobs ('P5\\n[# synth\\n]<w> <h>\\n255\\n' + raw bytes), dims from
    doc_id (4..8 x 3..6), pixel i = (media_id*7 + i*13) % 256 — the
    x9_wav_decode_stats formula trick, so the oracle re-derives every
    byte arithmetically. Every third image carries a '#' comment line
    in the header, so the contract exercises the parser's
    comment-skipping path, not just the happy path."""
    w = (F.col("doc_id") % 5 + 4).cast("int")
    h = (F.col("doc_id") % 4 + 3).cast("int")
    header = F.concat_ws(
        "",
        F.lit("P5\n"),
        F.when(F.col("media_id") % 3 == 0, F.lit("# synth\n"))
        .otherwise(F.lit("")),
        F.col("w"), F.lit(" "), F.col("h"), F.lit("\n255\n"),
    )
    pix_hex = F.expr(
        "array_join(transform(sequence(0, w * h - 1), "
        "i -> lpad(hex((media_id * 7 + i * 13) % 256), 2, '0')), '')"
    )
    return (
        docs.orderBy("doc_id")
        .limit(limit)
        .select(
            F.col("doc_id").alias("media_id"),
            w.alias("w"), h.alias("h"),
        )
        .withColumn("data", F.concat(F.encode(header, "utf-8"),
                                     F.unhex(pix_hex)))
        .select(
            "media_id",
            F.lit("image").alias("kind"),
            F.lit("pgm").alias("format"),
            "data",
            F.create_map(F.lit("source"), F.lit("synth")).alias("meta"),
        )
    )


def synth_ppm(docs: DataFrame, limit: int = PGM_LIMIT) -> DataFrame:
    """documents -> REAL binary-PPM COLOR media frame (round 12): netpbm
    P6 blobs ('P6\\n[# synth\\n]<w> <h>\\n255\\n' + w*h interleaved RGB
    triples), byte j = (media_id*7 + j*13) % 256 — the synth_pgm formula
    over 3x the bytes, so the oracle re-derives every channel sample
    arithmetically. Every third image carries a '#' comment line."""
    w = (F.col("doc_id") % 5 + 4).cast("int")
    h = (F.col("doc_id") % 4 + 3).cast("int")
    header = F.concat_ws(
        "",
        F.lit("P6\n"),
        F.when(F.col("media_id") % 3 == 0, F.lit("# synth\n"))
        .otherwise(F.lit("")),
        F.col("w"), F.lit(" "), F.col("h"), F.lit("\n255\n"),
    )
    pix_hex = F.expr(
        "array_join(transform(sequence(0, w * h * 3 - 1), "
        "i -> lpad(hex((media_id * 7 + i * 13) % 256), 2, '0')), '')"
    )
    return (
        docs.orderBy("doc_id")
        .limit(limit)
        .select(
            F.col("doc_id").alias("media_id"),
            w.alias("w"), h.alias("h"),
        )
        .withColumn("data", F.concat(F.encode(header, "utf-8"),
                                     F.unhex(pix_hex)))
        .select(
            "media_id",
            F.lit("image").alias("kind"),
            F.lit("ppm").alias("format"),
            "data",
            F.create_map(F.lit("source"), F.lit("synth")).alias("meta"),
        )
    )


def x9_rgb_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel stats over the REAL P6 PPM color decode (round 12,
    r11 verdict ask #5 — color gets a genuine substrate): per image,
    the channel means and the 4-bin red-channel histogram. Every value
    crosses the genuine stdlib netpbm parser (shared P5/P6 header
    grammar, 3-byte interleaved samples) in Arrow-batched mapInPandas
    and is re-derived arithmetically by the oracle from the byte
    formula — a header, interleave-stride, or binning bug shifts some
    column.

    Exactness: the decoder returns ONLY exact integer sums/counts; the
    channel means are single exact-int double divisions rounded 6 dp
    Spark-side (no Python round ever touches a compared column). Shape:
    one narrow binary scan -> Arrow ferry -> row-local arithmetic; no
    shuffle."""
    from swiftbulkuploader_spark.multimodal.media import decode_rgb_stats

    media = synth_ppm(load_table(spark, sf_dir, "documents"))
    s = decode_rgb_stats(media)
    n = (F.col("width") * F.col("height")).cast("double")
    return s.select(
        "media_id", "width", "height",
        F.round(F.col("sum_r").cast("double") / n, 6).alias("mean_r"),
        F.round(F.col("sum_g").cast("double") / n, 6).alias("mean_g"),
        F.round(F.col("sum_b").cast("double") / n, 6).alias("mean_b"),
        "r0", "r1", "r2", "r3",
    )


# registered at the bottom of the module (the QUERIES/ORACLES dicts are
# defined mid-file, after this point)
_X9_RGB_ORACLE = f"""
    WITH m AS (
        SELECT doc_id AS media_id,
               CAST(doc_id % 5 + 4 AS INT) AS width,
               CAST(doc_id % 4 + 3 AS INT) AS height
        FROM documents ORDER BY doc_id LIMIT {PGM_LIMIT}
    ), px AS (
        SELECT media_id, width, height, j.i % 3 AS c,
               (media_id * 7 + j.i * 13) % 256 AS p
        FROM m, unnest(range(width * height * 3)) AS j(i)
    ), agg AS (
        SELECT media_id, width, height,
               CAST(sum(CASE WHEN c = 0 THEN p END) AS BIGINT) AS sum_r,
               CAST(sum(CASE WHEN c = 1 THEN p END) AS BIGINT) AS sum_g,
               CAST(sum(CASE WHEN c = 2 THEN p END) AS BIGINT) AS sum_b,
               CAST(sum(CASE WHEN c = 0 AND p // 64 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS r0,
               CAST(sum(CASE WHEN c = 0 AND p // 64 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS r1,
               CAST(sum(CASE WHEN c = 0 AND p // 64 = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS r2,
               CAST(sum(CASE WHEN c = 0 AND p // 64 = 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS r3
        FROM px GROUP BY 1, 2, 3
    )
    SELECT media_id, width, height,
           round(CAST(sum_r AS DOUBLE) / (width * height), 6) AS mean_r,
           round(CAST(sum_g AS DOUBLE) / (width * height), 6) AS mean_g,
           round(CAST(sum_b AS DOUBLE) / (width * height), 6) AS mean_b,
           r0, r1, r2, r3
    FROM agg
"""


def x9_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-image pipeline, fully oracled (r10 verdict ask #3 — the
    rows-only graduation): P5 PGM decode (genuine stdlib parser) ->
    nearest-neighbor resize re-encoded as P5 -> re-decode -> 4-bin
    histogram; one row per image with original and resized dims, mean
    pixel, and the per-bin histogram masses. Every value crosses the
    Python codec (Arrow mapInPandas) and is re-derived arithmetically
    by the oracle from the pixel formula — a header-size, stride, or
    binning error in the decoder shifts some column.

    At 100 TB: three narrow binary scans -> Arrow ferry -> per-image
    stats; no shuffle until the bounded joins on media_id."""
    media = synth_pgm(load_table(spark, sf_dir, "documents"))
    meta = decode_image_meta(media).select(
        "media_id", "width", "height",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )
    resized_meta = decode_image_meta(resize_image(media, max_side=4)).select(
        "media_id",
        F.col("width").alias("r_width"),
        F.col("height").alias("r_height"),
    )
    feats = extract_image_features(media, n_bins=4).select(
        "media_id",
        F.size("histogram").alias("n_bins"),
        *[
            F.round(F.element_at("histogram", b + 1), 6).alias(f"h{b}")
            for b in range(4)
        ],
    )
    return (
        meta.join(resized_meta, "media_id")
        .join(feats, "media_id")
        .orderBy("media_id")
    )


def x9_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DETERMINISTIC slice of the media pipeline, oracle-checked: per
    image, the header dims, byte count, mean pixel, and post-resize dims —
    all produced by the real mapInPandas decode/resize path (Arrow binary
    ferry, Python codec), then hash-compared against DuckDB recomputing the
    same values from first principles (sha256 hex -> byte values, the
    nearest-neighbor stride arithmetic). This pins the Python codec math
    itself to the oracle, not just the plumbing — and since round 11 it
    is the coverage that keeps the legacy FAKEIMG container's decode
    path contract-checked (the PGM queries cover the real codec)."""
    media = synth_media(load_table(spark, sf_dir, "documents"))
    meta = decode_image_meta(media).select(
        "media_id", "width", "height", "n_bytes",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )
    resized_meta = decode_image_meta(resize_image(media, max_side=4)).select(
        "media_id",
        F.col("width").alias("r_width"),
        F.col("height").alias("r_height"),
    )
    return meta.join(resized_meta, "media_id")


QUERIES = {
    "x9_media_pipeline": x9_media_pipeline,
    "x9_media_meta": x9_media_meta,
}

# x9_media_pipeline graduated from rows-only in round 11: its substrate
# is now real P5 PGM with formula pixels ((id*7 + i*13) % 256), so every
# decoded value — mean, resized dims (numpy arr[::scale] stride, length
# ceil(d/scale) with scale = ceil(max(w,h)/4)), and the 4-bin histogram
# masses (bucket = p*4//256) — is re-derived arithmetically below.
# x9_media_meta keeps the legacy FAKEIMG substrate (sha256-tiled pixels)
# so the stand-in container's decode path stays contract-covered too.
ORACLES: dict[str, str] = {
    "x9_media_pipeline": f"""
        WITH m AS (
            SELECT doc_id AS media_id,
                   CAST(doc_id % 5 + 4 AS INT) AS width,
                   CAST(doc_id % 4 + 3 AS INT) AS height
            FROM documents ORDER BY doc_id LIMIT {PGM_LIMIT}
        ), px AS (
            SELECT media_id, width, height,
                   CAST((media_id * 7 + j.i * 13) % 256 AS INT) AS p
            FROM m, unnest(range(width * height)) AS j(i)
        ), st AS (
            SELECT media_id, width, height,
                   round(CAST(sum(p) AS DOUBLE) / count(*), 6) AS mean_pixel,
                   round(CAST(count(CASE WHEN p * 4 // 256 = 0 THEN 1 END)
                              AS DOUBLE) / count(*), 6) AS h0,
                   round(CAST(count(CASE WHEN p * 4 // 256 = 1 THEN 1 END)
                              AS DOUBLE) / count(*), 6) AS h1,
                   round(CAST(count(CASE WHEN p * 4 // 256 = 2 THEN 1 END)
                              AS DOUBLE) / count(*), 6) AS h2,
                   round(CAST(count(CASE WHEN p * 4 // 256 = 3 THEN 1 END)
                              AS DOUBLE) / count(*), 6) AS h3
            FROM px
            GROUP BY 1, 2, 3
        )
        SELECT media_id, width, height, mean_pixel,
               CAST((width + ((greatest(width,height)+3)//4) - 1)
                    // ((greatest(width,height)+3)//4) AS INT) AS r_width,
               CAST((height + ((greatest(width,height)+3)//4) - 1)
                    // ((greatest(width,height)+3)//4) AS INT) AS r_height,
               CAST(4 AS INT) AS n_bins,
               h0, h1, h2, h3
        FROM st
        ORDER BY media_id
    """,
    "x9_media_meta": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   CAST(doc_id % 5 + 4 AS INT) AS width,
                   CAST(doc_id % 4 + 3 AS INT) AS height,
                   repeat(sha256(text), 8) AS hx
            FROM documents ORDER BY doc_id LIMIT 200
        ),
        px AS (
            SELECT media_id, width, height,
                   avg(CAST('0x' || substr(hx, 2*CAST(j.i AS INT) + 1, 2) AS INT)) AS mp
            FROM m, unnest(range(width*height)) AS j(i)
            GROUP BY 1, 2, 3
        )
        SELECT media_id, width, height,
               CAST(12 + width*height AS BIGINT) AS n_bytes,
               round(mp, 6) AS mean_pixel,
               CAST((width + ((greatest(width,height)+3)//4) - 1)
                    // ((greatest(width,height)+3)//4) AS INT) AS r_width,
               CAST((height + ((greatest(width,height)+3)//4) - 1)
                    // ((greatest(width,height)+3)//4) AS INT) AS r_height
        FROM px
    """,
}


FRAME_FPS = 24
FRAME_SAMPLES = 8


def x9_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform frame-sampling PLAN for synthetic videos — the multimodal
    planning half a real pipeline executes with a codec: each media gets a
    deterministic duration (10 + id % 50 seconds at 24 fps), and the plan
    emits K=8 uniformly-strided (sample_no, frame_idx, ts_s) rows per
    video via sequence + explode — no Python, no codec, pure integer
    arithmetic, so unlike the decode stage this half is fully
    oracle-checkable (the x9_media_meta honesty split: plumbing real and
    verified, codecs gated). frame_idx = floor(i * total_frames / K) is
    exact integer math; ts_s = frame_idx/24 is an exact division.

    At 100 TB the same plan drives ranged reads per frame (the
    sources/segments.py pattern): rows ∝ videos x K, one narrow explode,
    zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(10) + F.col("doc_id") % 50).cast("long").alias("duration_s"),
    )
    total = (F.col("duration_s") * F.lit(FRAME_FPS)).alias("total_frames")
    plan = media.select("media_id", "duration_s", total).select(
        "media_id",
        "duration_s",
        "total_frames",
        F.explode(F.sequence(F.lit(0), F.lit(FRAME_SAMPLES - 1))).alias("sample_no"),
    )
    fidx = F.floor(
        (F.col("sample_no") * F.col("total_frames")) / F.lit(FRAME_SAMPLES)
    ).cast("long")
    return plan.select(
        "media_id",
        "duration_s",
        F.col("sample_no").cast("int").alias("sample_no"),
        fidx.alias("frame_idx"),
        (fidx.cast("double") / F.lit(float(FRAME_FPS))).alias("ts_s"),
    )


QUERIES["x9_frame_sample_plan"] = x9_frame_sample_plan

ORACLES["x9_frame_sample_plan"] = f"""
    WITH media AS (
        SELECT doc_id AS media_id,
               CAST(10 + doc_id % 50 AS BIGINT) AS duration_s
        FROM documents
    ), plan AS (
        SELECT media_id, duration_s,
               duration_s * {FRAME_FPS} AS total_frames,
               unnest(range(0, {FRAME_SAMPLES})) AS sample_no
        FROM media
    )
    SELECT media_id, duration_s,
           CAST(sample_no AS INT) AS sample_no,
           CAST(floor((sample_no * total_frames)
                      / CAST({FRAME_SAMPLES} AS DOUBLE)) AS BIGINT) AS frame_idx,
           CAST(floor((sample_no * total_frames)
                      / CAST({FRAME_SAMPLES} AS DOUBLE)) AS DOUBLE)
               / CAST({FRAME_FPS} AS DOUBLE) AS ts_s
    FROM plan
"""


MEDIA_SEG_BUDGET = 4096  # bytes per upload segment


def x9_media_segment_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-budget upload segmentation over the BINARY media column — the
    multimodal twin of the file segmenter (reference filesegmenter.py:4-69
    splits one big file; at media scale the job is packing many small
    blobs into fixed-size upload segments): media ordered by id packs
    into MEDIA_SEG_BUDGET-byte segments by exclusive cumulative size,
    one row per segment with its item span and byte load.

    Cross-check by construction: Spark measures length(data) on the REAL
    constructed binary payload, while the oracle PREDICTS each size
    arithmetically (12-byte header + w*h pixel bytes) — a mismatch
    anywhere in the binary plumbing (header text, unhex tiling) would
    shift a segment boundary and fail the hash compare.

    The packing window is unpartitioned but runs over the synth_media
    frame, bounded at 200 rows by construction (BOUNDED_WINDOW_OK); the
    production form shards exactly like x3_pack_sequences (two-level,
    lang/shard partition)."""
    from pyspark.sql.window import Window

    media = synth_media(load_table(spark, sf_dir, "documents"))
    sized = media.select(
        "media_id", F.length("data").cast("long").alias("n_bytes")
    )
    w = Window.orderBy("media_id").rowsBetween(Window.unboundedPreceding, -1)
    cum_excl = F.coalesce(F.sum("n_bytes").over(w), F.lit(0).cast("long"))
    placed = sized.withColumn(
        "segment_id",
        F.floor(cum_excl / F.lit(MEDIA_SEG_BUDGET)).cast("long"),
    )
    return placed.groupBy("segment_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("n_bytes").cast("long").alias("seg_bytes"),
        F.min("media_id").cast("long").alias("first_media"),
        F.max("media_id").cast("long").alias("last_media"),
    )


QUERIES["x9_media_segment_plan"] = x9_media_segment_plan

ORACLES["x9_media_segment_plan"] = f"""
    WITH m AS (
        SELECT doc_id AS media_id,
               CAST(12 + (doc_id % 5 + 4) * (doc_id % 4 + 3) AS BIGINT)
                   AS n_bytes
        FROM documents ORDER BY doc_id LIMIT 200
    ), placed AS (
        SELECT media_id, n_bytes,
               coalesce(sum(n_bytes) OVER (ORDER BY media_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {MEDIA_SEG_BUDGET} AS segment_id
        FROM m
    )
    SELECT CAST(segment_id AS BIGINT) AS segment_id,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(n_bytes) AS BIGINT) AS seg_bytes,
           CAST(min(media_id) AS BIGINT) AS first_media,
           CAST(max(media_id) AS BIGINT) AS last_media
    FROM placed GROUP BY segment_id
"""


# STFT-style framing constants: 400-sample window / 160-sample hop is the
# classic 25 ms / 10 ms speech-feature grid at 16 kHz (and 50 ms / 20 ms at
# 8 kHz — the plan is rate-aware by construction). 16-bit mono PCM behind a
# 44-byte canonical WAV header.
AUDIO_WIN_SAMPLES = 400
AUDIO_HOP_SAMPLES = 160
AUDIO_BYTES_PER_SAMPLE = 2
AUDIO_WAV_HEADER_BYTES = 44


def x9_audio_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio framing PLAN — the audio twin of x9_frame_sample_plan that
    completes the multimodal-columns story (r8 verdict ask #8): per
    synthetic audio blob (sample rate 16 k/8 k by parity, duration
    0.5-2.5 s from doc_id), emit one row per FULL analysis frame on the
    window/hop grid with its sample span, timestamp, and the BYTE RANGE a
    ranged read needs (sources/segments.py pattern: header offset +
    start_sample * bytes_per_sample). Incomplete tail frames are dropped
    (standard STFT framing): n_frames = (total - win) div hop + 1.

    Like the video plan, this is the oracle-checkable planning HALF of
    the pipeline — pure integer arithmetic (one exact double: ts_ms =
    start_sample * 1000 / rate, fixed-shape on both engines), no codec,
    no Python. At 100 TB: rows ∝ clips x frames-per-clip, one narrow
    explode, zero shuffles; the byte ranges drive per-frame ranged reads
    exactly as the video plan drives per-frame seeks.

    Reference parity: filesegmenter.py:4-69 splits one file by byte
    budget; this is the same ranged-read planning generalized to a
    sample-grid (§2.9 extension)."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(16000))
        .otherwise(F.lit(8000)).cast("long").alias("sample_rate"),
        (F.lit(500) + F.col("doc_id") % 2000).cast("long").alias("duration_ms"),
    )
    total = F.expr("(duration_ms * sample_rate) div 1000")
    framed = media.select(
        "media_id", "sample_rate", "duration_ms",
        total.alias("total_samples"),
    ).filter(
        F.col("total_samples") >= AUDIO_WIN_SAMPLES
    ).select(
        "media_id", "sample_rate", "duration_ms", "total_samples",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.expr(
                    f"(total_samples - {AUDIO_WIN_SAMPLES})"
                    f" div {AUDIO_HOP_SAMPLES}"
                ),
            )
        ).alias("frame_no"),
    )
    start = (F.col("frame_no") * F.lit(AUDIO_HOP_SAMPLES)).cast("long")
    return framed.select(
        "media_id",
        "sample_rate",
        "duration_ms",
        "total_samples",
        F.col("frame_no").cast("int").alias("frame_no"),
        start.alias("start_sample"),
        (
            start.cast("double") * F.lit(1000.0)
            / F.col("sample_rate").cast("double")
        ).alias("ts_ms"),
        (
            F.lit(AUDIO_WAV_HEADER_BYTES)
            + start * F.lit(AUDIO_BYTES_PER_SAMPLE)
        ).cast("long").alias("byte_start"),
        F.lit(AUDIO_WIN_SAMPLES * AUDIO_BYTES_PER_SAMPLE)
        .cast("long").alias("byte_len"),
    )


QUERIES["x9_audio_frame_plan"] = x9_audio_frame_plan

ORACLES["x9_audio_frame_plan"] = f"""
    WITH media AS (
        SELECT doc_id AS media_id,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 8000 END
                    AS BIGINT) AS sample_rate,
               CAST(500 + doc_id % 2000 AS BIGINT) AS duration_ms
        FROM documents
    ), fr AS (
        SELECT media_id, sample_rate, duration_ms,
               (duration_ms * sample_rate) // 1000 AS total_samples
        FROM media
    ), ex AS (
        SELECT media_id, sample_rate, duration_ms, total_samples,
               unnest(range(0, (total_samples - {AUDIO_WIN_SAMPLES})
                               // {AUDIO_HOP_SAMPLES} + 1)) AS frame_no
        FROM fr WHERE total_samples >= {AUDIO_WIN_SAMPLES}
    )
    SELECT media_id, sample_rate, duration_ms, total_samples,
           CAST(frame_no AS INT) AS frame_no,
           CAST(frame_no * {AUDIO_HOP_SAMPLES} AS BIGINT) AS start_sample,
           CAST(frame_no * {AUDIO_HOP_SAMPLES} AS DOUBLE)
               * CAST(1000 AS DOUBLE)
               / CAST(sample_rate AS DOUBLE) AS ts_ms,
           CAST({AUDIO_WAV_HEADER_BYTES}
                + frame_no * {AUDIO_HOP_SAMPLES}
                  * {AUDIO_BYTES_PER_SAMPLE} AS BIGINT) AS byte_start,
           CAST({AUDIO_WIN_SAMPLES * AUDIO_BYTES_PER_SAMPLE} AS BIGINT)
               AS byte_len
    FROM ex
"""


# ---------------------------------------------------------------------------
# X9 — REAL WAV decode (stdlib wave codec; r9 verdict ask #7)
# ---------------------------------------------------------------------------

WAV_LIMIT = 200


def _le_hex(v: str, n_bytes: int) -> str:
    """SQL text: little-endian hex of expression ``v`` over n_bytes."""
    return "concat(" + ", ".join(
        f"lpad(hex((({v}) div {256 ** b}) % 256), 2, '0')"
        for b in range(n_bytes)
    ) + ")"


def synth_wav(docs: DataFrame, limit: int = WAV_LIMIT) -> DataFrame:
    """documents -> REAL RIFF/WAVE PCM16-mono blobs built with native SQL
    byte arithmetic (media_id, sample_rate, n_samples, data): a 44-byte
    canonical header (chunk sizes, byte rate, block align all derived
    per row) plus little-endian int16 samples from the deterministic
    formula s_i = ((media_id*7 + i*13) mod 65536) - (65536 if >= 32768).
    The blob is a VALID wav file — tests/test_multimodal.py pins byte
    equality against the stdlib wave WRITER for the same params — so the
    decode half exercises a real container parse, while every decoded
    statistic stays arithmetically predictable for the DuckDB oracle."""
    rate = "sample_rate"
    nsamp = "n_samples"
    samp_u16 = "(media_id * 7 + i * 13) % 65536"
    header_hex = (
        "concat('52494646', "                       # 'RIFF'
        + _le_hex(f"36 + {nsamp} * 2", 4)
        + ", '57415645', '666d7420', "              # 'WAVE', 'fmt '
        + _le_hex("16", 4)                          # fmt chunk size
        + ", " + _le_hex("1", 2)                    # PCM
        + ", " + _le_hex("1", 2)                    # mono
        + ", " + _le_hex(rate, 4)
        + ", " + _le_hex(f"{rate} * 2", 4)          # byte rate
        + ", " + _le_hex("2", 2)                    # block align
        + ", " + _le_hex("16", 2)                   # bits/sample
        + ", '64617461', "                          # 'data'
        + _le_hex(f"{nsamp} * 2", 4)
        + ")"
    )
    data_hex = (
        f"array_join(transform(sequence(0, CAST({nsamp} AS INT) - 1), "
        f"i -> {_le_hex(samp_u16, 2)}), '')"
    )
    return (
        docs.orderBy("doc_id").limit(limit)
        .select(
            F.col("doc_id").alias("media_id"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(16000))
            .otherwise(F.lit(8000)).cast("long").alias("sample_rate"),
            (F.lit(40) + F.col("doc_id") % 160).cast("long")
            .alias("n_samples"),
        )
        .withColumn(
            "data", F.unhex(F.expr(f"concat({header_hex}, {data_hex})"))
        )
    )


def x9_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoded-sample-stats twin of x9_audio_frame_plan: REAL WAV blobs
    (synth_wav) parsed by the stdlib wave codec in Arrow-batched
    mapInPandas (multimodal/media.py::decode_wav_stats), emitting
    container metadata + exact PCM statistics per clip.

    Oracle story: the samples follow a deterministic integer formula, so
    DuckDB predicts every decoded value arithmetically WITHOUT parsing
    binary — a genuine cross-check that the Python codec read the bytes
    the SQL generator wrote (any header-size, endianness, or sign error
    shifts min/max/mean/rms). mean and rms are single IEEE ops over
    exact integer sums on both sides (no rounding needed).

    At 100 TB: one narrow binary scan -> Arrow ferry -> per-clip stats;
    no shuffle. Reference parity: none (multimodal extension, §2.9);
    the ranged-read plan that would FEED this decode at scale is
    x9_audio_frame_plan."""
    from swiftbulkuploader_spark.multimodal.media import decode_wav_stats

    docs = load_table(spark, sf_dir, "documents")
    return decode_wav_stats(synth_wav(docs))


QUERIES["x9_wav_decode_stats"] = x9_wav_decode_stats

ORACLES["x9_wav_decode_stats"] = f"""
    WITH m AS (
        SELECT doc_id AS media_id,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 8000 END
                    AS BIGINT) AS frame_rate,
               CAST(40 + doc_id % 160 AS BIGINT) AS n
        FROM documents ORDER BY doc_id LIMIT {WAV_LIMIT}
    ), s AS (
        SELECT media_id, frame_rate, n,
               CASE WHEN (media_id * 7 + i * 13) % 65536 >= 32768
                    THEN (media_id * 7 + i * 13) % 65536 - 65536
                    ELSE (media_id * 7 + i * 13) % 65536 END AS v
        FROM m, unnest(range(n)) AS u(i)
    )
    SELECT media_id,
           CAST(1 AS INT) AS n_channels,
           CAST(2 AS INT) AS sample_width,
           frame_rate,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(min(v) AS BIGINT) AS sample_min,
           CAST(max(v) AS BIGINT) AS sample_max,
           CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS sample_mean,
           sqrt(CAST(sum(v * v) AS DOUBLE) / CAST(count(*) AS DOUBLE))
               AS sample_rms
    FROM s
    GROUP BY media_id, frame_rate
"""


# ---------------------------------------------------------------------------
# X9 — perceptual-hash near-dup over a binary image column (r9 memory's
# scoped x9_phash_dedup)
# ---------------------------------------------------------------------------

PHASH_HEADER_HEX = "50484953543A36343A"  # b"PHIST:64:"
PHASH_BINS = 64
PHASH_HAM_T = 3


def synth_phash_media(docs: DataFrame) -> DataFrame:
    """documents -> (media_id, data): a binary "image" per doc whose 64
    pixel bytes are the doc's BIGRAM-histogram rendering (bin =
    md5-prefix of the bigram mod 64, intensity = count clipped at 255)
    behind a b"PHIST:64:" header. Near-dup documents share most bigrams,
    so their renderings differ in a few pixels — the image analogue of
    near-dup text, which is what gives the aHash genuine near-match
    structure (a sha2-pixel image randomizes away all similarity; a
    UNIGRAM histogram on this small-vocab corpus has the opposite
    failure — every doc looks alike: measured truth-pair hamming 0-1 vs
    random-pair >= 15 for bigrams, vs random-pair min 0 for unigrams).
    Docs with < 2 tokens have no bigrams and are excluded (mirrored in
    the oracle). DuckDB gotcha earned here: least()/greatest() SKIP
    NULLs (least(NULL, 255) = 255), so the oracle's empty-bin fill must
    coalesce BEFORE least, never after."""
    toks = F.split(
        F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))), " "
    )
    base = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= 2
    )
    bg = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> concat_ws(' ', slice(toks, i, 2)))"
            )
        ).alias("bg"),
    )
    cells = bg.select(
        "doc_id",
        (F.conv(F.substring(F.md5("bg"), 1, 2), 16, 10).cast("long")
         % PHASH_BINS).alias("bin"),
    ).groupBy("doc_id", "bin").agg(
        F.least(F.count(F.lit(1)), F.lit(255)).cast("int").alias("p")
    )
    # ONE projection from the bin map straight to the hex payload:
    # stacked transform projections re-evaluate the upstream HOF per
    # element under CollapseProject (interpreted HOFs have no CSE — the
    # shingle_base lesson), turning 64 lookups/row into 64*64
    pix_hex = F.expr(
        f"array_join(transform(sequence(0, {PHASH_BINS - 1}), "
        "b -> lpad(hex(coalesce(element_at(m, CAST(b AS BIGINT)), 0)),"
        " 2, '0')), '')"
    )
    return cells.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("bin", "p"))
        ).alias("m")
    ).select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.concat(F.lit(PHASH_HEADER_HEX), pix_hex)).alias("data"),
    )


# Full-corpus pHash pair memo (round 13): the pair frame is consumed by
# x9_phash_dedup AND the composed x10_multimodal_manifest — one banded
# join + verify per session (CLAUDE.md 11a: deterministic derived frames
# consumed by several queries get persist + memoize).


def phash_corpus_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (a, b, hamming) pHash near-dup pairs over the rendered
    image corpus — the body of x9_phash_dedup, factored so composed
    pipelines reuse ONE persisted materialization."""
    return memo.get(spark, "phash_pairs", (sf_dir,),
                    lambda: _phash_pairs_build(spark, sf_dir).persist())


def x9_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection over a BINARY image column —
    the image-dedup stage of a multimodal pipeline, end to end in SQL
    byte math (no Python): decode the 64 pixel bytes out of the binary
    with hex()/conv() arithmetic, compute the classic aHash (bit b set
    iff pixel_b > mean — integer-exact as p*64 > sum), band the 64-bit
    hash into 4 x 16-bit words, equi-join bands for candidates, verify
    exact Hamming distance <= PHASH_HAM_T with bit_count(xor).

    Completeness contract: 4 bands / threshold 3 is pigeonhole-LOSSLESS
    (any pair within Hamming 3 shares at least one intact band), and the
    DuckDB oracle computes the ALL-PAIRS Hamming join directly — every
    verify run re-proves the banding drops nothing (the
    x1_allpairs_prefix oracle discipline). Substrate liveness: the
    near-dup text pairs render to images at Hamming <= 1 while unrelated
    docs sit at >= 15 (measured; see synth_phash_media).

    At 100 TB of images: hashes are 8 bytes/row; the band join shuffles
    4 rows/image; verification touches only band-colliding candidates —
    never an all-pairs scan (that form exists only inside the oracle,
    where completeness is the point).

    Reference parity: none (§2.9 multimodal extension)."""
    return phash_corpus_pairs(spark, sf_dir)


def _phash_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-memoized pHash pipeline (see x9_phash_dedup's docstring for
    semantics and scale analysis)."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize the binary column before decoding: without the
    # checkpoint CollapseProject merges synth and decode projections and
    # the decode's per-element lambda re-evaluates the WHOLE synth hex
    # construction per pixel (64x64 interpreted evals/row — measured
    # 50 s of the 51 s build at sf0.1; 1.5 s materialized). In
    # production the media table is stored anyway — this is that shape.
    media = synth_phash_media(docs).localCheckpoint(eager=True)
    hx = F.hex(F.col("data"))
    hdr_chars = len(PHASH_HEADER_HEX)
    px = F.expr(
        f"transform(sequence(0, {PHASH_BINS - 1}), "
        f"i -> CAST(conv(substr(hx, {hdr_chars + 1} + 2 * i, 2), 16, 10)"
        " AS INT))"
    )
    # materialize the decoded pixel array BEFORE the aHash folds: the
    # word aggregates reference px per element, and with px still a
    # projection expression the interpreted HOF re-evaluates the full
    # 64-conv decode per reference (measured 40 s of the 50 s build at
    # sf0.1); the checkpoint makes px a plain column read
    decoded = media.select("media_id", hx.alias("hx")).select(
        "media_id", px.alias("px")
    ).localCheckpoint(eager=True)
    # one fold computes (lo, hi) with the pixel sum carried in the SEED
    # (evaluated once per row), so nothing upstream re-executes
    lohi = F.expr(
        "aggregate(sequence(0, 63), "
        "named_struct('lo', CAST(0 AS BIGINT), 'hi', CAST(0 AS BIGINT), "
        "'s', aggregate(px, 0, (a, x) -> a + x)), "
        "(acc, i) -> named_struct("
        "'lo', acc.lo + IF(i < 32 AND element_at(px, i + 1) * 64 > acc.s, "
        "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)), "
        "'hi', acc.hi + IF(i >= 32 AND element_at(px, i + 1) * 64 > acc.s, "
        "shiftleft(CAST(1 AS BIGINT), i - 32), CAST(0 AS BIGINT)), "
        "'s', acc.s))"
    )
    hashes = decoded.select(
        "media_id", lohi.alias("w")
    ).select(
        "media_id", F.col("w.lo").alias("lo"), F.col("w.hi").alias("hi")
    ).localCheckpoint(eager=True)  # consumed by 2 join sides + bands
    bands = hashes.select(
        "media_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("bi"),
                         (F.col("lo") % 65536).alias("bv")),
                F.struct(F.lit(1).alias("bi"),
                         F.expr("lo div 65536").alias("bv")),
                F.struct(F.lit(2).alias("bi"),
                         (F.col("hi") % 65536).alias("bv")),
                F.struct(F.lit(3).alias("bi"),
                         F.expr("hi div 65536").alias("bv")),
            )
        ).alias("b"),
    ).select("media_id", F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv"))
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["bi", "bv"])
        .filter(F.col("x.media_id") < F.col("y.media_id"))
        .select(
            F.col("x.media_id").alias("a"), F.col("y.media_id").alias("b")
        )
        .distinct()
    )
    ham = (
        F.bit_count(
            F.expr("CAST(la AS BIGINT) ^ CAST(lb AS BIGINT)")
        )
        + F.bit_count(F.expr("CAST(ha AS BIGINT) ^ CAST(hb AS BIGINT)"))
    )
    return (
        cand.join(
            hashes.select(F.col("media_id").alias("a"),
                          F.col("lo").alias("la"), F.col("hi").alias("ha")),
            "a",
        )
        .join(
            hashes.select(F.col("media_id").alias("b"),
                          F.col("lo").alias("lb"), F.col("hi").alias("hb")),
            "b",
        )
        .select("a", "b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= PHASH_HAM_T)
    )


QUERIES["x9_phash_dedup"] = x9_phash_dedup

ORACLES["x9_phash_dedup"] = f"""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), gg AS (
        SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bg
        FROM t, unnest(range(1, len(toks))) AS z(i)
        WHERE len(toks) >= 2
    ), b AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(bg), 1, 2)) AS BIGINT) % {PHASH_BINS}
                   AS bin,
               count(*) AS c
        FROM gg GROUP BY 1, 2
    ), full_px AS (
        SELECT d.doc_id, g.bin, least(coalesce(b.c, 0), 255) AS p
        FROM (SELECT DISTINCT doc_id FROM gg) d
        CROSS JOIN (SELECT unnest(range({PHASH_BINS})) AS bin) g
        LEFT JOIN b ON b.doc_id = d.doc_id AND b.bin = g.bin
    ), st AS (
        SELECT doc_id, sum(p) AS s FROM full_px GROUP BY 1
    ), ah AS (
        SELECT f.doc_id,
               sum(CASE WHEN f.bin < 32 AND f.p * 64 > st.s
                        THEN CAST(1 AS BIGINT) << CAST(f.bin AS INT)
                        ELSE 0 END) AS lo,
               sum(CASE WHEN f.bin >= 32 AND f.p * 64 > st.s
                        THEN CAST(1 AS BIGINT) << CAST(f.bin - 32 AS INT)
                        ELSE 0 END) AS hi
        FROM full_px f JOIN st USING (doc_id)
        GROUP BY f.doc_id
    )
    SELECT x.doc_id AS a, y.doc_id AS b,
           CAST(bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi))
                AS INT) AS hamming
    FROM ah x JOIN ah y ON x.doc_id < y.doc_id
    WHERE bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi))
          <= {PHASH_HAM_T}
"""


# ---------------------------------------------------------------------------
# X9 — fixed-bin spectral energy over REAL decoded PCM (x9_wav_spectral)
# ---------------------------------------------------------------------------


# per-clip pure-tone amplitude table: the quantized cos table scaled to
# int16 range by a PYTHON-side constant fold ([c // 100]) — ONE literal
# list embedded identically in the Spark generator and the oracle VALUES,
# so no cross-engine division semantics are in play. The ramp substrate of
# synth_wav is 1/f (bin 1 dominated every clip — a DEAD dominant_bin, the
# x6_ab_test lesson), so the spectral query gets its own tonal substrate.
def _spec_tone_table() -> list[int]:
    from swiftbulkuploader_spark.multimodal.media import SPEC_COS_Q

    return [c // 100 for c in SPEC_COS_Q]


def synth_wav_tone(docs: DataFrame, limit: int = WAV_LIMIT) -> DataFrame:
    """documents -> REAL RIFF/WAVE PCM16-mono blobs carrying a PURE TONE
    at DFT bin k = SPEC_BINS[media_id % 4]: s_i = TONE[(k*i) % 32]
    (amplitude ~10^4, exact integers). Same canonical 44-byte header as
    synth_wav; the blob is a valid wav file, so the decode half still
    exercises a real container parse while every sample is predictable
    for the oracle."""
    from swiftbulkuploader_spark.multimodal.media import (
        SPEC_BINS,
        SPEC_WINDOW,
    )

    tone = _spec_tone_table()
    rate = "sample_rate"
    nsamp = "n_samples"
    karr = "array(" + ", ".join(str(k) for k in SPEC_BINS) + ")"
    tarr = "array(" + ", ".join(str(v) for v in tone) + ")"
    kexpr = f"element_at({karr}, CAST(media_id % 4 AS INT) + 1)"
    tone_i = (
        f"element_at({tarr}, CAST(({kexpr} * i) % {SPEC_WINDOW} AS INT) + 1)"
    )
    samp_u16 = f"(({tone_i}) + 65536) % 65536"
    header_hex = (
        "concat('52494646', "
        + _le_hex(f"36 + {nsamp} * 2", 4)
        + ", '57415645', '666d7420', "
        + _le_hex("16", 4)
        + ", " + _le_hex("1", 2)
        + ", " + _le_hex("1", 2)
        + ", " + _le_hex(rate, 4)
        + ", " + _le_hex(f"{rate} * 2", 4)
        + ", " + _le_hex("2", 2)
        + ", " + _le_hex("16", 2)
        + ", '64617461', "
        + _le_hex(f"{nsamp} * 2", 4)
        + ")"
    )
    data_hex = (
        f"array_join(transform(sequence(0, CAST({nsamp} AS INT) - 1), "
        f"i -> {_le_hex(samp_u16, 2)}), '')"
    )
    return (
        docs.orderBy("doc_id").limit(limit)
        .select(
            F.col("doc_id").alias("media_id"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(16000))
            .otherwise(F.lit(8000)).cast("long").alias("sample_rate"),
            (F.lit(40) + F.col("doc_id") % 160).cast("long")
            .alias("n_samples"),
        )
        .withColumn(
            "data", F.unhex(F.expr(f"concat({header_hex}, {data_hex})"))
        )
    )


def synth_wav_gated(docs: DataFrame, limit: int = WAV_LIMIT) -> DataFrame:
    """documents -> REAL RIFF/WAVE PCM16-mono blobs with a GATED tone:
    sample i = TONE[(k*i) % 32] inside the active window
    [lead, n - trail) and EXACT 0 outside — lead = (media_id % 4) * 8,
    trail = (media_id % 3) * 4 cover both-zero through 24+8 cases, so
    leading/trailing silence detection is live at every residue. Same
    canonical 44-byte header as synth_wav_tone; the oracle re-derives
    every sample from the gate + tone formula."""
    from swiftbulkuploader_spark.multimodal.media import (
        SPEC_BINS,
        SPEC_WINDOW,
    )

    tone = _spec_tone_table()
    rate = "sample_rate"
    nsamp = "n_samples"
    karr = "array(" + ", ".join(str(k) for k in SPEC_BINS) + ")"
    tarr = "array(" + ", ".join(str(v) for v in tone) + ")"
    kexpr = f"element_at({karr}, CAST(media_id % 4 AS INT) + 1)"
    tone_i = (
        f"element_at({tarr}, CAST(({kexpr} * i) % {SPEC_WINDOW} AS INT) + 1)"
    )
    gated = (
        f"(CASE WHEN i >= (media_id % 4) * 8 "
        f"AND i < {nsamp} - (media_id % 3) * 4 "
        f"THEN ({tone_i}) ELSE 0 END)"
    )
    samp_u16 = f"(({gated}) + 65536) % 65536"
    header_hex = (
        "concat('52494646', "
        + _le_hex(f"36 + {nsamp} * 2", 4)
        + ", '57415645', '666d7420', "
        + _le_hex("16", 4)
        + ", " + _le_hex("1", 2)
        + ", " + _le_hex("1", 2)
        + ", " + _le_hex(rate, 4)
        + ", " + _le_hex(f"{rate} * 2", 4)
        + ", " + _le_hex("2", 2)
        + ", " + _le_hex("16", 2)
        + ", '64617461', "
        + _le_hex(f"{nsamp} * 2", 4)
        + ")"
    )
    data_hex = (
        f"array_join(transform(sequence(0, CAST({nsamp} AS INT) - 1), "
        f"i -> {_le_hex(samp_u16, 2)}), '')"
    )
    return (
        docs.orderBy("doc_id").limit(limit)
        .select(
            F.col("doc_id").alias("media_id"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(16000))
            .otherwise(F.lit(8000)).cast("long").alias("sample_rate"),
            (F.lit(40) + F.col("doc_id") % 160).cast("long")
            .alias("n_samples"),
        )
        .withColumn(
            "data", F.unhex(F.expr(f"concat({header_hex}, {data_hex})"))
        )
    )


def x9_silence_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence trim/VAD pre-filter over REALLY-decoded PCM (round 12
    widening): per clip, the leading/trailing silent runs, total silent
    samples, and the silence ratio — the cut an audio-pretraining
    pipeline applies before any feature extraction (a mostly-silent
    clip wastes tokens; leading/trailing runs are trim points). The
    substrate gates a pure tone to zero outside a per-clip window
    (synth_wav_gated), so every statistic is live across clips and the
    oracle re-derives each sample arithmetically while the engine path
    crosses the genuine stdlib ``wave`` parse.

    Exactness: the decoder emits ONLY exact integers; the ratio is one
    exact-int double division rounded 6 dp Spark-side. Shape: one
    narrow binary scan -> Arrow ferry -> row-local counting; no
    shuffle."""
    from swiftbulkuploader_spark.multimodal.media import decode_wav_silence

    media = synth_wav_gated(load_table(spark, sf_dir, "documents"))
    s = decode_wav_silence(media)
    return s.select(
        "media_id", "n_samples", "lead_silence", "trail_silence",
        "n_silent",
        F.round(
            F.col("n_silent").cast("double")
            / F.col("n_samples").cast("double"), 6,
        ).alias("silence_ratio"),
    )


def _silence_oracle_sql() -> str:
    from swiftbulkuploader_spark.multimodal.media import (
        SPEC_BINS,
        SPEC_WINDOW,
    )

    tone = _spec_tone_table()
    tone_rows = ", ".join(f"({t}, {tone[t]})" for t in range(SPEC_WINDOW))
    kbin_rows = ", ".join(f"({m}, {k})" for m, k in enumerate(SPEC_BINS))
    return f"""
    WITH m AS (
        SELECT doc_id AS media_id,
               CAST(40 + doc_id % 160 AS BIGINT) AS n,
               (doc_id % 4) * 8 AS lead,
               (doc_id % 3) * 4 AS trail
        FROM documents ORDER BY doc_id LIMIT {WAV_LIMIT}
    ), kbin(m4, k) AS (VALUES {kbin_rows}),
    tone(t, amp) AS (VALUES {tone_rows}),
    s AS (
        SELECT m.media_id, m.n, u.i,
               CASE WHEN u.i >= m.lead AND u.i < m.n - m.trail
                    THEN tone.amp ELSE 0 END AS v
        FROM m
        JOIN kbin ON kbin.m4 = m.media_id % 4
        CROSS JOIN unnest(range(n)) AS u(i)
        JOIN tone ON tone.t = (kbin.k * u.i) % {SPEC_WINDOW}
    ), agg AS (
        SELECT media_id, n,
               coalesce(min(CASE WHEN v <> 0 THEN i END), n)
                   AS lead_silence,
               coalesce(n - 1 - max(CASE WHEN v <> 0 THEN i END), n)
                   AS trail_silence,
               CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_silent
        FROM s GROUP BY 1, 2
    )
    SELECT media_id,
           n AS n_samples,
           CAST(lead_silence AS BIGINT) AS lead_silence,
           CAST(trail_silence AS BIGINT) AS trail_silence,
           n_silent,
           round(CAST(n_silent AS DOUBLE) / CAST(n AS DOUBLE), 6)
               AS silence_ratio
    FROM agg
"""


def x9_wav_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip spectral energy at 4 fixed DFT bins over REALLY-decoded
    PCM — the frequency-domain twin of x9_wav_decode_stats and the
    audio-feature primitive (tone/voicing/bandwidth screens) a media
    training pipeline runs after decode. Each clip carries a pure tone
    at bin SPEC_BINS[media_id % 4] (synth_wav_tone), so dominant_bin is
    LIVE across all four values and self-checking (it must equal the
    clip's own tone bin). The stdlib ``wave`` codec parses each blob
    (decode_wav_goertzel); the DFT correlations are EXACT int64s against
    quantized cos/sin tables, energies are exact decimal(38,0)
    re^2+im^2, and the reported power is one fixed-shape double
    expression — so DuckDB reproduces every value arithmetically from
    the tone formula WITHOUT parsing binary (the x9_wav_decode_stats
    cross-check story, extended to a windowed transform). dominant_bin
    compares the EXACT integer energies with a smallest-k tie-break
    (identical CASE order in the oracle).

    At 100 TB: one narrow binary scan -> Arrow ferry (window-bounded
    work per clip) -> row-local decimal arithmetic; no shuffle.
    Reference parity: none (multimodal extension, §2.9)."""
    from swiftbulkuploader_spark.multimodal.media import (
        SPEC_BINS,
        SPEC_SCALE,
        SPEC_WINDOW,
        decode_wav_goertzel,
    )

    docs = load_table(spark, sf_dir, "documents")
    g = decode_wav_goertzel(synth_wav_tone(docs))
    dec = "decimal(38,0)"
    e = {
        k: (
            F.col(f"re_{k}").cast(dec) * F.col(f"re_{k}").cast(dec)
            + F.col(f"im_{k}").cast(dec) * F.col(f"im_{k}").cast(dec)
        )
        for k in SPEC_BINS
    }
    denom = float(SPEC_SCALE) * float(SPEC_SCALE) * float(SPEC_WINDOW ** 2)
    k1, k2, k4, k8 = SPEC_BINS
    dominant = (
        F.when((e[k1] >= e[k2]) & (e[k1] >= e[k4]) & (e[k1] >= e[k8]), k1)
        .when((e[k2] >= e[k4]) & (e[k2] >= e[k8]), k2)
        .when(e[k4] >= e[k8], k4)
        .otherwise(k8)
    )
    return g.select(
        "media_id",
        *[
            (e[k].cast("double") / F.lit(denom)).alias(f"power_{k}")
            for k in SPEC_BINS
        ],
        dominant.cast("int").alias("dominant_bin"),
    )


QUERIES["x9_wav_spectral"] = x9_wav_spectral


def _wav_spectral_oracle_sql() -> str:
    from swiftbulkuploader_spark.multimodal.media import (
        SPEC_BINS,
        SPEC_COS_Q,
        SPEC_SCALE,
        SPEC_SIN_Q,
        SPEC_WINDOW,
    )

    trig_rows = ", ".join(
        f"({t}, {SPEC_COS_Q[t]}, {SPEC_SIN_Q[t]})" for t in range(SPEC_WINDOW)
    )
    tone = _spec_tone_table()
    tone_rows = ", ".join(f"({t}, {tone[t]})" for t in range(SPEC_WINDOW))
    kbin_rows = ", ".join(f"({m}, {k})" for m, k in enumerate(SPEC_BINS))
    bin_rows = ", ".join(f"({k})" for k in SPEC_BINS)
    denom = repr(float(SPEC_SCALE) * float(SPEC_SCALE) * float(SPEC_WINDOW ** 2))
    k1, k2, k4, k8 = SPEC_BINS
    e_cols = ", ".join(
        f"sum(CASE WHEN k = {k} THEN e END) AS e{k}" for k in SPEC_BINS
    )
    powers = ", ".join(
        f"CAST(e{k} AS DOUBLE) / CAST({denom} AS DOUBLE) AS power_{k}"
        for k in SPEC_BINS
    )
    return f"""
    WITH m AS (
        SELECT doc_id AS media_id
        FROM documents ORDER BY doc_id LIMIT {WAV_LIMIT}
    ), kbin(m4, k) AS (VALUES {kbin_rows}),
    tone(t, amp) AS (VALUES {tone_rows}),
    s AS (
        SELECT m.media_id, CAST(u.i AS BIGINT) AS i,
               CAST(tone.amp AS BIGINT) AS v
        FROM m
        JOIN kbin ON kbin.m4 = m.media_id % 4
        CROSS JOIN unnest(range({SPEC_WINDOW})) AS u(i)
        JOIN tone ON tone.t = (kbin.k * u.i) % {SPEC_WINDOW}
    ), trig(t, cq, sq) AS (VALUES {trig_rows}),
    bins(k) AS (VALUES {bin_rows}),
    g AS (
        SELECT s.media_id, b.k,
               sum(s.v * trig.cq) AS re, -sum(s.v * trig.sq) AS im
        FROM s CROSS JOIN bins b
        JOIN trig ON trig.t = (b.k * s.i) % {SPEC_WINDOW}
        GROUP BY 1, 2
    ), en AS (
        SELECT media_id, k,
               CAST(re AS HUGEINT) * re + CAST(im AS HUGEINT) * im AS e
        FROM g
    ), wide AS (
        SELECT media_id, {e_cols} FROM en GROUP BY media_id
    )
    SELECT media_id, {powers},
           CAST(CASE WHEN e{k1} >= e{k2} AND e{k1} >= e{k4} AND e{k1} >= e{k8}
                     THEN {k1}
                     WHEN e{k2} >= e{k4} AND e{k2} >= e{k8} THEN {k2}
                     WHEN e{k4} >= e{k8} THEN {k4}
                     ELSE {k8} END AS INT) AS dominant_bin
    FROM wide
"""


ORACLES["x9_wav_spectral"] = _wav_spectral_oracle_sql()


def x9_image_stats_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image quality screens over the REAL PGM decode (the r11 second-
    modality payoff): per image, contrast (population pixel variance),
    texture (mean |horizontal neighbor diff|), and 16-bin intensity
    entropy — the cheap cuts an image-pretraining pipeline applies
    before any model touches the bytes. Every value crosses the genuine
    stdlib P5 parser in Arrow-batched mapInPandas and is re-derived
    arithmetically by the oracle from the pixel formula (a header,
    stride, or binning bug shifts some column).

    Exactness: exact integer sums folded into fixed-shape double
    expressions; entropy terms accumulate in ascending bin order on
    both engines, 6-dp rounded before compare. Shape: one narrow binary
    scan -> Arrow ferry -> per-image stats; no shuffle."""
    from swiftbulkuploader_spark.multimodal.media import decode_image_stats

    media = synth_pgm(load_table(spark, sf_dir, "documents"))
    return decode_image_stats(media).select(
        "media_id", "width", "height",
        F.round("var_pixel", 6).alias("var_pixel"),
        F.round("grad_mean", 6).alias("grad_mean"),
        F.round("entropy16", 6).alias("entropy16"),
    )


QUERIES["x9_image_stats_real"] = x9_image_stats_real

ORACLES["x9_image_stats_real"] = f"""
    WITH m AS (
        SELECT doc_id AS media_id,
               CAST(doc_id % 5 + 4 AS INT) AS width,
               CAST(doc_id % 4 + 3 AS INT) AS height
        FROM documents ORDER BY doc_id LIMIT {PGM_LIMIT}
    ), px AS (
        SELECT media_id, width, height, j.i AS i,
               (media_id * 7 + j.i * 13) % 256 AS p
        FROM m, unnest(range(width * height)) AS j(i)
    ), mom AS (
        SELECT media_id, width, height,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(p) AS BIGINT) AS s,
               CAST(sum(p * p) AS BIGINT) AS ss
        FROM px GROUP BY 1, 2, 3
    ), grd AS (
        SELECT a.media_id,
               CAST(sum(abs(b.p - a.p)) AS BIGINT) AS gsum,
               CAST(count(*) AS BIGINT) AS n_g
        FROM px a JOIN px b
          ON a.media_id = b.media_id AND b.i = a.i + 1
             AND (a.i + 1) % a.width <> 0
        GROUP BY 1
    ), bins AS (
        SELECT media_id, p // 16 AS b, CAST(count(*) AS BIGINT) AS c
        FROM px GROUP BY 1, 2
    ), ent AS (
        -- ascending-bin fold mirrored: sum over b ordered ascending.
        -- DuckDB sum() order is unspecified, but <= 16 terms of
        -- magnitude <= 1/e leave only last-ulp noise under the 6-dp
        -- round (the x6 fixed-shape discipline)
        SELECT media_id,
               sum(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))
                   AS e
        FROM bins JOIN mom USING (media_id)
        GROUP BY media_id
    )
    SELECT mom.media_id, mom.width, mom.height,
           round((CAST(ss AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n, 6)
               AS var_pixel,
           round(CAST(g.gsum AS DOUBLE) / g.n_g, 6) AS grad_mean,
           round(ent.e, 6) AS entropy16
    FROM mom
    JOIN grd g USING (media_id)
    JOIN ent USING (media_id)
"""

QUERIES["x9_rgb_stats"] = x9_rgb_stats
ORACLES["x9_rgb_stats"] = _X9_RGB_ORACLE

QUERIES["x9_silence_detect"] = x9_silence_detect
ORACLES["x9_silence_detect"] = _silence_oracle_sql()


# ---------------------------------------------------------------------------
# X10 — composed multimodal training manifest (round 13, r12 verdict ask #4)
# ---------------------------------------------------------------------------

# gate thresholds sit INSIDE the engine-computed distributions at every SF
# (CLAUDE.md 12a): var_pixel spans 2013..8414 with ~6% below the floor;
# silence_ratio spans 0.05..0.83 with ~31% above the cap; measured
# 200 -> 189 -> 131 -> 129 at sf0.01/sf0.1 (tests/test_multimodal.py pins
# every stage drops). .5 offsets keep integer-rational stats off the
# threshold boundary.
MM_IMG_VAR_MIN = 4000.5   # contrast floor (drop flat/blank images)
MM_SIL_MAX = 0.5          # drop mostly-silent clips
MM_BYTE_BUDGET = 4096     # payload bytes per packed chunk
MM_SHARDS = 4


def x10_multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal pre-training data-prep pipeline composed into ONE
    manifest plan (round 13, r12 verdict ask #4 — x10 was text-only):
    image quality gate -> audio silence gate -> pHash image dedup ->
    deterministic shuffle/shard -> BYTE-budget packing, ending in the
    per-chunk manifest a multimodal trainer reads. An example is the
    (image, audio, text) triple keyed on media_id; its payload cost is
    the BYTES a loader ships (w*h image + 2*n_samples PCM + UTF-8 text),
    not tokens — the x10_training_manifest discipline with the budget in
    the modality-native unit.

    Stage reuse: the image gate crosses the genuine stdlib P5 decode
    (decode_image_stats over synth_pgm — the x9_image_stats_real stage),
    the audio gate the genuine ``wave`` decode (decode_wav_silence over
    synth_wav_gated — the x9_silence_detect stage), and the dedup
    consumes the memoized pHash pair frame (phash_corpus_pairs — the
    x9_phash_dedup stage), dropping the higher id of every
    Hamming<=PHASH_HAM_T pair (keep-first). The oracle nests each x9
    stage's SQL verbatim-in-structure, so a drift in ANY stage breaks
    this query too.

    Exactness: both gates compare bit-identical exact-integer-derived
    doubles (variance from integer moments, ratio from integer counts),
    so threshold decisions agree across engines without rounding games.

    Shape at 100 TB: the two gates are scan-speed Arrow ferries over the
    stored media table (no shuffle); the dedup is the banded pHash join
    (4 rows/image shuffled, never all-pairs); the triple join is keyed
    on media_id (bucketing co-locates it); shard/pack is one shuffle on
    shard_id + a per-shard sort — each stage individually probed, the
    composition adds joins only on the bounded gated survivor set."""
    from swiftbulkuploader_spark.multimodal.media import (
        decode_image_stats,
        decode_wav_silence,
    )
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    img = decode_image_stats(synth_pgm(docs)).select(
        "media_id", "width", "height", "var_pixel"
    ).filter(F.col("var_pixel") >= MM_IMG_VAR_MIN)
    aud = decode_wav_silence(synth_wav_gated(docs)).select(
        "media_id", "n_samples",
        (F.col("n_silent").cast("double")
         / F.col("n_samples").cast("double")).alias("sil_ratio"),
    ).filter(F.col("sil_ratio") <= MM_SIL_MAX)
    dropped = phash_corpus_pairs(spark, sf_dir).select(
        F.col("b").alias("media_id")
    ).distinct()
    ex = (
        img.join(aud, "media_id")
        .join(dropped, "media_id", "left_anti")
        .join(
            docs.select(
                F.col("doc_id").alias("media_id"),
                F.octet_length("text").alias("text_bytes"),
            ),
            "media_id",
        )
        .select(
            "media_id",
            (F.col("width") * F.col("height")
             + 2 * F.col("n_samples") + F.col("text_bytes"))
            .cast("long").alias("example_bytes"),
        )
    )
    key = F.md5(F.concat(F.lit("mm:"), F.col("media_id").cast("string")))
    sharded = ex.select(
        "example_bytes",
        key.alias("shuffle_key"),
        (F.conv(F.substring(key, 1, 8), 16, 10).cast("long")
         % F.lit(MM_SHARDS)).cast("int").alias("shard_id"),
    )
    w_pack = (
        Window.partitionBy("shard_id")
        .orderBy("shuffle_key")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = F.coalesce(
        F.sum("example_bytes").over(w_pack), F.lit(0).cast("long")
    )
    placed = sharded.withColumn(
        "chunk_id", F.floor(cum_excl / F.lit(MM_BYTE_BUDGET)).cast("long")
    )
    return placed.groupBy("shard_id", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_examples"),
        F.sum("example_bytes").alias("chunk_bytes"),
    )


def _mm_manifest_oracle_sql() -> str:
    """The composed oracle: the x9_image_stats_real variance CTE, the
    x9_silence_detect gate CTE (tone/kbin VALUES re-derived from the same
    Python tables), and the x9_phash_dedup all-pairs CTE, nested under
    the shard/pack tail of the x10_training_manifest oracle."""
    from swiftbulkuploader_spark.multimodal.media import (
        SPEC_BINS,
        SPEC_WINDOW,
    )

    tone = _spec_tone_table()
    tone_rows = ", ".join(f"({t}, {tone[t]})" for t in range(SPEC_WINDOW))
    kbin_rows = ", ".join(f"({m}, {k})" for m, k in enumerate(SPEC_BINS))
    return f"""
    WITH im AS (
        SELECT doc_id AS media_id,
               CAST(doc_id % 5 + 4 AS INT) AS width,
               CAST(doc_id % 4 + 3 AS INT) AS height
        FROM documents ORDER BY doc_id LIMIT {PGM_LIMIT}
    ), ipx AS (
        SELECT media_id, width, height,
               (media_id * 7 + j.i * 13) % 256 AS p
        FROM im, unnest(range(width * height)) AS j(i)
    ), ivar AS (
        SELECT media_id, width, height,
               (CAST(sum(p * p) AS DOUBLE)
                - CAST(sum(p) AS DOUBLE) * sum(p) / count(*)) / count(*)
                   AS var_pixel
        FROM ipx GROUP BY 1, 2, 3
    ), am AS (
        SELECT doc_id AS media_id,
               CAST(40 + doc_id % 160 AS BIGINT) AS n,
               (doc_id % 4) * 8 AS lead,
               (doc_id % 3) * 4 AS trail
        FROM documents ORDER BY doc_id LIMIT {WAV_LIMIT}
    ), kbin(m4, k) AS (VALUES {kbin_rows}),
    tone(t, amp) AS (VALUES {tone_rows}),
    asamp AS (
        SELECT am.media_id, am.n, u.i,
               CASE WHEN u.i >= am.lead AND u.i < am.n - am.trail
                    THEN tone.amp ELSE 0 END AS v
        FROM am
        JOIN kbin ON kbin.m4 = am.media_id % 4
        CROSS JOIN unnest(range(n)) AS u(i)
        JOIN tone ON tone.t = (kbin.k * u.i) % {SPEC_WINDOW}
    ), asil AS (
        SELECT media_id, n,
               CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(n AS DOUBLE) AS sil_ratio
        FROM asamp GROUP BY 1, 2
    ), pt AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), pgg AS (
        SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bg
        FROM pt, unnest(range(1, len(toks))) AS z(i)
        WHERE len(toks) >= 2
    ), pb AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(bg), 1, 2)) AS BIGINT) % {PHASH_BINS}
                   AS bin,
               count(*) AS c
        FROM pgg GROUP BY 1, 2
    ), full_px AS (
        SELECT d.doc_id, g.bin, least(coalesce(pb.c, 0), 255) AS p
        FROM (SELECT DISTINCT doc_id FROM pgg) d
        CROSS JOIN (SELECT unnest(range({PHASH_BINS})) AS bin) g
        LEFT JOIN pb ON pb.doc_id = d.doc_id AND pb.bin = g.bin
    ), st AS (
        SELECT doc_id, sum(p) AS s FROM full_px GROUP BY 1
    ), ah AS (
        SELECT f.doc_id,
               sum(CASE WHEN f.bin < 32 AND f.p * 64 > st.s
                        THEN CAST(1 AS BIGINT) << CAST(f.bin AS INT)
                        ELSE 0 END) AS lo,
               sum(CASE WHEN f.bin >= 32 AND f.p * 64 > st.s
                        THEN CAST(1 AS BIGINT) << CAST(f.bin - 32 AS INT)
                        ELSE 0 END) AS hi
        FROM full_px f JOIN st USING (doc_id)
        GROUP BY f.doc_id
    ), dropped AS (
        SELECT DISTINCT y.doc_id AS media_id
        FROM ah x JOIN ah y ON x.doc_id < y.doc_id
        WHERE bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi))
              <= {PHASH_HAM_T}
    ), ex AS (
        SELECT i.media_id,
               CAST(i.width * i.height + 2 * a.n + strlen(d.text)
                    AS BIGINT) AS example_bytes
        FROM ivar i
        JOIN asil a USING (media_id)
        JOIN documents d ON d.doc_id = i.media_id
        WHERE i.var_pixel >= CAST({MM_IMG_VAR_MIN} AS DOUBLE)
          AND a.sil_ratio <= CAST({MM_SIL_MAX} AS DOUBLE)
          AND i.media_id NOT IN (SELECT media_id FROM dropped)
    ), sharded AS (
        SELECT example_bytes,
               md5('mm:' || CAST(media_id AS VARCHAR)) AS shuffle_key,
               CAST(CAST(('0x' || substr(md5('mm:' || CAST(media_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    % {MM_SHARDS} AS INT) AS shard_id
        FROM ex
    ), placed AS (
        SELECT shard_id, example_bytes,
               coalesce(sum(example_bytes) OVER (
                   PARTITION BY shard_id ORDER BY shuffle_key
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {MM_BYTE_BUDGET} AS chunk_id
        FROM sharded
    )
    SELECT shard_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           count(*) AS n_examples,
           CAST(sum(example_bytes) AS BIGINT) AS chunk_bytes
    FROM placed GROUP BY 1, 2
"""


QUERIES["x10_multimodal_manifest"] = x10_multimodal_manifest
ORACLES["x10_multimodal_manifest"] = _mm_manifest_oracle_sql()
