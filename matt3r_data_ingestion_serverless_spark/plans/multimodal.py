"""The multimodal query domain: blob metadata, frame and patch
planning, stride-gather featurizers, and the real-codec round trips
(WAV, PPM, PNG, JPEG, GIF, MJPEG-AVI) graded against arithmetic DuckDB
oracles. The codecs and the synthetic corpus generators live in
operators/multimodal.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.operators import multimodal
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# decoded-pixel aggregates (multimodal.pixel_stats) per document
_PIXELS = "n_pixels long, sum_r long, sum_g long, sum_b long, checksum long"


# ---------------------------------------------------------------------------
# blob metadata
# ---------------------------------------------------------------------------

@register(
    "ns_multimodal_blob_meta",
    sql="""
SELECT doc_id,
       'application/x-' || source AS mime,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS checksum
FROM documents
""",
)
def ns_multimodal_blob_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary multimodal column + typed metadata: the blob is the
    UTF-8 payload (stand-in for image/audio bytes — the container has no
    codec libs), metadata is (mime, n_bytes, checksum). The binary
    column itself is never shipped to the driver; only metadata is."""
    docs = multimodal.with_blob(spread(load_table(spark, sf_dir, "documents")))
    return docs.select(
        "doc_id",
        "mime",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5("text").alias("checksum"),
    )


# ---------------------------------------------------------------------------
# frame sampling and patch grids
# ---------------------------------------------------------------------------

_FPS_TARGET_SAMPLES = 8
_FPS_BYTES_PER_FRAME = 100

_FPS_SQL = f"""
WITH v AS (
  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
         greatest(octet_length(encode(text)) // {_FPS_BYTES_PER_FRAME}, 1)
           AS frame_count
  FROM documents
),
s AS (
  SELECT doc_id, n_bytes, frame_count,
         greatest(frame_count // {_FPS_TARGET_SAMPLES}, 1) AS stride
  FROM v
)
SELECT doc_id, CAST(i AS INT) AS sample_idx,
       CAST(i * stride AS BIGINT) AS frame_idx,
       CAST((i * stride * 1000) // 30 AS BIGINT) AS t_ms,
       CAST((i * stride * {_FPS_BYTES_PER_FRAME}) % n_bytes AS BIGINT)
         AS byte_offset
FROM s, (SELECT unnest(range(0, {_FPS_TARGET_SAMPLES})) AS i)
WHERE i * stride < frame_count
"""


@register("ns_multimodal_fps_sample", _FPS_SQL)
def ns_multimodal_fps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: derive (frame_count, stride) from blob
    metadata (the fixture has no codecs, so frame count is synthesized
    from blob size at 100 B/frame, 30 fps) and emit ≤ 8 evenly-strided
    sample points per blob — (frame index, timestamp, byte offset), the
    exact work-list a decode UDF consumes. This is the SCHEDULING half
    of video ingestion: the plan computes where to seek before any
    decoder runs, so the expensive mapInPandas decode
    (ns_multimodal_frame_features) touches only sampled offsets.

    Pure integer arithmetic + a static 8-element explode in the scan
    stage: no shuffle at all — the plan is embarrassingly parallel at
    any scale."""
    docs = multimodal.with_blob(spread(load_table(spark, sf_dir, "documents")))
    v = docs.select(
        "doc_id",
        F.octet_length("blob").cast("long").alias("n_bytes"),
    ).withColumn(
        "frame_count",
        F.greatest(F.expr(f"n_bytes div {_FPS_BYTES_PER_FRAME}"), F.lit(1)),
    ).withColumn(
        "stride",
        F.greatest(F.expr(f"frame_count div {_FPS_TARGET_SAMPLES}"), F.lit(1)),
    )
    s = v.select(
        "doc_id",
        "n_bytes",
        "frame_count",
        "stride",
        F.explode(F.sequence(F.lit(0), F.lit(_FPS_TARGET_SAMPLES - 1))).alias("i"),
    ).filter(F.col("i") * F.col("stride") < F.col("frame_count"))
    fr = F.col("i") * F.col("stride")
    return s.select(
        "doc_id",
        F.col("i").cast("int").alias("sample_idx"),
        fr.cast("long").alias("frame_idx"),
        F.expr(f"(i * stride * 1000) div 30").cast("long").alias("t_ms"),
        ((fr * _FPS_BYTES_PER_FRAME) % F.col("n_bytes")).cast("long").alias(
            "byte_offset"
        ),
    )


_PATCH = 32

_PATCH_SQL = f"""
WITH img AS (
  SELECT doc_id,
         64 + (doc_id % 8) * 32 AS w,
         64 + (doc_id % 5) * 32 AS h
  FROM documents
)
SELECT doc_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h,
       CAST(py * (w // {_PATCH}) + px AS INT) AS patch_index,
       CAST(px * {_PATCH} AS INT) AS x0,
       CAST(py * {_PATCH} AS INT) AS y0,
       CAST(px * {_PATCH} + {_PATCH} AS INT) AS x1,
       CAST(py * {_PATCH} + {_PATCH} AS INT) AS y1
FROM img,
     (SELECT unnest(range(0, 16)) AS px),
     (SELECT unnest(range(0, 16)) AS py)
WHERE px < w // {_PATCH} AND py < h // {_PATCH}
"""


@register("ns_image_patch_grid", _PATCH_SQL)
def ns_image_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT patch-grid construction: each image (dimensions synthesized
    deterministically from doc_id — the container has no image codecs)
    expands to its row-major 32×32 patch boxes with coordinates and
    patch index — the tokenization plan a vision encoder's preprocessor
    consumes, computed relationally so patch extraction parallelizes as
    ordinary rows (crop UDF downstream, one row per patch).

    Like fps sampling, this is shuffle-free scan-stage arithmetic: the
    cross join against two tiny static ranges stays a nested-loop
    broadcast; row counts scale as pixels/patch², not files."""
    docs = load_table(spark, sf_dir, "documents")
    img = docs.select(
        "doc_id",
        (64 + (F.col("doc_id") % 8) * 32).cast("int").alias("w"),
        (64 + (F.col("doc_id") % 5) * 32).cast("int").alias("h"),
    )
    px = spark.range(16).select(F.col("id").cast("int").alias("px"))
    py = spark.range(16).select(F.col("id").cast("int").alias("py"))
    g = img.crossJoin(F.broadcast(px)).crossJoin(F.broadcast(py)).filter(
        (F.col("px") < F.expr(f"w div {_PATCH}"))
        & (F.col("py") < F.expr(f"h div {_PATCH}"))
    )
    return g.select(
        "doc_id",
        "w",
        "h",
        (F.col("py") * F.expr(f"w div {_PATCH}") + F.col("px"))
        .cast("int")
        .alias("patch_index"),
        (F.col("px") * _PATCH).cast("int").alias("x0"),
        (F.col("py") * _PATCH).cast("int").alias("y0"),
        (F.col("px") * _PATCH + _PATCH).cast("int").alias("x1"),
        (F.col("py") * _PATCH + _PATCH).cast("int").alias("y1"),
    )


# ---------------------------------------------------------------------------
# stride-gather featurizers over the blob: frames, audio chunks, thumbnails
# ---------------------------------------------------------------------------

def _frame_features_sql() -> str:
    n_frames, dim = multimodal.N_FRAMES, multimodal.FEATURE_DIM
    at = "a[(f * 7 + {k} * 3) % len(a) + 1] / 256.0"
    feats = [at.format(k=k) for k in range(dim)]
    s = " + ".join(feats)
    sq = " + ".join(f"({x}) * ({x})" for x in feats)
    return f"""
WITH t AS (
  SELECT doc_id,
         list_transform(string_split(text, ''), c -> unicode(c)) AS a
  FROM documents
)
SELECT doc_id,
       CAST(f AS INT) AS frame_idx,
       CAST(len(a) AS BIGINT) AS n_bytes,
       round({s}, 6) AS feat_sum,
       round(sqrt({sq}), 6) AS feat_norm
FROM t, unnest(range(0, {n_frames})) u(f)
"""


@register("ns_multimodal_frame_features", sql=_frame_features_sql())
def ns_multimodal_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample + feature-extract over the binary column via
    mapInPandas (Arrow-batched). The decode step is a deterministic fake
    (real codecs unavailable here — see multimodal.decode_image); the
    Spark-side plumbing (binary schema, batch iteration, 1→N row
    expansion, typed feature array output) is the real thing.

    Full oracle (upgraded from rows-only): the blob is the ASCII
    payload, so byte values equal code points and the stride-sampled
    features are exact binary fractions (k/256) — a pure-SQL twin
    replays the identical gather, hash-checked like any other query."""
    docs = multimodal.with_blob(spread(load_table(spark, sf_dir, "documents")))
    feats = multimodal.frame_features(docs.select("doc_id", "blob"))
    # Project the feature vector to scalar summaries: the driver's result
    # canonicalizer cannot sort/hash array cells, and shipping the raw
    # vector to the driver is exactly what a real pipeline avoids anyway.
    zero = F.lit(0.0)
    return feats.select(
        "doc_id",
        "frame_idx",
        "n_bytes",
        F.round(F.aggregate("feature", zero, lambda a, x: a + x), 6).alias("feat_sum"),
        F.round(F.sqrt(F.aggregate("feature", zero, lambda a, x: a + x * x)), 6).alias(
            "feat_norm"
        ),
    )


AUDIO_CHUNK_BYTES = 256  # stand-in for a fixed-duration PCM window


@register(
    "ns_multimodal_audio_chunks",
    sql=f"""
WITH t AS (
  SELECT doc_id,
         list_transform(string_split(text, ''),
                        c -> (unicode(c) - 128.0) / 128.0) AS a
  FROM documents WHERE doc_id < 100
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       CAST(len(list_slice(a, i * {AUDIO_CHUNK_BYTES} + 1,
                           (i + 1) * {AUDIO_CHUNK_BYTES})) AS BIGINT)
         AS chunk_bytes,
       round(list_aggregate(
               list_transform(list_slice(a, i * {AUDIO_CHUNK_BYTES} + 1,
                                         (i + 1) * {AUDIO_CHUNK_BYTES}),
                              x -> x * x), 'avg'), 6) AS energy
FROM t, unnest(range(0, greatest(CAST(ceil(len(a) / {AUDIO_CHUNK_BYTES}.0)
                                      AS BIGINT), 1))) u(i)
""",
)
def ns_multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style chunking of the binary column: fixed-size windows +
    per-window mean-square energy — the segment-then-featurize pass a
    speech pipeline runs before transcription/VAD. Bytes stand in for
    PCM samples, centred to signed amplitude; a blob shorter than one
    window still yields one chunk. The blob is the UTF-8 payload;
    because the corpus is ASCII, byte values equal code points, which
    is what lets a pure-SQL oracle replay the identical math
    (amplitudes are exact binary fractions k/128 — bit-stable on both
    engines)."""

    def chunks(doc_id, blob):
        import numpy as np

        a = (np.frombuffer(blob, dtype=np.uint8) - 128.0) / 128.0
        for i in range(max(1, -(-len(a) // AUDIO_CHUNK_BYTES))):
            seg = a[i * AUDIO_CHUNK_BYTES : (i + 1) * AUDIO_CHUNK_BYTES]
            yield doc_id, i, len(seg), round(float(np.mean(seg * seg)), 6)

    docs = multimodal.with_blob(
        spread(load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100))
    )
    return multimodal.per_doc(
        docs.select("doc_id", "blob"),
        "doc_id long, chunk_idx int, chunk_bytes long, energy double",
        chunks,
    )


RESIZE_W, RESIZE_H = 8, 4  # thumbnail grid (stand-in for pixel dims)


def _resize_sql() -> str:
    k = RESIZE_W * RESIZE_H
    pick = f"ch[(i * n) // {k} + 1]"
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, '') AS ch, length(text) AS n
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bytes,
       round(list_sum(list_transform(range(0, {k}),
             i -> unicode({pick})))::DOUBLE / {k}, 6) AS thumb_mean,
       md5(array_to_string(list_transform(range(0, {k}), i -> {pick}), ''))
         AS thumb_hash
FROM t
"""


@register("ns_multimodal_resize", sql=_resize_sql())
def ns_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/thumbnail over the binary column: uniform-stride gather of
    w·h bytes (index floor(i·n/(w·h))) to a fixed 8×4 grid, the
    constant-size derivative a multimodal pipeline stores next to the
    full-resolution object — completing the multimodal op set (decode
    stub, frame-sample, feature-extract, audio-chunk, resize). ASCII
    payloads again make the gather SQL-replayable byte-for-byte: the
    oracle recomputes the same strided pick, the same exact /32 mean,
    and the md5 of the same byte string."""
    k = RESIZE_W * RESIZE_H

    def thumbnail(doc_id, blob):
        import hashlib

        import numpy as np

        a = np.frombuffer(blob, dtype=np.uint8)
        thumb = a[(np.arange(k) * len(a)) // k]
        yield (
            doc_id,
            len(a),
            round(float(thumb.mean()), 6),
            hashlib.md5(thumb.tobytes()).hexdigest(),
        )

    docs = multimodal.with_blob(
        spread(load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200))
    )
    return multimodal.per_doc(
        docs.select("doc_id", "blob"),
        "doc_id long, n_bytes long, thumb_mean double, thumb_hash string",
        thumbnail,
    )


# ---------------------------------------------------------------------------
# WAV: codec round trip and Walsh tone correlations
# ---------------------------------------------------------------------------

@register(
    "mm_wav_roundtrip_features",
    sql="""
WITH s AS (
  SELECT doc_id, unnest(range(0, 256 + doc_id % 64)) AS i FROM documents
), v AS (
  SELECT doc_id, i, ((doc_id * 31 + i * 17) % 65536) - 32768 AS v FROM s
)
SELECT doc_id,
       count(*) AS n_samples,
       count(*) * 125 AS duration_us,
       sum(v) AS sum_v,
       min(v) AS min_v,
       max(v) AS max_v,
       sum(v * (i + 1)) AS checksum
FROM v GROUP BY doc_id
""",
)
def mm_wav_roundtrip_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal REAL-codec path (operators/multimodal.py:synth_wav/
    decode_wav): each document's deterministic PCM16
    waveform is encoded as a genuine RIFF/WAVE file and decoded back
    through the stdlib ``wave`` codec inside the Arrow batch loop; the
    graded columns are integer-exact aggregates of the DECODED samples.
    The oracle regenerates the waveform arithmetically — a header
    offset, endianness, or sample-width bug anywhere in the codec path
    breaks the hash. decode_image stays honestly NotImplemented (no
    PIL/ffmpeg here); this query proves the seam itself works end to
    end on real encoded bytes.

    Scale: pure map-side — blobs are encoded, decoded, and reduced to
    7 ints inside the executor batch; nothing but the feature rows ever
    shuffles."""

    def wav_stats(doc_id):
        import numpy as np

        sr, v = multimodal.decode_wav(multimodal.synth_wav(doc_id))
        checksum = int((v * np.arange(1, len(v) + 1, dtype=np.int64)).sum())
        duration_us = len(v) * 1_000_000 // sr
        yield doc_id, len(v), duration_us, int(v.sum()), int(v.min()), int(v.max()), checksum

    docs = spread(load_table(spark, sf_dir, "documents"))
    return multimodal.per_doc(
        docs.select("doc_id"),
        "doc_id long, n_samples long, duration_us long, sum_v long, min_v long, "
        "max_v long, checksum long",
        wav_stats,
    )


_WALSH_KS = (1, 2, 4)

_WALSH_SQL = f"""
WITH d AS (SELECT doc_id, 256 + doc_id % 64 AS n FROM documents),
smp AS (
  SELECT doc_id, n,
         unnest(range(0, n)) AS i
  FROM d
),
v AS (
  SELECT doc_id, n, i,
         (doc_id * 31 + i * 17) % 65536 - 32768 AS x
  FROM smp
),
t AS (
  SELECT v.doc_id, v.n, k.k,
         sum(v.x * (CASE WHEN ((2 * k.k * v.i) // v.n) % 2 = 0
                         THEN 1 ELSE -1 END)) AS walsh_corr
  FROM v CROSS JOIN (SELECT unnest([{", ".join(str(k) for k in _WALSH_KS)}]) AS k) k
  GROUP BY 1, 2, 3
)
SELECT doc_id, CAST(n AS BIGINT) AS n_samples, CAST(k AS INT) AS k,
       CAST(walsh_corr AS BIGINT) AS walsh_corr
FROM t
"""


@register("mm_wav_walsh_tones", sql=_WALSH_SQL)
def mm_wav_walsh_tones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Square-wave (Walsh) tone correlations computed on REAL decoded
    audio: each doc's waveform is encoded to a PCM16 WAV (stdlib RIFF
    writer), decoded back executor-side, and correlated against ±1
    square waves at k = 1, 2, 4 cycles — frequency analysis through
    the codec seam with ALL-INTEGER weights, so the result is exact
    int64 and immune to cross-engine libm trig drift (the reason this
    uses Walsh functions rather than a sinusoidal Goertzel). Any
    header/endianness/width bug in the codec path breaks the hash.

    Scale: codec work is per-blob inside the Arrow batch loop (blobs
    never shuffle); the correlation is O(n·K) integer ops per doc."""

    def walsh(doc_id):
        import numpy as np

        _, v = multimodal.decode_wav(multimodal.synth_wav(doc_id))
        n = len(v)
        i = np.arange(n, dtype=np.int64)
        for k in _WALSH_KS:
            w = np.where(((2 * k * i) // n) % 2 == 0, 1, -1)
            yield doc_id, n, k, int((v * w).sum())

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return multimodal.per_doc(
        docs.repartition(spark.sparkContext.defaultParallelism),
        "doc_id long, n_samples long, k int, walsh_corr long",
        walsh,
    )


# ---------------------------------------------------------------------------
# PPM and PNG: decoded-pixel aggregates
# ---------------------------------------------------------------------------

_PPM_SQL = """
WITH d AS (SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents),
s AS (SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS i FROM d),
v AS (
  SELECT doc_id, w, i, i % 3 AS c, (i // 3) % w AS x, i // (3 * w) AS y
  FROM s
),
p AS (
  SELECT doc_id, i, c,
         (doc_id * 7 + y * 13 + x * 5 + c * 29) % 256 AS pv
  FROM v
)
SELECT doc_id,
       CAST(count(*) // 3 AS BIGINT) AS n_pixels,
       CAST(sum(CASE WHEN c = 0 THEN pv ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN c = 1 THEN pv ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN c = 2 THEN pv ELSE 0 END) AS BIGINT) AS sum_b,
       CAST(sum(pv * (i + 1)) AS BIGINT) AS checksum
FROM p GROUP BY doc_id
"""


@register("mm_ppm_image_features", _PPM_SQL)
def mm_ppm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal REAL-codec path, image sibling of
    mm_wav_roundtrip_features (operators/multimodal.py:synth_ppm/
    decode_ppm/pixel_stats): each document's deterministic RGB24 image
    is written as a genuine P6 PPM — ASCII header with a comment line,
    maxval, raw payload — and decoded back through a real header
    tokenizer inside the Arrow batch loop; the graded columns are
    integer-exact aggregates of the DECODED pixels. The oracle
    regenerates the image arithmetically, so a comment-skip, header
    offset, or row-order bug anywhere in the parser breaks the hash.

    Scale: pure map-side — blobs are encoded, decoded, and reduced to
    6 ints inside the executor batch; only feature rows shuffle."""

    def ppm(doc_id):
        _w, _h, px = multimodal.decode_ppm(multimodal.synth_ppm(doc_id))
        yield doc_id, *multimodal.pixel_stats(px)

    docs = spread(load_table(spark, sf_dir, "documents"))
    return multimodal.per_doc(docs.select("doc_id"), f"doc_id long, {_PIXELS}", ppm)


_PNG_SQL = """
WITH d AS (SELECT doc_id, 9 + doc_id % 4 AS w, 5 + doc_id % 4 AS h FROM documents),
s AS (SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS i FROM d),
v AS (
  SELECT doc_id, w, i, i % 3 AS c, (i // 3) % w AS x, i // (3 * w) AS y
  FROM s
),
p AS (
  SELECT doc_id, i, c,
         (doc_id * 11 + y * 3 + x * 7 + c * 19) % 256 AS pv
  FROM v
)
SELECT doc_id,
       CAST(count(*) // 3 AS BIGINT) AS n_pixels,
       CAST(sum(CASE WHEN c = 0 THEN pv ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN c = 1 THEN pv ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN c = 2 THEN pv ELSE 0 END) AS BIGINT) AS sum_b,
       CAST(sum(pv * (i + 1)) AS BIGINT) AS checksum
FROM p GROUP BY doc_id
"""


@register("mm_png_image_features", _PNG_SQL)
def mm_png_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal real-codec path, COMPRESSED sibling (operators/
    multimodal.py:synth_png/decode_png/pixel_stats): each document's
    deterministic RGB24 image round-trips through a genuine PNG —
    zlib-DEFLATE-compressed IDAT, CRC-32-verified chunks, and per-row
    filter types rotating None/Sub/Up that the decoder must INVERT in
    uint8 wraparound arithmetic. The graded columns are integer-exact
    aggregates of the decoded pixels; the oracle regenerates them
    arithmetically, so a chunk-offset, CRC, inflate, or unfilter bug
    anywhere breaks the hash. This closes most of the distance to the
    env-gated decode_image stub: compression, integrity checking, and
    prediction filters are exactly what a real image codec adds over
    the PPM/WAV containers.

    Scale: pure map-side — encode, decode, and reduce all inside the
    executor Arrow batch loop; only the 6-int feature rows shuffle."""

    def png(doc_id):
        _w, _h, px = multimodal.decode_png(multimodal.synth_png(doc_id))
        yield doc_id, *multimodal.pixel_stats(px)

    docs = spread(load_table(spark, sf_dir, "documents"))
    return multimodal.per_doc(docs.select("doc_id"), f"doc_id long, {_PIXELS}", png)


# ---------------------------------------------------------------------------
# mixed-format corpus: sniff, dispatch, decode
# ---------------------------------------------------------------------------

_MIXED_SQL = """
WITH d AS (
  SELECT doc_id,
         CASE doc_id % 4 WHEN 0 THEN 'ppm' WHEN 1 THEN 'png'
                         WHEN 2 THEN 'jpeg' ELSE 'gif' END AS fmt,
         CASE doc_id % 4 WHEN 0 THEN 8 + doc_id % 5
                         WHEN 1 THEN 9 + doc_id % 4
                         WHEN 2 THEN 8 * (2 + doc_id % 3)
                         ELSE 10 + doc_id % 6 END AS w,
         CASE doc_id % 4 WHEN 0 THEN 6 + doc_id % 3
                         WHEN 1 THEN 5 + doc_id % 4
                         WHEN 2 THEN 8 * (1 + doc_id % 2)
                         ELSE 7 + doc_id % 5 END AS h
  FROM documents
),
s AS (SELECT doc_id, fmt, w, h, unnest(range(0, w * h * 3)) AS i FROM d),
v AS (
  SELECT doc_id, fmt, w, i, i % 3 AS c, (i // 3) % w AS x, i // (3 * w) AS y
  FROM s
),
p AS (
  SELECT doc_id, fmt, i,  c,
         CASE fmt WHEN 'ppm'
              THEN (doc_id * 7 + y * 13 + x * 5 + c * 29) % 256
              WHEN 'png'
              THEN (doc_id * 11 + y * 3 + x * 7 + c * 19) % 256
              WHEN 'gif'
              -- gif: palette index idx = (id*19 + y*5 + x*3) % 256;
              -- channel value is arithmetic in idx (synth_gif palette)
              THEN CASE c
                   WHEN 0 THEN (((doc_id * 19 + y * 5 + x * 3) % 256) * 3) % 256
                   WHEN 1 THEN (((doc_id * 19 + y * 5 + x * 3) % 256) * 5 + 1) % 256
                   ELSE        (((doc_id * 19 + y * 5 + x * 3) % 256) * 7 + 2) % 256
                   END
              -- jpeg: grayscale, constant per 8x8 block, channel-free
              ELSE (doc_id * 13 + (y // 8) * 31 + (x // 8) * 17) % 256
         END AS pv
  FROM v
)
SELECT doc_id,
       any_value(fmt) AS fmt,
       CAST(count(*) // 3 AS BIGINT) AS n_pixels,
       CAST(sum(CASE WHEN c = 0 THEN pv ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN c = 1 THEN pv ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN c = 2 THEN pv ELSE 0 END) AS BIGINT) AS sum_b,
       CAST(sum(pv * (i + 1)) AS BIGINT) AS checksum
FROM p GROUP BY doc_id
"""


@register("mm_mixed_format_decode", _MIXED_SQL)
def mm_mixed_format_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-container ingest (operators/multimodal.py:
    sniff_format/decode_image/pixel_stats): every blob is
    routed by MAGIC BYTES alone — doc_id % 4 arrives as P6 PPM, PNG
    (zlib + CRC-32 + scanline filters), baseline JPEG (marker walk +
    canonical Huffman + dequant + IDCT, operators/jpeg.py; the corpus
    images are constant per 8x8 block with a unit quant table, the
    regime where the lossy codec is bit-exact), or GIF (variable-width
    LZW + palette, operators/gif.py — lossless, so no special regime),
    and decode_image picks the decoder with no per-row format hint.
    The graded columns are integer-exact aggregates of the DECODED
    pixels of all four formats in one pass; the oracle regenerates
    each format's pixels arithmetically, so a mis-sniff (wrong decoder
    per row) or any decode bug in any branch breaks the hash.

    Scale: pure map-side — sniff + decode + reduce run inside the
    executor Arrow batch; only 7-column feature rows shuffle. This is
    the shape a 100 TB multimodal crawl needs: one scan over a mixed
    object corpus, no per-format shuffle split."""
    synths = (
        multimodal.synth_ppm,
        multimodal.synth_png,
        multimodal.synth_jpeg,
        multimodal.synth_gif,
    )

    def mixed(doc_id):
        blob = synths[doc_id % 4](doc_id)
        _w, _h, px = multimodal.decode_image(blob)
        yield doc_id, multimodal.sniff_format(blob), *multimodal.pixel_stats(px)

    docs = spread(load_table(spark, sf_dir, "documents"))
    return multimodal.per_doc(
        docs.select("doc_id"), f"doc_id long, fmt string, {_PIXELS}", mixed
    )


# ---------------------------------------------------------------------------
# MJPEG-AVI video: in-seam frame sampling
# ---------------------------------------------------------------------------

_VIDEO_SQL = """
WITH d AS (
  SELECT doc_id,
         8 * (2 + doc_id % 3) AS w,
         8 * (1 + doc_id % 2) AS h,
         3 + doc_id % 3 AS nf
  FROM documents
),
fr AS (SELECT doc_id, w, h, nf, unnest(range(0, nf, 2)) AS k FROM d),
s AS (SELECT doc_id, w, h, nf, k, unnest(range(0, w * h * 3)) AS i FROM fr),
p AS (
  SELECT doc_id, nf, k, i,
         (doc_id * 13 + k * 7
          + ((i // (3 * w)) // 8) * 31
          + (((i // 3) % w) // 8) * 17) % 256 AS pv
  FROM s
)
SELECT doc_id,
       CAST(k AS INT) AS frame_idx,
       CAST(any_value(nf) AS INT) AS n_frames,
       CAST(sum(pv) AS BIGINT) AS sum_rgb,
       CAST(sum(pv * (i + 1)) AS BIGINT) AS checksum
FROM p GROUP BY doc_id, k
"""


@register("mm_video_mjpeg_sample", _VIDEO_SQL)
def mm_video_mjpeg_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MJPEG-in-AVI video decode with IN-SEAM frame sampling
    (operators/video.py + operators/multimodal.py synth_avi /
    pixel_stats): each document arrives as a real AVI (RIFF
    chunk walk, avih/strh/strf headers, movi '00dc' frames) whose 3-5
    frames are independent baseline JPEGs in the bit-exact
    constant-block regime; every SECOND frame is decoded (sampled
    frames never pay pixel decode — at 100 TB the sampling rate IS the
    compute bill) and the graded columns are integer-exact aggregates
    of the decoded pixels. The oracle regenerates each sampled frame's
    pixels arithmetically, so a container mis-walk, a frame-order bug,
    a sampling off-by-one, or any JPEG decode fault breaks the hash.
    Inter-frame codecs (H.264) remain honestly out of scope at the
    decode_video seam.

    Scale: pure map-side like every codec sibling — container walk,
    frame extraction, JPEG decode and reduction run inside the Arrow
    batch; only 5-column per-frame summary rows shuffle."""
    every = 2  # decode every second frame

    def frames(doc_id):
        from matt3r_data_ingestion_serverless_spark.operators.video import decode_video

        blob = multimodal.synth_avi(doc_id)
        if multimodal.sniff_format(blob) != "avi":
            raise ValueError(f"doc {doc_id}: synth_avi did not produce an AVI container")
        _w, _h, nf = multimodal._avi_dims(doc_id)
        _w, _h, px = decode_video(blob, sample_every=every)
        for j, frame in enumerate(px):
            _n, r, g, b, checksum = multimodal.pixel_stats(frame)
            yield doc_id, j * every, nf, r + g + b, checksum

    docs = spread(load_table(spark, sf_dir, "documents"))
    return multimodal.per_doc(
        docs.select("doc_id"),
        "doc_id long, frame_idx int, n_frames int, sum_rgb long, checksum long",
        frames,
    )
