"""Multimodal columns: opaque binary payloads + typed metadata.

Convention (SURVEY §2 Part B): media is a ``binary`` column plus a
``struct`` metadata column (kind, mime, width, height, …). The pcap
``data`` column is the network instance of the same convention.

Two tiers of decode:

- RAW formats are decoded for REAL, in numpy, deterministically:
  ``image/x-raw-rgb`` (H×W×3 byte grid → nearest-neighbor resize,
  oracle-checked byte-for-byte against DuckDB blob algebra),
  ``video/x-raw-rgb`` (concatenated raw frames → frame sampling),
  ``audio/x-raw-pcm16`` (little-endian int16 PCM → rms/peak stats).
- COMPRESSED codecs (png/jpeg/mp4/…) need PIL/av, which this container
  lacks: those mimes raise ``NotImplementedError`` behind the same
  seam, so dropping the real libraries in later changes one function.

The Spark-side plumbing (schema, mapInPandas signature, Arrow batch
shape, fan-out, partitioning) is identical for both tiers and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pcap_to_parquet_spark.registry import query
from pcap_to_parquet_spark.sources import fan_out, load_table

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("kind", StringType()),
                    StructField("mime", StringType()),
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("payload_md5", StringType()),
        StructField("kind", StringType()),
    ]
)

RAW_IMAGE_MIME = "image/x-raw-rgb"
RAW_VIDEO_MIME = "video/x-raw-rgb"
RAW_AUDIO_MIME = "audio/x-raw-pcm16"
_RAW_MIMES = {RAW_IMAGE_MIME, RAW_VIDEO_MIME, RAW_AUDIO_MIME}
_REAL_CODECS = {"image", "audio", "video"}


def _needs_codec(kinds, mimes) -> bool:  # type: ignore[no-untyped-def]
    """True if any row is a real media kind in a COMPRESSED container
    (raw formats decode in numpy; compressed ones need PIL/av)."""
    return bool((kinds.isin(_REAL_CODECS) & ~mimes.isin(_RAW_MIMES)).any())


def _nn_resize(arr, out_w: int, out_h: int):  # type: ignore[no-untyped-def]
    """Nearest-neighbor resize of an (h, w, 3) uint8 array — pixel
    centers sampled at ((i+0.5)*src/dst), the classic NN kernel."""
    import numpy as np

    h, w, _ = arr.shape
    rows = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64), h - 1)
    cols = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64), w - 1)
    return arr[rows][:, cols]


def media_table(documents: DataFrame) -> DataFrame:
    """documents → media table: the text bytes stand in for an opaque
    payload; metadata is typed. Real pipelines load payloads with a
    ``binaryFile`` scan."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("text").alias("kind"),
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        ).alias("meta"),
    )


def decode_media_batch(batches) -> Iterator:  # type: ignore[no-untyped-def]
    """mapInPandas worker: binary payload → feature rows.

    Arrow ships each partition's payloads as contiguous batches; this
    function is the seam where PIL/librosa/av decode would run
    (resize, frame-sample, spectrogram). Those codecs are stubbed:
    non-text kinds raise NotImplementedError by design.
    """
    import hashlib

    import pandas as pd

    for pdf in batches:
        kinds = pdf["meta"].map(lambda m: m["kind"])
        mimes = pdf["meta"].map(lambda m: m["mime"])
        if _needs_codec(kinds, mimes):
            raise NotImplementedError(
                "compressed image/audio/video decode requires codec libraries "
                "not present in this environment; raw x-raw-* mimes and text "
                "payloads decode for real"
            )
        payloads = pdf["payload"].map(bytes)
        yield pd.DataFrame(
            {
                "media_id": pdf["media_id"],
                "n_bytes": payloads.map(len).astype("int64"),
                "payload_md5": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
                "kind": kinds,
            }
        )


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """image payloads → resized payloads (mapInPandas seam).

    ``image/x-raw-rgb`` payloads (meta.width × meta.height × 3 bytes,
    row-major) are REALLY resized: numpy nearest-neighbor sampling,
    deterministic, oracle-checkable. A malformed payload (length ≠
    w*h*3) yields a NULL payload — the engine's null-on-malformed
    policy, never a task crash. Compressed mimes raise (PIL absent);
    non-image kinds pass through untouched."""

    def do_resize(batches):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        for pdf in batches:
            kinds = pdf["meta"].map(lambda m: m["kind"])
            mimes = pdf["meta"].map(lambda m: m["mime"])
            if _needs_codec(kinds, mimes):
                raise NotImplementedError(
                    "PIL/av resize requires codec libraries not in this environment"
                )
            out = []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                if meta["mime"] != RAW_IMAGE_MIME:
                    out.append(payload)  # identity for non-image kinds
                    continue
                w, h = meta["width"], meta["height"]
                b = bytes(payload)
                if w is None or h is None or len(b) != w * h * 3:
                    out.append(None)  # malformed → null, never raise
                    continue
                arr = np.frombuffer(b, dtype=np.uint8).reshape(h, w, 3)
                out.append(_nn_resize(arr, width, height).tobytes())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": out,
                    "width": width,
                    "height": height,
                }
            )

    return media.mapInPandas(do_resize, schema=RESIZED_SCHEMA)


def sample_frames(media: DataFrame, every_nth: int = 4, every_n_bytes: int = 32) -> DataFrame:
    """video payloads → sampled frames (one row per frame; UDTF-shaped
    mapInPandas with real 1→many fan-out).

    ``video/x-raw-rgb`` payloads — concatenated (meta.width ×
    meta.height × 3)-byte frames — REALLY sample every ``every_nth``
    frame; a trailing partial frame is dropped (truncated-tail parity
    with the pcap splitter). Compressed containers raise (av/ffmpeg
    absent). Other kinds keep the byte-window fake so the fan-out path
    stays exercised for arbitrary payloads."""

    def do_sample(batches):  # type: ignore[no-untyped-def]
        import pandas as pd

        for pdf in batches:
            kinds = pdf["meta"].map(lambda m: m["kind"])
            mimes = pdf["meta"].map(lambda m: m["mime"])
            if _needs_codec(kinds, mimes):
                raise NotImplementedError(
                    "frame sampling from compressed video requires av/ffmpeg, "
                    "not in this environment"
                )
            ids, idxs, frames = [], [], []
            for mid, payload, meta in zip(pdf["media_id"], pdf["payload"], pdf["meta"]):
                b = bytes(payload)
                if meta["mime"] == RAW_VIDEO_MIME and meta["width"] and meta["height"]:
                    fsz = meta["width"] * meta["height"] * 3
                    n_frames = len(b) // fsz
                    for i, f in enumerate(range(0, n_frames, every_nth)):
                        ids.append(mid)
                        idxs.append(i)
                        frames.append(b[f * fsz : (f + 1) * fsz])
                else:
                    for i, start in enumerate(range(0, len(b), every_n_bytes)):
                        ids.append(mid)
                        idxs.append(i)
                        frames.append(b[start : start + every_n_bytes])
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    return media.mapInPandas(do_sample, schema=FRAME_SCHEMA)


def raw_media_table(documents: DataFrame, kind: str, width: int = 16, height: int = 16,
                    n_frames: int = 4) -> DataFrame:
    """documents → raw media rows: the UTF-8 text bytes, tiled, ARE the
    payload (deterministic and reproducible in plain SQL — that is what
    makes the decode kernels oracle-checkable). Byte-based substring on
    the encoded blob keeps both engines in agreement even for
    multi-byte text."""
    frame_bytes = width * height * 3
    need = frame_bytes * (n_frames if kind == "video" else 1)
    reps = -(-need // 96) + 1  # docs are filtered to n_chars >= 96
    mime = {"image": RAW_IMAGE_MIME, "video": RAW_VIDEO_MIME, "audio": RAW_AUDIO_MIME}[kind]
    # fan out BEFORE the payload projection: a small parquet arrives as
    # one split, and every downstream decode kernel is mapInPandas —
    # without this the whole media pipeline runs on one core
    return fan_out(documents).filter(F.col("n_chars") >= 96).select(
        F.col("doc_id").alias("media_id"),
        F.substring(F.encode(F.repeat("text", reps), "UTF-8"), 1, need).alias("payload"),
        F.struct(
            F.lit(kind).alias("kind"),
            F.lit(mime).alias("mime"),
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
        ).alias("meta"),
    )


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("rms", StringType()),  # fixed 6-decimal string: float
        # formatting is the only engine-dependent part of the math
        StructField("peak", IntegerType()),
    ]
)


def audio_features(media: DataFrame) -> DataFrame:
    """``audio/x-raw-pcm16`` payloads → per-clip features, computed for
    REAL in numpy (little-endian int16 → rms + absolute peak). A
    trailing odd byte is dropped; compressed audio raises (librosa
    absent)."""

    def do_features(batches):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        for pdf in batches:
            kinds = pdf["meta"].map(lambda m: m["kind"])
            mimes = pdf["meta"].map(lambda m: m["mime"])
            if _needs_codec(kinds, mimes):
                raise NotImplementedError(
                    "compressed audio decode requires codec libraries "
                    "not in this environment"
                )
            ids, counts, rmss, peaks = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                samples = np.frombuffer(b[: len(b) - (len(b) % 2)], dtype="<i2")
                ids.append(mid)
                counts.append(len(samples))
                rmss.append(
                    f"{float(np.sqrt(np.mean(samples.astype(np.float64) ** 2))):.6f}"
                    if len(samples)
                    else None
                )
                peaks.append(int(np.max(np.abs(samples.astype(np.int32)))) if len(samples) else None)
            yield pd.DataFrame(
                {"media_id": ids, "n_samples": counts, "rms": rmss, "peak": peaks}
            )

    return media.mapInPandas(do_features, schema=AUDIO_FEATURE_SCHEMA)


# nearest-neighbor sample grid for 16×16 → 8×8: pixel centers at
# (i+0.5)*16/8 = odd rows/cols; each pixel is a 3-byte run = 6 hex
# chars (this DuckDB's md5/substr are VARCHAR-only, so both engines
# hash the UPPERCASE HEX of the resized pixels instead of raw bytes)
_NN_16_TO_8 = [1, 3, 5, 7, 9, 11, 13, 15]
_RESIZE_PIECES = " || ".join(
    f"substr(imghex, {6 * (r * 16 + c) + 1}, 6)" for r in _NN_16_TO_8 for c in _NN_16_TO_8
)

MEDIA_RESIZE_ORACLE = f"""
WITH m AS (
    SELECT doc_id AS media_id,
           hex(encode(repeat(text, 9))) AS imghex
    FROM documents
    WHERE n_chars >= 96
)
SELECT media_id, 8 AS width, 8 AS height, md5(upper({_RESIZE_PIECES})) AS resized_md5
FROM m
"""


@query("q_media_resize", MEDIA_RESIZE_ORACLE)
def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-resize through the engine: raw 16×16×3 RGB payloads
    (tiled text bytes) → numpy nearest-neighbor 8×8 in mapInPandas →
    md5 of the resized pixels. The oracle recomputes the exact same 64
    sampled 3-byte runs with byte-level blob algebra in DuckDB, so a
    one-pixel kernel divergence fails the value hash — the decode
    math itself is oracle-checked, not just the plumbing."""
    d = load_table(spark, sf_dir, "documents")
    media = raw_media_table(d, "image")
    return resize_images(media, 8, 8).select(
        "media_id",
        "width",
        "height",
        F.md5(F.upper(F.hex("payload"))).alias("resized_md5"),
    )


AUDIO_FEATURES_ORACLE = """
WITH m AS (
    SELECT doc_id AS media_id,
           substr(hex(encode(repeat(text, 9))), 1, 1536) AS hx
    FROM documents WHERE n_chars >= 96
),
samp AS (
    SELECT media_id,
           ('0x' || substr(hx, 4 * i + 1, 2))::INT
           + 256 * ('0x' || substr(hx, 4 * i + 3, 2))::INT AS raw
    FROM m, UNNEST(range(384)) AS r(i)
),
val AS (
    SELECT media_id,
           CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
    FROM samp
)
SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
       format('{:.6f}', sqrt(AVG(CAST(v AS DOUBLE) * v))) AS rms,
       CAST(MAX(ABS(v)) AS INTEGER) AS peak
FROM val
GROUP BY media_id
"""


@query("q_audio_features", AUDIO_FEATURES_ORACLE)
def audio_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM16 feature extraction over raw audio payloads (tiled text
    bytes as deterministic samples): n_samples / rms / peak computed in
    numpy. The DuckDB oracle re-derives every little-endian int16 from
    the payload's hex (lo + 256*hi, two's-complement fold) and
    recomputes rms/peak — the byte-reinterpretation itself is
    value-checked; the kernel is additionally golden-tested in
    tests/test_multimodal.py. rms ships as a fixed 6-decimal string:
    float FORMATTING is the one engine-dependent step, so both engines
    format instead of hash raw doubles."""
    d = load_table(spark, sf_dir, "documents")
    return audio_features(raw_media_table(d, "audio"))


@query(
    "q_multimodal_features",
    """
    SELECT doc_id AS media_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5,
           'text' AS kind
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through the real mapInPandas
    path; the oracle recomputes the features from the source text
    (payload bytes == UTF-8 text bytes, so md5/length agree)."""
    d = load_table(spark, sf_dir, "documents")
    return media_table(d).mapInPandas(decode_media_batch, schema=FEATURE_SCHEMA)


# sampled raw-video frames: 16×16×3 = 768-byte frames, 4 per clip,
# every 2nd kept → frame_idx 0,1 map to frames 0,2. In hex algebra:
# frame f covers substr(vhex, f*1536 + 1, 1536); need = 4*768 = 3072
# payload bytes → repeat(text, 33) (docs filtered to n_chars >= 96).
VIDEO_FRAMES_ORACLE = """
WITH m AS (
    SELECT doc_id AS media_id,
           substr(hex(encode(repeat(text, 33))), 1, 6144) AS vhex
    FROM documents
    WHERE n_chars >= 96
),
f AS (
    SELECT media_id, vhex, unnest(generate_series(0, 1)) AS fi FROM m
)
SELECT media_id, CAST(fi AS INT) AS frame_idx,
       md5(upper(substr(vhex, CAST(fi * 3072 + 1 AS INT), 1536))) AS frame_md5
FROM f
"""


@query("q_video_frames", VIDEO_FRAMES_ORACLE)
def video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling through the engine: raw
    ``video/x-raw-rgb`` payloads (4 concatenated 16×16×3 frames of
    tiled text bytes) → every-2nd-frame sampling in mapInPandas (a
    genuine 1→many fan-out, the UDTF shape) → md5 per sampled frame.
    The oracle recomputes each sampled frame's bytes with blob algebra
    in DuckDB, so an off-by-one in the frame stride or a wrong frame
    selection fails the value hash — the sampling kernel itself is
    oracle-checked, like q_media_resize's resize kernel.

    Scale shape: map-only fan-out; each Arrow batch yields ~2× its
    input rows and the frame payloads never shuffle. A compressed
    container (mp4) hits the codec seam and raises — the plumbing
    (schema, stride math, fan-out) is identical either way."""
    d = load_table(spark, sf_dir, "documents")
    media = raw_media_table(d, "video", width=16, height=16, n_frames=4)
    return sample_frames(media, every_nth=2).select(
        "media_id",
        "frame_idx",
        F.md5(F.upper(F.hex("frame"))).alias("frame_md5"),
    )


# ---------------------------------------------------------------------------
# perceptual hashing: dHash over raw images — multimodal NEAR-DUP
# fingerprints, the image twin of minhash/simhash for text

_DH_COLS9 = [min(int((i + 0.5) * 16 / 9), 15) for i in range(9)]  # NN 9-of-16
_DH_ROWS8 = _NN_16_TO_8  # NN 8-of-16 (pixel centers)


def _dh_gray_sql(r: int, c: int) -> str:
    base = 6 * (r * 16 + c) + 1
    chans = " + ".join(
        f"('0x' || substr(imghex, {base + 2 * k}, 2))::INT" for k in range(3)
    )
    return f"(({chans}) // 3)"


_DH_GRAYS = ",\n           ".join(
    f"{_dh_gray_sql(r, c)} AS g_{ri}_{ci}"
    for ri, r in enumerate(_DH_ROWS8)
    for ci, c in enumerate(_DH_COLS9)
)
_DH_BITS = " || ".join(
    f"CASE WHEN g_{ri}_{ci} > g_{ri}_{ci + 1} THEN '1' ELSE '0' END"
    for ri in range(8)
    for ci in range(8)
)

_DHASH_CTE = f"""
WITH m AS (
    SELECT doc_id AS media_id, hex(encode(repeat(text, 9))) AS imghex
    FROM documents
    WHERE n_chars >= 96
),
grays AS (
    SELECT media_id,
           {_DH_GRAYS}
    FROM m
),
hashed AS (SELECT media_id, {_DH_BITS} AS dhash FROM grays)"""

IMAGE_DHASH_ORACLE = f"""{_DHASH_CTE}
SELECT media_id, dhash,
       CAST(64 - length(replace(dhash, '1', '')) AS BIGINT) AS n_edges
FROM hashed
"""


@query("q_image_dhash", IMAGE_DHASH_ORACLE)
def image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-hash (dHash) perceptual fingerprints over raw RGB
    images — the image-dedup primitive: resize to 9×8 (the engine's
    oracle-checked NN kernel), integer grayscale, 64 bits of
    left-vs-right gradient sign. Near-duplicate images (re-encodes,
    small edits) land within a few Hamming bits, so downstream dedup is
    exactly the simhash band-bucket join (q_dedup_simhash) on these 64
    bits. The DuckDB oracle recomputes every sampled pixel, the
    grayscale division, and all 64 comparisons in blob/hex algebra —
    the perceptual math itself is value-checked, not just the
    plumbing.

    Scale shape: two chained mapInPandas (resize, hash) — map-only,
    Arrow-batched, no shuffle at all; the 64-bit fingerprint is what
    ships, never pixels."""
    d = load_table(spark, sf_dir, "documents")
    media = raw_media_table(d, "image")
    resized = resize_images(media, 9, 8)

    def do_hash(batches):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, hashes, edges = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                arr = np.frombuffer(bytes(payload), dtype=np.uint8).reshape(8, 9, 3)
                gray = arr.astype(np.int64).sum(axis=-1) // 3
                bits = (gray[:, :-1] > gray[:, 1:]).astype(np.uint8).ravel()
                ids.append(mid)
                hashes.append("".join("1" if b else "0" for b in bits))
                edges.append(int(bits.sum()))
            yield pd.DataFrame({"media_id": ids, "dhash": hashes, "n_edges": edges})

    return resized.mapInPandas(
        do_hash, schema="media_id long, dhash string, n_edges long"
    )


# ---------------------------------------------------------------------------
# shared multi-index-hashing candidate generation for the near-dup family
#
# Naive banding at these radii needs bands of <= 4 bits (pigeonhole
# demands more bands than the radius), and a 4-bit band has only 16
# possible values — at corpus scale every bucket holds n/16 items and
# the "candidate" join degenerates to ~n²/16 pairs (measured: the 10×
# scale set pinned one core for >25 min). Multi-index hashing
# (Norouzi & Fleet 2012) fixes the entropy: 8-bit bands (256 values)
# with 1-bit PROBE EXPANSION — a pair within radius r over k bands has
# some band with <= floor(r/k) errors, so with floor(r/k) = 1 it
# matches either a band exactly or one of its single-bit flips. Probes
# expand one join side ~(1+band_len)x; buckets prune 16x harder.


def _band_bounds(fp_len: int, n_bands: int) -> list:
    """1-based (start, length) per band; leading bands take the extra
    bits when fp_len % n_bands != 0."""
    base, extra = divmod(fp_len, n_bands)
    bounds, pos = [], 1
    for i in range(n_bands):
        ln = base + (1 if i < extra else 0)
        bounds.append((pos, ln))
        pos += ln
    return bounds


def _probe_variants(band):  # type: ignore[no-untyped-def]
    """Array: the band string plus every single-bit flip of it."""
    n = F.length(band)
    return F.transform(
        F.sequence(F.lit(0), n),
        lambda i: F.when(i == F.lit(0), band).otherwise(
            F.concat(
                band.substr(F.lit(1), (i - 1).cast("int")),
                F.when(band.substr(i.cast("int"), F.lit(1)) == "0", F.lit("1"))
                .otherwise(F.lit("0")),
                band.substr((i + 1).cast("int"), n.cast("int")),
            )
        ),
    )


def _mih_verified_pairs(  # type: ignore[no-untyped-def]
    h,
    fp_len: int,
    n_bands: int,
    maxh: int,
    sig: str = "fp",
    sig_len: int | None = None,
    frame_aligned: bool = False,
):
    """DISTINCT verified (media_a, media_b, hamming) pairs whose
    fingerprints agree on some band within one bit flip (per
    frame-aligned band when ``frame_aligned``) AND whose exact Hamming
    distance over the ``sig`` bitstring is <= ``maxh``. COMPLETE for
    that radius whenever floor(maxh / total_bands) <= 1 — the
    pigeonhole bound the near-dup ops are sized to.

    The verify is FUSED INLINE: each side of the bucket join carries
    its signature pre-chunked into 32-bit integers (chunked ONCE per
    rep row, not per pair), hamming is XOR+bit_count column algebra on
    the join output, and the radius filter runs BEFORE the pair
    distinct. The earlier shape deduped the raw candidate volume first
    (~3.4 M rows at sf0.1 for images — an exchange of nothing but
    doomed pairs) and then re-joined fingerprints back per side;
    fusing drops that exchange and both verify joins, leaving the
    distinct to dedup only the within-radius pairs.

    ``sig``/``sig_len`` let the video op band on per-frame prints while
    verifying the frame-ordered concatenated signature (sum of aligned
    per-frame Hammings == Hamming of the concat)."""
    n_bits = sig_len or fp_len
    nchunks = (n_bits + 31) // 32
    chunk_cols = [
        F.conv(F.substring(sig, 1 + 32 * i, 32), 2, 10)
        .cast("long")
        .alias(f"_hc{i}")
        for i in range(nchunks)
    ]
    frame = ["frame_idx"] if frame_aligned else []
    hh = h.select("media_id", "fp", *frame, *chunk_cols)
    bounds = _band_bounds(fp_len, n_bands)

    def tag(bi: int):  # type: ignore[no-untyped-def]
        # single-arg lambda on purpose: a 2-arg transform lambda would
        # receive (element, array_index) and shadow the band id
        return lambda v: F.struct(F.lit(bi).alias("band_idx"), v.alias("key"))

    def keys(expand: bool):  # type: ignore[no-untyped-def]
        per_band = []
        for bi, (st, ln) in enumerate(bounds):
            band = F.col("fp").substr(F.lit(st), F.lit(ln))
            variants = _probe_variants(band) if expand else F.array(band)
            per_band.append(F.transform(variants, tag(bi)))
        return F.explode(F.flatten(F.array(*per_band))).alias("bk")

    carried = [*frame, *[f"_hc{i}" for i in range(nchunks)]]
    probed = hh.select("media_id", *carried, keys(True)).select(
        "media_id", *carried, "bk.band_idx", "bk.key"
    )
    exact = hh.select("media_id", *carried, keys(False)).select(
        "media_id", *carried, "bk.band_idx", "bk.key"
    )
    a, b = probed.alias("a"), exact.alias("b")
    cond = (
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.media_id") < F.col("b.media_id"))
    )
    if frame_aligned:
        cond = cond & (F.col("a.frame_idx") == F.col("b.frame_idx"))
    ham = None
    for i in range(nchunks):
        term = F.bit_count(
            F.col(f"a._hc{i}").bitwiseXOR(F.col(f"b._hc{i}"))
        )
        ham = term if ham is None else ham + term
    return (
        a.join(b, cond)
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= maxh)
        .distinct()
    )


def _expand_rep_pairs(rep_pairs, members):  # type: ignore[no-untyped-def]
    """Expand verified REPRESENTATIVE pairs back to all media pairs.

    The dedup-collapse half of the near-dup ops: media sharing one
    fingerprint signature form a group represented by their min
    media_id; the MIH join and the exact-Hamming verify run on ONE row
    per distinct signature, and this helper restores the full pair
    set — cross-group pairs inherit the verified distance (Hamming is
    a function of the signatures alone), within-group pairs are
    distance 0 by definition. Work above this point is linear in the
    DISTINCT-signature count; only the true answer (which is
    inherently quadratic in duplication multiplicity) is quadratic,
    and it is produced by expansion joins, never by the bucket join.

    ``rep_pairs``: (rep_a, rep_b, hamming), rep_a < rep_b, verified.
    ``members``: (rep, media_id) — every media, keyed by its group rep.
    """
    ma = members.select(F.col("rep").alias("rep_a"), F.col("media_id").alias("xa"))
    mb = members.select(F.col("rep").alias("rep_b"), F.col("media_id").alias("xb"))
    inter = (
        rep_pairs.join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("xa", "xb").alias("media_a"),
            F.greatest("xa", "xb").alias("media_b"),
            "hamming",
        )
    )
    m1 = members.select("rep", F.col("media_id").alias("media_a"))
    m2 = members.select("rep", F.col("media_id").alias("media_b"))
    intra = (
        m1.join(m2, "rep")
        .filter(F.col("media_a") < F.col("media_b"))
        .select("media_a", "media_b", F.lit(0).cast("long").alias("hamming"))
    )
    return inter.unionAll(intra)


def _collapse_by_fp(h):  # type: ignore[no-untyped-def]
    """(reps, members) for single-fingerprint media: group identical
    fp strings, represent by min media_id. One window pass (min over
    the fp partition) instead of groupBy+join-back — half the
    shuffles; partition size is the duplication multiplicity."""
    # one materialization of the (media_id, fp, rep) fingerprint table:
    # every downstream consumer (MIH probe/exact sides, verify sides,
    # membership expansion) re-reads this instead of re-running the
    # decode lineage — the fingerprint table is tiny next to payloads
    m = h.withColumn(
        "rep", F.min("media_id").over(Window.partitionBy("fp"))
    ).localCheckpoint(eager=True)
    members = m.select("rep", "media_id")
    reps = m.filter(F.col("media_id") == F.col("rep")).select("media_id", "fp")
    return reps, members


# ---------------------------------------------------------------------------
# perceptual image near-dup: MIH Hamming join over dHash fingerprints

_INEAR_BANDS = 8   # 8-bit bands over the 64-bit dHash (MIH, 1-bit probes)
_INEAR_MAXH = 15   # floor(15 / 8 bands) = 1 -> probe radius 1 is complete

IMAGE_NEARDUP_ORACLE = f"""{_DHASH_CTE}
SELECT a.media_id AS media_a, b.media_id AS media_b,
       CAST(bit_count(xor(a.dhash::BIT, b.dhash::BIT)) AS BIGINT) AS hamming
FROM hashed a JOIN hashed b ON a.media_id < b.media_id
WHERE bit_count(xor(a.dhash::BIT, b.dhash::BIT)) <= {_INEAR_MAXH}
"""


@query("q_image_neardup", IMAGE_NEARDUP_ORACLE)
def image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup pairs: multi-index-hash the 64-bit
    dHash (q_image_dhash) into {bands} 8-bit bands with 1-bit probe
    expansion, bucket-join, then exact-Hamming-filter at ≤ {maxh}
    bits — the image half of the dedup family (re-encodes and small
    edits land within a few bits of each other).

    The candidate generation is EXACT, not approximate: a pair within
    {maxh} bits has some band with ≤ floor({maxh}/{bands}) = 1 errors
    (pigeonhole), which the 1-bit probes cover — so the brute-force
    oracle must agree perfectly. See _mih_verified_pairs for why naive 4-bit
    banding (the pigeonhole-only design) collapses at corpus scale.
    Hamming itself is two 32-bit conv/XOR/bit_count ops, pure JVM
    column algebra.

    Scale shape: candidate generation shuffles (band, 8-bit value)
    keys — ~9× expanded on one side, 256-way pruned per band — and
    the n² pair space never materializes. Identical fingerprints are
    COLLAPSED to one representative before the MIH join (the 100×
    replica rehearsal showed exact-duplicate groups turning the
    bucket join quadratic in duplication multiplicity): the join and
    Hamming verify run once per distinct dHash, and _expand_rep_pairs
    restores the full pair set afterwards — dedup-before-pairgen, the
    production composition."""
    h = image_dhash(spark, sf_dir).select(
        "media_id", F.col("dhash").alias("fp")
    )
    reps, members = _collapse_by_fp(h)
    rep_pairs = _mih_verified_pairs(
        reps, fp_len=64, n_bands=_INEAR_BANDS, maxh=_INEAR_MAXH
    ).select(
        F.col("media_a").alias("rep_a"),
        F.col("media_b").alias("rep_b"),
        "hamming",
    )
    return _expand_rep_pairs(rep_pairs, members)


image_neardup.__doc__ = image_neardup.__doc__.format(
    bands=_INEAR_BANDS, maxh=_INEAR_MAXH
)


# ---------------------------------------------------------------------------
# audio near-dup: banded Hamming join over energy-delta fingerprints

_ANEAR_WINDOWS = 128  # 3 samples per window over the 384-sample clip
_ANEAR_MAXH = 15      # 127 bits, 8 MIH bands: floor(15/8)=1-bit probes complete
# 128 windows (16-bit bands) instead of the original 64 (8-bit bands):
# the 10x scale rehearsal measured the 8-bit-band candidate volume
# ~n^2/256 going super-linear (92 s at 10x); doubling the fingerprint
# halves the relative radius (15/127 ~ 12%) and moves collisions to
# n^2/2^15.9 at the SAME absolute radius and band count

AUDIO_NEARDUP_ORACLE = f"""
WITH m AS (
    SELECT doc_id AS media_id,
           substr(hex(encode(repeat(text, 9))), 1, 1536) AS hx
    FROM documents WHERE n_chars >= 96
),
val AS (
    SELECT media_id, i,
           CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
    FROM (
        SELECT media_id, i,
               ('0x' || substr(hx, 4 * i + 1, 2))::INT
               + 256 * ('0x' || substr(hx, 4 * i + 3, 2))::INT AS raw
        FROM m, UNNEST(range(384)) AS r(i))
),
win AS (
    SELECT media_id, i // 3 AS w, SUM(CAST(v AS BIGINT) * v) AS e
    FROM val GROUP BY media_id, i // 3
),
fp AS (
    SELECT media_id,
           string_agg(CASE WHEN e > next_e THEN '1' ELSE '0' END,
                      '' ORDER BY w) AS fp
    FROM (SELECT media_id, w, e,
                 LEAD(e) OVER (PARTITION BY media_id ORDER BY w) AS next_e
          FROM win)
    WHERE next_e IS NOT NULL
    GROUP BY media_id
)
SELECT a.media_id AS media_a, b.media_id AS media_b,
       CAST(bit_count(xor(a.fp::BIT, b.fp::BIT)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.media_id < b.media_id
WHERE bit_count(xor(a.fp::BIT, b.fp::BIT)) <= {_ANEAR_MAXH}
"""


@query("q_audio_neardup", AUDIO_NEARDUP_ORACLE)
def audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs — the acoustic-fingerprint dedup shape
    (Chromaprint's skeleton): window the PCM16 clip into {w} windows,
    per-window ENERGY (Σv², exact int64 — no float anywhere in the
    fingerprint), one sign-of-delta bit per consecutive window pair
    ({w}-1 bits), then the same multi-index-hash join as
    q_image_neardup: 8 bands with 1-bit probes, complete at Hamming ≤
    {maxh} by pigeonhole, brute-force oracle must agree perfectly.

    Scale shape: fingerprinting is one map-only mapInPandas pass;
    candidate generation shuffles (band, bits) keys only; the n² pair
    space never materializes."""
    d = load_table(spark, sf_dir, "documents")
    media = raw_media_table(d, "audio")

    def fingerprint(batches):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, fps = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                samples = np.frombuffer(
                    b[: len(b) - (len(b) % 2)], dtype="<i2"
                ).astype(np.int64)
                win = samples[: _ANEAR_WINDOWS * 3].reshape(_ANEAR_WINDOWS, 3)
                e = (win * win).sum(axis=1)  # exact integer energies
                bits = (e[:-1] > e[1:]).astype(np.uint8)
                ids.append(mid)
                fps.append("".join("1" if x else "0" for x in bits))
            yield pd.DataFrame({"media_id": ids, "fp": fps})

    h = media.mapInPandas(fingerprint, schema="media_id long, fp string")
    reps, members = _collapse_by_fp(h)  # dedup-before-pairgen
    rep_pairs = _mih_verified_pairs(
        reps, fp_len=_ANEAR_WINDOWS - 1, n_bands=8, maxh=_ANEAR_MAXH
    ).select(
        F.col("media_a").alias("rep_a"),
        F.col("media_b").alias("rep_b"),
        "hamming",
    )
    return _expand_rep_pairs(rep_pairs, members)


audio_neardup.__doc__ = audio_neardup.__doc__.format(
    w=_ANEAR_WINDOWS, maxh=_ANEAR_MAXH
)


# ---------------------------------------------------------------------------
# video near-dup: per-sampled-frame fingerprints, banded Hamming join

_VNEAR_MAXH = 31  # 252 bits in 16 aligned bands -> floor(31/16)=1-bit probes
# 31 is the LARGEST radius the scalable 16×16-bit-band structure covers
# with 1-bit probes; relative noise 31/252 ≈ 12% targets re-encode /
# watermark-grade perturbations (measured: true near-identical clips
# sit at ≤10, heavily-edited text plants at 41+, background at >80)

VIDEO_NEARDUP_ORACLE = f"""
WITH m AS (
    SELECT doc_id AS media_id,
           substr(hex(encode(repeat(text, 33))), 1, 6144) AS vhex
    FROM documents WHERE n_chars >= 96
),
f AS (
    SELECT media_id, fi AS frame_idx,
           substr(vhex, CAST(fi * 1536 + 1 AS INT), 1536) AS fhex
    FROM m, UNNEST(generate_series(0, 3)) AS t(fi)
),
byteval AS (
    SELECT media_id, frame_idx, i,
           ('0x' || substr(fhex, 2 * i + 1, 2))::INT AS v
    FROM f, UNNEST(range(768)) AS r(i)
),
win AS (
    SELECT media_id, frame_idx, i // 12 AS w, SUM(CAST(v AS BIGINT) * v) AS e
    FROM byteval GROUP BY media_id, frame_idx, i // 12
),
fp AS (
    SELECT media_id, frame_idx,
           string_agg(CASE WHEN e > next_e THEN '1' ELSE '0' END,
                      '' ORDER BY w) AS fp
    FROM (SELECT media_id, frame_idx, w, e,
                 LEAD(e) OVER (PARTITION BY media_id, frame_idx
                               ORDER BY w) AS next_e
          FROM win)
    WHERE next_e IS NOT NULL GROUP BY media_id, frame_idx
)
SELECT a.media_id AS media_a, b.media_id AS media_b,
       CAST(SUM(bit_count(xor(a.fp::BIT, b.fp::BIT))) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.frame_idx = b.frame_idx AND a.media_id < b.media_id
GROUP BY media_a, media_b
HAVING SUM(bit_count(xor(a.fp::BIT, b.fp::BIT))) <= {_VNEAR_MAXH}
"""


@query("q_video_neardup", VIDEO_NEARDUP_ORACLE)
def video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup pairs, completing the per-modality dedup family:
    fingerprint EVERY frame with 63 exact-integer energy-delta sign
    bits (the q_audio_neardup kernel over the frame's 768 bytes), then
    pair videos whose frame-aligned fingerprints sum to Hamming ≤
    {maxh} over the 252 combined bits. Candidate generation is
    complete: the four aligned frames contribute 4 bands each = 16 MIH
    bands, so a pair within {maxh} has some band with ≤
    floor({maxh}/16) = 1 errors, which the 1-bit probes cover — the
    bucket join finds every pair the brute-force oracle does.

    Band sizing (Norouzi–Fleet's b ≈ log2 n rule): the 40×
    scale rehearsal measured the old 8-bit bands (every-2nd-frame,
    126 bits in 16 narrow bands) produce ~B·P·n²/2⁸ candidates —
    6.3 M candidates for 46 true pairs at sf0.1, a quadratic term
    with a 1/256 constant that would melt at corpus scale. Widening
    to 16-bit bands costs nothing in completeness (the radius spreads
    over 4 frames instead of 2) and divides expected collisions by
    another 2⁸ — measured 36× fewer candidates at sf0.1 (173 k) and
    17× less wall at the 10× replica set (376 s → 22 s), with the
    asymptote at n²/2¹⁶ per band. q_audio_neardup got the same
    richer-fingerprint treatment (128×3-sample windows); image keeps
    its 64-bit dHash, already at the 1-bit-probe pigeonhole minimum
    band count for its radius — details in SURVEY §2.

    Scale shape: fingerprints are map-only over the frame fan-out,
    candidates shuffle (frame_idx, band, bits) keys with the chunked
    concat signature carried alongside, and the pair Hamming is fused
    into the bucket join itself (XOR/bit_count on the carried chunks,
    radius-filtered before the pair distinct) — the n² video space
    never materializes and no per-frame verify join runs."""
    d = load_table(spark, sf_dir, "documents")
    media = raw_media_table(d, "video", width=16, height=16, n_frames=4)
    frames = sample_frames(media, every_nth=1)

    def fingerprint(batches):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, idxs, fps = [], [], []
            for mid, fi, frame in zip(
                pdf["media_id"], pdf["frame_idx"], pdf["frame"]
            ):
                b = np.frombuffer(bytes(frame), dtype=np.uint8).astype(np.int64)
                win = b[: 64 * 12].reshape(64, 12)
                e = (win * win).sum(axis=1)
                bits = (e[:-1] > e[1:]).astype(np.uint8)
                ids.append(mid)
                idxs.append(int(fi))
                fps.append("".join("1" if x else "0" for x in bits))
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "fp": fps})

    h = frames.mapInPandas(fingerprint, schema="media_id long, frame_idx int, fp string")
    # dedup-before-pairgen: the signature is the frame-ordered concat
    # of per-frame fingerprints; MIH + verify run once per distinct
    # signature, _expand_rep_pairs restores the full pair set
    sig = h.groupBy("media_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("frame_idx", "fp"))),
                lambda s: s["fp"],
            ),
            "",
        ).alias("sig")
    )
    sigm = sig.withColumn(
        "rep", F.min("media_id").over(Window.partitionBy("sig"))
    ).localCheckpoint(eager=True)  # (media, sig, rep): one materialization
    members = sigm.select("rep", "media_id")
    # band source: per-frame rep rows, each carrying the video's FULL
    # frame-ordered concatenated signature — the fused verify (see
    # _mih_verified_pairs) checks total Hamming on the concat, which
    # equals the old per-frame join + SUM because the frames align.
    reps_h = h.join(
        sigm.filter(F.col("media_id") == F.col("rep")).select(
            "media_id", "sig"
        ),
        "media_id",
    )
    rep_pairs = _mih_verified_pairs(
        reps_h,
        fp_len=63,
        n_bands=4,
        maxh=_VNEAR_MAXH,
        sig="sig",
        sig_len=63 * 4,
        frame_aligned=True,
    ).select(
        F.col("media_a").alias("rep_a"),
        F.col("media_b").alias("rep_b"),
        "hamming",
    )
    return _expand_rep_pairs(rep_pairs, members)


video_neardup.__doc__ = video_neardup.__doc__.format(maxh=_VNEAR_MAXH)
