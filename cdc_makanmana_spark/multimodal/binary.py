"""Multimodal columns: opaque ``binary`` payloads + typed metadata.

North-star surface for a training-data pipeline: images/audio/video
ride through the engine as ``binary`` columns with a typed metadata
struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages.

Decode is REAL for formats pure numpy + stdlib can carry
(``kernels.py``): PPM images parse-and-reshape to numpy arrays
(resize = genuine nearest-neighbor resampling), PNG images decode via
stdlib zlib inflate + the spec's full per-row unfilter
(None/Sub/Up/Average/Paeth), JPEG images decode via a hand-built
baseline-sequential pipeline (marker parse → canonical-huffman
entropy decode → dequant → 8×8 IDCT → chroma upsample → YCbCr→RGB —
the dominant real-world image container, on the certified path),
WAV/PCM16 audio decodes via stdlib ``wave`` into float samples with
real features (RMS, zero-crossing rate, FFT dominant frequency), Y4M
video splits into raw luma frames. Formats that genuinely need
external codec libraries (MP4 frames; arithmetic-coded JPEG)
route to a deterministic stub kernel — the container ships no codec
libs — behind the same dispatch; swapping the stub for Pillow/ffmpeg
changes one inner function, not the pipeline.

Scale notes:
- payload bytes never pass through the driver; each ``mapInPandas``
  batch is an Arrow RecordBatch on an executor.
- metadata (width/height/codec/duration) lives in plain columns, so
  filters like ``meta.width >= 512`` prune BEFORE any decode runs —
  project the metadata early, decode late.
- output rows that explode per-frame (``sample_frames``) multiply row
  counts, not payload copies: frames are sliced views re-encoded per
  row.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("codec", StringType()),
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("n_frames", IntegerType()),
                ]
            ),
        ),
    ]
)

IMAGE_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def synthetic_media_table(spark, n: int = 100, seed: int = 7) -> DataFrame:
    """Deterministic media table with REAL payloads where the format
    allows: images are valid P6 PPMs (seeded gradient + noise), audio
    is valid PCM16 WAV (seeded sine mix); video payloads stay fake
    bytes under codec 'fake' (no container format is writable without
    codec libs). Stands in for a parquet table of encoded media."""
    import numpy as np

    from cdc_makanmana_spark.multimodal import kernels

    rows = []
    for i in range(n):
        h = hashlib.sha256(f"{seed}:{i}".encode()).digest()
        rng = np.random.default_rng(int.from_bytes(h[:8], "big"))
        kind = ["image", "audio", "video"][i % 3]
        if kind == "image":
            w = 32 + (h[0] % 4) * 16
            ht = 32 + (h[1] % 4) * 16
            yy, xx = np.mgrid[0:ht, 0:w]
            arr = np.stack(
                [
                    (xx * 255 // max(w - 1, 1)),
                    (yy * 255 // max(ht - 1, 1)),
                    rng.integers(0, 256, (ht, w)),
                ],
                axis=2,
            ).astype(np.uint8)
            rows.append((i, kind, bytearray(kernels.encode_ppm(arr)), ("ppm", w, ht, 1)))
        elif kind == "audio":
            rate = 8000
            t = np.arange(rate // 2) / rate  # 0.5 s
            freq = 200 + (h[0] % 20) * 100
            samples = 0.6 * np.sin(2 * np.pi * freq * t) + 0.05 * rng.standard_normal(len(t))
            rows.append(
                (i, kind, bytearray(kernels.encode_wav_pcm16(samples, rate)), ("pcm16", 0, 0, 1))
            )
        else:
            w = 64 + (h[0] % 8) * 32
            ht = 64 + (h[1] % 8) * 32
            frames = 1 + h[2] % 5
            payload = (h * ((w * ht * 3 // len(h)) + 1))[: w * ht * 3]
            rows.append((i, kind, bytearray(payload), ("fake", w, ht, frames)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# extension → (kind, codec) for the file-ingest path; anything else
# rides through as an opaque ("binary", <ext>) payload.
_EXT_MEDIA = {
    "ppm": ("image", "ppm"),
    "png": ("image", "png"),
    "jpg": ("image", "jpeg"),
    "jpeg": ("image", "jpeg"),
    "wav": ("audio", "pcm16"),
    "y4m": ("video", "y4m"),
}


def _raw_media(
    spark, path: str, glob: str, recursive: bool, id_from: str
) -> DataFrame:
    """binaryFile scan projected to (media_id, __ext, payload) — the
    shared front of :func:`read_media_dir` and the fused
    :func:`media_fingerprints_dir`."""
    if id_from == "path_hash":
        id_expr = F.xxhash64("path")
    elif id_from == "stem_digits":
        # NULL (not 0) when the basename carries no digits — a silent
        # id collision on 0 would merge unrelated files downstream
        digits = F.regexp_extract(
            F.element_at(F.split("path", "/"), -1), r"(\d+)", 1
        )
        id_expr = F.when(digits != "", digits.cast("long"))
    else:
        raise ValueError(f"id_from must be path_hash|stem_digits, got {id_from!r}")

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true" if recursive else "false")
        .load(path)
        .select(
            id_expr.alias("media_id"),
            # extension of the BASENAME — splitting the whole URI on '.'
            # would leak path fragments into meta.codec for dot-less
            # filenames or dotted directory names
            F.element_at(F.split("path", "/"), -1).alias("__base"),
            F.col("content").alias("payload"),
        )
        .select(
            "media_id",
            F.when(
                F.col("__base").contains("."),
                F.lower(F.element_at(F.split("__base", r"\."), -1)),
            )
            .otherwise(F.lit(""))
            .alias("__ext"),
            "payload",
        )
    )


def read_media_dir(
    spark,
    path: str,
    glob: str = "*",
    recursive: bool = False,
    id_from: str = "path_hash",
) -> DataFrame:
    """Media-file source: ``binaryFile`` scan → the engine's
    MEDIA_SCHEMA, so the decode/resize/feature stages run unchanged on
    directories of files. ``media_id`` comes from ``id_from``:
    ``"path_hash"`` (default) is the xxhash64 of the file path
    (rerun/partitioning-stable); ``"stem_digits"`` parses the first
    digit run of the basename (``img_00017.ppm`` → 17) — for corpora
    whose file-naming convention carries a stable external id that
    must survive relocation and match ids in side tables (q110's
    reference-fingerprint parquet). Kind+codec come from the
    extension; image dimensions are parsed from the PPM header inside
    the same Arrow-batched ``mapInPandas`` pass — payload bytes never
    visit the driver, and Spark's binaryFile source streams each file
    as one row (files > 2 GiB are its documented limit; shard bigger
    media upstream). Unknown extensions stay ("binary", ext) with
    zeroed dims — honest passthrough, not a guess."""
    from cdc_makanmana_spark.multimodal import kernels

    raw = _raw_media(spark, path, glob, recursive, id_from)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "kind": [], "payload": [], "meta": []}
            for mid, ext, payload in zip(
                pdf["media_id"], pdf["__ext"], pdf["payload"]
            ):
                kind, codec = _EXT_MEDIA.get(ext, ("binary", ext))
                w = h = 0
                n_frames = 1
                if codec == "ppm":
                    try:
                        arr = kernels.decode_ppm(bytes(payload))
                        h, w = int(arr.shape[0]), int(arr.shape[1])
                    except ValueError:
                        kind, codec = "binary", "corrupt-ppm"
                elif codec == "png":
                    try:
                        # IHDR-only parse — dims without the inflate
                        w, h = kernels.png_dims(bytes(payload))
                    except ValueError:
                        kind, codec = "binary", "corrupt-png"
                elif codec == "jpeg":
                    try:
                        # SOF0-only parse — dims without the entropy decode
                        w, h = kernels.jpeg_dims(bytes(payload))
                    except ValueError:
                        kind, codec = "binary", "corrupt-jpeg"
                elif codec == "y4m":
                    try:
                        frames = kernels.decode_y4m(bytes(payload))
                        n_frames = int(frames.shape[0])
                        h, w = int(frames.shape[1]), int(frames.shape[2])
                    except ValueError:
                        kind, codec = "binary", "corrupt-y4m"
                out["media_id"].append(mid)
                out["kind"].append(kind)
                out["payload"].append(payload)
                out["meta"].append(
                    {"codec": codec, "width": w, "height": h, "n_frames": n_frames}
                )
            yield pd.DataFrame(out)

    return raw.mapInPandas(batches, MEDIA_SCHEMA)


def _decode_stub(payload: bytes, width: int, height: int, dim: int = 8) -> list[float]:
    """STUB decode+featurize kernel for codec-REQUIRING formats (MP4
    frames, arithmetic-coded JPEG — the container has no codec libs):
    derives a deterministic ``dim``-float vector from the payload
    bytes (sha256-seeded). Replace the body with Pillow/ffmpeg decode
    + extractor — the signature and the pipeline around it are the
    real contract. PPM/PNG/baseline-JPEG/WAV/Y4M never reach this:
    their decoders are real (kernels.py)."""
    h = hashlib.sha256(payload).digest()
    while len(h) < 2 * dim:  # stretch deterministically for dim > 16
        h += hashlib.sha256(h).digest()
    return [((h[i] << 8 | h[i + 1]) / 65535.0) for i in range(0, 2 * dim, 2)]


def decode_image_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Decode + feature-extract images via ``mapInPandas``: Arrow
    batches in, (media_id, width, height, feature) out. PPM payloads
    take the REAL kernel path (parse → numpy → channel/grid stats);
    other codecs fall back to the stub. Metadata-only columns project
    through without touching payload bytes; the ``kind == 'image'``
    filter runs BEFORE this stage (pushed to the scan), so non-image
    payloads are never shipped to Python."""
    from cdc_makanmana_spark.multimodal import kernels

    def one(p: bytes, m: dict) -> list[float]:
        if m["codec"] in ("ppm", "png", "jpeg"):
            return kernels.image_features(kernels.decode_image(p, m["codec"]), dim)
        return _decode_stub(p, m["width"], m["height"], dim)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pdf["meta"].map(lambda m: m["width"]),
                    "height": pdf["meta"].map(lambda m: m["height"]),
                    "feature": [
                        one(bytes(p), m) for p, m in zip(pdf["payload"], pdf["meta"])
                    ],
                }
            )

    return media.filter(F.col("kind") == "image").mapInPandas(
        batches, schema=IMAGE_FEATURE_SCHEMA
    )


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("duration_s", FloatType()),
        StructField("rms", FloatType()),
        StructField("zcr", FloatType()),
        StructField("dominant_hz", FloatType()),
    ]
)


def decode_audio_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract audio via ``mapInPandas``. PCM16 WAV
    decodes with the stdlib-real kernel (duration, RMS, zero-crossing
    rate, FFT dominant frequency); unknown codecs yield NULL features
    rather than failing the batch (per-record error isolation — one
    corrupt file must not kill a 100 TB decode pass)."""
    from cdc_makanmana_spark.multimodal import kernels

    def one(p: bytes, m: dict) -> list:
        if m["codec"] == "pcm16":
            try:
                samples, rate = kernels.decode_wav_pcm16(p)
                return kernels.audio_features(samples, rate)
            except Exception:  # noqa: BLE001 — corrupt-record isolation
                return [None, None, None, None]
        return [None, None, None, None]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [one(bytes(p), m) for p, m in zip(pdf["payload"], pdf["meta"])]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "duration_s": [f[0] for f in feats],
                    "rms": [f[1] for f in feats],
                    "zcr": [f[2] for f in feats],
                    "dominant_hz": [f[3] for f in feats],
                }
            )

    return media.filter(F.col("kind") == "audio").mapInPandas(
        batches, schema=AUDIO_FEATURE_SCHEMA
    )


def resize_images(media: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Resize stage: payload → payload' with updated metadata, same
    MEDIA_SCHEMA in and out. PPM/PNG payloads get REAL nearest-neighbor
    resampling (decode → numpy index-resample → re-encode, container
    preserved); JPEG decodes for real too but re-emits as PNG — the
    engine keeps no lossy ENCODER, and a resize stage that silently
    re-quantized pixels would corrupt downstream fingerprints (the
    codec in the output meta says so honestly). Other codecs fall back
    to a deterministic byte-tiling stub."""
    from cdc_makanmana_spark.multimodal import kernels

    def one(p: bytes, m: dict) -> tuple[bytes, str]:
        if m["codec"] == "ppm":
            return (
                kernels.encode_ppm(
                    kernels.resize_nearest(kernels.decode_ppm(p), target_w, target_h)
                ),
                "ppm",
            )
        if m["codec"] in ("png", "jpeg"):
            # decode (any supported color type) → resample → re-encode
            # as 8-bit RGB PNG (lossless re-container for JPEG inputs)
            return (
                kernels.encode_png(
                    kernels.resize_nearest(
                        kernels.decode_image(p, m["codec"]), target_w, target_h
                    )
                ),
                "png",
            )
        need = target_w * target_h * 3
        return (p * (need // max(len(p), 1) + 1))[:need], m["codec"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_payload = []
            out_meta = []
            for p, m in zip(pdf["payload"], pdf["meta"]):
                data, codec = one(bytes(p), m)
                out_payload.append(bytearray(data))
                out_meta.append(
                    {
                        "codec": codec,
                        "width": target_w,
                        "height": target_h,
                        "n_frames": m["n_frames"],
                    }
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": out_payload,
                    "meta": out_meta,
                }
            )

    return media.mapInPandas(batches, schema=MEDIA_SCHEMA)


def sample_frames(media: DataFrame, every_nth: int = 2) -> DataFrame:
    """Frame sampling for video payloads: one output row per sampled
    frame. Y4M payloads take the REAL path — ``kernels.decode_y4m``
    splits the raw container into luma frames, each re-emitted as a
    P6 PPM (gray replicated to RGB) so every downstream image kernel
    consumes sampled frames unchanged; codec-requiring formats keep
    the stub equal-slice payloads. Row explosion happens executor-side
    inside the Arrow batch — the driver never sees payload bytes."""
    import numpy as np

    from cdc_makanmana_spark.multimodal import kernels

    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame_payload", BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, payloads = [], [], []
            for mid, p, m in zip(pdf["media_id"], pdf["payload"], pdf["meta"]):
                raw = bytes(p)
                if m["codec"] == "y4m":
                    frames = kernels.decode_y4m(raw)
                    for fi in range(0, frames.shape[0], every_nth):
                        ids.append(mid)
                        idxs.append(fi)
                        payloads.append(
                            bytearray(
                                kernels.encode_ppm(
                                    np.repeat(
                                        frames[fi][:, :, np.newaxis], 3, axis=2
                                    )
                                )
                            )
                        )
                    continue
                n = int(m["n_frames"])
                step = max(len(raw) // max(n, 1), 1)
                for fi in range(0, n, every_nth):
                    ids.append(mid)
                    idxs.append(fi)
                    payloads.append(bytearray(raw[fi * step : (fi + 1) * step]))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_payload": payloads}
            )

    return media.filter(F.col("kind") == "video").mapInPandas(batches, schema=out_schema)


def _ahash_from_rgb(arr, grid: int = 8) -> int:
    """aHash bits from a decoded H×W×3 array: ``grid``² nearest-neighbor
    downsample → channel mean → above-mean bits. The single arithmetic
    path behind every image/frame hash (so the fused video pass and the
    staged PPM round-trip produce bit-identical hashes by construction)."""
    import numpy as np

    from cdc_makanmana_spark.multimodal import kernels

    lum = kernels.resize_nearest(arr, grid, grid).astype(np.float64).mean(axis=2)
    return _ahash_from_lum(lum)


def _ahash_from_lum(lum) -> int:
    bits = (lum > lum.mean()).flatten()
    h = 0
    for i, b in enumerate(bits[:64]):
        if b:
            h |= 1 << i
    # two's-complement into a signed 64-bit long for the LongType col
    return h - (1 << 64) if h >= (1 << 63) else h


def _image_ahash_one(p: bytes, m: dict, grid: int = 8) -> int:
    """Per-row image aHash kernel (decode → luminance → ``grid``²
    nearest-neighbor downsample → above-mean bits), shared by
    :func:`image_ahash` and the single-pass :func:`media_fingerprints`."""
    import numpy as np

    from cdc_makanmana_spark.multimodal import kernels

    if m["codec"] in ("ppm", "png", "jpeg"):
        return _ahash_from_rgb(kernels.decode_image(p, m["codec"]), grid)
    feats = _decode_stub(p, m["width"], m["height"], dim=grid * grid)
    lum = np.asarray(feats, dtype=np.float64).reshape(grid, grid)
    return _ahash_from_lum(lum)


def _audio_fp_one(p: bytes, m: dict) -> int:
    """Per-row audio spectral-fingerprint kernel (PCM16 decode → rFFT
    power → log-band sign bits), shared by :func:`audio_fingerprint`
    and the single-pass :func:`media_fingerprints`."""
    from cdc_makanmana_spark.multimodal import kernels

    if m["codec"] == "pcm16":
        samples, rate = kernels.decode_wav_pcm16(p)
        h = kernels.audio_fingerprint_bits(samples, rate)
    else:
        feats = _decode_stub(p, m["width"], m["height"], dim=32)
        h = 0
        for i, f in enumerate(feats[:32]):
            if f > 0.5:
                h |= 1 << i
    return h - (1 << 64) if h >= (1 << 63) else h


AHASH_SCHEMA = StructType(
    [StructField("media_id", LongType()), StructField("ahash", LongType())]
)


def image_ahash(media: DataFrame, grid: int = 8) -> DataFrame:
    """64-bit average-hash perceptual signature per image: decode →
    luminance → nearest-neighbor downsample to ``grid``×``grid`` →
    bit i set iff cell i's luminance exceeds the grid mean. Small
    edits (noise, re-encode, minor crops) flip few bits, so
    near-duplicate images sit within a small Hamming distance — the
    image analogue of text SimHash, and deliberately the same 64-bit
    shape so ``operators.dedup.hamming_pairs`` consumes it unchanged.

    PPM payloads take the real kernel path; codec-requiring formats
    fall back to the deterministic stub vector's bits (honest stand-in
    until a codec lib is swapped in — the pipeline contract is the
    point). Runs as one Arrow-batched ``mapInPandas``; payloads never
    visit the driver."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "ahash": [
                        _image_ahash_one(bytes(p), m, grid)
                        for p, m in zip(pdf["payload"], pdf["meta"])
                    ],
                }
            )

    return media.filter(F.col("kind") == "image").mapInPandas(batches, schema=AHASH_SCHEMA)


def image_near_duplicates(media: DataFrame, max_distance: int = 6) -> DataFrame:
    """Near-duplicate image pairs: perceptual aHash + the text ladder's
    Hamming pair machinery (value-grouped, combination-blocked,
    complete recall within ``max_distance``). Returns
    (id_a, id_b, hamming), id_a < id_b — multimodal dedup riding the
    exact same scale path as q25's SimHash tier."""
    from cdc_makanmana_spark.operators.dedup import hamming_pairs

    return hamming_pairs(image_ahash(media), "ahash", "media_id", max_distance)


AUDIO_FP_SCHEMA = StructType(
    [StructField("media_id", LongType()), StructField("afp", LongType())]
)


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """64-bit spectral fingerprint per audio row (kernels.
    audio_fingerprint_bits — log-band energy-difference signs, the
    Haitsma-Kalker shape): level-invariant, noise-tolerant, and the
    same 64-bit signature contract as ``image_ahash``/text SimHash, so
    ``hamming_pairs`` consumes it unchanged. PCM16 decodes for real;
    codec formats take the stub bits."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "afp": [
                        _audio_fp_one(bytes(p), m)
                        for p, m in zip(pdf["payload"], pdf["meta"])
                    ],
                }
            )

    return media.filter(F.col("kind") == "audio").mapInPandas(batches, schema=AUDIO_FP_SCHEMA)


MEDIA_FP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("fp", LongType()),
    ]
)


def media_fingerprints(media: DataFrame) -> DataFrame:
    """64-bit perceptual fingerprint for EVERY fingerprintable row —
    image rows through :func:`image_ahash`'s kernel, audio rows through
    :func:`audio_fingerprint`'s — in ONE Arrow pass over ONE scan.
    Returns (media_id, kind, fp); non-fingerprintable kinds drop.

    Exists because DataFrame branches don't share subplans: consuming
    the per-modality operators separately re-runs the binaryFile scan
    (and the payload decode) once per modality — measured on q110's
    128-file fixture as ~2x the scan+decode cost before this pass
    existed. A mixed-modality directory pays the payload IO once here;
    downstream blocking (``hamming_pairs`` per kind, thresholds differ
    by modality) runs over this frame's materialization, never the raw
    bytes. Same honest-stub rule as the per-modality kernels."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, kinds, fps = [], [], []
            for mid, kind, p, m in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"], pdf["meta"]
            ):
                if kind == "image":
                    fp = _image_ahash_one(bytes(p), m)
                elif kind == "audio":
                    fp = _audio_fp_one(bytes(p), m)
                else:
                    continue
                ids.append(mid)
                kinds.append(kind)
                fps.append(fp)
            if ids:
                yield pd.DataFrame({"media_id": ids, "kind": kinds, "fp": fps})

    return media.filter(F.col("kind").isin("image", "audio")).mapInPandas(
        batches, schema=MEDIA_FP_SCHEMA
    )


def media_fingerprints_dir(
    spark,
    path: str,
    glob: str = "*",
    recursive: bool = False,
    id_from: str = "path_hash",
) -> DataFrame:
    """FUSED scan → classify → fingerprint: ``binaryFile`` to
    (media_id, kind, fp) in ONE Arrow pass.

    ``read_media_dir`` + ``media_fingerprints`` chain two
    ``mapInPandas`` stages, so every payload crosses the JVM↔Python
    boundary TWICE (the metadata pass re-emits the bytes for the
    fingerprint pass to consume) — guide-§4 waste when the consumer
    only wants fingerprints. This operator runs the same
    classification guards and the same per-row kernels
    (``_image_ahash_one`` / ``_audio_fp_one``) inside one batch
    function: payloads cross once, and only (id, kind, fp) rows come
    back. Output is row-identical to the staged pair, including the
    corrupt-payload contract: a file whose HEADER fails to parse is
    downgraded and dropped exactly where the metadata pass would have
    downgraded it; a header-valid body failure raises from the kernel
    just as the staged fingerprint pass would. Non-fingerprintable
    kinds (video, unknown) drop without any decode — the staged
    metadata pass decodes video for dims it then discards.

    Measured (r10, 1× fixture, sf-independent): q110 build
    3.4 → ~2.2 s; the saving scales with media volume (×100 media
    ships every payload once instead of twice)."""
    from cdc_makanmana_spark.multimodal import kernels

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, kinds, fps = [], [], []
            for mid, ext, payload in zip(
                pdf["media_id"], pdf["__ext"], pdf["payload"]
            ):
                kind, codec = _EXT_MEDIA.get(ext, ("binary", ext))
                p = bytes(payload)
                if kind == "image":
                    # header guards replicate read_media_dir's
                    # corrupt-downgrade classification exactly
                    # (ppm_dims validates body length too, so it
                    # agrees with the staged pass's full decode_ppm
                    # on every payload — r10 ADVICE nit)
                    try:
                        if codec == "ppm":
                            kernels.ppm_dims(p)
                        elif codec == "png":
                            kernels.png_dims(p)
                        elif codec == "jpeg":
                            kernels.jpeg_dims(p)
                    except ValueError:
                        continue  # kind='binary' in the staged pass
                    fp = _image_ahash_one(p, {"codec": codec, "width": 0, "height": 0})
                elif kind == "audio":
                    fp = _audio_fp_one(p, {"codec": codec, "width": 0, "height": 0})
                else:
                    continue
                ids.append(mid)
                kinds.append(kind)
                fps.append(fp)
            if ids:
                yield pd.DataFrame({"media_id": ids, "kind": kinds, "fp": fps})

    return _raw_media(spark, path, glob, recursive, id_from).mapInPandas(
        batches, schema=MEDIA_FP_SCHEMA
    )


def audio_near_duplicates(media: DataFrame, max_distance: int = 3) -> DataFrame:
    """Near-duplicate audio pairs via spectral fingerprints + the
    shared Hamming pair core. Returns (id_a, id_b, hamming). Note the
    threshold semantics: the fingerprint is a SPARSE band bitmap for
    tonal content (few active bands), so even disjoint content can sit
    within ~2x the active-band count — pick max_distance well below
    that (the default suits a handful of active bands; spectrally
    dense audio tolerates larger thresholds)."""
    from cdc_makanmana_spark.operators.dedup import hamming_pairs

    return hamming_pairs(audio_fingerprint(media), "afp", "media_id", max_distance)


FRAME_HASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("fhash", LongType()),
    ]
)


def video_frame_hashes(media: DataFrame, every_nth: int = 2) -> DataFrame:
    """64-bit perceptual hash per SAMPLED video frame: the video tier
    of the multimodal dedup trio (image aHash / audio fingerprint /
    this). Y4M videos are REAL end-to-end: ``sample_frames`` decodes
    the raw container and emits each sampled frame as a PPM, so the
    per-frame hash here is ``image_ahash``'s actual kernel — exactly
    the promised "drop in a real decoder and nothing downstream
    changes". Codec-requiring formats (MP4 etc. — no codec libs in
    the container) keep the stub slice → stub-bits path. One
    Arrow-batched ``mapInPandas``; payloads never visit the driver."""
    import numpy as np

    frames = sample_frames(media, every_nth)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hashes = []
            for p in pdf["frame_payload"]:
                raw = bytes(p)
                if raw.startswith(b"P6"):
                    hashes.append(_image_ahash_one(raw, {"codec": "ppm"}))
                    continue
                feats = np.asarray(
                    _decode_stub(raw, 8, 8, dim=64), dtype=np.float64
                )
                bits = feats > feats.mean()
                h = 0
                for i, b in enumerate(bits[:64]):
                    if b:
                        h |= 1 << i
                hashes.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "fhash": hashes,
                }
            )

    return frames.mapInPandas(batches, schema=FRAME_HASH_SCHEMA)


def video_near_duplicates(
    media: DataFrame, min_shared_frames: int = 2, every_nth: int = 2
) -> DataFrame:
    """Near-duplicate video pairs: videos sharing >= ``min_shared_frames``
    sampled-frame hashes. The candidate join is the dedup ladder's
    inverted-index shape — explode to (frame-hash, video) postings,
    pair within a hash bucket, count shared hashes per pair — so the
    shuffle key is the 8-byte frame hash and cost is bounded by
    postings-per-hash, never |videos|². A re-encoded or trimmed copy
    shares most frame hashes; unrelated videos share none. Returns
    (id_a, id_b, n_shared)."""
    return _shared_frame_pairs(
        video_frame_hashes(media, every_nth), min_shared_frames
    )


def _shared_frame_pairs(fh: DataFrame, min_shared_frames: int) -> DataFrame:
    """Postings pairing over a (media_id, frame_idx, fhash) frame —
    the shared back half of :func:`video_near_duplicates` and the
    fused :func:`video_near_duplicates_dir`."""
    fh = fh.select("media_id", "fhash").distinct()
    a = fh.select(F.col("media_id").alias("id_a"), "fhash")
    b = fh.select(F.col("media_id").alias("id_b"), "fhash")
    return (
        a.join(b, "fhash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared_frames)
    )


def video_frame_hashes_dir(
    spark,
    path: str,
    glob: str = "*",
    recursive: bool = False,
    id_from: str = "path_hash",
    every_nth: int = 2,
) -> DataFrame:
    """FUSED scan → classify → sample → per-frame aHash for video
    directories: ``binaryFile`` to (media_id, frame_idx, fhash) in ONE
    Arrow pass.

    The staged chain (``read_media_dir`` → ``sample_frames`` →
    ``video_frame_hashes``) is three ``mapInPandas`` stages: the
    metadata pass decodes the Y4M container just to count frames and
    re-emits the payload; the sampling pass decodes it AGAIN and
    re-encodes every sampled frame as a PPM; the hash pass parses each
    PPM back into the array it was encoded from — guide-§4 waste when
    the consumer only wants frame hashes. Here the container is decoded
    once and each sampled frame is hashed directly from the luma array.

    Hash identity with the staged chain is by construction, not by
    tolerance: ``encode_ppm``/``decode_ppm`` is a lossless P6 byte
    round-trip, and the channel mean of a gray plane replicated ×3 is
    exactly the gray value in float64 ((3x)/3 with 3x exact), so
    ``_ahash_from_rgb`` on the replicated array sees bit-identical
    luminance either way. The corrupt-payload contract is replicated
    too: a Y4M whose header fails to parse is skipped exactly where the
    staged metadata pass would have downgraded it to kind='binary'.
    Only ``y4m`` maps to kind='video' in ``_EXT_MEDIA``, so the fused
    dir path needs no stub branch (the stub frame path exists for
    synthetic in-memory media frames, which don't come from a dir)."""
    import numpy as np

    from cdc_makanmana_spark.multimodal import kernels

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, hashes = [], [], []
            for mid, ext, payload in zip(
                pdf["media_id"], pdf["__ext"], pdf["payload"]
            ):
                kind, codec = _EXT_MEDIA.get(ext, ("binary", ext))
                if kind != "video":
                    continue
                try:
                    frames = kernels.decode_y4m(bytes(payload))
                except ValueError:
                    continue  # kind='binary' in the staged metadata pass
                for fi in range(0, frames.shape[0], every_nth):
                    ids.append(mid)
                    idxs.append(fi)
                    hashes.append(
                        _ahash_from_rgb(
                            np.repeat(frames[fi][:, :, np.newaxis], 3, axis=2)
                        )
                    )
            if ids:
                yield pd.DataFrame(
                    {"media_id": ids, "frame_idx": idxs, "fhash": hashes}
                )

    return _raw_media(spark, path, glob, recursive, id_from).mapInPandas(
        batches, schema=FRAME_HASH_SCHEMA
    )


def video_near_duplicates_dir(
    spark,
    path: str,
    glob: str = "*",
    recursive: bool = False,
    id_from: str = "path_hash",
    min_shared_frames: int = 2,
    every_nth: int = 2,
) -> DataFrame:
    """:func:`video_near_duplicates` served from the fused
    :func:`video_frame_hashes_dir` single-pass scan.

    The pairing self-join consumes the hash frame TWICE, and DataFrame
    branches don't share subplans — the staged chain's executed plan
    runs binaryFile → 3×MapInPandas once PER SIDE (6 payload
    crossings, 6 container decodes per bench pass; see
    plans/r10/q111_video_neardup_before.txt). Fusing cuts each side to
    one crossing, and materializing the narrow (media_id, frame_idx,
    fhash) result — ~20 B/row, frames/every_nth rows per video, vs the
    raw payloads — lets both join sides read the SAME scan: one
    decode+hash pass total, identical rows.

    EAGER: ``materialize`` runs the scan+decode+hash job at CALL time
    (see its docstring) — this function returns a lazy pairing plan
    over an already-computed frame-hash table, not a fully lazy
    DataFrame."""
    from cdc_makanmana_spark.session import materialize

    return _shared_frame_pairs(
        materialize(
            video_frame_hashes_dir(spark, path, glob, recursive, id_from, every_nth)
        ),
        min_shared_frames,
    )
