"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata, processed per row over Arrow batches
(``frames.map_rows``).

Decode and resize are REAL: Pillow when importable, else the stdlib
codecs in ``functions/media_codecs.py`` (PNG/BMP/PPM/baseline-JPEG/GIF
rasters, progressive-JPEG header dims, WAV audio stats). The deterministic md5 stub decoder
remains available as ``fake=True`` — it is what the driver-gated oracle
query uses, since DuckDB can restate the md5 arithmetic but not a PNG
inflate. Video frame sampling is real too (PyAV preferred, stdlib
AVI/GIF container splitters otherwise).

Scale notes: binary payloads dominate partition size — size
``spark.sql.files.maxPartitionBytes`` down (e.g. 32 MB) for media tables,
and keep metadata in sidecar columns so filters prune *before* bytes are
read (parquet column pruning skips the binary column entirely when the
query doesn't touch it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from modware_loader_spark.frames import ensure_min_partitions, map_rows

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta_width", T.IntegerType(), True),
        T.StructField("meta_height", T.IntegerType(), True),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("decoded_width", T.IntegerType(), True),
        T.StructField("decoded_height", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def attach_binary_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Build a media table from a text table: payload = utf-8 bytes.

    Stands in for reading real media files; the binary column, metadata
    sidecars, and partitioning behave exactly as they would for images.
    """
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit("image/fake").alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.pmod(F.length(text_col), F.lit(640)).cast("int").alias("meta_width"),
        F.pmod(F.length(text_col), F.lit(480)).cast("int").alias("meta_height"),
    )


#: Per-payload ceiling for the Arrow decode/resize/audio/frame stages
#: (``frames.map_rows`` enforces it). 64 MB passes every sane image and
#: is far under the worker memory per core; raise it deliberately for
#: video tables (and drop maxRecordsPerBatch in the same breath).
MAX_PAYLOAD_BYTES = 64 << 20


def decode_media(
    df: DataFrame,
    fake: bool = False,
    on_error: str = "raise",
    max_payload_bytes: int = MAX_PAYLOAD_BYTES,
) -> DataFrame:
    """Arrow-batched decode (``frames.map_rows``): payload → dims + feature.

    The REAL path (``fake=False``) decodes per payload: Pillow when
    importable (every format it knows), else the stdlib codecs in
    ``functions/media_codecs.py`` — PNG/BMP/PPM, baseline JPEG and GIF
    to full RGB rasters (feature = mean R, G, B + luminance, /255),
    progressive JPEG to header
    dimensions (feature NULL without PIL), WAV to audio stats (dims
    NULL, feature = [duration_s, rms]). ``on_error='null'`` turns
    undecodable payloads into NULL dims/feature instead of failing the
    stage — the curation-pipeline policy for corrupt media.

    ``fake=True`` keeps the deterministic md5 stub decoder (no media
    libraries touched at all) — used by the driver-gated oracle query,
    where the DuckDB twin restates the md5 arithmetic.

    One output row per input row; the binary column is dropped on
    output and ``n_bytes`` is measured on the JVM side.
    """

    # nested (not module-level) so cloudpickle ships everything by value —
    # executors need no importable copy of this package
    def fake_decode(payload: bytes) -> tuple:
        import hashlib

        h = hashlib.md5(payload or b"").digest()
        width = int.from_bytes(h[0:2], "big") % 1024
        height = int.from_bytes(h[2:4], "big") % 1024
        feature = [round(b / 255.0, 6) for b in h[4:8]]
        return width, height, feature

    def real_decode(payload: bytes) -> tuple:
        from modware_loader_spark.functions import media_codecs as MC

        kind = MC.sniff_media_type(payload)
        if kind == "wav":
            _nch, _rate, duration, rms = MC.decode_wav_stats(payload)
            return None, None, [duration, rms]
        try:
            w, h, rgb = MC.decode_rgb(payload)
        except ValueError:
            w, h = MC.decode_dims(payload)  # header-only formats
            return w, h, None
        n = w * h or 1
        mr = sum(rgb[0::3]) / n / 255.0
        mg = sum(rgb[1::3]) / n / 255.0
        mb = sum(rgb[2::3]) / n / 255.0
        luma = 0.299 * mr + 0.587 * mg + 0.114 * mb
        return w, h, [round(v, 6) for v in (mr, mg, mb, luma)]

    decode = fake_decode if fake else real_decode
    n_bytes = F.coalesce(F.length("payload"), F.lit(0)).cast("long")
    return map_rows(
        df.select("media_id", "media_type", n_bytes.alias("n_bytes"), "payload"),
        lambda payload: [decode(payload)],
        DECODED_SCHEMA,
        carry=["media_id", "media_type", "n_bytes"],
        on_error=on_error,
        max_payload_bytes=max_payload_bytes,
    )


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        # float64, not float32: pooled clip features are 2 x n_mfcc
        # doubles per clip (negligible), and the driver's DuckDB oracle
        # compares them after a 4dp round — float32's ~1e-6 relative
        # error at that magnitude flips 4dp boundaries
        T.StructField("mfcc_mean", T.ArrayType(T.DoubleType()), True),
        T.StructField("mfcc_std", T.ArrayType(T.DoubleType()), True),
    ]
)


def synth_wav_tones(
    df: DataFrame,
    id_col: str = "doc_id",
    rate: int = 1600,
    n_samples: int = 72,
) -> DataFrame:
    """Deterministic two-tone PCM16 WAV payload per input row:
    ``x[n] = 0.4 sin(2 pi f0 n / rate) + 0.3 sin(2 pi f1 n / rate)``
    with ``f0 = 100 + (id % 7) * 50`` and ``f1 = 300 + (id % 11) * 30``
    (both below the Nyquist 800 Hz at the default rate).

    The payloads are REAL WAV bytes (``encode_wav_pcm16``), so
    downstream stages exercise the true container decode path, while an
    external SQL engine can restate the decoded samples exactly as
    ``trunc(x * 32767) / 32768`` — the int16 quantization round-trip —
    without an audio stack. The synthesis analog of
    ``image_hash.synth_gray_ppm``.
    """

    def row(mid):
        import numpy as np

        from modware_loader_spark.functions.audio_features import (
            encode_wav_pcm16,
        )

        n = np.arange(n_samples)
        f0 = 100 + (mid % 7) * 50
        f1 = 300 + (mid % 11) * 30
        x = 0.4 * np.sin(2 * np.pi * f0 * n / rate) + 0.3 * np.sin(
            2 * np.pi * f1 * n / rate
        )
        return [(mid, "audio/wav", encode_wav_pcm16(rate, x))]

    return map_rows(
        ensure_min_partitions(df.select(id_col)),
        row,
        T.StructType(
            [
                T.StructField("media_id", T.LongType(), False),
                T.StructField("media_type", T.StringType(), True),
                T.StructField("payload", T.BinaryType(), True),
            ]
        ),
    )


def audio_features(
    df: DataFrame,
    n_mfcc: int = 13,
    on_error: str = "raise",
    max_payload_bytes: int = MAX_PAYLOAD_BYTES,
) -> DataFrame:
    """Arrow-batched MFCC extraction over WAV payloads: one row per clip
    with ``(sample_rate, duration_s, n_frames, mfcc_mean, mfcc_std)``.

    The mean/std pooling over frames is the standard clip-level audio
    fingerprint for dedup and similarity (feed ``mfcc_mean`` to the ANN
    operators exactly like a text embedding). The per-frame matrix stays
    inside the worker — at 100 TB you pool before anything shuffles,
    because frames outnumber clips by ~100:1. Pure numpy
    (``functions/audio_features.py``), no optional libraries;
    ``on_error='null'`` nulls undecodable/oversized clips like the other
    media stages.
    """

    def row(payload):
        from modware_loader_spark.functions.audio_features import (
            mfcc,
            wav_samples,
        )

        rate, x = wav_samples(bytes(payload))
        m = mfcc(x, rate, n_mfcc=n_mfcc)
        return [
            (
                rate,
                round(x.size / rate, 6),
                m.shape[0],
                [float(v) for v in m.mean(axis=0)],
                [float(v) for v in m.std(axis=0)],
            )
        ]

    return map_rows(
        df.select("media_id", "payload"),
        row,
        AUDIO_FEATURE_SCHEMA,
        carry=["media_id"],
        on_error=on_error,
        max_payload_bytes=max_payload_bytes,
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta_width", T.IntegerType(), True),
        T.StructField("meta_height", T.IntegerType(), True),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_index", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def resize_media(
    df: DataFrame,
    width: int,
    height: int,
    fake: bool = False,
    on_error: str = "raise",
    max_payload_bytes: int = MAX_PAYLOAD_BYTES,
) -> DataFrame:
    """Arrow-batched resize: payload → payload at (width, height).

    The REAL path (``fake=False``): Pillow's LANCZOS resample re-encoded
    as PNG when Pillow is importable; otherwise a genuine stdlib resize —
    decode to RGB (png/bmp/ppm), nearest-neighbor resample, re-encode as
    binary PPM. ``fake=True`` keeps the byte-truncation stub (payloads
    that aren't images at all). ``on_error='null'`` nulls the payload and
    output dims of corrupt/NULL inputs instead of failing the stage —
    same policy as ``decode_media``; one bad payload in a 100 TB curation
    run must not kill the job.

    The Spark-side contract — same row count, binary in/binary out,
    metadata rewritten — is identical on every path.
    """

    def real_resize(media_type, p: bytes) -> list[tuple]:
        """The type column must describe the re-encoded bytes, not the
        input (PIL emits PNG, stdlib PPM; a cluster with heterogeneous
        PIL installs would otherwise mix formats under one stale
        label)."""
        from modware_loader_spark.functions import media_codecs as MC

        if MC.pil_available():
            import io

            import PIL.Image

            img = PIL.Image.open(io.BytesIO(p)).convert("RGB")
            out = io.BytesIO()
            img.resize((width, height), PIL.Image.LANCZOS).save(out, "PNG")
            return [("image/png", out.getvalue(), width, height)]
        w, h, rgb = MC.decode_rgb(p)
        resized = MC.resize_rgb_nearest(w, h, rgb, width, height)
        return [
            (
                "image/x-portable-pixmap",
                MC.encode_ppm(width, height, resized),
                width,
                height,
            )
        ]

    def fake_resize(media_type, p) -> list[tuple]:
        target = width * height
        return [(media_type, (p or b"")[:target].ljust(target, b"\0"), width, height)]

    return map_rows(
        df.select("media_id", "media_type", "payload"),
        fake_resize if fake else real_resize,
        RESIZED_SCHEMA,
        carry=["media_id"],
        on_error=on_error,
        max_payload_bytes=max_payload_bytes,
    )


def sample_frames(
    df: DataFrame,
    n_frames: int,
    fake: bool = False,
    on_error: str = "raise",
    max_payload_bytes: int = MAX_PAYLOAD_BYTES,
) -> DataFrame:
    """Arrow-batched frame sampling: one video row → up to ``n_frames``
    frame rows (uniform stride). The 1→N row expansion inside one Arrow
    map stage is the shape real ffmpeg-backed samplers use.

    The REAL path (``fake=False``) mirrors the Pillow-preferred pattern
    of ``functions/media_codecs.py``: PyAV when importable (any codec;
    frames re-encoded as binary PPM rasters), else the stdlib container
    splitters — AVI (RIFF ``##dc``/``##db`` chunk walk; MJPEG frames ARE
    standalone JPEGs) and animated GIF (image blocks re-wrapped as
    standalone GIFs). A container with more than ``n_frames`` frames is
    sampled at uniform stride; with fewer, all frames are emitted.
    ``on_error='null'`` turns an unsplittable payload into a single
    NULL-payload frame row instead of failing the stage. ``fake=True``
    keeps the deterministic byte-chunk stub (exactly ``n_frames`` chunks)
    used by non-video payloads and the oracle query.

    Scale: output partitioning follows the input (no shuffle); frames of
    one video stay in one partition, so a per-video downstream groupBy
    keys on ``media_id`` with map-side combine.
    """

    def real_split(p: bytes) -> list[bytes]:
        from modware_loader_spark.functions import media_codecs as MC

        try:
            import av  # noqa: F401  (optional; absent in this container)

            import io as _io

            with av.open(_io.BytesIO(p)) as container:
                rasters = [
                    f.to_ndarray(format="rgb24")
                    for f in container.decode(video=0)
                ]
            return [
                MC.encode_ppm(r.shape[1], r.shape[0], r.tobytes())
                for r in rasters
            ]
        except ImportError:
            pass
        kind = MC.sniff_video_type(p)
        if kind == "avi":
            return MC.split_avi_frames(p)
        if kind == "gif":
            return MC.split_gif_frames(p)
        raise ValueError("unsupported video container (no PyAV; not AVI/GIF)")

    def row(p) -> list[tuple]:
        if fake:
            p = p or b""
            step = max(len(p) // n_frames, 1)
            return [(i, p[i * step : (i + 1) * step]) for i in range(n_frames)]
        all_frames = real_split(p)
        m = len(all_frames)
        take = (
            range(m) if m <= n_frames else (i * m // n_frames for i in range(n_frames))
        )
        return [(out_i, all_frames[src_i]) for out_i, src_i in enumerate(take)]

    return map_rows(
        df.select("media_id", "payload"),
        row,
        FRAME_SCHEMA,
        carry=["media_id"],
        on_error=on_error,
        max_payload_bytes=max_payload_bytes,
        null_row=(0, None),
    )
