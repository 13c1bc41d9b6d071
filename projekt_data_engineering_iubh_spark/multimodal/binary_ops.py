"""Binary-column operators for multimodal training-data pipelines.

Design for 100 TB of media:

* one row per asset: ``(asset_id, media_type, payload binary, meta struct)``;
  payloads never shuffle through wide transforms — metadata-only plans
  prune the binary column at the parquet scan (columnar projection);
* decode/resize/frame-sample are per-partition ``mapInPandas`` operators —
  Arrow moves the bytes to Python in batches, numpy does the work, and the
  operator emits *derived* columns (features, thumbnails) rather than
  mutating payloads in place;
* partition by size: ``repartitionByRange`` on ``meta.n_bytes`` keeps any
  single task from receiving all the 4K videos.

Codec resolution (r8): an injected decoder/resizer callable wins;
otherwise the default DISPATCHES per payload — BMP/WAV magic bytes go
to REAL stdlib codecs (struct-parsed BI_RGB BMP, ``wave``-module PCM
WAV) that run in every environment, other formats go to Pillow /
soundfile when importable, and a clean ``NotImplementedError`` is
raised at execution time otherwise. This container has no
PIL/ffmpeg/soundfile, so tests exercise the stdlib paths for real,
inject :func:`fake_image_decoder` / :func:`fake_image_resizer` for
deterministic plumbing pins, and keep Pillow/soundfile tests
import-gated. The Spark-side plumbing — schema, Arrow batching, UDF
signatures — is identical across all codecs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from projekt_data_engineering_iubh_spark.functions import zipimport_cache

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("n_bytes", T.LongType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = (
    "asset_id long, media_type string, width int, height int, "
    "mean_luma double, phash string"
)

Decoder = Callable[[bytes], "tuple[int, int, float]"]


def fake_image_decoder(payload: bytes) -> tuple[int, int, float]:
    """Deterministic stand-in for a real codec: derives (width, height,
    mean_luma) from a digest of the bytes. Lets every piece of Spark
    plumbing run and be asserted on without PIL."""
    d = hashlib.md5(payload).digest()
    width = 64 + d[0] % 192
    height = 64 + d[1] % 192
    mean_luma = d[2] / 255.0
    return width, height, mean_luma


def _phash(payload: bytes) -> str:
    return hashlib.md5(payload).hexdigest()[:16]


def extract_image_features(
    media: DataFrame, decoder: Decoder | None = None
) -> DataFrame:
    """Decode image payloads and emit feature rows (Arrow-batched).

    Decoder resolution: an injected callable wins; otherwise the
    Pillow-backed default when Pillow is importable; otherwise the
    operator raises NotImplementedError at execution time.
    """
    if decoder is None:
        decoder = default_image_decoder()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder is None:
                raise NotImplementedError(
                    "no image codec in this environment; inject a decoder "
                    "(e.g. PIL-based) or fake_image_decoder for tests"
                )
            out = {
                "asset_id": [],
                "media_type": [],
                "width": [],
                "height": [],
                "mean_luma": [],
                "phash": [],
            }
            for asset_id, media_type, payload in zip(
                pdf["asset_id"], pdf["media_type"], pdf["payload"]
            ):
                w, h, luma = decoder(bytes(payload))
                out["asset_id"].append(asset_id)
                out["media_type"].append(media_type)
                out["width"].append(w)
                out["height"].append(h)
                out["mean_luma"].append(luma)
                out["phash"].append(_phash(bytes(payload)))
            yield pd.DataFrame(out)

    imgs = media.filter(F.col("media_type") == "image").select(
        "asset_id", "media_type", "payload"
    )
    return imgs.mapInPandas(zipimport_cache.attach(run), schema=IMAGE_FEATURES_SCHEMA)


def sample_frames(
    media: DataFrame, *, every_ms: int = 1000
) -> DataFrame:
    """Video frame-sampling plan: emits (asset_id, frame_ts_ms) rows from
    metadata only — the payload column is pruned from the scan entirely;
    the actual frame decode is a downstream mapInPandas like images."""
    return (
        media.filter(F.col("media_type") == "video")
        .select(
            "asset_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.coalesce(F.col("meta.duration_ms"), F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ts_ms"),
        )
    )


def size_balanced(media: DataFrame, partitions: int) -> DataFrame:
    """Range-partition by payload size so decode tasks are even."""
    return media.repartitionByRange(partitions, F.col("meta.n_bytes"))


RESIZED_SCHEMA = (
    "asset_id long, width int, height int, thumb_width int, "
    "thumb_height int, thumbnail binary"
)

Resizer = Callable[[bytes, int], "tuple[int, int, int, int, bytes]"]


def _fit_longer_side(w: int, h: int, max_side: int) -> tuple[int, int]:
    """Aspect-preserving thumb dims with the longer side EXACTLY max_side.

    The longer side is assigned max_side directly (never scaled through
    floating point — int(L * (max_side/L)) can truncate to max_side-1
    from FP rounding); the shorter side scales in INTEGER HALF_UP
    arithmetic: ``(2*s*max_side + L) // (2*L)`` is round-half-up of
    s*max_side/L on non-negative ints. Python's ``round()`` is
    half-to-EVEN, which diverges from SQL HALF_UP exactly at .5 ties —
    this contract is mirrored engine-side by the ``docs_media_dims``
    oracle query (plans/curation_queries.py), so it must stay portable
    integer arithmetic (same policy as functions/numeric.py).
    """
    if w >= h:
        return max_side, max(1, (2 * h * max_side + w) // (2 * w))
    return max(1, (2 * w * max_side + h) // (2 * h)), max_side


def fake_image_resizer(payload: bytes, max_side: int) -> tuple[int, int, int, int, bytes]:
    """Deterministic stand-in for a real resize codec: derives source
    dims like :func:`fake_image_decoder`, scales the longer side to
    ``max_side`` preserving aspect ratio, and emits a digest-derived
    thumbnail payload whose length encodes the thumb area."""
    w, h, _ = fake_image_decoder(payload)
    tw, th = _fit_longer_side(w, h, max_side)
    d = hashlib.md5(payload + b"|thumb").digest()
    thumb = (d * ((tw * th) // len(d) + 1))[: tw * th]
    return w, h, tw, th, thumb


# --- real codec (stdlib): uncompressed BMP via struct ---------------------
# r7 VERDICT #7: the decode paths were the only code that never ran for
# real in this container (no Pillow/soundfile). BMP's uncompressed
# BI_RGB form is fully decodable with the stdlib, so one REAL image
# decode path now runs in EVERY environment; the default codec
# dispatches per payload: BMP -> stdlib, anything else -> Pillow when
# importable, else a clean NotImplementedError at execution time.


def _bmp_parse(payload: bytes) -> tuple[int, int, list[bytes]]:
    """(width, height, top-to-bottom rows of BGR pixel bytes) from an
    uncompressed 24/32-bit BI_RGB BMP. Raises ValueError on anything
    else (the dispatcher falls back to Pillow when importable, and
    re-raises only once no codec is left — r9)."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    (hdr_size,) = struct.unpack_from("<I", payload, 14)
    if hdr_size < 40:
        raise ValueError("unsupported BMP header")
    w, h = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if compression != 0 or bpp not in (24, 32) or w <= 0 or h == 0:
        raise ValueError("only uncompressed 24/32-bit BI_RGB supported")
    top_down = h < 0
    h = abs(h)
    nbytes = bpp // 8
    stride = ((w * nbytes + 3) // 4) * 4  # rows padded to 4 bytes
    if len(payload) < data_off + stride * h:
        raise ValueError("truncated BMP pixel data")
    rows = []
    for r in range(h):
        src = r if top_down else h - 1 - r
        off = data_off + src * stride
        row = payload[off : off + w * nbytes]
        if nbytes == 4:  # drop the alpha/padding byte -> BGR triples
            row = b"".join(row[i : i + 3] for i in range(0, len(row), 4))
        rows.append(row)
    return w, h, rows


def bmp_image_decoder(payload: bytes) -> tuple[int, int, float]:
    """Stdlib decoder for uncompressed BMP with the same
    (width, height, mean_luma) contract as :func:`fake_image_decoder`;
    luma is Rec.601 over every pixel."""
    w, h, rows = _bmp_parse(payload)
    total = 0.0
    for row in rows:
        for i in range(0, len(row), 3):
            b, g, r = row[i], row[i + 1], row[i + 2]
            total += 0.299 * r + 0.587 * g + 0.114 * b
    return w, h, total / (w * h * 255.0)


def bmp_encode(w: int, h: int, rows: list[bytes]) -> bytes:
    """Minimal 24-bit BI_RGB writer (top-to-bottom BGR rows in, standard
    bottom-up file out) — lets the stdlib resizer emit real BMP bytes."""
    import struct

    stride = ((w * 3 + 3) // 4) * 4
    pad = b"\x00" * (stride - w * 3)
    pixel = b"".join(row + pad for row in reversed(rows))
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(pixel), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel), 2835, 2835, 0, 0)
    return header + pixel


def bmp_image_resizer(
    payload: bytes, max_side: int
) -> tuple[int, int, int, int, bytes]:
    """Stdlib nearest-neighbor resizer for uncompressed BMP with the
    same contract as :func:`fake_image_resizer` (longer side exactly
    max_side via the shared integer-HALF_UP :func:`_fit_longer_side`);
    the thumbnail payload is itself a decodable 24-bit BMP."""
    w, h, rows = _bmp_parse(payload)
    tw, th = _fit_longer_side(w, h, max_side)
    out_rows = []
    for ty in range(th):
        src_row = rows[(ty * h) // th]
        out = bytearray()
        for tx in range(tw):
            sx = (tx * w) // tw
            out += src_row[sx * 3 : sx * 3 + 3]
        out_rows.append(bytes(out))
    return w, h, tw, th, bmp_encode(tw, th, out_rows)


# --- real codec (optional): Pillow-backed decode/resize -------------------
# Pillow is not installed in this container; when it IS importable the
# operators below handle the non-BMP formats, with the injectable fakes
# still available for deterministic tests.


def pillow_image_decoder(payload: bytes) -> tuple[int, int, float]:
    """PIL-backed decoder with the same (width, height, mean_luma)
    contract as :func:`fake_image_decoder`."""
    import io

    from PIL import Image

    with Image.open(io.BytesIO(payload)) as im:
        w, h = im.size
        hist = im.convert("L").histogram()
    n = sum(hist)
    mean = sum(i * c for i, c in enumerate(hist)) / n if n else 0.0
    return w, h, mean / 255.0


def pillow_image_resizer(payload: bytes, max_side: int) -> tuple[int, int, int, int, bytes]:
    """PIL-backed resizer with the same contract as
    :func:`fake_image_resizer` (longer side exactly max_side, PNG bytes)."""
    import io

    from PIL import Image

    with Image.open(io.BytesIO(payload)) as im:
        w, h = im.size
        tw, th = _fit_longer_side(w, h, max_side)
        buf = io.BytesIO()
        im.resize((tw, th)).save(buf, format="PNG")
    return w, h, tw, th, buf.getvalue()


def _has_pillow() -> bool:
    try:
        import PIL  # noqa: F401
    except ImportError:
        return False
    return True


def default_image_decoder() -> Decoder:
    """Per-payload dispatching default (r8): BMP magic -> the stdlib
    decoder (runs in EVERY environment); anything else -> Pillow when
    importable, else a clean NotImplementedError at execution time.
    Injected decoders still win (callers pass them explicitly)."""
    pillow = _has_pillow()

    def dispatch(payload: bytes) -> tuple[int, int, float]:
        if payload[:2] == b"BM":
            try:
                return bmp_image_decoder(payload)
            except (ValueError, NotImplementedError):
                # BMP magic but a variant the stdlib parser rejects
                # (palette/RLE/16-bit) — Pillow decodes those when
                # installed; only raise once no codec is left
                if not pillow:
                    raise
        if pillow:
            return pillow_image_decoder(payload)
        raise NotImplementedError(
            "no image codec for this payload format (stdlib handles "
            "uncompressed 24/32-bit BMP only and Pillow is not "
            "installed); inject a decoder"
        )

    return dispatch


def default_image_resizer() -> Resizer:
    """Dispatching default resizer, mirroring
    :func:`default_image_decoder`: BMP -> stdlib nearest-neighbor,
    else Pillow, else NotImplementedError at execution time."""
    pillow = _has_pillow()

    def dispatch(
        payload: bytes, max_side: int
    ) -> tuple[int, int, int, int, bytes]:
        if payload[:2] == b"BM":
            try:
                return bmp_image_resizer(payload, max_side)
            except (ValueError, NotImplementedError):
                if not pillow:
                    raise
        if pillow:
            return pillow_image_resizer(payload, max_side)
        raise NotImplementedError(
            "no image codec for this payload format (stdlib handles "
            "uncompressed 24/32-bit BMP only and Pillow is not "
            "installed); inject a resizer"
        )

    return dispatch


def resize_images(
    media: DataFrame, *, max_side: int = 128, resizer: Resizer | None = None
) -> DataFrame:
    """Thumbnail generation (Arrow-batched mapInPandas), the write-side
    twin of :func:`extract_image_features`: emits derived
    (dims, thumbnail bytes) rows; source payloads are read once per
    partition and never re-shuffled. Resizer resolution mirrors
    :func:`extract_image_features`: injected > Pillow default >
    NotImplementedError at execution time (no PIL in this container);
    tests inject :func:`fake_image_resizer`."""
    if resizer is None:
        resizer = default_image_resizer()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if resizer is None:
                raise NotImplementedError(
                    "no image codec in this environment; inject a resizer "
                    "(e.g. PIL-based) or fake_image_resizer for tests"
                )
            out = {
                "asset_id": [],
                "width": [],
                "height": [],
                "thumb_width": [],
                "thumb_height": [],
                "thumbnail": [],
            }
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                w, h, tw, th, thumb = resizer(bytes(payload), max_side)
                out["asset_id"].append(asset_id)
                out["width"].append(w)
                out["height"].append(h)
                out["thumb_width"].append(tw)
                out["thumb_height"].append(th)
                out["thumbnail"].append(thumb)
            yield pd.DataFrame(out)

    imgs = media.filter(F.col("media_type") == "image").select(
        "asset_id", "payload"
    )
    return imgs.mapInPandas(zipimport_cache.attach(run), schema=RESIZED_SCHEMA)


# --- audio ----------------------------------------------------------------

AUDIO_FEATURES_SCHEMA = (
    "asset_id long, media_type string, sample_rate int, n_channels int, "
    "n_samples long, duration_s double, rms double"
)

# (sample_rate, n_channels, mono float64 samples in [-1, 1])
AudioDecoder = Callable[[bytes], "tuple[int, int, list[float]]"]

_FAKE_RATES = (8000, 16000, 22050, 44100)


def fake_audio_decoder(payload: bytes) -> tuple[int, int, list[float]]:
    """Deterministic stand-in for a real audio codec (no soundfile/ffmpeg
    in this container): rate/channels from the payload digest, a short
    digest-derived sample vector — same contract as a real decoder."""
    d = hashlib.md5(payload).digest()
    rate = _FAKE_RATES[d[0] % len(_FAKE_RATES)]
    channels = 1 + (d[1] % 2)
    n = 64 + (len(payload) % 192)
    stream = (d * (n // len(d) + 1))[:n]
    samples = [(b - 127.5) / 127.5 for b in stream]
    return rate, channels, samples


def soundfile_audio_decoder(payload: bytes) -> tuple[int, int, list[float]]:
    """soundfile-backed decoder with the same contract as
    :func:`fake_audio_decoder` (mono-mixed float samples)."""
    import io

    import soundfile as sf

    data, rate = sf.read(io.BytesIO(payload), dtype="float64", always_2d=True)
    channels = data.shape[1]
    mono = data.mean(axis=1)
    return int(rate), int(channels), [float(x) for x in mono]


def wav_audio_decoder(payload: bytes) -> tuple[int, int, list[float]]:
    """Stdlib (``wave`` + ``struct``) decoder for PCM WAV with the same
    contract as :func:`fake_audio_decoder` — so one REAL audio decode
    path runs in every environment (r8). Handles 8/16/32-bit integer
    PCM (the ``wave`` module's coverage); channels are mean-mixed to
    mono exactly like the soundfile decoder."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(payload), "rb") as wf:
        rate = wf.getframerate()
        channels = wf.getnchannels()
        width = wf.getsampwidth()
        n_frames = wf.getnframes()
        raw = wf.readframes(n_frames)
    if width == 1:  # unsigned 8-bit
        vals = [(b - 128) / 128.0 for b in raw]
    elif width == 2:
        vals = [v / 32768.0 for v in struct.unpack(f"<{len(raw) // 2}h", raw)]
    elif width == 4:
        vals = [
            v / 2147483648.0
            for v in struct.unpack(f"<{len(raw) // 4}i", raw)
        ]
    else:
        raise NotImplementedError(f"unsupported WAV sample width {width}")
    if channels > 1:
        vals = [
            sum(vals[i : i + channels]) / channels
            for i in range(0, len(vals), channels)
        ]
    return rate, channels, vals


def default_audio_decoder() -> AudioDecoder:
    """Per-payload dispatching default (r8): RIFF/WAVE magic -> the
    stdlib ``wave`` decoder; anything else -> soundfile when
    importable, else a clean NotImplementedError at execution time."""
    try:
        import soundfile  # noqa: F401

        have_sf = True
    except ImportError:
        have_sf = False

    def dispatch(payload: bytes) -> tuple[int, int, list[float]]:
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            import wave

            try:
                return wav_audio_decoder(payload)
            except (ValueError, NotImplementedError, wave.Error, EOFError):
                # RIFF/WAVE magic but outside the wave module's coverage
                # (24-bit or float PCM, compressed formats) — soundfile
                # decodes those when installed
                if not have_sf:
                    raise
        if have_sf:
            return soundfile_audio_decoder(payload)
        raise NotImplementedError(
            "no audio codec for this payload format (stdlib handles "
            "8/16/32-bit integer PCM WAV only and soundfile is not "
            "installed); inject a decoder"
        )

    return dispatch


def extract_audio_features(
    media: DataFrame, *, decoder: AudioDecoder | None = None
) -> DataFrame:
    """Decode audio payloads and emit waveform feature rows — the audio
    twin of :func:`extract_image_features` (same Arrow-batched
    mapInPandas shape, same codec-resolution contract: injected >
    soundfile default > NotImplementedError at execution time).

    RMS is computed over the mono-mixed samples in plain Python inside
    the batch loop — the payload bytes already crossed into Python via
    Arrow, so there is no extra serialization boundary to optimize."""
    if decoder is None:
        decoder = default_audio_decoder()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder is None:
                raise NotImplementedError(
                    "no audio codec available: soundfile is not installed "
                    "and no decoder was injected"
                )
            out: dict[str, list] = {
                k: []
                for k in (
                    "asset_id",
                    "media_type",
                    "sample_rate",
                    "n_channels",
                    "n_samples",
                    "duration_s",
                    "rms",
                )
            }
            for asset_id, media_type, payload in zip(
                pdf["asset_id"], pdf["media_type"], pdf["payload"]
            ):
                rate, channels, samples = decoder(bytes(payload))
                n = len(samples)
                rms = (sum(x * x for x in samples) / n) ** 0.5 if n else 0.0
                out["asset_id"].append(asset_id)
                out["media_type"].append(media_type)
                out["sample_rate"].append(rate)
                out["n_channels"].append(channels)
                out["n_samples"].append(n)
                out["duration_s"].append(n / rate if rate else 0.0)
                out["rms"].append(rms)
            yield pd.DataFrame(out)

    auds = media.filter(F.col("media_type") == "audio").select(
        "asset_id", "media_type", "payload"
    )
    return auds.mapInPandas(zipimport_cache.attach(run), schema=AUDIO_FEATURES_SCHEMA)
