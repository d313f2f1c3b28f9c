"""Multimodal column plumbing (SURVEY.md §2.13).

Image/audio/video payloads are opaque ``binary`` columns traveling next to
typed metadata structs; decode / feature-extract / resize / frame-sample run
as Arrow-batched ``mapInPandas`` stages. All three modalities have a REAL
decode path via pure-stdlib codecs — PNG (functions/png.py), RIFF/WAV PCM16
(functions/wav.py), RIFF/AVI BI_RGB (functions/avi.py) — dispatched by
magic-byte sniff per payload; each is hash-checked through the production
stage by q_image_decode / q_audio_decode / q_video_decode. The third-party
decode libraries (Pillow/librosa/PyAV) are NOT in this container, so
COMPRESSED payloads are the honestly-declared boundary.

Every one-row-per-payload stage is a ``real(b)`` and a ``fallback(b)`` run
by one kernel, :func:`_per_payload`, which states the family contract once:

- a NULL payload gives an all-NULL row (``strict=True``: ``ValueError``);
- ``real`` raising ``ValueError`` / ``NotImplementedError`` / ``OSError``
  (malformed bytes, an unsupported codec subset, no codec sniffed) gives
  the stage's ``fallback`` row — a deterministic stub, or NULLs — so one
  bad row never kills the task; ``strict=True`` re-raises instead;
- ``ImportError`` (a library the payload needs is missing on the worker,
  e.g. a JPEG without Pillow) propagates in both modes: every such payload
  in the corpus would stub to garbage.

``frame_sample`` emits 0..n rows per payload and keeps its own loop under
the same contract (a bad or NULL payload drops its frames unless strict).

Batch shape matters at scale: ``mapInPandas`` receives an iterator of
pandas DataFrames sized by ``spark.sql.execution.arrow.maxRecordsPerBatch``;
the stages stream batch-by-batch and never materialize a partition, so the
same code holds when a partition is 2 GB of JPEG bytes.
"""

from __future__ import annotations

import hashlib
import io
import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import avi as _avi
from ..functions import png as _png
from ..functions import wav as _wav

MEDIA_SCHEMA = (
    "media_id BIGINT, payload BINARY, "
    "meta STRUCT<format: STRING, width: INT, height: INT, n_frames: INT>"
)

DECODED_SCHEMA = "media_id BIGINT, width INT, height INT, mean_luma DOUBLE"
FEATURE_SCHEMA = "media_id BIGINT, features ARRAY<FLOAT>"


def synthesize_media(df: DataFrame, id_col: str, seed_col: str) -> DataFrame:
    """Deterministic fake media: an 8-byte header (width, height) + payload
    derived from sha2 of the seed column. Stands in for real image bytes so
    the pipeline is testable end to end without codecs."""
    w = (F.abs(F.hash(F.col(seed_col))) % 1024 + 16).cast("int")
    h = (F.abs(F.hash(F.col(seed_col), F.lit(1))) % 1024 + 16).cast("int")
    header_hex = F.concat(F.lpad(F.hex(w), 8, "0"), F.lpad(F.hex(h), 8, "0"))
    payload = F.to_binary(F.concat(header_hex, F.sha2(F.col(seed_col).cast("string"), 256)), F.lit("hex"))
    return df.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("fake/v1").alias("format"),
            w.alias("width"),
            h.alias("height"),
            F.lit(1).alias("n_frames"),
        ).alias("meta"),
    )


_NULLABLE_INT = {"INT": "Int32", "BIGINT": "Int64"}


def _per_payload(
    df: DataFrame,
    schema: str,
    real: Callable[[bytes], tuple],
    fallback: Callable[[bytes], tuple] | None,
    strict: bool,
) -> DataFrame:
    """The one loop of the one-row-per-payload stages: ``(media_id,
    *real(bytes))`` per ``(media_id, payload)`` row, under the module's
    isolate-or-raise contract (module docstring). ``fallback=None`` is the
    all-NULL row. ``schema`` is a flat DDL string whose first column is
    ``media_id``; its INT/BIGINT columns ship as pandas nullable
    ``Int32``/``Int64`` built from Python ints (no float64 detour), so NULL
    rows reach Arrow as INT + null and large BIGINTs stay exact."""
    fields = [f.split() for f in schema.split(", ")]
    names = [name for name, _ in fields]
    ints = {name: _NULLABLE_INT[t] for name, t in fields if t in _NULLABLE_INT}
    null = (None,) * (len(names) - 1)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    if strict:
                        raise ValueError(f"NULL payload for media_id={mid}")
                    rows.append((mid, *null))
                    continue
                b = bytes(payload)
                try:
                    rows.append((mid, *real(b)))
                except (ValueError, NotImplementedError, OSError):
                    if strict:
                        raise
                    rows.append((mid, *(null if fallback is None else fallback(b))))
            yield pd.DataFrame(rows, columns=names, dtype=object).astype(ints)

    return df.select("media_id", "payload").mapInPandas(run, schema)


def pil_available() -> bool:
    """True when Pillow is importable — probed, never assumed."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_JPEG_MAGIC = b"\xff\xd8\xff"


def _is_real_image(payload: bytes) -> bool:
    return payload[:8] == _PNG_MAGIC or payload[:3] == _JPEG_MAGIC


def _decode_real(payload: bytes) -> tuple[int, int, float]:
    """The real codec path: PIL decode → grayscale mean luma in [0, 1].
    Executes on the worker; import happens per-process (cached thereafter).
    Without Pillow, greyscale PNGs fall back to the pure-stdlib decoder
    (functions/png.py) — same numbers, no native codec — so the real-image
    branch is exercisable in codec-free containers; a JPEG without Pillow
    raises ImportError (a missing library, not a bad payload). A payload
    with no image magic raises NotImplementedError."""
    if not _is_real_image(payload):
        raise NotImplementedError(
            "no image codec sniffed: a real image decode requires "
            "PIL/libjpeg — wire the codec here"
        )
    try:
        from PIL import Image
    except ImportError:
        if payload[:8] == _PNG_MAGIC:
            return _png.decode_gray_stats(payload)
        raise ImportError(
            "payload is a JPEG but Pillow is not installed on this worker — "
            "install PIL/libjpeg to decode it"
        ) from None

    img = Image.open(io.BytesIO(payload)).convert("L")
    arr = np.asarray(img, dtype="float64")
    return img.width, img.height, float(arr.mean() / 255.0)


def _image_stub(b: bytes) -> tuple[int, int, float]:
    digest = hashlib.sha256(b).digest()
    if _is_real_image(b) or len(b) < 8:
        # malformed real-magic or too-short payload: digest-derived dims
        # (the 8-byte header convention belongs to fake/v1 payloads only)
        w, h = 16 + digest[1] % 64, 16 + digest[2] % 64
    else:
        w, h = struct.unpack(">II", b[:8])
    return w, h, digest[0] / 255.0


def decode_media(df: DataFrame, strict: bool = False) -> DataFrame:
    """Decode stage: binary → (width, height, mean_luma).

    PNG/JPEG magic bytes route to :func:`_decode_real` (Pillow when the
    worker has it, the stdlib PNG decoder otherwise); every other payload
    (the synthetic ``fake/v1`` ones) takes the deterministic digest stub
    so downstream stages and tests have stable values without codecs.
    """
    return _per_payload(df, DECODED_SCHEMA, _decode_real, _image_stub, strict)


AUDIO_SCHEMA = (
    "media_id BIGINT, n_channels INT, sample_rate INT, n_samples BIGINT, "
    "duration_s DOUBLE, rms DOUBLE"
)


def _audio_stub(b: bytes) -> tuple[int, int, int, float, float]:
    digest = hashlib.sha256(b).digest()
    n = 1 + digest[1]
    return 1, 8000, n, n / 8000, digest[0] / 255.0


def decode_audio(df: DataFrame, strict: bool = False) -> DataFrame:
    """Audio decode stage: binary → (channels, rate, samples, duration, rms)
    — the audio twin of ``decode_media``.

    RIFF/WAVE magic (not bare RIFF — AVI shares it) routes to the REAL
    stdlib PCM decode (functions/wav.py — no third-party library needed,
    so unlike images this path is fully real in codec-free containers);
    compressed/float WAVs are the declared librosa/soundfile boundary.
    Everything else takes the deterministic digest stub.
    """

    def real(b: bytes) -> tuple:
        if not _wav.is_wav(b):
            raise NotImplementedError(
                "no WAV sniffed: a real audio decode requires a PCM WAV "
                "(stdlib) or librosa/soundfile for compressed codecs"
            )
        return _wav.decode_stats(b)

    return _per_payload(df, AUDIO_SCHEMA, real, _audio_stub, strict)


VIDEO_SCHEMA = (
    "media_id BIGINT, width INT, height INT, n_frames INT, "
    "duration_s DOUBLE, mean_luma DOUBLE"
)


def _video_stub(b: bytes) -> tuple[int, int, int, float, float]:
    digest = hashlib.sha256(b).digest()
    nf = 1 + digest[2] % 8
    return 16 + digest[0] % 16, 16 + digest[1] % 16, nf, nf * 0.04, digest[3] / 255.0


def decode_video(df: DataFrame, strict: bool = False) -> DataFrame:
    """Video decode stage: binary → (width, height, frames, duration, mean
    luma) — the video member of the decode_media / decode_audio family.

    RIFF/AVI magic routes to the REAL stdlib BI_RGB demux+decode
    (functions/avi.py — container walking and DIB row unpacking are pure
    struct arithmetic, so uncompressed video is fully real in codec-free
    containers); compressed streams are the declared PyAV/ffmpeg boundary.
    Everything else takes the deterministic digest stub.
    """

    def real(b: bytes) -> tuple:
        if not _avi.is_avi(b):
            raise NotImplementedError(
                "no AVI sniffed: a real video decode requires a BI_RGB AVI "
                "(stdlib) or PyAV/ffmpeg for compressed codecs"
            )
        return _avi.decode_stats(b)

    return _per_payload(df, VIDEO_SCHEMA, real, _video_stub, strict)


def extract_features(df: DataFrame, dim: int = 8) -> DataFrame:
    """Feature-extract stage: binary → fixed-dim float vector (the
    embedding-model stand-in). Deterministic bytes→floats so the similarity
    operators downstream are testable on multimodal rows."""

    def real(b: bytes) -> tuple:
        return ([x / 255.0 for x in hashlib.sha256(b).digest()[:dim]],)

    return _per_payload(df, FEATURE_SCHEMA, real, None, strict=False)


FRAME_SCHEMA = "media_id BIGINT, frame_idx INT, frame_payload BINARY"


def frame_sample(df: DataFrame, every_n: int = 2, strict: bool = False) -> DataFrame:
    """Frame-sample stage: one row per sampled frame index (video → frames).

    The frame *indices* come from typed metadata (``meta.n_frames``) via a
    pure Catalyst explode — no Python touches rows that only need the index
    math. Per-frame byte extraction sniffs the payload: RIFF/AVI payloads
    take the REAL stdlib BI_RGB demux (functions/avi.py — the sampled row
    carries the actual top-down RGB frame bytes); anything else is the
    deterministic stub slice (``strict=True`` raises there — the declared
    PyAV/ffmpeg boundary for compressed containers). A NULL or malformed
    payload drops its frames unless strict. Output cardinality =
    Σ ceil(n_frames/every_n), each row carrying its own frame bytes — the
    shape a frame-level embedding stage consumes.
    """
    sampled = df.select(
        "media_id",
        "payload",
        F.explode(
            F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )

    def cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # per-batch cache: k sampled frames of one video demux the
            # container once; dropped with the batch so memory stays bounded
            demux_cache: dict[int, list[bytes]] = {}
            rows = []
            for mid, payload, idx in zip(pdf["media_id"], pdf["payload"], pdf["frame_idx"]):
                if payload is None:
                    if strict:
                        raise ValueError(f"NULL payload for media_id={mid}")
                    continue
                b = bytes(payload)
                idx = int(idx)
                if _avi.is_avi(b):
                    mid_key = int(mid)
                    if mid_key not in demux_cache:
                        try:
                            demux_cache[mid_key] = _avi.decode_rgb24(b)[3]
                        except (ValueError, NotImplementedError):
                            if strict:
                                raise
                            demux_cache[mid_key] = []
                    frames = demux_cache[mid_key]
                    if idx >= len(frames):
                        if strict:
                            # metadata contradicts the container — fail
                            # loudly rather than fabricate empty frame bytes
                            raise ValueError(
                                f"meta.n_frames implies frame {idx} of media "
                                f"{mid_key} but the AVI holds {len(frames)}"
                            )
                        # non-strict: one row with inflated metadata must not
                        # kill the task — drop the out-of-range index
                        continue
                    rows.append((mid, idx, frames[idx]))
                    continue
                if strict:
                    raise NotImplementedError(
                        "real frame decode of non-AVI payloads requires "
                        "PyAV/ffmpeg — not available in this container"
                    )
                # deterministic fake frame bytes: rotate the payload by index
                k = (idx * 7) % max(len(b), 1)
                rows.append((mid, idx, b[k:] + b[:k]))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_payload"])

    return sampled.mapInPandas(cut, FRAME_SCHEMA)


RESIZED_SCHEMA = "media_id BIGINT, payload BINARY, width INT, height INT"


def resize_media(df: DataFrame, width: int, height: int, strict: bool = False) -> DataFrame:
    """REAL nearest-neighbor resize for decodable payloads (the stage
    resize_stub only sketched): PNGs are decoded with the pure-stdlib codec
    (functions/png.py), resampled on the classic floor mapping
    ``src_x = x*w // W, src_y = y*h // H`` (vectorized numpy index-gather —
    no per-pixel Python), and re-encoded as PNG, so the output payload is
    again a decodable image the rest of the multimodal chain accepts. Grey,
    RGB and RGBA PNGs all resample (the channel axis rides along the same
    index gather); other formats are the declared Pillow boundary. A
    payload that is not resized passes through untouched with NULL
    width/height — reporting the target dims would misdescribe the bytes.
    The floor mapping is closed-form, which is what lets q_image_resize
    hash-check the resampled pixels end to end.

    Scale shape: batch-by-batch, constant memory per partition,
    embarrassingly parallel — no shuffle.
    """

    def real(b: bytes) -> tuple:
        if b[:8] != _PNG_MAGIC:
            raise NotImplementedError(
                "real resize of non-PNG payloads requires Pillow — "
                "not available in this container"
            )
        w, h, ch, samples = _png.decode(b)
        arr = np.frombuffer(samples, dtype=np.uint8).reshape(h, w, ch)
        rows_idx = (np.arange(height) * h) // height
        cols_idx = (np.arange(width) * w) // width
        out = arr[rows_idx][:, cols_idx]
        return _png.encode_samples(width, height, ch, out.tobytes()), width, height

    return _per_payload(df, RESIZED_SCHEMA, real, lambda b: (b, None, None), strict)


def resize_stub(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize stage contract: same schema in/out, new meta dims. The pixel
    resample is the stubbed codec call; the metadata/flow is real (the
    REAL pixel path for decodable payloads is :func:`resize_media`)."""
    return df.withColumn(
        "meta",
        F.struct(
            F.col("meta.format").alias("format"),
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.col("meta.n_frames").alias("n_frames"),
        ),
    )


def _contour(e) -> int:
    """Energy-contour bits: bit i is 1 iff e[i+1] > e[i]. Capped at the
    first 63 transitions — bit 63 of a signed BIGINT would overflow at
    Arrow conversion (the reason phash_media splits into hi/lo halves);
    long inputs keep a valid 63-bit prefix signature."""
    return sum(1 << i for i in range(min(len(e) - 1, 63)) if e[i + 1] > e[i])


PHASH_SCHEMA = "media_id BIGINT, phash_hi BIGINT, phash_lo BIGINT, n_set_bits INT"


def phash_media(df: DataFrame, strict: bool = False) -> DataFrame:
    """Perceptual difference-hash (dHash) over decodable greyscale PNGs —
    the published image near-dup primitive (resize to 9x8, compare each
    pixel to its right neighbor, pack the 64 booleans into a hash; images
    whose dHashes are within a few Hamming bits are near-duplicates).

    This stage expects payloads ALREADY resized to 9x8 (chain resize_media
    (9, 8) before it — same decode->gather->compare arithmetic a fused
    stage would run, kept separate so each stage stays hash-checkable).
    Bit k (k = row*8 + col, row-major over the 8x8 comparison grid) is 1
    iff pixel(row, col) > pixel(row, col+1); the hash is emitted as two
    BIGINT halves (hi = bits 32..63, lo = bits 0..31) because bit 63 of a
    single signed 64-bit value would overflow identically-but-fragilely on
    both engines. Other payloads give a NULL row.

    Scale shape: map-only, no shuffle; the hash is 12 bytes a
    row — the downstream Hamming-band join (group by hi, compare lo) is
    the image twin of the MinHash band-bucket join.
    """

    def real(b: bytes) -> tuple:
        if b[:8] != _PNG_MAGIC:
            raise NotImplementedError(
                "dHash needs a decodable PNG — wire Pillow for other formats"
            )
        w, h, ch, samples = _png.decode(b)
        if ch != 1 or (w, h) != (9, 8):
            raise ValueError(
                f"dHash stage expects 9x8 greyscale input "
                f"(got {w}x{h}x{ch}) — chain resize_media(9, 8)"
            )
        arr = np.frombuffer(samples, dtype=np.uint8).reshape(8, 9)
        bits = (arr[:, :-1] > arr[:, 1:]).astype(np.uint64)
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64).reshape(8, 8)
        val = int((bits * weights).sum())
        return val >> 32, val & 0xFFFFFFFF, int(bits.sum())

    return _per_payload(df, PHASH_SCHEMA, real, None, strict)


AUDIO_FP_SCHEMA = "media_id BIGINT, fp BIGINT, e_total BIGINT"


def audio_fingerprint(df: DataFrame, n_windows: int = 8, strict: bool = False) -> DataFrame:
    """Energy-contour audio fingerprint — the simplified core of published
    audio fingerprinting (Shazam/Chromaprint hash energy *contours*, not
    absolute levels, because contours survive volume changes): the clip is
    split into ``n_windows`` fixed windows (sample i belongs to window
    ``n_windows*i // n``), per-window energy E_w = Σv² is exact integer
    arithmetic, and the fingerprint is the ``_contour`` of the E_w — a
    rising/falling energy shape in ``n_windows - 1`` bits. Two clips with
    equal fingerprints are near-dup candidates (group-by-fp, the band-join
    shape shared with MinHash and dHash).

    PCM-WAV payloads decode through the stdlib codec; other payloads give
    a NULL row. Map-only, zero shuffle; the fingerprint is one BIGINT per
    clip downstream.
    """

    def real(b: bytes) -> tuple:
        if not _wav.is_wav(b):
            raise NotImplementedError("audio fingerprint needs a PCM WAV payload")
        _ch, _rate, _nf, samples = _wav.decode_pcm16(b)
        v = np.asarray(samples, dtype=np.int64)
        n = len(v)
        if n < n_windows:
            raise ValueError(f"clip has {n} samples — fewer than {n_windows} windows")
        w_idx = (n_windows * np.arange(n)) // n
        # integer energies: bincount with weights goes float —
        # accumulate exactly via add.at on an int64 buffer
        e = np.zeros(n_windows, dtype=np.int64)
        np.add.at(e, w_idx, v * v)
        return _contour(e), int(e.sum())

    return _per_payload(df, AUDIO_FP_SCHEMA, real, None, strict)


VIDEO_FP_SCHEMA = "media_id BIGINT, fp BIGINT, e_total BIGINT"


def video_fingerprint(df: DataFrame, strict: bool = False) -> DataFrame:
    """Temporal energy-contour video fingerprint — the video member of the
    fingerprint family (dHash for images, energy contour for audio): per
    FRAME, the exact-integer sum of every channel byte; the fingerprint is
    the ``_contour`` of those sums (bit f is 1 iff frame f+1 is brighter
    than frame f). Scene cuts and fades survive re-encoding brightness
    shifts the same way audio contours survive volume changes — this is
    the shape real video near-dup fingerprints (e.g. TMK-style temporal
    signatures) build on.

    BI_RGB AVI payloads decode through the stdlib demuxer; other payloads
    give a NULL row. Map-only, zero shuffle; one BIGINT per clip whose
    group-by is the candidate join.
    """

    def real(b: bytes) -> tuple:
        if not _avi.is_avi(b):
            raise NotImplementedError("video fingerprint needs a BI_RGB AVI payload")
        _w, _h, _us, frames = _avi.decode_rgb24(b)
        if len(frames) < 2:
            raise ValueError("video fingerprint needs >= 2 frames for a contour")
        e = [sum(f) for f in frames]  # exact ints
        return _contour(e), sum(e)

    return _per_payload(df, VIDEO_FP_SCHEMA, real, None, strict)
