"""Multimodal columns (SURVEY §2.9 X5; north star "multimodal columns").

Anchor: the reference's only non-text modality is the unimplemented PDF
source (S6). Design: media are opaque ``binary`` columns + typed metadata
structs; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages.

The codec seam is IMPORT-GATED (like encoder.py's sbert seam): with
``real_decode=True`` the PIL arms (``_extract_features_pil``,
``_resize_images_pil``) go live the moment PIL is importable, and raise
ImportError eagerly when it isn't (it isn't in this container; the gated
tests skip). The default arms produce deterministic fakes so everything
AROUND the codec — schemas, UDF signatures, Arrow batch shapes,
partitioning, per-row error isolation — is
real and tested end to end.

Scale notes: binary payloads ride the same columnar path as everything
else; keep ``spark.sql.execution.arrow.maxRecordsPerBatch`` low for wide
media rows so a batch fits executor memory, and partition media tables by
(modality, size bucket) so decode stages don't straggle on mixed sizes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)


DECODED_SCHEMA = (
    "media_id string, modality string, n_bytes bigint, content_md5 string, "
    "feature array<float>, error string"
)


def _ppm_decode_fn():
    """Factory for the pure-Python binary-P6-PPM parser — the
    no-dependency tier of the codec seam (round-7: the first REAL decode
    value-certified in this container; the PIL seam is unchanged).

    A FACTORY, not a plain module function, for the package-wide
    self-contained-closure rule (see encoder.py): the returned function's
    qualname is not importable, so cloudpickle ships it BY VALUE into
    mapInPandas closures and executors never need this package
    importable. ``decode_ppm`` below is the driver-side public instance.

    The parser returns ``(width, height, pixels)`` with ``pixels`` an
    (h, w, 3) uint8 numpy array. Standard header grammar: ``P6``, then
    width, height, maxval as whitespace-separated ASCII decimals with
    ``#`` comments allowed between tokens, then EXACTLY ONE whitespace
    byte, then ``w*h*3`` raw RGB bytes. Only maxval 255 (1 byte/sample)
    is supported; anything else raises ValueError — per-row error
    isolation is the caller's mapInPandas contract."""

    def _parse(blob: bytes):
        import numpy as _np

        if not blob.startswith(b"P6"):
            raise ValueError("decode_ppm: not a binary P6 PPM")
        pos, vals = 2, []
        while len(vals) < 3:
            while pos < len(blob) and blob[pos : pos + 1].isspace():
                pos += 1
            if blob[pos : pos + 1] == b"#":
                while pos < len(blob) and blob[pos] != 0x0A:
                    pos += 1
                continue
            start = pos
            while pos < len(blob) and not blob[pos : pos + 1].isspace():
                pos += 1
            if start == pos:
                raise ValueError("decode_ppm: truncated header")
            vals.append(int(blob[start:pos]))
        pos += 1  # the single whitespace byte after maxval
        w, h, maxval = vals
        if maxval != 255:
            raise ValueError(f"decode_ppm: unsupported maxval {maxval}")
        if w < 1 or h < 1:
            raise ValueError(f"decode_ppm: bad dimensions {w}x{h}")
        need = w * h * 3
        data = blob[pos : pos + need]
        if len(data) < need:
            raise ValueError("decode_ppm: truncated pixel data")
        return w, h, _np.frombuffer(data, dtype=_np.uint8).reshape(h, w, 3)

    return _parse


decode_ppm = _ppm_decode_fn()


def extract_features(df: DataFrame, dim: int = 16, real_decode: bool = False) -> DataFrame:
    """X5 decode + feature-extract stage (mapInPandas, Arrow-batched).

    ``real_decode=True`` is the codec seam: if PIL is importable the
    IMAGE arm decodes every image format PIL knows (grid-pooled RGB means
    as the feature; audio/video still route to the error column —
    torchaudio/ffmpeg have no gate yet); without PIL the NO-DEPENDENCY
    tier decodes binary P6 PPM via ``decode_ppm`` (round-7: real pixels,
    zero libraries) and routes other formats to the error column — the
    seam auto-upgrades the moment PIL lands in the container. The two
    real tiers share shape/schema but NOT bit-level features (PIL's
    resize resampling vs. the PPM tier's center-sample grid); each is
    value-pinned by its own tests.
    The default path computes a deterministic fake feature (hash-seeded,
    like encoder.py) from the raw bytes, so downstream plumbing (ANN over
    media embeddings, dedup by feature) is testable end to end."""
    if real_decode:
        try:
            import PIL.Image  # noqa: F401
        except ImportError:
            return _extract_features_ppm(df, dim)
        return _extract_features_pil(df, dim)

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np

        def _feature(content: bytes):
            seed = int.from_bytes(
                _hashlib.md5(content).digest()[:4], "little"
            )
            rng = _np.random.RandomState(seed)
            v = rng.standard_normal(dim).astype(_np.float32)
            n = float(_np.linalg.norm(v))
            return (v / n) if n > 0 else v

        for pdf in batches:
            out = []
            for mid, modality, content in zip(
                pdf["media_id"], pdf["modality"], pdf["content"]
            ):
                try:
                    blob = bytes(content) if content is not None else b""
                    # content_md5 certifies the binary payload survived the
                    # Spark -> Arrow -> pandas hop byte-for-byte: the driver
                    # oracle recomputes it engine-side (DuckDB md5(text)).
                    out.append(
                        (
                            mid,
                            modality,
                            len(blob),
                            _hashlib.md5(blob).hexdigest(),
                            _feature(blob),
                            None,
                        )
                    )
                except Exception as ex:
                    out.append((mid, modality, None, None, None, repr(ex)[:200]))
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id",
                    "modality",
                    "n_bytes",
                    "content_md5",
                    "feature",
                    "error",
                ],
            )

    return df.mapInPandas(_extract, DECODED_SCHEMA)


def _extract_features_pil(df: DataFrame, dim: int) -> DataFrame:
    """The real-codec arm of ``extract_features`` (only reachable when
    PIL imports): decode image bytes, pool pixels over a g×g grid
    (g = ceil(sqrt(dim/3))), L2-normalize the flattened RGB cell means
    truncated/padded to ``dim``. Same mapInPandas shape, schema, and
    per-row error isolation as the fake arm."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io as _io
        import math as _math

        import hashlib as _hashlib
        import numpy as _np
        from PIL import Image as _Image

        g = max(1, _math.ceil(_math.sqrt(dim / 3.0)))

        def _feature(content: bytes):
            img = _Image.open(_io.BytesIO(content)).convert("RGB")
            a = _np.asarray(img.resize((g, g)), dtype=_np.float64) / 255.0
            v = a.reshape(-1)[:dim]
            if v.size < dim:
                v = _np.pad(v, (0, dim - v.size))
            n = float(_np.linalg.norm(v))
            return (v / n if n > 0 else v).astype(_np.float32)

        for pdf in batches:
            out = []
            for mid, modality, content in zip(
                pdf["media_id"], pdf["modality"], pdf["content"]
            ):
                try:
                    if modality != "image":
                        out.append((mid, modality, None, None, None,
                                    f"real decode not implemented for: {modality}"))
                        continue
                    blob = bytes(content) if content is not None else b""
                    out.append(
                        (mid, modality, len(blob),
                         _hashlib.md5(blob).hexdigest(), _feature(blob), None)
                    )
                except Exception as ex:
                    out.append((mid, modality, None, None, None, repr(ex)[:200]))
            yield pd.DataFrame(
                out,
                columns=["media_id", "modality", "n_bytes", "content_md5",
                         "feature", "error"],
            )

    return df.mapInPandas(_extract, DECODED_SCHEMA)


def _extract_features_ppm(df: DataFrame, dim: int) -> DataFrame:
    """The NO-DEPENDENCY real-codec arm of ``extract_features`` (used
    when PIL is absent): decode binary P6 PPM bytes with the pure-Python
    parser, center-sample a g×g pixel grid (g = ceil(sqrt(dim/3)) — cell
    (i, j) reads the pixel at (floor((i+.5)·h/g), floor((j+.5)·w/g))),
    L2-normalize the flattened RGB samples truncated/padded to ``dim``.
    Same mapInPandas shape, schema, and per-row error isolation as the
    PIL/fake arms; features are NOT bit-equal to PIL's (different
    resampling) — each tier is value-pinned by its own tests."""
    parse = _ppm_decode_fn()  # by-value shippable (self-contained rule)

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import math as _math

        import numpy as _np

        g = max(1, _math.ceil(_math.sqrt(dim / 3.0)))

        def _feature(content: bytes):
            w, h, px = parse(content)
            rows = [int((i + 0.5) * h / g) for i in range(g)]
            cols = [int((j + 0.5) * w / g) for j in range(g)]
            v = (px[_np.ix_(rows, cols)].astype(_np.float64) / 255.0).reshape(-1)[:dim]
            if v.size < dim:
                v = _np.pad(v, (0, dim - v.size))
            n = float(_np.linalg.norm(v))
            return (v / n if n > 0 else v).astype(_np.float32)

        for pdf in batches:
            out = []
            for mid, modality, content in zip(
                pdf["media_id"], pdf["modality"], pdf["content"]
            ):
                try:
                    if modality != "image":
                        out.append((mid, modality, None, None, None,
                                    f"real decode not implemented for: {modality}"))
                        continue
                    blob = bytes(content) if content is not None else b""
                    out.append(
                        (mid, modality, len(blob),
                         _hashlib.md5(blob).hexdigest(), _feature(blob), None)
                    )
                except Exception as ex:
                    out.append((mid, modality, None, None, None, repr(ex)[:200]))
            yield pd.DataFrame(
                out,
                columns=["media_id", "modality", "n_bytes", "content_md5",
                         "feature", "error"],
            )

    return df.mapInPandas(_extract, DECODED_SCHEMA)


IMAGE_STATS_SCHEMA = (
    "media_id string, n_bytes bigint, width int, height int, sum_r bigint, "
    "sum_g bigint, sum_b bigint, error string"
)


def decode_image_stats(df: DataFrame) -> DataFrame:
    """Integer channel statistics from REAL decoded pixels (pure-Python
    P6 PPM tier — no codec libraries): per image, (width, height) from
    the header and the exact per-channel pixel-value sums. All-integer
    output so the q42 'decode' arm is hash-certifiable against a DuckDB
    oracle that recomputes the sums from the image GENERATOR's formula —
    the round-7 closure of the oldest gated gap (a real decode had never
    been value-certified in this container). Malformed blobs land in the
    error column, never poison the batch."""
    parse = _ppm_decode_fn()  # by-value shippable (self-contained rule)

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    blob = bytes(content) if content is not None else b""
                    w, h, px = parse(blob)
                    sums = px.astype("int64").sum(axis=(0, 1))
                    out.append(
                        (mid, len(blob), w, h,
                         int(sums[0]), int(sums[1]), int(sums[2]), None)
                    )
                except Exception as ex:
                    out.append(
                        (mid, None, None, None, None, None, None, repr(ex)[:200])
                    )
            yield pd.DataFrame(
                out,
                columns=["media_id", "n_bytes", "width", "height", "sum_r",
                         "sum_g", "sum_b", "error"],
            )

    return df.mapInPandas(_stats, IMAGE_STATS_SCHEMA)


def _resize_images_ppm(df: DataFrame, width: int, height: int) -> DataFrame:
    """The NO-DEPENDENCY real-codec arm of ``resize_images`` (used when
    PIL is absent): decode binary P6 PPM with the pure-Python parser,
    nearest-neighbor resample to (width, height) — source pixel for
    output cell (i, j) is (floor((i+.5)·h/H), floor((j+.5)·w/W)), the
    same center-sample rule as the PPM feature tier — and re-encode as a
    P6 PPM (`P6\\n{W} {H}\\n255\\n` + raw RGB). Round-trippable: the
    output decodes with ``decode_ppm``. Same mapInPandas shape, schema,
    and per-row error isolation as the PIL/fake arms."""
    parse = _ppm_decode_fn()  # by-value shippable (self-contained rule)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        def _resize(content: bytes) -> bytes:
            w, h, px = parse(content)
            rows = [int((i + 0.5) * h / height) for i in range(height)]
            cols = [int((j + 0.5) * w / width) for j in range(width)]
            out = px[_np.ix_(rows, cols)]
            return f"P6\n{width} {height}\n255\n".encode() + out.tobytes()

        for pdf in batches:
            out = []
            for mid, modality, content in zip(
                pdf["media_id"], pdf["modality"], pdf["content"]
            ):
                try:
                    if modality != "image":
                        out.append((mid, width, height, None, None, None,
                                    f"real resize not implemented for: {modality}"))
                        continue
                    blob = bytes(content) if content is not None else b""
                    thumb = _resize(blob)
                    out.append(
                        (mid, width, height, len(blob), len(thumb), thumb, None)
                    )
                except Exception as ex:
                    out.append(
                        (mid, width, height, None, None, None, repr(ex)[:200])
                    )
            yield pd.DataFrame(
                out,
                columns=["media_id", "width", "height", "n_bytes_in",
                         "n_bytes_out", "content", "error"],
            )

    return df.mapInPandas(_run, RESIZED_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """X5 video frame-sampling *plan*: one output row per planned frame
    timestamp (sequence over duration) — the explode happens JVM-side;
    only the (stubbed) frame decode would touch the binary payload."""
    return df.filter(F.col("modality") == "video").select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.coalesce(F.col("meta.duration_ms"), F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ts_ms"),
    )


RESIZED_SCHEMA = (
    "media_id string, width int, height int, n_bytes_in bigint, "
    "n_bytes_out bigint, content binary, error string"
)


def resize_images(
    df: DataFrame,
    width: int = 64,
    height: int = 64,
    real_decode: bool = False,
    codec: str = "auto",
) -> DataFrame:
    """X5 resize stage (mapInPandas, Arrow-batched) — the remaining stub
    of the decode / feature-extract / RESIZE / frame-sample quartet.

    ``real_decode=True`` is the codec seam: with PIL importable, decode →
    resize → re-encode as PNG for every format PIL knows; without it
    (this container) the NO-DEPENDENCY tier decodes binary P6 PPM,
    nearest-neighbor resamples, and re-encodes as P6 PPM (round-7 —
    real pixels end to end, zero libraries), routing other formats to
    the error column. The seam auto-upgrades the moment PIL lands.
    The default path emits a deterministic fake: a content-addressed byte
    payload whose size scales like a real thumbnail (proportional to
    width × height), so everything AROUND the codec — binary-in/
    binary-out Arrow transfer, per-row error isolation, output schema,
    downstream writes — runs and is testable end to end. Rows that
    aren't images pass to the error column rather than poisoning the
    batch."""
    if codec not in ("auto", "pil", "ppm"):
        raise ValueError(f"resize_images: unknown codec {codec!r}")
    if real_decode:
        # codec='ppm' pins the pure-Python tier REGARDLESS of PIL (the
        # q42 'resize' arm's determinism: its oracle replays the PPM
        # tier's center-sample arithmetic, which must not silently switch
        # to PIL's resampling the day the library lands); 'pil' demands
        # PIL (eager ImportError); 'auto' prefers PIL, falls back to PPM.
        if codec == "ppm":
            return _resize_images_ppm(df, width, height)
        try:
            import PIL.Image  # noqa: F401
        except ImportError:
            if codec == "pil":
                raise
            return _resize_images_ppm(df, width, height)
        return _resize_images_pil(df, width, height)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        def _resize(content: bytes) -> bytes:
            # deterministic fake thumbnail: content-addressed bytes, size
            # ~ 3 bytes/pixel like an uncompressed RGB thumbnail
            n_out = max(1, width * height * 3)
            return _hashlib.shake_128(
                content + f"#{width}x{height}".encode()
            ).digest(n_out)

        for pdf in batches:
            out = []
            for mid, modality, content in zip(
                pdf["media_id"], pdf["modality"], pdf["content"]
            ):
                try:
                    if modality != "image":
                        out.append((mid, width, height, None, None, None,
                                    f"not an image: {modality}"))
                        continue
                    blob = bytes(content) if content is not None else b""
                    resized = _resize(blob)
                    out.append(
                        (mid, width, height, len(blob), len(resized), resized, None)
                    )
                except Exception as ex:
                    out.append((mid, width, height, None, None, None, repr(ex)[:200]))
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "width", "height", "n_bytes_in",
                    "n_bytes_out", "content", "error",
                ],
            )

    return df.mapInPandas(_run, RESIZED_SCHEMA)


def _resize_images_pil(df: DataFrame, width: int, height: int) -> DataFrame:
    """The real-codec arm of ``resize_images`` (only reachable when PIL
    imports): decode -> resize -> re-encode PNG. Same schema and per-row
    error isolation as the fake arm."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io as _io

        from PIL import Image as _Image

        def _resize(content: bytes) -> bytes:
            img = _Image.open(_io.BytesIO(content)).convert("RGB")
            buf = _io.BytesIO()
            img.resize((width, height)).save(buf, format="PNG")
            return buf.getvalue()

        for pdf in batches:
            out = []
            for mid, modality, content in zip(
                pdf["media_id"], pdf["modality"], pdf["content"]
            ):
                try:
                    if modality != "image":
                        out.append((mid, width, height, None, None, None,
                                    f"not an image: {modality}"))
                        continue
                    blob = bytes(content) if content is not None else b""
                    resized = _resize(blob)
                    out.append(
                        (mid, width, height, len(blob), len(resized), resized, None)
                    )
                except Exception as ex:
                    out.append((mid, width, height, None, None, None, repr(ex)[:200]))
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "width", "height", "n_bytes_in",
                    "n_bytes_out", "content", "error",
                ],
            )

    return df.mapInPandas(_run, RESIZED_SCHEMA)


# --- WAV/PCM real-decode tier (round-8: the last fake-only modality with
# a pure-Python format worth parsing — video stays fake-tier, documented)


def _wav_decode_fn():
    """Factory for the pure-Python RIFF/WAVE PCM-16 parser — the audio
    member of the no-dependency codec family (``decode_ppm``'s pattern:
    real bytes, zero libraries, value-certifiable in this container).

    A FACTORY for the self-contained-closure rule (see ``_ppm_decode_fn``):
    cloudpickle ships the returned parser BY VALUE into mapInPandas
    closures. ``decode_wav`` below is the public driver-side instance.

    Subset (the honest contract): canonical RIFF container — ``RIFF``
    size ``WAVE``, then chunks walked in order; ``fmt `` must declare
    format 1 (integer PCM) with 16 bits/sample; the ``data`` chunk holds
    little-endian int16 frames. Compressed/float/extensible formats and
    other bit depths raise BY NAME (per-row error isolation is the
    caller's mapInPandas contract — never wrong-empty audio). Returns
    ``(sample_rate, n_channels, frames)`` with ``frames`` an
    (n_frames, n_channels) int16 numpy array."""

    def _parse(blob: bytes):
        import struct as _struct

        import numpy as _np

        if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
            raise ValueError("decode_wav: not a RIFF/WAVE file")
        pos, fmt, data = 12, None, None
        while pos + 8 <= len(blob):
            cid = blob[pos : pos + 4]
            (size,) = _struct.unpack("<I", blob[pos + 4 : pos + 8])
            body = blob[pos + 8 : pos + 8 + size]
            if len(body) < size:
                raise ValueError(f"decode_wav: truncated {cid!r} chunk")
            if cid == b"fmt ":
                fmt = body
            elif cid == b"data":
                data = body
            pos += 8 + size + (size & 1)  # chunks are word-aligned
        if fmt is None or data is None:
            raise ValueError("decode_wav: missing fmt/data chunk")
        if len(fmt) < 16:
            # a named error, not struct.error (round-8 self-review)
            raise ValueError(f"decode_wav: fmt chunk too short ({len(fmt)})")
        audio_fmt, ch, rate, _br, _ba, bits = _struct.unpack(
            "<HHIIHH", fmt[:16]
        )
        if audio_fmt != 1:
            raise ValueError(
                f"decode_wav: non-PCM format {audio_fmt} — outside the "
                "PCM-16 subset"
            )
        if bits != 16:
            raise ValueError(
                f"decode_wav: {bits}-bit samples — only 16-bit PCM supported"
            )
        if ch < 1:
            raise ValueError(f"decode_wav: bad channel count {ch}")
        n = len(data) // (2 * ch)
        frames = _np.frombuffer(
            data[: n * 2 * ch], dtype="<i2"
        ).reshape(n, ch)
        return int(rate), int(ch), frames

    return _parse


decode_wav = _wav_decode_fn()


def make_wav_pcm16(samples, sample_rate: int = 8000) -> bytes:
    """Deterministic canonical-WAV generator (the ``make_minimal_pdf``
    discipline: the test/oracle fixture is built from the spec alone).
    ``samples``: (n_frames, n_channels) int array. Round-trips through
    ``decode_wav`` AND any standards-compliant reader (stdlib ``wave``
    is the gated twin in tests)."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    data = arr.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * ch * 2, ch * 2, 16
    )
    out = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return out


AUDIO_STATS_SCHEMA = (
    "media_id string, n_bytes bigint, sample_rate int, n_channels int, "
    "n_frames bigint, sum_c0 bigint, sum_c1 bigint, error string"
)


def decode_audio_stats(df: DataFrame) -> DataFrame:
    """Integer sample statistics from REAL decoded PCM (pure-Python
    RIFF/WAVE tier — no codec libraries): per clip, (sample_rate,
    n_channels, n_frames) from the header and exact int64 sums of the
    first two channels (``sum_c1`` NULL for mono). All-integer output so
    the q42 'audio' arm is hash-certifiable against a DuckDB oracle that
    recomputes the sums from the clip GENERATOR's formula — the same
    decoder-bug-cannot-cancel-against-the-generator construction as the
    image 'decode' arm. Malformed/out-of-subset blobs land in the error
    column, never poison the batch."""
    parse = _wav_decode_fn()  # by-value shippable (self-contained rule)

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    blob = bytes(content) if content is not None else b""
                    rate, ch, frames = parse(blob)
                    sums = frames.astype("int64").sum(axis=0)
                    out.append(
                        (
                            mid,
                            len(blob),
                            rate,
                            ch,
                            frames.shape[0],
                            int(sums[0]) if ch >= 1 else None,
                            int(sums[1]) if ch >= 2 else None,
                            None,
                        )
                    )
                except Exception as ex:
                    out.append(
                        (mid, None, None, None, None, None, None,
                         repr(ex)[:200])
                    )
            yield pd.DataFrame(
                out,
                columns=["media_id", "n_bytes", "sample_rate", "n_channels",
                         "n_frames", "sum_c0", "sum_c1", "error"],
            )

    return df.mapInPandas(_stats, AUDIO_STATS_SCHEMA)


# --- Y4M real-decode tier (round-8: closes the LAST fake-only modality —
# YUV4MPEG2 is the pure-Python-parseable raw-video format: an ASCII
# header, then 'FRAME' markers with raw planar YCbCr bytes)


def _y4m_decode_fn():
    """Factory for the pure-Python YUV4MPEG2 (Y4M) parser — the VIDEO
    member of the no-dependency codec family (``decode_ppm`` /
    ``decode_wav``'s pattern: real bytes, zero libraries,
    value-certifiable in this container).

    Subset (the honest contract): the canonical stream header
    ``YUV4MPEG2 W<w> H<h> ...`` with C420-family chroma (the default and
    overwhelmingly common subsampling; other colorspaces raise BY NAME),
    even dimensions, then ``FRAME`` markers each followed by
    ``w*h*3/2`` raw planar bytes (luma plane, then the two quarter-size
    chroma planes). Returns ``(w, h, frames)`` with ``frames`` a list of
    flat uint8 arrays of length w*h*3/2. Compressed containers
    (MP4/MKV/AVI codecs) are OUTSIDE any pure-Python subset and belong
    to the gated ffmpeg-tier future seam."""

    def _parse(blob: bytes):
        import numpy as _np

        if not blob.startswith(b"YUV4MPEG2"):
            raise ValueError("decode_y4m: not a YUV4MPEG2 stream")
        nl = blob.find(b"\n")
        if nl == -1:
            raise ValueError("decode_y4m: truncated stream header")
        w = h = None
        colorspace = b"C420"
        for p in blob[9:nl].split():
            if p[:1] == b"W":
                w = int(p[1:])
            elif p[:1] == b"H":
                h = int(p[1:])
            elif p[:1] == b"C":
                colorspace = p
        if not w or not h:
            raise ValueError("decode_y4m: header missing W/H")
        if not colorspace.startswith(b"C420"):
            raise ValueError(
                f"decode_y4m: colorspace {colorspace.decode('latin-1')} — "
                "outside the C420 subset"
            )
        if w % 2 or h % 2:
            raise ValueError(
                f"decode_y4m: odd dimensions {w}x{h} under 4:2:0 chroma"
            )
        fsize = w * h * 3 // 2
        pos, frames = nl + 1, []
        while pos < len(blob):
            if blob[pos : pos + 5] != b"FRAME":
                raise ValueError("decode_y4m: expected FRAME marker")
            fnl = blob.find(b"\n", pos)
            if fnl == -1:
                raise ValueError("decode_y4m: truncated FRAME header")
            data = blob[fnl + 1 : fnl + 1 + fsize]
            if len(data) < fsize:
                raise ValueError("decode_y4m: truncated frame data")
            frames.append(_np.frombuffer(data, dtype=_np.uint8))
            pos = fnl + 1 + fsize
        return w, h, frames

    return _parse


decode_y4m = _y4m_decode_fn()


def make_y4m(frames, width: int, height: int) -> bytes:
    """Deterministic canonical-Y4M generator (the ``make_minimal_pdf`` /
    ``make_wav_pcm16`` discipline): ``frames`` is a list of flat uint8
    arrays of length w*h*3/2 (C420 planar). Round-trips through
    ``decode_y4m``."""
    import numpy as np

    if width % 2 or height % 2:
        raise ValueError("make_y4m: C420 needs even dimensions")
    fsize = width * height * 3 // 2
    out = bytearray(f"YUV4MPEG2 W{width} H{height} F25:1 C420\n".encode())
    for fr in frames:
        arr = np.asarray(fr, dtype=np.uint8).ravel()
        if arr.size != fsize:
            raise ValueError(
                f"make_y4m: frame size {arr.size} != w*h*3/2 = {fsize}"
            )
        out += b"FRAME\n" + arr.tobytes()
    return bytes(out)


VIDEO_STATS_SCHEMA = (
    "media_id string, n_bytes bigint, width int, height int, "
    "n_frames bigint, sum_luma bigint, sum_chroma bigint, error string"
)


def decode_video_stats(df: DataFrame) -> DataFrame:
    """Integer plane statistics from REAL decoded video frames
    (pure-Python Y4M tier — no codec libraries): per clip, (width,
    height, n_frames) from the stream header and exact int64 sums of
    the luma plane and the chroma planes across all frames. All-integer
    output so the q42 'video' arm is hash-certifiable against a DuckDB
    oracle that recomputes the sums from the clip GENERATOR's formula
    (the decoder-bug-cannot-cancel construction). Malformed /
    out-of-subset blobs land in the error column, never poison the
    batch."""
    parse = _y4m_decode_fn()  # by-value shippable (self-contained rule)

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    blob = bytes(content) if content is not None else b""
                    w, h, frames = parse(blob)
                    luma = sum(
                        int(f[: w * h].astype("int64").sum()) for f in frames
                    )
                    chroma = sum(
                        int(f[w * h :].astype("int64").sum()) for f in frames
                    )
                    out.append(
                        (mid, len(blob), w, h, len(frames), luma, chroma,
                         None)
                    )
                except Exception as ex:
                    out.append(
                        (mid, None, None, None, None, None, None,
                         repr(ex)[:200])
                    )
            yield pd.DataFrame(
                out,
                columns=["media_id", "n_bytes", "width", "height",
                         "n_frames", "sum_luma", "sum_chroma", "error"],
            )

    return df.mapInPandas(_stats, VIDEO_STATS_SCHEMA)


FRAME_SAMPLE_SCHEMA = (
    "media_id string, frame_index int, width int, height int, "
    "sum_luma bigint, content binary, error string"
)


def sample_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """X5 — REAL video frame sampling over the pure-Python Y4M tier
    (round-8: ``frame_sample_plan`` planned timestamps but stubbed the
    decode; this decodes): every ``every_n``-th frame of each clip comes
    back as its own SINGLE-FRAME Y4M (round-trippable through
    ``decode_y4m`` — the resize_images re-encode discipline) with its
    exact int64 luma sum. Index-strided by contract (rate-agnostic);
    callers with a known frame rate map ms→stride upstream. Per-row
    poison isolation; one Arrow-batched mapInPandas stage, binary in /
    binary out."""
    if every_n < 1:
        raise ValueError(f"sample_frames: every_n must be >= 1, got {every_n}")
    parse = _y4m_decode_fn()  # by-value shippable (self-contained rule)
    stride = int(every_n)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    blob = bytes(content) if content is not None else b""
                    w, h, frames = parse(blob)
                    header = f"YUV4MPEG2 W{w} H{h} F25:1 C420\n".encode()
                    for fi in range(0, len(frames), stride):
                        fr = frames[fi]
                        out.append(
                            (
                                mid,
                                fi,
                                w,
                                h,
                                int(fr[: w * h].astype("int64").sum()),
                                header + b"FRAME\n" + fr.tobytes(),
                                None,
                            )
                        )
                except Exception as ex:
                    out.append(
                        (mid, None, None, None, None, None, repr(ex)[:200])
                    )
            yield pd.DataFrame(
                out,
                columns=["media_id", "frame_index", "width", "height",
                         "sum_luma", "content", "error"],
            )

    return df.mapInPandas(_run, FRAME_SAMPLE_SCHEMA)
