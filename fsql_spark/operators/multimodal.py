"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed by Arrow-batched pandas UDFs over
``mapInPandas``.

Decode is REAL for PNG (palette, 16-bit, Adam7 interlace), baseline
JPEG, GIF, WAV, and Y4M video via the engine's pure stdlib+numpy codecs
(``codecs.py``: zlib inflate + scanline unfilter; ``jpeg.py``:
Huffman+DCT; ``gif.py``: LZW; ``video.py``: YUV4MPEG2; RIFF PCM parse)
— no external library needed. ``decode_image``/``decode_audio``
dispatch on magic bytes and raise NotImplementedError only for formats
that genuinely need an external codec (WebP, compressed video
containers), falling back to PIL for those when it happens to be
installed. A clearly-marked deterministic FAKE decoder remains for
format-agnostic plumbing tests.

Scale notes: binary payloads ride the scan as plain parquet BYTE_ARRAY;
mapInPandas streams Arrow batches so peak memory is one batch per task —
size ``spark.sql.execution.arrow.maxRecordsPerBatch`` against payload size
(e.g. 1k rows x 1 MB images = 1 GB/batch: lower it for real media).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import pinned

#: canonical multimodal record: opaque payload + typed metadata
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),  # -1 when unknown/not applicable
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("digest", StringType()),
        StructField("head_byte", IntegerType()),
    ]
)


def decode_image(content: bytes):
    """Real image decode. PNG (stdlib zlib + numpy unfilter, ``codecs.py``),
    JPEG (sequential AND progressive, pure-numpy Huffman+DCT,
    ``jpeg.py``), GIF (LZW, ``gif.py``), BMP (``bmp.py``), TIFF
    (``tiff.py``) and lossless WebP (VP8L, ``webp.py``) decode natively
    and return a numpy array — (H, W) gray or (H, W, C). Other formats
    (lossy WebP, ...) fall back to Pillow when installed, else raise
    NotImplementedError naming the format."""
    from .codecs import PNG_SIGNATURE, decode_png

    content = bytes(content)
    if content[: len(PNG_SIGNATURE)] == PNG_SIGNATURE:
        return decode_png(content)
    if content[:2] == b"\xff\xd8":  # SOI
        from .jpeg import decode_jpeg

        return decode_jpeg(content)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif

        return decode_gif(content)["frames"][0]
    if content[:2] == b"BM":
        from .bmp import decode_bmp

        return decode_bmp(content)
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiff import decode_tiff

        return decode_tiff(content)
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP" and content[12:16] in (
        b"VP8L",
        b"VP8X",
    ):
        from .webp import decode_webp

        try:
            return decode_webp(content)
        except NotImplementedError:
            if content[12:16] == b"VP8L":
                raise
            # VP8X wrapping lossy/animated data: fall through to Pillow
    try:  # pragma: no cover - no external codec in container
        from PIL import Image  # type: ignore
        import io

        import numpy as np

        # normalize to the documented ndarray contract — downstream kernels
        # (resize, stats) index .shape and must not care which codec decoded
        return np.asarray(Image.open(io.BytesIO(content)), dtype=np.uint8)
    except ImportError as exc:
        head = content[:4].hex() if content else "<empty>"
        raise NotImplementedError(
            f"image with head bytes {head} needs Pillow, which is not "
            "installed in this environment; PNG and baseline JPEG decode "
            "natively"
        ) from exc


def decode_audio(content: bytes):
    """Real audio decode -> (sample_rate, samples ndarray). RIFF/WAVE
    (integer PCM 8/16/24/32, IEEE float, G.711 mu-law/A-law), Sun
    ``.au``, AIFF/AIFF-C (big-endian PCM + 'sowt'), and FLAC (full
    subframe set, ``flac.py``) parse natively; other formats (MP3, OGG,
    AAC, ...) raise NotImplementedError."""
    from .codecs import decode_aiff, decode_au, decode_wav

    content = bytes(content)
    if content[:4] == b"RIFF":
        return decode_wav(content)
    if content[:4] == b".snd":
        return decode_au(content)
    if content[:4] == b"FORM":
        return decode_aiff(content)
    if content[:4] == b"fLaC":
        from .flac import decode_flac

        return decode_flac(content)
    raise NotImplementedError(
        "lossy-compressed audio needs an external codec; RIFF/WAVE, Sun "
        ".au, AIFF, and FLAC decode natively"
    )


def _spread_for_kernel(df: DataFrame) -> DataFrame:
    """Ensure a CPU-heavy synth/codec kernel gets cluster-wide parallelism
    WITHOUT shuffling an already-parallel source: delegates to
    :func:`~fsql_spark.operators.dedup._spread`, which repartitions only
    when the scan arrives in fewer partitions than cores. On a single-file
    local table that one line is the documented 33.7s -> 1.8s lesson
    (PERF.md); on a realistic many-file layout — or a 100 TB corpus, where
    an unconditional repartition would shuffle the whole corpus for
    nothing — it is demonstrably a no-op (asserted in
    tests/test_round8_fixes.py)."""
    from .dedup import _spread

    # streaming relations: no .rdd probe possible (and no need — source
    # parallelism is the trigger/shuffle's job, micro-batches are small);
    # the guard lets the stateless pack_* kernels stay stream-reusable
    if df.isStreaming:
        return df
    return _spread(df)


#: Per-yield output payload budget for fan-out synth kernels. Each yielded
#: pandas frame becomes (at least) one Arrow record batch held in direct
#: memory on the JVM side — with 32 concurrent tasks, a 32 MB cap keeps the
#: whole pipeline ~1 GB of direct memory no matter how wide media rows get.
_KERNEL_OUT_BYTES = 32 << 20


def _bounded_slices(pdf: pd.DataFrame, est_bytes, budget: int = _KERNEL_OUT_BYTES):
    """Split an input batch into row-ranges whose ESTIMATED output payload
    stays under ``budget`` bytes (always at least one row per slice).

    Why Python-side and not only the ``arrow.maxBytesPerBatch`` session
    conf: that conf bounds JVM->Python batches, but what a kernel *yields*
    is serialized as one Arrow batch regardless of the session it runs
    under — and catalog entries must stay memory-bounded on the driver
    harness's own SparkSession, which does not carry our defaults. A
    70x fan-out kernel (``pack_y4m``: ~70 output bytes per input text
    byte) turns a 10k-row text batch into ~500 MB without this."""
    import numpy as np

    est = np.asarray(est_bytes, dtype=np.int64)
    n = len(pdf)
    start = 0
    while start < n:
        acc = 0
        stop = start
        while stop < n and (stop == start or acc + est[stop] <= budget):
            acc += est[stop]
            stop += 1
        yield pdf.iloc[start:stop]
        start = stop


def _reraise_with_media_id(mid, exc: Exception):
    """Annotate a decode failure with the failing media id — for EVERY
    exception type. ValueError/NotImplementedError keep their type (callers
    and tests match on them); foreign codec exceptions (Pillow's
    UnidentifiedImageError / OSError for corrupt non-PNG payloads) are
    wrapped in CodecError so the id is never lost."""
    from .codecs import CodecError

    if isinstance(exc, (ValueError, NotImplementedError)):
        raise type(exc)(f"media {mid}: {exc}") from exc
    raise CodecError(f"media {mid}: {exc}") from exc


def fake_decode_image(content: bytes) -> dict:
    """Deterministic FAKE decoder (clearly marked): derives pseudo-dimensions
    from the payload bytes so plumbing tests have stable expectations."""
    n = len(content)
    return {
        "width": (content[0] if n else 0) + 1,
        "height": (content[-1] if n else 0) + 1,
        "n_bytes": n,
    }


def extract_features(media: DataFrame, content_col: str = "content", id_col: str = "media_id") -> DataFrame:
    """Byte-level feature extraction via mapInPandas (Arrow batches).

    The kernel is pure-Python-per-batch (hashlib/numpy) — the pattern real
    decode/resize/frame-sample kernels plug into."""
    import hashlib

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[content_col]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "digest": payloads.map(lambda b: hashlib.md5(bytes(b)).hexdigest()),
                    "head_byte": payloads.map(lambda b: int(b[0]) if len(b) else -1).astype("int32"),
                }
            )

    return media.select(id_col, content_col).mapInPandas(kernel, FEATURE_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int,
                  content_col: str = "content", id_col: str = "media_id") -> DataFrame:
    """REAL distributed resize: decode ANY natively-decodable payload
    (PNG/JPEG/GIF/BMP/TIFF — :func:`decode_image` dispatches on magic),
    nearest-neighbor sample to (height, width), re-encode as PNG. Returns
    (media_id, content, width, height). Undecodable payloads raise from
    :func:`decode_image` with the media id attached. Nearest-neighbor is
    the deterministic, oracle-able kernel — swap the sampler for
    area/bilinear in a quality-sensitive pipeline."""
    import numpy as np

    from .codecs import encode_png

    if width < 1 or height < 1:
        raise ValueError(f"target size must be >= 1x1, got {width}x{height}")

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("content", BinaryType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                try:
                    arr = decode_image(raw)
                except Exception as exc:
                    _reraise_with_media_id(mid, exc)
                h, w = arr.shape[0], arr.shape[1]
                rows = np.minimum((np.arange(height) * h) // height, h - 1)
                cols = np.minimum((np.arange(width) * w) // width, w - 1)
                out.append(encode_png(arr[np.ix_(rows, cols)], filters="none"))
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "content": out,
                    "width": pd.Series([width] * len(out), dtype="int32"),
                    "height": pd.Series([height] * len(out), dtype="int32"),
                }
            )

    return media.select(id_col, content_col).mapInPandas(kernel, schema)


Y4M_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("luma_sum", LongType()),
        StructField("frame_fp", StringType()),
    ]
)


def sample_video_frames(
    media: DataFrame, every: int = 3, content_col: str = "content", id_col: str = "media_id"
) -> DataFrame:
    """REAL distributed frame sampling over a genuine video format: Y4M
    (YUV4MPEG2 — the public uncompressed interchange container) decodes
    natively (``video.py``) and every ``every``-th frame emits its exact
    luma sum + md5 fingerprint. Compressed containers (MP4/WebM/...)
    raise NotImplementedError naming the payload, with the media id
    attached. The FVID twin is :func:`sample_container_frames`."""
    import hashlib

    import numpy as np

    from .video import Y4M_MAGIC, decode_y4m

    if every < 1:
        raise ValueError(f"every must be >= 1, got {every}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # ~120 B per output row (8+4+8 ints + 32-hex string + Arrow
        # overhead): flush at the kernel byte budget so a high-fan-out
        # batch (hundreds of sampled frames per media row) never buffers
        # one giant output frame. Flush lands on media-row boundaries.
        max_rows = max(1, _KERNEL_OUT_BYTES // 120)

        def flush(ids, idxs, sums, fps):
            return pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "luma_sum": pd.Series(sums, dtype="int64"),
                    "frame_fp": pd.Series(fps, dtype="object"),
                }
            )

        for pdf in batches:
            ids, idxs, sums, fps = [], [], [], []
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                b = bytes(raw)
                try:
                    if not b.startswith(Y4M_MAGIC):
                        head = b[:4].hex() if b else "<empty>"
                        raise NotImplementedError(
                            f"video with head bytes {head} needs an external "
                            "codec; YUV4MPEG2 decodes natively"
                        )
                    frames = decode_y4m(b)["y"]
                except Exception as exc:
                    _reraise_with_media_id(mid, exc)
                # vectorize per MEDIA ROW, not per frame: the per-frame
                # loop (astype + sum + tobytes per 64-byte frame) was 3
                # numpy calls of ~us overhead each x 100M frames at sf10 —
                # the third-decade residual PERF.md chased. One strided
                # copy + one axis-sum leave only the md5 loop, which
                # hashes memoryview slices of a single contiguous buffer.
                sampled = np.ascontiguousarray(frames[::every])
                k = sampled.shape[0]
                if k:
                    flat = sampled.reshape(k, -1)
                    ids.extend([mid] * k)
                    idxs.extend(range(0, frames.shape[0], every))
                    sums.extend(flat.sum(axis=1, dtype=np.int64).tolist())
                    mv = memoryview(flat.tobytes())
                    fs = flat.shape[1]
                    fps.extend(
                        hashlib.md5(mv[j * fs : (j + 1) * fs]).hexdigest()
                        for j in range(k)
                    )
                if len(ids) >= max_rows:
                    yield flush(ids, idxs, sums, fps)
                    ids, idxs, sums, fps = [], [], [], []
            if ids:
                yield flush(ids, idxs, sums, fps)

    return media.select(id_col, content_col).mapInPandas(kernel, Y4M_FRAME_SCHEMA)


def pack_y4m(docs: DataFrame, frame_w: int = 8, frame_h: int = 8) -> DataFrame:
    """Pack (doc_id, text) rows into REAL Y4M videos: each text byte
    becomes one CONSTANT mono luma frame (value = the byte), so the frame
    pipeline downstream is exactly oracle-able (frame i's luma_sum is
    w*h*byte, its fingerprint the md5 of w*h copies of the character).
    A STATELESS Arrow kernel like :func:`pack_video`/:func:`pack_wav`."""
    import numpy as np

    from .video import encode_y4m

    if frame_w < 1 or frame_h < 1:
        raise ValueError(f"frame size must be >= 1x1, got {frame_w}x{frame_h}")
    # conditional cluster-wide spread INSIDE the producer (no-op on
    # already-parallel or streaming input): every consumer of this
    # kernel gets the single-file-scan protection without opting in
    docs = _spread_for_kernel(docs.select("doc_id", "text"))

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one frame (frame_h*frame_w luma bytes + "FRAME\n") PER TEXT BYTE:
        # a ~70x fan-out, so yield in output-byte-bounded slices
        per_byte = frame_h * frame_w + 6
        for pdf in batches:
            # UTF-8 BYTE length, not character count: the kernel emits one
            # frame per encoded byte, so multibyte-heavy text would
            # undershoot a char-based estimate by up to 4x
            est = (
                pdf["text"].fillna("").str.encode("utf-8").str.len() * per_byte
                + 128
            )
            for sub in _bounded_slices(pdf, est):
                contents, durs = [], []
                for text in sub["text"]:
                    b = np.frombuffer((text or "").encode("utf-8"), dtype=np.uint8)
                    frames = np.broadcast_to(
                        b[:, None, None], (len(b), frame_h, frame_w)
                    ).copy()
                    contents.append(encode_y4m(frames, fps=(25, 1)))
                    durs.append(len(b) * 1000 // 25)
                # .to_numpy(): a non-first slice's Series keeps the parent
                # batch's index (e.g. 555..1109); mixing it with the fresh-
                # RangeIndex Series below would union both indexes and
                # misalign every column (the r8 sf10 sweep crashed here)
                yield pd.DataFrame(
                    {
                        "media_id": sub["doc_id"].to_numpy(),
                        "kind": "video",
                        "content": contents,
                        "mime": "video/x-yuv4mpeg",
                        "width": pd.Series([frame_w] * len(contents), dtype="int32"),
                        "height": pd.Series([frame_h] * len(contents), dtype="int32"),
                        "duration_ms": pd.Series(durs, dtype="int32"),
                    }
                )

    return docs.mapInPandas(synth, MEDIA_SCHEMA)


#: the engine's self-describing synthetic container: magic + big-endian
#: u32 frame_size + u32 n_frames header, then n_frames fixed-width frames.
#: A REAL binary format the engine both writes and parses distributedly —
#: no external codec, so the frame pipeline is exactly testable end-to-end
#: (frames derive from text bytes, so a SQL oracle can recompute every
#: frame fingerprint without touching the binary).
VIDEO_MAGIC = b"FVID"


def pack_video(docs: DataFrame, frame_size: int = 32) -> DataFrame:
    """Pack (doc_id, text) rows into FVID containers — a STATELESS Arrow
    kernel, so the same code runs on a batch relation or a readStream
    (crawl-time container packing). The ingest-side twin of the parse
    kernel."""
    import math
    import struct

    # fail on the driver, not as an opaque executor-side ZeroDivision/
    # struct.error (review find; mirrors every/window guards)
    if frame_size < 1:
        raise ValueError(f"frame_size must be >= 1, got {frame_size}")
    # conditional cluster-wide spread INSIDE the producer (no-op on
    # already-parallel or streaming input): every consumer of this
    # kernel gets the single-file-scan protection without opting in
    docs = _spread_for_kernel(docs.select("doc_id", "text"))

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents = []
            for text in pdf["text"]:
                b = (text or "").encode("utf-8")
                n = max(1, math.ceil(len(b) / frame_size))
                frames = b"".join(
                    b[i * frame_size : (i + 1) * frame_size].ljust(frame_size, b".")
                    for i in range(n)
                )
                contents.append(VIDEO_MAGIC + struct.pack(">II", frame_size, n) + frames)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "video",
                    "content": contents,
                    "mime": "application/x-fvid",
                    "width": frame_size,
                    "height": 1,
                    "duration_ms": [40 * ((len(c) - 12) // frame_size) for c in contents],
                }
            )

    return docs.mapInPandas(synth, MEDIA_SCHEMA)


def documents_as_video(spark: SparkSession, sf: str, frame_size: int = 32) -> DataFrame:
    """Synthesize a video-shaped media table from the sf-dir documents
    (see :func:`pack_video` for the container)."""
    return pack_video(spark.read.parquet(f"{sf}/documents.parquet"), frame_size)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_fp", StringType()),
    ]
)


def sample_container_frames(
    media: DataFrame, every: int = 3, content_col: str = "content", id_col: str = "media_id"
) -> DataFrame:
    """REAL distributed frame sampling over the FVID container: each task
    parses the header, validates the magic, and emits an md5 fingerprint of
    every ``every``-th frame — the strided-frame-sample shape a video
    pipeline runs, minus only the external codec (the container IS the
    codec here, so this path is fully testable). Corrupt payloads raise
    with the media id rather than fingerprinting garbage."""
    import hashlib
    import struct

    if every < 1:
        raise ValueError(f"every must be >= 1, got {every}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # flush at the kernel byte budget (see sample_video_frames): the
        # per-frame fan-out must never buffer one giant output frame
        max_rows = max(1, _KERNEL_OUT_BYTES // 110)

        def flush(ids, idxs, fps):
            return pd.DataFrame(
                {"media_id": pd.Series(ids, dtype="int64"),
                 "frame_idx": pd.Series(idxs, dtype="int32"),
                 "frame_fp": pd.Series(fps, dtype="object")}
            )

        for pdf in batches:
            ids, idxs, fps = [], [], []
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                b = bytes(raw)
                if b[:4] != VIDEO_MAGIC or len(b) < 12:
                    raise ValueError(f"media {mid}: not an FVID container")
                fs_, n = struct.unpack(">II", b[4:12])
                # fs_ == 0 would satisfy the length check for ANY declared n
                # and fabricate up to 2^32 empty-frame rows (review find)
                if fs_ == 0 or len(b) != 12 + fs_ * n:
                    raise ValueError(f"media {mid}: corrupt FVID header")
                # memoryview slices hash without copying each frame out of
                # the payload (same buffer trick as sample_video_frames)
                mv = memoryview(b)
                for i in range(0, n, every):
                    ids.append(mid)
                    idxs.append(i)
                    fps.append(
                        hashlib.md5(mv[12 + i * fs_ : 12 + (i + 1) * fs_]).hexdigest()
                    )
                if len(ids) >= max_rows:
                    yield flush(ids, idxs, fps)
                    ids, idxs, fps = [], [], []
            if ids:
                yield flush(ids, idxs, fps)

    return media.select(id_col, content_col).mapInPandas(kernel, FRAME_SCHEMA)


#: audio sibling of FVID: magic + big-endian u32 sample_rate + u32
#: n_samples header, then n_samples u8 "PCM" samples (text bytes) — the
#: windowed-energy pipeline below is exact integer arithmetic, so the
#: oracle recomputes every window from the characters the samples derive
#: from.
AUDIO_MAGIC = b"FAUD"


def documents_as_audio(spark: SparkSession, sf: str, sample_rate: int = 8000) -> DataFrame:
    """Synthesize an audio-shaped media table: each document's UTF-8 bytes
    as u8 samples in an FAUD container."""
    import struct

    if sample_rate < 1:
        raise ValueError(f"sample_rate must be >= 1, got {sample_rate}")
    docs = _spread_for_kernel(
        spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents = []
            for text in pdf["text"]:
                b = (text or "").encode("utf-8")
                contents.append(AUDIO_MAGIC + struct.pack(">II", sample_rate, len(b)) + b)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "audio",
                    "content": contents,
                    "mime": "application/x-faud",
                    "width": -1,
                    "height": -1,
                    "duration_ms": [
                        (len(c) - 12) * 1000 // sample_rate for c in contents
                    ],
                }
            )

    return docs.mapInPandas(synth, MEDIA_SCHEMA)


ENERGY_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("window_idx", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("energy", LongType()),
    ]
)


def audio_window_energy(
    media: DataFrame, window: int = 64, content_col: str = "content", id_col: str = "media_id"
) -> DataFrame:
    """Windowed signal energy over FAUD samples: per window of ``window``
    samples, ``sum((s - 128)^2)`` — the VAD/silence-detection shape of an
    audio-preprocessing pipeline, as a fully vectorized numpy kernel
    (frombuffer + squared + reduceat; no per-sample Python). Exact integer
    arithmetic end-to-end, so the result is bit-identical to the SQL
    recomputation from the source characters. Zero-sample payloads emit no
    rows; corrupt containers are refused by media id."""
    import struct

    import numpy as np

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, counts, energies = [], [], [], []
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                b = bytes(raw)
                if b[:4] != AUDIO_MAGIC or len(b) < 12:
                    raise ValueError(f"media {mid}: not an FAUD container")
                _rate, n = struct.unpack(">II", b[4:12])
                if len(b) != 12 + n:
                    raise ValueError(f"media {mid}: truncated container")
                if n == 0:
                    continue
                samples = np.frombuffer(b, dtype=np.uint8, offset=12).astype(np.int64) - 128
                starts = np.arange(0, n, window)
                e = np.add.reduceat(samples * samples, starts)
                sizes = np.diff(np.append(starts, n))
                ids.extend([mid] * len(starts))
                idxs.extend(range(len(starts)))
                counts.extend(sizes.tolist())
                energies.extend(e.tolist())
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "window_idx": pd.Series(idxs, dtype="int32"),
                    "n_samples": pd.Series(counts, dtype="int64"),
                    "energy": pd.Series(energies, dtype="int64"),
                }
            )

    return media.select(id_col, content_col).mapInPandas(kernel, ENERGY_SCHEMA)


def documents_as_media(spark: SparkSession, sf: str) -> DataFrame:
    """Synthesize a media table from documents (text bytes as payload) so the
    binary plumbing is exercised on real distributed data."""
    # the projection itself is pure JVM, but this table exists to FEED
    # Python kernels (extract_features etc.) — spread here so a
    # single-file scan doesn't serialize the downstream kernel onto one
    # task (no-op on parallel input)
    docs = _spread_for_kernel(spark.read.parquet(f"{sf}/documents.parquet"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(-1).alias("width"),
        F.lit(-1).alias("height"),
        F.lit(-1).alias("duration_ms"),
    )


def q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Catalog entry: full binary pipeline — synthesize payloads, extract
    features via mapInPandas. Oracle recomputes the same byte facts in SQL."""
    return extract_features(documents_as_media(spark, sf))


Q_MULTIMODAL_SQL = """
SELECT doc_id                           AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text)                        AS digest,
       CAST(ascii(substr(text, 1, 1)) AS INTEGER) AS head_byte
FROM documents
"""

def q_multimodal_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end video-frame pipeline: documents packed into FVID
    containers (binary synth kernel), then strided frame sampling (binary
    parse kernel) — every 3rd frame fingerprinted. The oracle recomputes
    each fingerprint from the text windows the frames were derived from,
    so the WHOLE binary round trip is value-checked."""
    media = documents_as_video(spark, sf)
    return sample_container_frames(media, every=3)


# frames are '.'-padded 32-byte text windows (ASCII corpus: chars == bytes),
# so the oracle rebuilds each sampled frame with substr+rpad and md5s it —
# no binary parsing needed to verify the binary pipeline
Q_FRAME_SAMPLE_SQL = """
WITH sized AS (
  SELECT doc_id, text,
         GREATEST(CAST(CEIL(LENGTH(text) / 32.0) AS INTEGER), 1) AS n
  FROM documents
),
frames AS (
  SELECT doc_id, s.i AS frame_idx,
         rpad(substr(text, s.i * 32 + 1, 32), 32, '.') AS frame
  FROM sized, unnest(generate_series(0, n - 1, 3)) AS s(i)
)
SELECT doc_id AS media_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       md5(frame) AS frame_fp
FROM frames
"""


def q_multimodal_audio_energy(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end audio pipeline: documents packed as FAUD u8 samples,
    windowed energy (64-sample windows) via the vectorized kernel. Exact
    integer arithmetic, so the oracle recomputes every window from the
    source characters and the hash compare is bit-level."""
    media = documents_as_audio(spark, sf)
    return audio_window_energy(media, window=64)


# samples are text bytes (ASCII corpus: ascii(char) == byte); energy is
# exact integer arithmetic, recomputed per character position
Q_AUDIO_ENERGY_SQL = """
WITH chars AS (
  SELECT doc_id,
         CAST((s.p - 1) // 64 AS INTEGER)          AS window_idx,
         ascii(substr(text, CAST(s.p AS INTEGER), 1)) - 128 AS v
  FROM documents, unnest(generate_series(1, LENGTH(text))) AS s(p)
  WHERE LENGTH(text) > 0
)
SELECT doc_id AS media_id,
       window_idx,
       CAST(COUNT(*) AS BIGINT)   AS n_samples,
       CAST(SUM(v * v) AS BIGINT) AS energy
FROM chars
GROUP BY doc_id, window_idx
"""


# --------------------------------------------------------------------------
# REAL codec paths: PNG images / WAV audio (pure stdlib+numpy, codecs.py)
# --------------------------------------------------------------------------

def documents_as_png(spark: SparkSession, sf: str, width: int = 32) -> DataFrame:
    """Synthesize a REAL PNG media table: each document's text bytes become
    the pixels of a ``width``-wide grayscale image, '.'-padded to fill the
    last row (same padding convention as FVID) and encoded with CYCLING row
    filters (None/Sub/Up/Average/Paeth) — so decoding genuinely exercises
    every unfilter path, not an echo. The pixels derive from text, so a SQL
    oracle can verify the decoded output without parsing any binary."""
    import math

    import numpy as np

    from .codecs import encode_png

    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    # PNG filter+deflate is a per-byte kernel: spread the rows so a
    # single-file scan doesn't serialize it onto one task (same lesson as
    # the JPEG synth — at cluster scale many input files parallelize this
    # for free; locally the repartition buys 32x).
    docs = _spread_for_kernel(
        spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, heights = [], []
            for text in pdf["text"]:
                b = (text or "").encode("utf-8")
                n = max(1, math.ceil(len(b) / width))
                padded = b.ljust(n * width, b".")
                arr = np.frombuffer(padded, dtype=np.uint8).reshape(n, width)
                contents.append(encode_png(arr, filters="cycle"))
                heights.append(n)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "image",
                    "content": contents,
                    "mime": "image/png",
                    "width": pd.Series([width] * len(contents), dtype="int32"),
                    "height": pd.Series(heights, dtype="int32"),
                    "duration_ms": pd.Series([-1] * len(contents), dtype="int32"),
                }
            )

    return docs.mapInPandas(synth, MEDIA_SCHEMA)


PIXEL_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("px_sum", LongType()),
        StructField("px_md5", StringType()),
    ]
)


def decode_image_stats(media: DataFrame, content_col: str = "content",
                       id_col: str = "media_id") -> DataFrame:
    """Distributed REAL image decode: each task runs the native PNG codec
    (CRC-verified inflate + unfilter) and emits per-image pixel facts —
    dimensions, exact integer pixel sum, md5 of the raw pixel bytes. The
    md5 makes the decode value-checkable end-to-end: any unfilter bug
    flips it."""
    import hashlib

    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, np_, sums, digests = [], [], [], [], [], []
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                try:
                    arr = decode_image(raw)
                except Exception as exc:
                    _reraise_with_media_id(mid, exc)
                # preserve dtype: 16-bit PNGs decode to uint16 — forcing
                # uint8 here would silently truncate their pixel stats
                px = np.asarray(arr)
                ids.append(mid)
                hs.append(px.shape[0])
                ws.append(px.shape[1])
                np_.append(int(px.shape[0]) * int(px.shape[1]) * (px.shape[2] if px.ndim == 3 else 1))
                sums.append(int(px.astype(np.int64).sum()))
                digests.append(hashlib.md5(px.tobytes()).hexdigest())
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "n_pixels": pd.Series(np_, dtype="int64"),
                    "px_sum": pd.Series(sums, dtype="int64"),
                    "px_md5": pd.Series(digests, dtype="object"),
                }
            )

    return media.select(id_col, content_col).mapInPandas(kernel, PIXEL_STATS_SCHEMA)


def pack_wav(docs: DataFrame, sample_rate: int = 8000) -> DataFrame:
    """Pack (doc_id, text) rows into REAL 16-bit PCM WAV containers:
    sample[i] = (text_byte[i] - 128) * 256 — spreads u8 across int16's
    range ([-32768, 32512]) with exact-integer arithmetic and NO overflow
    for any byte value (a *257 scale would wrap byte 0: -32896 -> +32640
    via int16 truncation, silently diverging from the SQL oracle), so the
    oracle recomputes every decoded sample from the source characters.
    Oracle equivalence assumes an ASCII corpus (the kernel is byte-based
    over UTF-8; the oracle's ascii()/LENGTH are character-based — they
    agree exactly when every character is one byte). A STATELESS Arrow
    kernel (like :func:`pack_video`): the same code runs on a batch
    relation or a readStream."""
    import numpy as np

    from .codecs import encode_wav

    if sample_rate < 1:
        raise ValueError(f"sample_rate must be >= 1, got {sample_rate}")
    # conditional cluster-wide spread INSIDE the producer (no-op on
    # already-parallel or streaming input): every consumer of this
    # kernel gets the single-file-scan protection without opting in
    docs = _spread_for_kernel(docs.select("doc_id", "text"))

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, durs = [], []
            for text in pdf["text"]:
                b = np.frombuffer((text or "").encode("utf-8"), dtype=np.uint8)
                samples = ((b.astype(np.int32) - 128) * 256).astype(np.int16)
                contents.append(encode_wav(samples, sample_rate))
                durs.append(len(b) * 1000 // sample_rate)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "audio",
                    "content": contents,
                    "mime": "audio/wav",
                    "width": pd.Series([-1] * len(contents), dtype="int32"),
                    "height": pd.Series([-1] * len(contents), dtype="int32"),
                    "duration_ms": pd.Series(durs, dtype="int32"),
                }
            )

    return docs.mapInPandas(synth, MEDIA_SCHEMA)


def pack_flac(docs: DataFrame, sample_rate: int = 8000) -> DataFrame:
    """Pack (doc_id, text) rows into REAL compressed FLAC streams carrying
    the SAME samples as :func:`pack_wav` ((byte-128)*256) — so the same
    SQL oracle verifies the whole fixed-predictor + Rice pipeline. A
    STATELESS Arrow kernel; the byte*256 sample steps are only weakly
    correlated so the size win over WAV is small here — real audio
    compresses hard (see test_compression_is_real) — but every decode
    exercises genuine Rice residual reconstruction."""
    import numpy as np

    from .flac import encode_flac

    if sample_rate < 1:
        raise ValueError(f"sample_rate must be >= 1, got {sample_rate}")
    # conditional cluster-wide spread INSIDE the producer (no-op on
    # already-parallel or streaming input): every consumer of this
    # kernel gets the single-file-scan protection without opting in
    docs = _spread_for_kernel(docs.select("doc_id", "text"))

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, durs = [], []
            for text in pdf["text"]:
                b = np.frombuffer((text or "").encode("utf-8"), dtype=np.uint8)
                samples = ((b.astype(np.int32) - 128) * 256).astype(np.int16)
                contents.append(encode_flac(samples, sample_rate))
                durs.append(len(b) * 1000 // sample_rate)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "audio",
                    "content": contents,
                    "mime": "audio/flac",
                    "width": pd.Series([-1] * len(contents), dtype="int32"),
                    "height": pd.Series([-1] * len(contents), dtype="int32"),
                    "duration_ms": pd.Series(durs, dtype="int32"),
                }
            )

    return docs.mapInPandas(synth, MEDIA_SCHEMA)


def documents_as_wav(spark: SparkSession, sf: str, sample_rate: int = 8000) -> DataFrame:
    """Synthesize the WAV media table from the sf-dir documents (see
    :func:`pack_wav` for the container)."""
    return pack_wav(spark.read.parquet(f"{sf}/documents.parquet"), sample_rate)


#: deterministic 64-entry palette for the synthetic palette-PNG table:
#: pal[i] = ((i*7)%256, (i*13)%256, (i*29)%256) — coprime multipliers give
#: distinct RGB triples a SQL oracle can recompute per character
PALETTE_SIZE = 64


def doc_palette():
    """THE deterministic 64-entry palette shared by the palette-PNG and GIF
    synthetic tables AND (as a formula) their SQL oracle — one definition,
    so a tweak cannot silently diverge the three."""
    import numpy as np

    i = np.arange(PALETTE_SIZE)
    return np.stack([(i * 7) % 256, (i * 13) % 256, (i * 29) % 256], axis=1).astype(np.uint8)


def _documents_as_indexed_image(
    spark: SparkSession, sf: str, width: int, encode, mime: str
) -> DataFrame:
    """Shared synth for palette-indexed image tables: '.'-pad the text,
    map bytes to palette indices (byte % 64), hand (indices, palette) to
    ``encode``. The PNG and GIF tables differ ONLY in the container."""
    import math

    import numpy as np

    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    # GIF's LZW encode (and palette-PNG's filter+deflate) are per-byte
    # Python loops: spread the rows so a single-file scan doesn't serialize
    # the whole kernel onto one task (the JPEG synth's documented lesson).
    docs = _spread_for_kernel(
        spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    )
    palette = doc_palette()

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, heights = [], []
            for text in pdf["text"]:
                b = (text or "").encode("utf-8")
                n = max(1, math.ceil(len(b) / width))
                padded = b.ljust(n * width, b".")
                idx = (np.frombuffer(padded, dtype=np.uint8) % PALETTE_SIZE).astype(
                    np.uint8
                ).reshape(n, width)
                contents.append(encode(idx, palette))
                heights.append(n)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "image",
                    "content": contents,
                    "mime": mime,
                    "width": pd.Series([width] * len(contents), dtype="int32"),
                    "height": pd.Series(heights, dtype="int32"),
                    "duration_ms": pd.Series([-1] * len(contents), dtype="int32"),
                }
            )

    return docs.mapInPandas(synth, MEDIA_SCHEMA)


def documents_as_palette_png(spark: SparkSession, sf: str, width: int = 32) -> DataFrame:
    """Synthesize a REAL color-type-3 (palette) PNG media table: each
    document's text bytes map to palette indices (byte % 64), '.'-padded
    like :func:`documents_as_png`, encoded with CYCLING row filters and a
    PLTE chunk. Decoding exercises the palette-lookup path end-to-end; the
    palette is a pure function of the index, so a SQL oracle recomputes
    every looked-up RGB from the source text."""
    from .codecs import encode_png_palette

    return _documents_as_indexed_image(
        spark, sf, width,
        lambda idx, pal: encode_png_palette(idx, pal, filters="cycle"),
        "image/png",
    )


def decode_audio_energy(media: DataFrame, window: int = 64,
                        content_col: str = "content", id_col: str = "media_id") -> DataFrame:
    """Distributed REAL audio decode + windowed energy: parse the RIFF/WAVE
    container natively, then per ``window`` samples emit
    ``sum(sample^2)`` as exact int64 — the same VAD shape as
    :func:`audio_window_energy` but over a real-world format. Zero-sample
    clips emit no rows; multi-channel clips sum across channels per frame
    window."""
    import numpy as np

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, counts, energies = [], [], [], []
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                try:
                    _rate, samples = decode_audio(raw)
                except Exception as exc:
                    _reraise_with_media_id(mid, exc)
                flat = samples.astype(np.int64)
                if flat.ndim == 2:  # per-frame energy across channels
                    flat = (flat * flat).sum(axis=1)
                else:
                    flat = flat * flat
                n = flat.shape[0]
                if n == 0:
                    continue
                starts = np.arange(0, n, window)
                e = np.add.reduceat(flat, starts)
                sizes = np.diff(np.append(starts, n))
                ids.extend([mid] * len(starts))
                idxs.extend(range(len(starts)))
                counts.extend(sizes.tolist())
                energies.extend(e.tolist())
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "window_idx": pd.Series(idxs, dtype="int32"),
                    "n_samples": pd.Series(counts, dtype="int64"),
                    "energy": pd.Series(energies, dtype="int64"),
                }
            )

    return media.select(id_col, content_col).mapInPandas(kernel, ENERGY_SCHEMA)


def q_image_decode_png(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end REAL image codec round trip: documents encoded as
    cycling-filter grayscale PNGs (every unfilter path exercised), decoded
    distributedly, per-image pixel stats emitted. The oracle recomputes
    width/height/sum/md5 from the '.'-padded text the pixels derive from —
    so a single flipped bit anywhere in deflate/unfilter breaks the hash."""
    media = documents_as_png(spark, sf, width=32)
    return decode_image_stats(media)


Q_IMAGE_DECODE_SQL = """
WITH sized AS (
  SELECT doc_id,
         rpad(text, CAST(GREATEST(CAST(CEIL(LENGTH(text) / 32.0) AS INTEGER), 1) * 32 AS INTEGER), '.') AS padded,
         GREATEST(CAST(CEIL(LENGTH(text) / 32.0) AS INTEGER), 1) AS n
  FROM documents
),
px AS (
  SELECT doc_id, SUM(ascii(substr(padded, CAST(s.p AS INTEGER), 1))) AS px_sum
  FROM sized, unnest(generate_series(1, LENGTH(padded))) AS s(p)
  GROUP BY doc_id
)
SELECT sized.doc_id                 AS media_id,
       32                           AS width,
       CAST(n AS INTEGER)           AS height,
       CAST(n * 32 AS BIGINT)       AS n_pixels,
       CAST(px.px_sum AS BIGINT)    AS px_sum,
       md5(padded)                  AS px_md5
FROM sized JOIN px ON sized.doc_id = px.doc_id
"""


def q_image_resize_png(spark: SparkSession, sf: str) -> DataFrame:
    """Decode -> nearest-neighbor resize to 8x8 -> re-encode -> decode
    again: the full distributed image-preprocessing loop over REAL PNGs.
    Emitting the resized images' pixel stats makes both codec directions
    AND the sampler value-checkable: the oracle recomputes every sampled
    pixel position from the '.'-padded text (src_row = r*h//8, src_col =
    c*32//8) and sums the character codes."""
    media = documents_as_png(spark, sf, width=32)
    resized = resize_images(media, width=8, height=8)
    return decode_image_stats(resized).select(
        "media_id", "width", "height", "n_pixels", "px_sum"
    )


Q_IMAGE_RESIZE_SQL = """
WITH sized AS (
  SELECT doc_id,
         rpad(text, CAST(GREATEST(CAST(CEIL(LENGTH(text) / 32.0) AS INTEGER), 1) * 32 AS INTEGER), '.') AS padded,
         GREATEST(CAST(CEIL(LENGTH(text) / 32.0) AS INTEGER), 1) AS h
  FROM documents
),
samples AS (
  SELECT doc_id,
         ascii(substr(padded,
                      CAST(LEAST((r.i * h) // 8, h - 1) * 32
                           + LEAST((c.i * 32) // 8, 31) + 1 AS INTEGER),
                      1)) AS v
  FROM sized,
       unnest(generate_series(0, 7)) AS r(i),
       unnest(generate_series(0, 7)) AS c(i)
)
SELECT doc_id                    AS media_id,
       8                         AS width,
       8                         AS height,
       CAST(64 AS BIGINT)        AS n_pixels,
       CAST(SUM(v) AS BIGINT)    AS px_sum
FROM samples
GROUP BY doc_id
"""


def documents_as_jpeg(
    spark: SparkSession, sf: str, chars_per_row: int = 16, progressive: bool = False
) -> DataFrame:
    """Synthesize a REAL JPEG media table: each text byte becomes one
    CONSTANT 8x8 block ('.'-padded to fill the last block row), encoded
    at quality 50 grayscale — sequential, or SOF2 multi-scan when
    ``progressive``. Constant blocks make the lossy DCT round trip
    exactly predictable (see ``jpeg.py``'s determinism contract):
    decoded = clamp(2*floor((byte-128)/2 + 0.5) + 128), so a SQL oracle
    verifies the full Huffman+DCT pipeline per character — for the
    progressive table, every scan kind of the successive-approximation
    machinery."""
    import math

    import numpy as np

    from .jpeg import encode_jpeg

    if chars_per_row < 1:
        raise ValueError(f"chars_per_row must be >= 1, got {chars_per_row}")
    # JPEG entropy coding is the one genuinely CPU-heavy kernel (a Python
    # bit loop per block): spread the rows so a single-file scan doesn't
    # serialize it onto one task. At cluster scale many input files give
    # this parallelism for free; locally the repartition buys 32x.
    docs = _spread_for_kernel(
        spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, heights = [], []
            for text in pdf["text"]:
                b = (text or "").encode("utf-8")
                n = max(1, math.ceil(len(b) / chars_per_row))
                padded = b.ljust(n * chars_per_row, b".")
                mat = np.frombuffer(padded, dtype=np.uint8).reshape(n, chars_per_row)
                arr = np.repeat(np.repeat(mat, 8, axis=0), 8, axis=1)
                contents.append(encode_jpeg(arr, quality=50, progressive=progressive))
                heights.append(n * 8)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "image",
                    "content": contents,
                    "mime": "image/jpeg",
                    "width": pd.Series([chars_per_row * 8] * len(contents), dtype="int32"),
                    "height": pd.Series(heights, dtype="int32"),
                    "duration_ms": pd.Series([-1] * len(contents), dtype="int32"),
                }
            )

    return docs.mapInPandas(synth, MEDIA_SCHEMA)


def documents_as_gif(spark: SparkSession, sf: str, width: int = 32) -> DataFrame:
    """Synthesize a REAL GIF89a media table: the same byte%64 palette
    mapping as :func:`documents_as_palette_png` but through the GIF
    container — INTERLACED, so decoding exercises LZW, the 4-pass row
    reorder, and the color table lookup. Lossless, so the SQL oracle
    recomputes every RGB from the source characters."""
    from .gif import encode_gif

    return _documents_as_indexed_image(
        spark, sf, width,
        lambda idx, pal: encode_gif(idx, pal, interlace=True),
        "image/gif",
    )


def documents_as_tiff(spark: SparkSession, sf: str, width: int = 32) -> DataFrame:
    """Synthesize a REAL TIFF media table: the same '.'-padded grayscale
    pixels as :func:`documents_as_png`, but through the TIFF container
    with LZW compression AND horizontal-differencing predictor (tag
    317=2, the libtiff default) — so decoding exercises the IFD walk,
    the EarlyChange LZW coder, and the predictor undo. Lossless: the
    PNG entry's SQL oracle verifies the same pixels."""
    import math

    import numpy as np

    from .tiff import encode_tiff

    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    # LZW coding is a per-byte Python loop (like JPEG entropy / FLAC Rice):
    # spread the single-file scan before the kernel
    docs = _spread_for_kernel(
        spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, heights = [], []
            for text in pdf["text"]:
                b = (text or "").encode("utf-8")
                n = max(1, math.ceil(len(b) / width))
                padded = b.ljust(n * width, b".")
                arr = np.frombuffer(padded, dtype=np.uint8).reshape(n, width)
                contents.append(encode_tiff(arr, compression="lzw", predictor=True))
                heights.append(n)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "image",
                    "content": contents,
                    "mime": "image/tiff",
                    "width": pd.Series([width] * len(contents), dtype="int32"),
                    "height": pd.Series(heights, dtype="int32"),
                    "duration_ms": pd.Series([-1] * len(contents), dtype="int32"),
                }
            )

    return docs.mapInPandas(synth, MEDIA_SCHEMA)


def q_image_decode_tiff(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end TIFF codec round trip: documents as LZW+predictor TIFFs
    carrying the SAME pixels as the PNG entry, decoded distributedly,
    pixel stats (incl. the full md5) verified by the SAME exact oracle —
    a wrong LZW code, width bump, or predictor delta anywhere breaks the
    hash."""
    media = documents_as_tiff(spark, sf, width=32)
    return decode_image_stats(media)


def documents_as_webp(spark: SparkSession, sf: str, width: int = 32) -> DataFrame:
    """Synthesize a REAL lossless-WebP (VP8L) media table: the same
    '.'-padded grayscale pixels as :func:`documents_as_png`, written with
    the subtract-green transform, LZ77 runs over the padding, a 256-entry
    color cache, and frequency-built canonical prefix codes — so decoding
    exercises the whole VP8L entropy layer. Lossless: the PNG entry's SQL
    oracle verifies the same pixels."""
    import math

    import numpy as np

    from .webp import encode_webp_lossless

    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    # prefix-code build + bit packing is a per-symbol Python loop (like
    # GIF LZW): spread the single-file scan before the kernel
    docs = _spread_for_kernel(
        spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, heights = [], []
            for text in pdf["text"]:
                b = (text or "").encode("utf-8")
                n = max(1, math.ceil(len(b) / width))
                padded = b.ljust(n * width, b".")
                arr = np.frombuffer(padded, dtype=np.uint8).reshape(n, width)
                contents.append(encode_webp_lossless(arr, cache_bits=8))
                heights.append(n)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "image",
                    "content": contents,
                    "mime": "image/webp",
                    "width": pd.Series([width] * len(contents), dtype="int32"),
                    "height": pd.Series(heights, dtype="int32"),
                    "duration_ms": pd.Series([-1] * len(contents), dtype="int32"),
                }
            )

    return docs.mapInPandas(synth, MEDIA_SCHEMA)


def documents_as_webp_palette(spark: SparkSession, sf: str, width: int = 32) -> DataFrame:
    """Synthesize a palette (COLOR_INDEXING) lossless-WebP media table:
    the same byte%64 palette mapping as :func:`documents_as_palette_png`
    and :func:`documents_as_gif`, but through VP8L's color-indexing
    transform (64 colors — delta-coded palette row, index image in the
    green channel). Lossless: the palette-PNG SQL oracle verifies the
    same RGB pixels."""
    from .webp import encode_webp_lossless

    return _documents_as_indexed_image(
        spark, sf, width,
        lambda idx, pal: encode_webp_lossless(pal[idx], palette=True),
        "image/webp",
    )


def q_image_decode_webp_palette(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end palette-WebP codec round trip: documents as VP8L
    COLOR_INDEXING streams (byte %64 indices through the deterministic
    palette), decoded distributedly (delta-coded palette row + index
    lookup), RGB pixel stats. Same oracle family as the palette-PNG and
    GIF entries — lossless, so a wrong palette delta or index anywhere
    breaks px_sum."""
    media = documents_as_webp_palette(spark, sf, width=32)
    return decode_image_stats(media).select(
        "media_id", "width", "height", "n_pixels", "px_sum"
    )


def q_image_decode_webp(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end lossless-WebP codec round trip: documents as VP8L
    streams carrying the SAME pixels as the PNG entry (subtract-green +
    LZ77 + color cache + canonical prefix codes), decoded distributedly,
    pixel stats (incl. the full md5) verified by the SAME exact oracle —
    a wrong prefix code, cache slot, or reference copy anywhere breaks
    the hash."""
    media = documents_as_webp(spark, sf, width=32)
    return decode_image_stats(media)


def q_image_decode_gif(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end GIF codec round trip: documents as INTERLACED GIF89a
    (byte %64 indices through the deterministic palette), decoded
    distributedly (LZW + 4-pass deinterlace + table lookup), RGB pixel
    stats. Same oracle family as the palette-PNG entry — lossless, so a
    wrong LZW code or interlace row anywhere breaks px_sum."""
    media = documents_as_gif(spark, sf, width=32)
    return decode_image_stats(media).select(
        "media_id", "width", "height", "n_pixels", "px_sum"
    )


def q_image_decode_jpeg(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end REAL JPEG codec round trip: documents as constant-block
    baseline JPEGs, decoded distributedly (pure-numpy Huffman+DCT), pixel
    stats emitted. The oracle recomputes every decoded value from the
    source characters via the closed-form quantization round trip — a
    wrong Huffman bit, DC prediction, zigzag slot, or DCT scale anywhere
    breaks px_sum."""
    media = documents_as_jpeg(spark, sf, chars_per_row=16)
    return decode_image_stats(media).select(
        "media_id", "width", "height", "n_pixels", "px_sum"
    )


Q_IMAGE_JPEG_SQL = """
WITH sized AS (
  SELECT doc_id,
         rpad(text, CAST(GREATEST(CAST(CEIL(LENGTH(text) / 16.0) AS INTEGER), 1) * 16 AS INTEGER), '.') AS padded,
         GREATEST(CAST(CEIL(LENGTH(text) / 16.0) AS INTEGER), 1) AS n
  FROM documents
),
px AS (
  SELECT doc_id,
         SUM(64 * LEAST(255, GREATEST(0,
             2 * CAST(FLOOR((ascii(substr(padded, CAST(s.p AS INTEGER), 1)) - 128) / 2.0 + 0.5) AS BIGINT)
             + 128))) AS px_sum
  FROM sized, unnest(generate_series(1, LENGTH(padded))) AS s(p)
  GROUP BY doc_id
)
SELECT sized.doc_id                   AS media_id,
       128                            AS width,
       CAST(n * 8 AS INTEGER)         AS height,
       CAST(n * 16 * 64 AS BIGINT)    AS n_pixels,
       CAST(px.px_sum AS BIGINT)      AS px_sum
FROM sized JOIN px ON sized.doc_id = px.doc_id
"""


def q_image_decode_jpeg_progressive(spark: SparkSession, sf: str) -> DataFrame:
    """The progressive twin of q_image_decode_jpeg: the SAME pixels ride
    an SOF2 multi-scan transmission (DC first/refine + AC first/refine),
    and the SAME closed-form oracle must still hold — a wrong bit in any
    of the four scan kinds breaks px_sum."""
    media = documents_as_jpeg(spark, sf, chars_per_row=16, progressive=True)
    return decode_image_stats(media).select(
        "media_id", "width", "height", "n_pixels", "px_sum"
    )


def q_image_decode_palette(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end palette-PNG codec round trip: documents as color-type-3
    PNGs (byte %64 indices through a deterministic PLTE, cycling filters),
    decoded distributedly, pixel stats over the looked-up RGB. The oracle
    recomputes every RGB triple from the source characters — a wrong
    palette lookup (or any unfilter bit-flip) breaks px_sum."""
    media = documents_as_palette_png(spark, sf, width=32)
    return decode_image_stats(media).select(
        "media_id", "width", "height", "n_pixels", "px_sum"
    )


Q_IMAGE_PALETTE_SQL = """
WITH sized AS (
  SELECT doc_id,
         rpad(text, CAST(GREATEST(CAST(CEIL(LENGTH(text) / 32.0) AS INTEGER), 1) * 32 AS INTEGER), '.') AS padded,
         GREATEST(CAST(CEIL(LENGTH(text) / 32.0) AS INTEGER), 1) AS n
  FROM documents
),
px AS (
  SELECT doc_id,
         SUM((ascii(substr(padded, CAST(s.p AS INTEGER), 1)) % 64) * 7  % 256
           + (ascii(substr(padded, CAST(s.p AS INTEGER), 1)) % 64) * 13 % 256
           + (ascii(substr(padded, CAST(s.p AS INTEGER), 1)) % 64) * 29 % 256) AS px_sum
  FROM sized, unnest(generate_series(1, LENGTH(padded))) AS s(p)
  GROUP BY doc_id
)
SELECT sized.doc_id                 AS media_id,
       32                           AS width,
       CAST(n AS INTEGER)           AS height,
       CAST(n * 32 * 3 AS BIGINT)   AS n_pixels,
       CAST(px.px_sum AS BIGINT)    AS px_sum
FROM sized JOIN px ON sized.doc_id = px.doc_id
"""


def q_video_frame_sample_y4m(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end REAL video-format round trip: documents packed as Y4M
    (one constant 8x8 mono frame per text byte), strided frame sampling
    (every 3rd) with exact luma sums and md5 fingerprints. The oracle
    recomputes BOTH from the source characters — frame_fp is the md5 of
    64 copies of the character, so a single wrong plane byte breaks it."""
    # one frame per text byte: spread a single-file scan before the
    # per-frame fan-out so one task doesn't carry the whole corpus
    docs = _spread_for_kernel(spark.read.parquet(f"{sf}/documents.parquet"))
    media = pack_y4m(docs, frame_w=8, frame_h=8)
    return sample_video_frames(media, every=3)


Q_Y4M_FRAME_SQL = """
SELECT doc_id                                                   AS media_id,
       CAST(s.p - 1 AS INTEGER)                                 AS frame_idx,
       CAST(64 * ascii(substr(text, CAST(s.p AS INTEGER), 1)) AS BIGINT) AS luma_sum,
       md5(repeat(substr(text, CAST(s.p AS INTEGER), 1), 64))   AS frame_fp
FROM documents, unnest(generate_series(1, LENGTH(text), 3)) AS s(p)
WHERE LENGTH(text) > 0
"""


def select_keyframes(
    media: DataFrame,
    min_diff: int = 1,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Scene-change keyframe selection over Y4M video: frame 0 plus every
    frame whose summed per-pixel absolute luma difference from the
    PREVIOUS frame is >= ``min_diff``. This is the shot-boundary primitive
    a video training pipeline runs before captioning/embedding — decoding
    everything but KEEPING only frames that changed. The diff is one
    vectorized int16 subtraction over the whole frame tensor; state never
    crosses videos, so the kernel is embarrassingly parallel per file and
    the plan has zero shuffles."""
    import hashlib

    import numpy as np

    from .video import Y4M_MAGIC, decode_y4m

    if min_diff < 1:
        raise ValueError(f"min_diff must be >= 1, got {min_diff}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, diffs, fps = [], [], [], []
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                b = bytes(raw)
                try:
                    if not b.startswith(Y4M_MAGIC):
                        head = b[:4].hex() if b else "<empty>"
                        raise NotImplementedError(
                            f"video with head bytes {head} needs an external "
                            "codec; YUV4MPEG2 decodes natively"
                        )
                    frames = decode_y4m(b)["y"]
                except Exception as exc:
                    _reraise_with_media_id(mid, exc)
                n = frames.shape[0]
                if n == 0:
                    continue
                d = (
                    np.abs(
                        frames[1:].astype(np.int16) - frames[:-1].astype(np.int16)
                    )
                    .reshape(n - 1, -1)
                    .sum(axis=1, dtype=np.int64)
                    if n > 1
                    else np.empty(0, dtype=np.int64)
                )
                # the min_diff sentinel at position 0 always passes the >=
                # test, so frame 0 is always kept and keep[0] == 0
                keep = np.flatnonzero(np.concatenate(([min_diff], d)) >= min_diff)
                # vectorized per media row (see sample_video_frames): one
                # fancy-index copy of the kept frames, one diff gather; the
                # md5 loop hashes memoryview slices of a single buffer
                k = keep.shape[0]
                ids.extend([mid] * k)
                idxs.extend(keep.tolist())
                # d is empty when n == 1 (keep == [0]); guard the gather —
                # d[keep - 1] would index d[-1] of an empty array
                kept_d = (
                    np.where(keep > 0, d[np.maximum(keep - 1, 0)], 0)
                    if d.size
                    else np.zeros(k, dtype=np.int64)
                )
                diffs.extend(kept_d.tolist())
                sel = np.ascontiguousarray(frames[keep]).reshape(k, -1)
                mv = memoryview(sel.tobytes())
                fs = sel.shape[1]
                fps.extend(
                    hashlib.md5(mv[j * fs : (j + 1) * fs]).hexdigest()
                    for j in range(k)
                )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "diff_energy": pd.Series(diffs, dtype="int64"),
                    "frame_fp": pd.Series(fps, dtype="object"),
                }
            )

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("diff_energy", LongType()),
            StructField("frame_fp", StringType()),
        ]
    )
    return media.select(id_col, content_col).mapInPandas(kernel, schema)


def q_video_keyframes(spark: SparkSession, sf: str) -> DataFrame:
    """Shot-boundary detection end to end through a REAL video container:
    documents packed as Y4M (one constant 8x8 frame per text byte), then
    keyframes = frame 0 + every frame whose summed luma diff is >= 1280
    (|char delta| >= 20 — word boundaries cut, within-word letter drift
    does not, keeping ~1/3 of frames). The oracle replays the diff
    arithmetic from the source characters: diff_energy is exactly
    64 * |byte_i - byte_{i-1}|, the fingerprint the md5 of 64 copies of
    the character — one wrong decoded pixel breaks the hash."""
    docs = _spread_for_kernel(spark.read.parquet(f"{sf}/documents.parquet"))
    media = pack_y4m(docs, frame_w=8, frame_h=8)
    return select_keyframes(media, min_diff=1280)


Q_VIDEO_KEYFRAMES_SQL = """
WITH chars AS (
  SELECT doc_id,
         CAST(s.p - 1 AS INTEGER)                       AS frame_idx,
         ascii(substr(text, CAST(s.p AS INTEGER), 1))   AS v,
         substr(text, CAST(s.p AS INTEGER), 1)          AS ch
  FROM documents, unnest(generate_series(1, LENGTH(text))) AS s(p)
  WHERE LENGTH(text) > 0
),
diffed AS (
  SELECT doc_id, frame_idx, ch,
         CAST(64 * ABS(v - lag(v) OVER (PARTITION BY doc_id ORDER BY frame_idx)) AS BIGINT)
           AS diff_energy
  FROM chars
)
SELECT doc_id                                   AS media_id,
       frame_idx,
       COALESCE(diff_energy, 0)                 AS diff_energy,
       md5(repeat(ch, 64))                      AS frame_fp
FROM diffed
WHERE diff_energy IS NULL OR diff_energy >= 1280
"""


def q_audio_decode_wav(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end REAL audio codec round trip: documents as 16-bit PCM WAV
    ((byte-128)*256 samples), decoded distributedly, 64-sample windowed
    energy. Exact integer arithmetic — the oracle recomputes every window
    from the source characters."""
    media = documents_as_wav(spark, sf)
    return decode_audio_energy(media, window=64)


Q_WAV_ENERGY_SQL = """
WITH chars AS (
  SELECT doc_id,
         CAST((s.p - 1) // 64 AS INTEGER) AS window_idx,
         (ascii(substr(text, CAST(s.p AS INTEGER), 1)) - 128) * 256 AS v
  FROM documents, unnest(generate_series(1, LENGTH(text))) AS s(p)
  WHERE LENGTH(text) > 0
)
SELECT doc_id AS media_id,
       window_idx,
       CAST(COUNT(*) AS BIGINT)   AS n_samples,
       CAST(SUM(v * v) AS BIGINT) AS energy
FROM chars
GROUP BY doc_id, window_idx
"""


def pack_aiff(docs: DataFrame, sample_rate: int = 8000) -> DataFrame:
    """Pack (doc_id, text) rows into REAL AIFF containers carrying the SAME
    samples as :func:`pack_wav` ((byte-128)*256, big-endian int16) — so the
    same exact SQL oracle verifies the IFF COMM/SSND parse and the 80-bit
    extended-float sample-rate decode end-to-end. A STATELESS Arrow
    kernel, like its WAV/FLAC siblings."""
    import numpy as np

    from .codecs import encode_aiff

    if sample_rate < 1:
        raise ValueError(f"sample_rate must be >= 1, got {sample_rate}")
    # conditional cluster-wide spread INSIDE the producer (no-op on
    # already-parallel or streaming input): every consumer of this
    # kernel gets the single-file-scan protection without opting in
    docs = _spread_for_kernel(docs.select("doc_id", "text"))

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, durs = [], []
            for text in pdf["text"]:
                b = np.frombuffer((text or "").encode("utf-8"), dtype=np.uint8)
                samples = ((b.astype(np.int32) - 128) * 256).astype(np.int16)
                contents.append(encode_aiff(samples, sample_rate))
                durs.append(len(b) * 1000 // sample_rate)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "audio",
                    "content": contents,
                    "mime": "audio/aiff",
                    "width": pd.Series([-1] * len(contents), dtype="int32"),
                    "height": pd.Series([-1] * len(contents), dtype="int32"),
                    "duration_ms": pd.Series(durs, dtype="int32"),
                }
            )

    return docs.mapInPandas(synth, MEDIA_SCHEMA)


def q_audio_decode_aiff(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end REAL AIFF round trip: documents as big-endian 16-bit PCM
    AIFF ((byte-128)*256 samples), decoded distributedly (IFF chunk walk,
    COMM 80-bit extended-float rate, SSND offset), 64-sample windowed
    energy — verified by the SAME exact SQL oracle as q_audio_decode_wav
    (only the container differs)."""
    media = pack_aiff(spark.read.parquet(f"{sf}/documents.parquet"))
    return decode_audio_energy(media, window=64)


def q_audio_decode_flac(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end REAL compressed-audio round trip: documents as FLAC
    streams (same (byte-128)*256 samples as the WAV entry), decoded
    distributedly through the full fixed-predictor + Rice pipeline,
    64-sample windowed energy — verified by the SAME exact SQL oracle as
    q_audio_decode_wav (only the container differs)."""
    # FLAC's entropy layer is per-sample Python (like JPEG's): spread
    # the single-file scan before the kernels
    docs = _spread_for_kernel(spark.read.parquet(f"{sf}/documents.parquet"))
    media = pack_flac(docs)
    return decode_audio_energy(media, window=64)


#: deterministic geometric augmentations: name -> (numpy transform)
_AUGMENT_OPS = ("hflip", "vflip", "rot180", "center_crop")


def augment_images(
    media: DataFrame,
    ops: tuple = _AUGMENT_OPS,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """REAL distributed augmentation: decode each payload once, apply every
    requested deterministic geometric op (horizontal/vertical flip, 180
    rotation, centered half crop — the orientation-invariance set a vision
    data pipeline materializes), re-encode each variant as PNG. One output
    row per (media, op): (media_id, op, content, width, height).
    Augmentation multiplies rows, never shuffles — the kernel is map-only
    and each task re-encodes only its own batch's variants. Nondeterministic
    augmentations (random crop/jitter) belong on the training loader, not
    in a reproducible corpus build — deliberately not offered here."""
    import numpy as np

    from .codecs import encode_png

    unknown = [o for o in ops if o not in _AUGMENT_OPS]
    if unknown or not ops:
        raise ValueError(f"ops must be a non-empty subset of {_AUGMENT_OPS}, got {ops!r}")

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("op", StringType()),
            StructField("content", BinaryType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
        ]
    )

    def transform(arr, op):
        if op == "hflip":
            return arr[:, ::-1]
        if op == "vflip":
            return arr[::-1]
        if op == "rot180":
            return arr[::-1, ::-1]
        h, w = arr.shape[0], arr.shape[1]
        h2, w2 = max(h // 2, 1), max(w // 2, 1)
        r0, c0 = (h - h2) // 2, (w - w2) // 2
        return arr[r0 : r0 + h2, c0 : c0 + w2]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, names, blobs, ws, hs = [], [], [], [], []
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                try:
                    arr = decode_image(raw)
                except Exception as exc:
                    _reraise_with_media_id(mid, exc)
                for op in ops:
                    out = transform(arr, op)
                    ids.append(mid)
                    names.append(op)
                    blobs.append(encode_png(out.copy(), filters="none"))
                    hs.append(out.shape[0])
                    ws.append(out.shape[1])
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "op": pd.Series(names, dtype="object"),
                    "content": pd.Series(blobs, dtype="object"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                }
            )

    return media.select(id_col, content_col).mapInPandas(kernel, schema)


def image_position_checksums(
    media: DataFrame, content_col: str = "content", id_col: str = "media_id",
    carry_cols: tuple = (),
) -> DataFrame:
    """Per-image POSITION-WEIGHTED pixel checksum over the real decode
    path: ``sum(px[r, c] * (r * width + c + 1))`` on the first channel.
    Plain pixel sums are orientation-BLIND (a flip permutes the same
    multiset), so this is the audit that makes geometric transforms
    value-checkable — a flipped or mis-cropped image cannot collide."""
    import numpy as np

    schema = StructType(
        [StructField("media_id", LongType())]
        + [StructField(c, StringType()) for c in carry_cols]
        + [
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("pos_checksum", LongType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            carries = [pdf[c] for c in carry_cols]
            for mid, raw, *extra in zip(pdf[id_col], pdf[content_col], *carries):
                try:
                    arr = decode_image(raw)
                except Exception as exc:
                    _reraise_with_media_id(mid, exc)
                px = np.asarray(arr)
                if px.ndim == 3:
                    px = px[:, :, 0]
                h, w = px.shape
                weights = (np.arange(h * w, dtype=np.int64) + 1).reshape(h, w)
                rows.append((mid, *extra, w, h, int((px.astype(np.int64) * weights).sum())))
            yield pd.DataFrame(
                rows, columns=["media_id", *carry_cols, "width", "height", "pos_checksum"]
            )

    return media.select(id_col, *carry_cols, content_col).mapInPandas(kernel, schema)


#: deterministic audio augmentations (the loader-side randomness caveat
#: from augment_images applies identically)
_AUDIO_AUGMENT_OPS = ("reverse", "trim_half", "gain_half")


def augment_audio(
    media: DataFrame,
    ops: tuple = _AUDIO_AUGMENT_OPS,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """REAL distributed audio augmentation: decode each payload once
    (any natively-decodable container — WAV/AU/AIFF/FLAC), apply every
    requested deterministic op, re-encode as 16-bit WAV. Ops: ``reverse``
    (time inversion), ``trim_half`` (first ceil-half of the samples),
    ``gain_half`` (arithmetic-shift halving, ``s >> 1`` — floor division,
    mirrored exactly by SQL ``//``). One row per (media, op); map-only."""
    import numpy as np

    from .codecs import encode_wav

    unknown = [o for o in ops if o not in _AUDIO_AUGMENT_OPS]
    if unknown or not ops:
        raise ValueError(
            f"ops must be a non-empty subset of {_AUDIO_AUGMENT_OPS}, got {ops!r}"
        )

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("op", StringType()),
            StructField("content", BinaryType()),
            StructField("n_samples", LongType()),
        ]
    )

    def transform(arr, op):
        if op == "reverse":
            return arr[::-1]
        if op == "trim_half":
            return arr[: max((len(arr) + 1) // 2, 1)]
        return arr >> 1  # gain_half: arithmetic shift == floor(s/2)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, names, blobs, ns = [], [], [], []
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                try:
                    rate, samples = decode_audio(raw)
                except Exception as exc:
                    _reraise_with_media_id(mid, exc)
                s16 = np.asarray(samples, dtype=np.int16)
                for op in ops:
                    out = transform(s16, op)
                    ids.append(mid)
                    names.append(op)
                    blobs.append(encode_wav(out.copy(), rate))
                    ns.append(len(out))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "op": pd.Series(names, dtype="object"),
                    "content": pd.Series(blobs, dtype="object"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                }
            )

    return media.select(id_col, content_col).mapInPandas(kernel, schema)


def audio_position_checksums(
    media: DataFrame, content_col: str = "content", id_col: str = "media_id",
    carry_cols: tuple = (),
) -> DataFrame:
    """Per-clip POSITION-WEIGHTED sample checksum over the real decode
    path: ``sum(s[i] * (i + 1))`` — plain energies are time-reversal-blind
    (same multiset), so this audit pins temporal structure exactly."""
    import numpy as np

    schema = StructType(
        [StructField("media_id", LongType())]
        + [StructField(c, StringType()) for c in carry_cols]
        + [
            StructField("n_samples", LongType()),
            StructField("pos_checksum", LongType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            carries = [pdf[c] for c in carry_cols]
            for mid, raw, *extra in zip(pdf[id_col], pdf[content_col], *carries):
                try:
                    _, samples = decode_audio(raw)
                except Exception as exc:
                    _reraise_with_media_id(mid, exc)
                s = np.asarray(samples, dtype=np.int64).reshape(-1)
                rows.append(
                    (mid, *extra, len(s), int((s * (np.arange(len(s)) + 1)).sum()))
                )
            yield pd.DataFrame(
                rows, columns=["media_id", *carry_cols, "n_samples", "pos_checksum"]
            )

    return media.select(id_col, *carry_cols, content_col).mapInPandas(kernel, schema)


def q_audio_augment(spark: SparkSession, sf: str) -> DataFrame:
    """Decode -> {reverse, trim-half, gain-half} -> re-encode WAV ->
    decode again, audited by position-weighted sample checksums (plain
    energies are time-reversal-blind): the distributed audio-augmentation
    loop over REAL 16-bit PCM containers; the oracle recomputes every
    output sample from the source characters per op."""
    media = documents_as_wav(spark, sf)
    aug = augment_audio(media)
    return (
        audio_position_checksums(aug, carry_cols=("op",))
        .select("media_id", "op", "n_samples", "pos_checksum")
        .orderBy("media_id", "op")
    )


# source model (documents_as_wav): sample i (1-based char p) = (ascii-128)*256
Q_AUDIO_AUGMENT_SQL = """
WITH chars AS (
  SELECT doc_id, LENGTH(text) AS n, s.p AS p,
         (ascii(substr(text, CAST(s.p AS INTEGER), 1)) - 128) * 256 AS v
  FROM documents, unnest(generate_series(1, LENGTH(text))) AS s(p)
  WHERE LENGTH(text) > 0
),
rev AS (
  SELECT doc_id, 'reverse' AS op, CAST(MAX(n) AS BIGINT) AS n_samples,
         CAST(SUM(v * (n - p + 1)) AS BIGINT) AS pos_checksum
  FROM chars GROUP BY doc_id
),
trim AS (
  SELECT doc_id, 'trim_half' AS op,
         CAST(GREATEST((MAX(n) + 1) // 2, 1) AS BIGINT) AS n_samples,
         CAST(SUM(CASE WHEN p <= GREATEST((n + 1) // 2, 1) THEN v * p ELSE 0 END) AS BIGINT) AS pos_checksum
  FROM chars GROUP BY doc_id
),
gain AS (
  SELECT doc_id, 'gain_half' AS op, CAST(MAX(n) AS BIGINT) AS n_samples,
         CAST(SUM((v // 2) * p) AS BIGINT) AS pos_checksum
  FROM chars GROUP BY doc_id
)
SELECT doc_id AS media_id, op, n_samples, pos_checksum FROM rev
UNION ALL SELECT doc_id, op, n_samples, pos_checksum FROM trim
UNION ALL SELECT doc_id, op, n_samples, pos_checksum FROM gain
ORDER BY media_id, op
"""


#: deterministic temporal video augmentations (per-frame spatial ops are
#: the image set applied frame-wise; these are the ops that move TIME)
_VIDEO_AUGMENT_OPS = ("reverse", "stride2", "trim_half")


def augment_video(
    media: DataFrame,
    ops: tuple = _VIDEO_AUGMENT_OPS,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """REAL distributed temporal video augmentation over Y4M: decode the
    frame tensor once, apply every requested deterministic op — ``reverse``
    (play backwards), ``stride2`` (every 2nd frame — frame-rate halving),
    ``trim_half`` (first ceil-half) — and re-encode. One row per
    (media, op); map-only, zero shuffles; chroma planes (C420) ride along
    with matching temporal slicing."""
    import numpy as np

    from .video import decode_y4m, encode_y4m

    unknown = [o for o in ops if o not in _VIDEO_AUGMENT_OPS]
    if unknown or not ops:
        raise ValueError(
            f"ops must be a non-empty subset of {_VIDEO_AUGMENT_OPS}, got {ops!r}"
        )

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("op", StringType()),
            StructField("content", BinaryType()),
            StructField("n_frames", LongType()),
        ]
    )

    def tsel(n, op):
        if op == "reverse":
            return list(range(n - 1, -1, -1))
        if op == "stride2":
            return list(range(0, n, 2))
        return list(range(max((n + 1) // 2, 1)))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Y4M is UNCOMPRESSED: the ops multiply a batch's bytes ~2.5x, so
        # yielding one frame per INPUT batch let output buffers blow the
        # local JVM's direct memory at sf10 (measured: driver death).
        # Flush on an explicit output-byte bound instead — the session's
        # input-side maxBytesPerBatch cap has no authority over what a
        # kernel EMITS.
        flush_bytes = 32 << 20

        def make_frame(ids, names, blobs, ns):
            return pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "op": pd.Series(names, dtype="object"),
                    "content": pd.Series(blobs, dtype="object"),
                    "n_frames": pd.Series(ns, dtype="int64"),
                }
            )

        for pdf in batches:
            ids, names, blobs, ns, pending = [], [], [], [], 0
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                try:
                    vid = decode_y4m(bytes(raw))
                except Exception as exc:
                    _reraise_with_media_id(mid, exc)
                y = vid["y"]
                u, v = vid.get("u"), vid.get("v")
                fps = (vid["fps_num"], vid["fps_den"])
                for op in ops:
                    sel = tsel(y.shape[0], op)
                    kwargs = {}
                    if u is not None:
                        kwargs = {"u": u[sel].copy(), "v": v[sel].copy()}
                    blob = encode_y4m(y[sel].copy(), fps=fps, **kwargs)
                    ids.append(mid)
                    names.append(op)
                    blobs.append(blob)
                    ns.append(len(sel))
                    pending += len(blob)
                if pending >= flush_bytes:
                    yield make_frame(ids, names, blobs, ns)
                    ids, names, blobs, ns, pending = [], [], [], [], 0
            if ids:
                yield make_frame(ids, names, blobs, ns)

    return media.select(id_col, content_col).mapInPandas(kernel, schema)


def video_time_checksums(
    media: DataFrame, content_col: str = "content", id_col: str = "media_id",
    carry_cols: tuple = (),
) -> DataFrame:
    """Per-video TIME-WEIGHTED luma checksum over the real decode path:
    ``sum(frame_luma_sum[i] * (i + 1))`` — per-frame sums alone are
    reordering-blind, so the index weighting pins temporal structure."""
    import numpy as np

    from .video import decode_y4m

    schema = StructType(
        [StructField("media_id", LongType())]
        + [StructField(c, StringType()) for c in carry_cols]
        + [
            StructField("n_frames", LongType()),
            StructField("time_checksum", LongType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            carries = [pdf[c] for c in carry_cols]
            for mid, raw, *extra in zip(pdf[id_col], pdf[content_col], *carries):
                try:
                    y = decode_y4m(bytes(raw))["y"]
                except Exception as exc:
                    _reraise_with_media_id(mid, exc)
                sums = y.reshape(y.shape[0], -1).sum(axis=1, dtype=np.int64)
                weights = np.arange(y.shape[0], dtype=np.int64) + 1
                rows.append((mid, *extra, int(y.shape[0]), int((sums * weights).sum())))
            yield pd.DataFrame(
                rows, columns=["media_id", *carry_cols, "n_frames", "time_checksum"]
            )

    return media.select(id_col, *carry_cols, content_col).mapInPandas(kernel, schema)


def video_augment_checksums_fused(
    docs: DataFrame, ops: tuple = _VIDEO_AUGMENT_OPS,
    frame_w: int = 8, frame_h: int = 8,
) -> DataFrame:
    """The FUSED form of pack -> :func:`augment_video` ->
    :func:`video_time_checksums`: one kernel synthesizes each doc's Y4M,
    runs every op through a REAL encode_y4m/decode_y4m round trip, and
    emits only the checksum rows — the uncompressed intermediate video
    never crosses an Arrow boundary. Necessary at scale: Y4M is ~64x the
    source text, and composing the three kernels ships that expansion
    through TWO Arrow transfers per row — measured at sf10 as a local-JVM
    direct-memory death even with output-side flushing. The composed
    operators stay for bounded media (or path-referenced blobs); this is
    the decode_audio_energy single-kernel posture. Equivalence with the
    composed chain is pinned by test."""
    import numpy as np

    from .video import decode_y4m, encode_y4m

    unknown = [o for o in ops if o not in _VIDEO_AUGMENT_OPS]
    if unknown or not ops:
        raise ValueError(
            f"ops must be a non-empty subset of {_VIDEO_AUGMENT_OPS}, got {ops!r}"
        )

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("op", StringType()),
            StructField("n_frames", LongType()),
            StructField("time_checksum", LongType()),
        ]
    )

    def tsel(n, op):
        if op == "reverse":
            return list(range(n - 1, -1, -1))
        if op == "stride2":
            return list(range(0, n, 2))
        return list(range(max((n + 1) // 2, 1)))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, text in zip(pdf["doc_id"], pdf["text"]):
                b = (text or "").encode("utf-8")
                if not b:
                    continue
                y = np.frombuffer(b, dtype=np.uint8).reshape(-1, 1, 1)
                y = np.broadcast_to(y, (len(b), frame_h, frame_w)).copy()
                src = encode_y4m(y)
                decoded = decode_y4m(src)["y"]  # real decode of the synth
                for op in ops:
                    sel = tsel(decoded.shape[0], op)
                    blob = encode_y4m(decoded[sel].copy())
                    out = decode_y4m(blob)["y"]  # real decode of the variant
                    sums = out.reshape(out.shape[0], -1).sum(axis=1, dtype=np.int64)
                    weights = np.arange(out.shape[0], dtype=np.int64) + 1
                    rows.append((mid, op, int(out.shape[0]), int((sums * weights).sum())))
            yield pd.DataFrame(
                rows, columns=["media_id", "op", "n_frames", "time_checksum"]
            )

    return _spread_for_kernel(docs.select("doc_id", "text")).mapInPandas(kernel, schema)


def q_video_augment(spark: SparkSession, sf: str) -> DataFrame:
    """Decode -> {reverse, stride-2, trim-half} -> re-encode Y4M -> decode
    again, audited by time-weighted luma checksums (per-frame sums are
    reordering-blind): the temporal-augmentation loop over REAL video
    containers, completing the image/audio/video augmentation triple; the
    oracle recomputes each output frame's source character per op. Runs
    the FUSED kernel (see :func:`video_augment_checksums_fused`): the
    uncompressed intermediate never crosses Arrow."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    # the sort's range-partitioner SAMPLING job runs the full map-only
    # decode->augment->encode->decode chain, then the sort job recomputes
    # it (no exchange below the sort => nothing reusable). Persist the
    # checksum table (3 rows x 4 scalars per video) so sample + sort share
    # ONE kernel pass, and release the cache via the driver-side
    # materialization pattern (q_doc_perplexity).
    pre = video_augment_checksums_fused(docs)
    with pinned(pre):
        out = pre.orderBy("media_id", "op")
        pdf = out.toPandas()
    return spark.createDataFrame(pdf, schema=out.schema)


# source model (pack_y4m 8x8): frame p (1-based char) has luma sum 64*ascii
Q_VIDEO_AUGMENT_SQL = """
WITH chars AS (
  SELECT doc_id, LENGTH(text) AS n, s.p AS p,
         64 * ascii(substr(text, CAST(s.p AS INTEGER), 1)) AS fsum
  FROM documents, unnest(generate_series(1, LENGTH(text))) AS s(p)
  WHERE LENGTH(text) > 0
),
rev AS (
  SELECT doc_id, 'reverse' AS op, CAST(MAX(n) AS BIGINT) AS n_frames,
         CAST(SUM(fsum * (n - p + 1)) AS BIGINT) AS time_checksum
  FROM chars GROUP BY doc_id
),
strided AS (
  SELECT doc_id, 'stride2' AS op,
         CAST((MAX(n) + 1) // 2 AS BIGINT) AS n_frames,
         CAST(SUM(CASE WHEN p % 2 = 1 THEN fsum * ((p + 1) // 2) ELSE 0 END) AS BIGINT) AS time_checksum
  FROM chars GROUP BY doc_id
),
trimmed AS (
  SELECT doc_id, 'trim_half' AS op,
         CAST(GREATEST((MAX(n) + 1) // 2, 1) AS BIGINT) AS n_frames,
         CAST(SUM(CASE WHEN p <= GREATEST((n + 1) // 2, 1) THEN fsum * p ELSE 0 END) AS BIGINT) AS time_checksum
  FROM chars GROUP BY doc_id
)
SELECT doc_id AS media_id, op, n_frames, time_checksum FROM rev
UNION ALL SELECT doc_id, op, n_frames, time_checksum FROM strided
UNION ALL SELECT doc_id, op, n_frames, time_checksum FROM trimmed
ORDER BY media_id, op
"""


def q_image_augment(spark: SparkSession, sf: str) -> DataFrame:
    """Decode -> {hflip, vflip, rot180, center-crop} -> re-encode -> decode
    again, audited by position-weighted checksums: the full distributed
    augmentation loop over REAL PNGs, with an oracle that recomputes every
    output pixel's source position from the '.'-padded text for each op —
    an orientation bug in either codec direction or any transform flips
    the checksum."""
    media = documents_as_png(spark, sf, width=32)
    aug = augment_images(media)
    # see q_video_augment: persist the tiny checksum table so the sort's
    # sampling job and the sort itself share ONE augment+decode pass
    pre = image_position_checksums(aug, carry_cols=("op",)).select(
        "media_id", "op", "width", "height", "pos_checksum"
    )
    with pinned(pre):
        out = pre.orderBy("media_id", "op")
        pdf = out.toPandas()
    return spark.createDataFrame(pdf, schema=out.schema)


# the oracle recomputes each op's output pixel at (r, c) from its SOURCE
# character position in the padded text (W=32, H=ceil(len/32), '.' pad):
#   hflip:       src = (r, W-1-c)         vflip: src = (H-1-r, c)
#   rot180:      src = (H-1-r, W-1-c)
#   center_crop: out is H2 x W2 = (max(H//2,1), 16) starting at
#                ((H-H2)//2, 8); src = (r0+r, c0+c)
Q_IMAGE_AUGMENT_SQL = """
WITH sized AS (
  SELECT doc_id,
         rpad(text, CAST(GREATEST(CAST(CEIL(LENGTH(text) / 32.0) AS INTEGER), 1) * 32 AS INTEGER), '.') AS padded,
         GREATEST(CAST(CEIL(LENGTH(text) / 32.0) AS INTEGER), 1) AS h
  FROM documents
),
flips AS (
  SELECT doc_id, op, 32 AS width, h AS height,
         CAST(SUM(
           ascii(substr(padded, CAST(src_r * 32 + src_c + 1 AS INTEGER), 1))
           * (r.i * 32 + c.i + 1)
         ) AS BIGINT) AS pos_checksum
  FROM sized,
       unnest(generate_series(0, h - 1)) AS r(i),
       unnest(generate_series(0, 31)) AS c(i),
       LATERAL (VALUES ('hflip'), ('vflip'), ('rot180')) AS o(op),
       LATERAL (SELECT CASE op WHEN 'hflip' THEN r.i ELSE h - 1 - r.i END AS src_r,
                       CASE op WHEN 'vflip' THEN c.i ELSE 31 - c.i END AS src_c) s
  GROUP BY doc_id, op, h
),
crop AS (
  SELECT doc_id, 'center_crop' AS op, 16 AS width,
         CAST(GREATEST(h // 2, 1) AS INTEGER) AS height,
         CAST(SUM(
           ascii(substr(padded,
                        CAST(((h - GREATEST(h // 2, 1)) // 2 + r.i) * 32 + (8 + c.i) + 1 AS INTEGER),
                        1))
           * (r.i * 16 + c.i + 1)
         ) AS BIGINT) AS pos_checksum
  FROM sized,
       unnest(generate_series(0, GREATEST(h // 2, 1) - 1)) AS r(i),
       unnest(generate_series(0, 15)) AS c(i)
  GROUP BY doc_id, h
)
SELECT doc_id AS media_id, op, width, height, pos_checksum FROM flips
UNION ALL
SELECT doc_id AS media_id, op, width, height, pos_checksum FROM crop
ORDER BY media_id, op
"""


MULTIMODAL_QUERIES = {
    "q_multimodal_features": q_multimodal_features,
    "q_multimodal_frame_sample": q_multimodal_frame_sample,
    "q_multimodal_audio_energy": q_multimodal_audio_energy,
    "q_image_decode_png": q_image_decode_png,
    "q_image_resize_png": q_image_resize_png,
    "q_image_augment": q_image_augment,
    "q_audio_augment": q_audio_augment,
    "q_video_augment": q_video_augment,
    "q_image_decode_palette": q_image_decode_palette,
    "q_image_decode_gif": q_image_decode_gif,
    "q_image_decode_tiff": q_image_decode_tiff,
    "q_image_decode_webp": q_image_decode_webp,
    "q_image_decode_webp_palette": q_image_decode_webp_palette,
    "q_image_decode_jpeg": q_image_decode_jpeg,
    "q_image_decode_jpeg_progressive": q_image_decode_jpeg_progressive,
    "q_video_frame_sample_y4m": q_video_frame_sample_y4m,
    "q_video_keyframes": q_video_keyframes,
    "q_audio_decode_wav": q_audio_decode_wav,
    "q_audio_decode_flac": q_audio_decode_flac,
    "q_audio_decode_aiff": q_audio_decode_aiff,
}
MULTIMODAL_ORACLES = {
    "q_multimodal_features": Q_MULTIMODAL_SQL,
    "q_multimodal_frame_sample": Q_FRAME_SAMPLE_SQL,
    "q_multimodal_audio_energy": Q_AUDIO_ENERGY_SQL,
    "q_image_decode_png": Q_IMAGE_DECODE_SQL,
    "q_image_resize_png": Q_IMAGE_RESIZE_SQL,
    "q_image_augment": Q_IMAGE_AUGMENT_SQL,
    "q_audio_augment": Q_AUDIO_AUGMENT_SQL,
    "q_video_augment": Q_VIDEO_AUGMENT_SQL,
    "q_image_decode_palette": Q_IMAGE_PALETTE_SQL,
    "q_image_decode_gif": Q_IMAGE_PALETTE_SQL,  # same pixels, different container
    "q_image_decode_tiff": Q_IMAGE_DECODE_SQL,  # same pixels as the PNG entry
    "q_image_decode_webp": Q_IMAGE_DECODE_SQL,  # same pixels as the PNG entry
    "q_image_decode_webp_palette": Q_IMAGE_PALETTE_SQL,  # same pixels as palette-PNG/GIF
    "q_image_decode_jpeg": Q_IMAGE_JPEG_SQL,
    "q_image_decode_jpeg_progressive": Q_IMAGE_JPEG_SQL,  # same pixels, same closed form
    "q_video_frame_sample_y4m": Q_Y4M_FRAME_SQL,
    "q_video_keyframes": Q_VIDEO_KEYFRAMES_SQL,
    "q_audio_decode_wav": Q_WAV_ENERGY_SQL,
    "q_audio_decode_flac": Q_WAV_ENERGY_SQL,  # same samples, different container
    "q_audio_decode_aiff": Q_WAV_ENERGY_SQL,  # same samples, different container
}
