"""Multimodal (image/audio/video) column plumbing.

Media rides through the engine as opaque ``BINARY`` payload columns with a
typed metadata struct -- the layout large training pipelines use so media
bytes shuffle/partition like any other column while metadata stays
predicate-pushdown-friendly. Decode / feature-extraction / resize /
frame-sampling run as Arrow-batched ``mapInPandas`` stages: Python is
unavoidable for codecs, so the batch boundary (not per-row UDFs) is the
scale-relevant design.

Real codecs (PIL / torchaudio / ffmpeg) are NOT available in this
environment. Each stage therefore gates the real decode behind an
import-try and otherwise applies a documented DETERMINISTIC byte-level
fake (stats and hashes over raw payload bytes), keeping the Spark-side
contract -- schemas, batch shapes, partitioning -- real and testable, and
(for ASCII payloads) exactly mirrorable in the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

if TYPE_CHECKING:
    import pandas as pd

from ..functions.hashing import HASH_BASE, MERSENNE31

try:  # real image codec, absent in this container
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

# Serialize this module's functions by value so mapInPandas workers do not
# need the package importable on their own sys.path (executor Python
# workers inherit neither the driver's sys.path edits nor its cwd).
from ..serde import ship_by_value

ship_by_value(__name__)


def _byte_fold(payload: bytes) -> int:
    h = 0
    for b in payload:
        h = (h * HASH_BASE + b) % MERSENNE31
    return h


def docs_as_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Adapter: treat a text table as a media table (payload = UTF-8
    bytes) so the multimodal plumbing is exercisable on the synthetic
    corpus. Real pipelines read (id, payload, meta) parquet directly."""
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


DECODE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType()),
        StructField("mean_byte", DoubleType()),
        StructField("byte_hash", LongType()),
    ]
)


def decode_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature-extract stage -> (media_id, n_bytes,
    mean_byte, byte_hash).

    With a real codec this is where pixels/samples would be decoded; the
    deterministic fallback computes byte-level statistics, which double
    as an oracle-checkable contract for the mapInPandas plumbing.
    """

    def _batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "mean_byte": payloads.map(
                        lambda p: float(sum(p)) / len(p) if len(p) else 0.0
                    ),
                    "byte_hash": payloads.map(_byte_fold).astype("int64"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        _batches, DECODE_FEATURES_SCHEMA
    )


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def parse_pnm(payload: bytes):
    """Decode a binary PGM (``P5``) / PPM (``P6``) payload to an HxW
    uint8 GRAYSCALE numpy array, or return None if the bytes are not a
    well-formed single-byte-maxval PNM image (wrong magic, malformed
    header, maxval > 255, or a payload/raster size mismatch).

    PNM is the simplest open raster family (plain header + raw bytes),
    so this is a REAL codec in ~30 lines of numpy -- no imaging
    library. PPM color collapses to luma with integer BT.601 weights
    ((299R + 587G + 114B) // 1000), exactly reproducible anywhere.
    """
    import numpy as np

    if not (payload[:2] in (b"P5", b"P6")):
        return None
    # header = magic, width, height, maxval as whitespace-separated
    # tokens with '#' comments; ONE whitespace byte then the raster
    i, toks = 2, []
    n = len(payload)
    while len(toks) < 3 and i < n:
        c = payload[i : i + 1]
        if c == b"#":
            while i < n and payload[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        elif c.isdigit():
            j = i
            while j < n and payload[j : j + 1].isdigit():
                j += 1
            toks.append(int(payload[i:j]))
            i = j
        else:
            return None
    if len(toks) < 3 or i >= n or not payload[i : i + 1].isspace():
        return None
    w, h, maxval = toks
    i += 1  # the single whitespace separating header from raster
    if w <= 0 or h <= 0 or not (0 < maxval <= 255):
        return None
    ch = 1 if payload[:2] == b"P5" else 3
    if n - i != w * h * ch:
        return None
    px = np.frombuffer(payload, dtype=np.uint8, count=w * h * ch, offset=i)
    if ch == 1:
        return px.reshape(h, w)
    rgb = px.reshape(h, w, 3).astype(np.int32)
    return (
        (299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2]) // 1000
    ).astype(np.uint8)


def _nearest_resize(img, width: int, height: int) -> bytes:
    """Nearest-neighbor resample to (height, width), PIL's center
    convention (src = floor((dst + 0.5) * scale)) so the real-PIL
    branch and this one agree on the same input."""
    import numpy as np

    h, w = img.shape
    ys = np.minimum(((np.arange(height) + 0.5) * (h / height)).astype(int), h - 1)
    xs = np.minimum(((np.arange(width) + 0.5) * (w / width)).astype(int), w - 1)
    return img[np.ix_(ys, xs)].tobytes()


def resize_images(media: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Resize stage: output payload is always exactly ``width*height``
    bytes (the contract every branch preserves).

    Three branches, best codec first, per row:

    * PIL importable (absent in this container): decode anything PIL
      reads, 8-bit grayscale, nearest-neighbor (deterministic across
      PIL versions, unlike antialiased kernels).
    * PNM payloads (``P5`` grayscale / ``P6`` color): REAL decode via
      :func:`parse_pnm` + the same center-convention nearest-neighbor
      resample -- a genuine library-free codec path, so the stage is
      fully real for uncompressed rasters even in codec-less
      environments.
    * anything else: the deterministic byte-level fake (crop/right-pad
      to width*height), so a mixed batch of images and opaque blobs
      still yields one row per input -- the per-row degrade-don't-fail
      policy a production decode stage needs.
    """

    def _resize_real(p: bytes, target: int) -> bytes:  # pragma: no cover
        import io

        from PIL import Image

        try:
            with Image.open(io.BytesIO(bytes(p))) as im:
                return im.convert("L").resize(
                    (width, height), Image.NEAREST
                ).tobytes()
        except Exception:
            return bytes(p[:target]).ljust(target, b"\x00")

    def _batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        target = width * height

        def base(p: bytes) -> bytes:
            if HAVE_PIL:  # pragma: no cover - codec not in this container
                return _resize_real(p, target)
            img = parse_pnm(bytes(p))
            if img is not None:
                return _nearest_resize(img, width, height)
            return bytes(p[:target]).ljust(target, b"\x00")

        # NULL payload -> zero-filled thumbnail, keeping the per-row
        # degrade-don't-fail policy (bytes(None) would throw away the
        # whole Arrow batch) and the exactly-width*height contract.
        fn = lambda p: base(p) if p is not None else b"\x00" * target  # noqa: E731
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "payload": pdf["payload"].map(fn),
                    "width": width,
                    "height": height,
                }
            )

    return media.select("media_id", "payload").mapInPandas(_batches, RESIZE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_hash", LongType()),
    ]
)


def sample_frames(
    media: DataFrame, frame_bytes: int = 16, every_n: int = 4
) -> DataFrame:
    """Video frame-sampling stage: split the payload into fixed-size fake
    frames, keep every n-th, emit a per-frame content hash. Exploding
    inside mapInPandas keeps the fan-out on executors (one input batch ->
    many output rows) exactly like a real frame extractor."""

    def _batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            ids, idxs, hashes = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:  # NULL media -> zero frames, not a crash
                    continue
                n_frames = (len(payload) + frame_bytes - 1) // frame_bytes
                for fi in range(0, n_frames, every_n):
                    ids.append(int(mid))
                    idxs.append(fi)
                    hashes.append(_byte_fold(payload[fi * frame_bytes : (fi + 1) * frame_bytes]))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_hash": pd.Series(hashes, dtype="int64"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(_batches, FRAME_SCHEMA)


AHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sim_hi", LongType()),
        StructField("sim_lo", LongType()),
    ]
)


def average_hash(media: DataFrame, grid: int = 8) -> DataFrame:
    """64-bit perceptual average hash (aHash) per media row: resize to a
    ``grid x grid`` grayscale thumbnail (via :func:`resize_images`, so
    the real-PIL and deterministic-fake branches share one contract),
    then bit i = pixel_i > mean(pixels), packed row-major into two
    32-bit halves (sim_hi, sim_lo) -- the exact signature shape of
    ``dedup.simhash_signatures``, so the text SimHash candidate
    machinery applies to media unchanged.

    The hash math is vectorized numpy over each Arrow batch; at scale
    the stage is map-only (one pass, no shuffle) and the signature table
    it emits is 3 longs per asset.
    """
    if grid * grid != 64:
        raise ValueError("average_hash: grid*grid must be 64 (one bit per pixel)")
    resized = resize_images(media, width=grid, height=grid)

    def _batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in it:
            px = np.frombuffer(
                b"".join(bytes(p) for p in pdf["payload"]), dtype=np.uint8
            ).reshape(len(pdf), 64)
            means = px.mean(axis=1, keepdims=True)
            bits = (px > means).astype(np.uint64)
            weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
            sig = (bits * weights).sum(axis=1, dtype=np.uint64)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "sim_hi": (sig >> np.uint64(32)).astype("int64"),
                    "sim_lo": (sig & np.uint64(0xFFFFFFFF)).astype("int64"),
                }
            )

    return resized.mapInPandas(_batches, AHASH_SCHEMA)


def media_near_dup_pairs(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Perceptual near-dup media pairs: aHash signatures bucketed by the
    SAME 4x16-bit chunk pigeonhole as text SimHash (every pair within
    Hamming <= 3 shares an exact chunk), exact Hamming filter on the
    candidates. Returns (a_id, b_id, hamming).

    One map-only signature pass + the bounded-bucket candidate equi-join
    -- the multimodal arm of the dedup family, never an all-pairs
    compare."""
    from .dedup import simhash_near_pairs

    if max_hamming > 3:
        # 4 chunks pigeonhole-guarantee candidates only up to Hamming 3;
        # a larger threshold would silently miss pairs whose differing
        # bits spread across all chunks.
        raise ValueError(
            "media_near_dup_pairs: max_hamming > 3 exceeds the 4-chunk "
            "candidate guarantee; use more/narrower chunks for a wider radius"
        )

    sigs = average_hash(media).select(
        F.col("media_id").alias("id"), "sim_hi", "sim_lo"
    )
    return simhash_near_pairs(sigs).where(F.col("hamming") <= max_hamming)
