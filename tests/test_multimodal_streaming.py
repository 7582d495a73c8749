"""Tests for the multimodal binary-column plumbing (Arrow mapInPandas
stages with deterministic fake codecs) and the Structured Streaming
variants (availableNow trigger into a memory sink, checked against the
identical batch aggregation)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from sparkbigdatatextanalysis_spark.functions.hashing import HASH_BASE, MERSENNE31
from sparkbigdatatextanalysis_spark.operators import multimodal as mm
from sparkbigdatatextanalysis_spark.sources import parquet_io as pio
from sparkbigdatatextanalysis_spark.streaming import aggregations as sagg

from conftest import sf_dir


def _media(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=0, text="hello world"), Row(doc_id=1, text="abc")]
    )
    return mm.docs_as_media(docs)


def _fold(payload: bytes) -> int:
    h = 0
    for b in payload:
        h = (h * HASH_BASE + b) % MERSENNE31
    return h


def test_media_schema(spark):
    m = _media(spark)
    assert [f.name for f in m.schema.fields] == ["media_id", "kind", "payload", "meta"]
    assert m.schema["payload"].dataType.simpleString() == "binary"
    meta = dict(m.first()["meta"].asDict())
    assert set(meta) == {"mime", "width", "height", "sample_rate", "n_frames"}


def test_decode_features_deterministic_fake(spark):
    rows = {r["media_id"]: r for r in mm.decode_features(_media(spark)).collect()}
    assert rows[0]["n_bytes"] == len(b"hello world")
    assert rows[0]["mean_byte"] == pytest.approx(sum(b"hello world") / 11)
    assert rows[0]["byte_hash"] == _fold(b"hello world")
    assert rows[1]["byte_hash"] == _fold(b"abc")


def test_resize_contract_payload_size(spark):
    out = mm.resize_images(_media(spark), width=4, height=3).collect()
    for r in out:
        assert len(r["payload"]) == 12
        assert (r["width"], r["height"]) == (4, 3)
    # doc1 "abc" -> right-padded with zeros
    r1 = next(r for r in out if r["media_id"] == 1)
    assert bytes(r1["payload"]) == b"abc" + b"\x00" * 9


@pytest.mark.skipif(not mm.HAVE_PIL, reason="PIL not installed in this env")
def test_resize_real_pil_branch(spark):  # pragma: no cover - PIL absent here
    """With PIL present, a real encoded image resizes through the codec
    and still satisfies the width*height payload contract."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("L", (8, 8), color=200).save(buf, format="PNG")
    media = spark.createDataFrame(
        [Row(media_id=0, payload=bytearray(buf.getvalue()))]
    )
    out = mm.resize_images(media, width=4, height=3).collect()
    assert len(out) == 1
    assert len(out[0]["payload"]) == 12
    assert all(b == 200 for b in out[0]["payload"])


def test_sample_frames_every_nth(spark):
    docs = spark.createDataFrame([Row(doc_id=7, text="x" * 100)])
    out = mm.sample_frames(
        mm.docs_as_media(docs), frame_bytes=16, every_n=4
    ).collect()
    # 100 bytes -> 7 frames (0..6), every 4th -> frames 0 and 4
    assert sorted(r["frame_idx"] for r in out) == [0, 4]
    full = next(r for r in out if r["frame_idx"] == 0)
    assert full["frame_hash"] == _fold(b"x" * 16)
    tail = next(r for r in out if r["frame_idx"] == 4)
    assert tail["frame_hash"] == _fold(b"x" * 16)


# --- streaming -------------------------------------------------------------


@pytest.fixture(scope="module")
def events_path() -> str:
    return f"{sf_dir('0.001')}/events.parquet"


@pytest.fixture(scope="module")
def events_stream_dir(spark, events_path, tmp_path_factory) -> str:
    """Rewrite the events into a plain-TIMESTAMP parquet directory --
    the shape a real file stream ingests (handles both the old
    TIMESTAMP(NANOS) and current timestamp[us] source encodings)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    d = str(tmp_path_factory.mktemp("events_stream"))
    raw = pio.normalize_event_ts(spark.read.parquet(events_path))
    raw.coalesce(2).write.mode("overwrite").parquet(d)
    return d


def test_stream_windowed_events_matches_batch(spark, events_stream_dir):
    batch = spark.read.parquet(events_stream_dir)
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in sagg.windowed_event_stats(batch).collect()
    }

    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    assert stream.isStreaming
    q = (
        sagg.windowed_event_stats(stream.withWatermark("ts", "2 hours"))
        .writeStream.format("memory")
        .queryName("ev_win")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM ev_win").collect()
    }
    assert got == expected


def test_sliding_window_overlap(spark, events_stream_dir):
    batch = spark.read.parquet(events_stream_dir)
    n_events = batch.count()
    out = sagg.sliding_user_activity(batch)
    # each event is counted in exactly window/slide = 2 windows
    assert out.agg(F.sum("n_events")).first()[0] == 2 * n_events


def test_average_hash_matches_numpy_reference(spark):
    """aHash vs a straight-line numpy reference over the same fake-resize
    contract (crop/pad to 64 bytes, bit = pixel > mean)."""
    import numpy as np

    payloads = [
        (1, b"abcdefgh" * 10),          # cropped to 64
        (2, b"ab"),                      # padded with zeros
        (3, bytes(range(64))),           # exact size
        (4, b""),                        # all padding -> hash 0
    ]
    media = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads], "media_id LONG, payload BINARY"
    )
    got = {r["media_id"]: (r["sim_hi"], r["sim_lo"])
           for r in mm.average_hash(media).collect()}
    for mid, p in payloads:
        px = np.frombuffer(p[:64].ljust(64, b"\x00"), dtype=np.uint8)
        bits = px > px.mean()
        sig = sum(int(b) << i for i, b in enumerate(bits))
        assert got[mid] == (sig >> 32, sig & 0xFFFFFFFF), mid
    assert got[4] == (0, 0)


def test_media_near_dup_finds_perturbed_copy(spark):
    """A payload and a lightly perturbed copy land within Hamming<=3 and
    must be found; an unrelated payload must not pair with them."""
    base = bytes((i * 37) % 251 for i in range(64))
    # flip one pixel across the mean boundary -> small Hamming change
    perturbed = bytearray(base)
    perturbed[5] = 255 if base[5] < 128 else 0
    other = bytes((i * 91 + 13) % 256 for i in range(64))
    media = spark.createDataFrame(
        [(1, bytearray(base)), (2, perturbed), (3, bytearray(other))],
        "media_id LONG, payload BINARY",
    )
    pairs = {(r["a_id"], r["b_id"]): r["hamming"]
             for r in mm.media_near_dup_pairs(media, max_hamming=3).collect()}
    assert (1, 2) in pairs
    assert all(k == (1, 2) for k in pairs)


def test_media_near_dup_self_consistent_on_corpus(spark):
    """On the synthetic corpus the operator runs end-to-end and every
    emitted pair respects the Hamming bound (and is ordered/distinct)."""
    docs = spark.read.parquet(f"{sf_dir('0.001')}/documents.parquet").limit(200)
    pairs = mm.media_near_dup_pairs(
        mm.docs_as_media(docs), max_hamming=3
    ).collect()
    seen = set()
    for r in pairs:
        assert r["a_id"] < r["b_id"]
        assert r["hamming"] <= 3
        assert (r["a_id"], r["b_id"]) not in seen
        seen.add((r["a_id"], r["b_id"]))


# --- the PNM real-codec resize path ------------------------------------------


def _pgm(w, h, px):
    return b"P5\n%d %d\n255\n" % (w, h) + bytes(px)


def _ppm(w, h, rgb):
    return b"P6 %d %d 255\n" % (w, h) + bytes(rgb)


def test_parse_pnm_goldens():
    import numpy as np

    img = mm.parse_pnm(_pgm(3, 2, [0, 10, 20, 30, 40, 50]))
    assert img.shape == (2, 3) and img.tolist() == [[0, 10, 20], [30, 40, 50]]
    # PPM collapses to integer BT.601 luma
    rgb = [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255]
    img = mm.parse_pnm(_ppm(2, 2, rgb))
    assert img.tolist() == [
        [299 * 255 // 1000, 587 * 255 // 1000],
        [114 * 255 // 1000, 255],
    ]
    # header comments are skipped
    commented = b"P5 # a comment\n2 2 # dims\n255\n" + bytes([1, 2, 3, 4])
    assert mm.parse_pnm(commented).tolist() == [[1, 2], [3, 4]]
    # malformed inputs: wrong magic, short raster, maxval > 255
    assert mm.parse_pnm(b"P4\n2 2\n255\n....") is None
    assert mm.parse_pnm(_pgm(4, 4, range(15))) is None
    assert mm.parse_pnm(b"P5\n2 2\n65535\n" + bytes(8)) is None
    assert mm.parse_pnm(b"") is None


def test_resize_decodes_pnm_and_falls_back_per_row(spark):
    """The resize stage REALLY decodes PNM payloads (nearest-neighbor,
    PIL center convention) while opaque bytes in the same batch still
    take the crop/pad fake -- per-row degrade-don't-fail."""
    import numpy as np

    # 4x4 gradient PGM -> 2x2 nearest picks src index floor((d+.5)*2)=1,3
    px = list(range(0, 160, 10))
    pgm = _pgm(4, 4, px)
    blob = bytes(range(7))
    media = spark.createDataFrame(
        [(1, bytearray(pgm)), (2, bytearray(blob))],
        "media_id LONG, payload BINARY",
    )
    out = {r["media_id"]: r for r in mm.resize_images(media, 2, 2).collect()}
    src = np.array(px, dtype=np.uint8).reshape(4, 4)
    assert bytes(out[1]["payload"]) == src[np.ix_([1, 3], [1, 3])].tobytes()
    assert bytes(out[2]["payload"]) == blob[:4]
    assert all(r["width"] == 2 and r["height"] == 2 for r in out.values())


def test_ahash_invariant_across_pnm_encodings(spark):
    """The SAME image shipped as PGM and as gray PPM must produce the
    SAME aHash signature -- the decode path, not the container bytes,
    defines perceptual identity (the property the fake-codec path
    cannot give)."""
    import numpy as np

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(16, 16), dtype=np.uint8)
    pgm = _pgm(16, 16, img.flatten().tolist())
    # gray PPM: R=G=B -> integer luma = the same gray value
    rgb = np.repeat(img.flatten(), 3)
    ppm = _ppm(16, 16, rgb.tolist())
    assert bytes(pgm) != bytes(ppm)
    media = spark.createDataFrame(
        [(1, bytearray(pgm)), (2, bytearray(ppm))],
        "media_id LONG, payload BINARY",
    )
    sigs = {r["media_id"]: (r["sim_hi"], r["sim_lo"])
            for r in mm.average_hash(media).collect()}
    assert sigs[1] == sigs[2]
    # and the near-dup operator pairs the two encodings at Hamming 0
    pairs = {(r["a_id"], r["b_id"]): r["hamming"]
             for r in mm.media_near_dup_pairs(media).collect()}
    assert pairs == {(1, 2): 0}
