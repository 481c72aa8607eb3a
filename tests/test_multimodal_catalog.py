import pytest

from pygr_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    MEDIA_SCHEMA,
    extract_features,
    frame_sample_plan,
)
from pygr_spark.plans.catalog import Catalog, SchemaEdge


def _media(spark):
    rows = [
        (1, "image", "image/png", b"\x89PNGfake1", {"src": "a"}),
        (2, "audio", "audio/wav", b"RIFFfake2", {"src": "b"}),
        (3, "video", "video/mp4", b"ftypfake3", {}),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features(spark):
    out = {r.media_id: r for r in extract_features(_media(spark)).collect()}
    assert set(out) == {1, 2, 3}
    img = out[1]
    assert img.width and img.height and img.duration_ms is None
    assert len(img.feature) == 8 and all(0 <= x <= 1 for x in img.feature)
    assert len(img.sha256) == 64
    # deterministic: same payload → same features
    again = {r.media_id: r for r in extract_features(_media(spark)).collect()}
    assert again[1].feature == img.feature
    assert out[2].duration_ms is not None


def test_extract_features_unknown_kind(spark):
    bad = spark.createDataFrame(
        [(9, "hologram", "x/y", b"zz", {})], MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="hologram"):
        extract_features(bad).collect()


def test_resize_images(spark):
    from pygr_spark.operators.multimodal import _fake_image_resize, resize_images

    out = {r.media_id: r for r in resize_images(_media(spark), 32, 24).collect()}
    assert len(out) == 3
    # image row re-encoded + annotated; others untouched
    assert bytes(out[1].payload) == _fake_image_resize(b"\x89PNGfake1", 32, 24)
    assert out[1].meta["resized"] == "32x24" and out[1].meta["src"] == "a"
    assert bytes(out[2].payload) == b"RIFFfake2" and "resized" not in out[2].meta
    # schema is closed under the transform: stages compose
    resized_feats = extract_features(resize_images(_media(spark), 32, 24))
    assert resized_feats.count() == 3


def test_frame_sample_plan(spark):
    out = frame_sample_plan(_media(spark)).collect()
    assert len(out) > 0
    assert all(r.frame_ts_ms % 1000 == 0 for r in out)
    assert {r.media_id for r in out} == {3}


def test_feature_schema_stable(spark):
    df = extract_features(_media(spark))
    assert df.schema == FEATURE_SCHEMA


def test_catalog(spark):
    cat = Catalog()
    seqs = spark.createDataFrame([("s1", "acgt")], ["id", "seq"])
    annots = spark.createDataFrame([("X", "s1", 0, 2)], ["annot_id", "seq_id", "start", "stop"])
    cat.add_resource("Bio.Seq.Test", seqs)
    cat.add_resource("Bio.Annotation.Test", lambda: annots)
    assert cat.dir("Bio.") == ["Bio.Annotation.Test", "Bio.Seq.Test"]
    assert cat("Bio.Seq.Test").count() == 1

    cat.add_schema(
        SchemaEdge(
            source="Bio.Annotation.Test",
            attr="sequence",
            target="Bio.Seq.Test",
            relation="many:one",
            source_key="seq_id",
            target_key="id",
        )
    )
    j = cat.auto_join("Bio.Annotation.Test", "sequence")
    row = j.collect()[0]
    assert row.annot_id == "X" and row.seq == "acgt"

    with pytest.raises(KeyError):
        cat("Nope")
    with pytest.raises(KeyError):
        cat.auto_join("Bio.Seq.Test", "nothing")


def test_synth_containers_are_valid():
    """synth_bmp/synth_wav emit genuinely parseable containers."""
    import io
    import struct
    import wave

    from pygr_spark.operators.multimodal import synth_bmp, synth_wav

    bmp = synth_bmp(b"seed", width=10, height=6)
    assert bmp[:2] == b"BM"
    (file_size,) = struct.unpack_from("<I", bmp, 2)
    assert file_size == len(bmp)
    w, h = struct.unpack_from("<ii", bmp, 18)
    assert (w, h) == (10, 6)

    wav = synth_wav(b"seed", n_samples=1234)
    with wave.open(io.BytesIO(wav)) as f:
        assert f.getframerate() == 8000
        assert f.getnframes() == 1234
        assert f.getsampwidth() == 2 and f.getnchannels() == 1


def test_real_audio_decode_true_duration():
    """The real audio decoder (soundfile or stdlib wave) reports the
    TRUE duration of the generated WAV, not the fake's hash value."""
    from pygr_spark.operators.multimodal import _real_audio_decode, synth_wav

    wav = synth_wav(b"hello", n_samples=4000)
    out = _real_audio_decode(wav)
    assert out["duration_ms"] == 500  # 4000 samples @ 8 kHz
    assert out["width"] is None and out["height"] is None
    assert len(out["feature"]) == 8
    assert all(0.0 <= x <= 1.0 for x in out["feature"])


def test_default_decoders_registry():
    """Audio is always real (stdlib wave fallback); image is real only
    with PIL; video stays the documented fake."""
    from pygr_spark.operators import multimodal as mm

    d = mm.default_decoders()
    assert d["audio"] is mm._real_audio_decode
    assert d["video"] is mm._fake_video_decode
    try:
        import PIL.Image  # noqa: F401

        assert d["image"] is mm._real_image_decode
    except ImportError:
        assert d["image"] is mm._bmp_struct_decode


def test_bmp_struct_decode_roundtrip():
    """The stdlib BMP parse recovers exactly the geometry synth_bmp
    wrote into the header (decoder-independence of the metadata
    columns — the basis of media_real_decode's oracle), and the
    8-band grayscale feature is bounded and width-sensitive."""
    import hashlib

    from pygr_spark.operators.multimodal import _bmp_struct_decode, synth_bmp

    for seed in (b"alpha", b"", b"some longer document text 123"):
        h = hashlib.sha256(seed).digest()
        out = _bmp_struct_decode(synth_bmp(seed))
        assert out["width"] == 8 + h[0] % 8
        assert out["height"] == 8 + h[1] % 8
        assert out["duration_ms"] is None
        assert len(out["feature"]) == 8
        assert all(0.0 <= f <= 1.0 for f in out["feature"])
    # explicit geometry (incl. a stride-padded width) round-trips too
    out = _bmp_struct_decode(synth_bmp(b"x", width=10, height=3))
    assert (out["width"], out["height"]) == (10, 3)
    import pytest

    with pytest.raises(ValueError, match="not a BMP"):
        _bmp_struct_decode(b"PNG not really")


def test_media_real_decode_pipeline(spark, sf_dir):
    """End-to-end: synthesize valid containers on executors, decode
    with the environment's best decoders; audio rows carry the true
    WAV duration (n = 200 + sha256(text)[2:4] % 800 samples @ 8 kHz)."""
    import hashlib

    from pygr_spark.queries import QUERIES

    rows = QUERIES["media_real_decode"](spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    text = {r.doc_id: r.text for r in docs}
    assert len(rows) == len(docs)
    audio = [r for r in rows if r.kind == "audio"]
    assert audio
    for r in audio[:20]:
        h = hashlib.sha256(text[r.media_id].encode()).digest()
        n = 200 + int.from_bytes(h[2:4], "big") % 800
        assert r.duration_ms == n * 1000 // 8000
        assert r.feat_dim == 8
