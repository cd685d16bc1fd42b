"""IO (CSV/JSONL/XML/Kafka-shape) and multimodal-plumbing tests."""

from __future__ import annotations

import json
import re
import xml.etree.ElementTree as ET

import pytest
from pyspark.sql import functions as F

from scipi_spark import ingest
from scipi_spark.operators import multimodal as mm
from scipi_spark.schemas import DBLP_RAW_SCHEMA
from scipi_spark.sources import io
from tests.oracle import executed_plan


def test_write_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", ["x", "y"], 1), ("b", ["z"], 2)],
        "name string, tags array<string>, n long",
    )
    path = str(tmp_path / "out")
    io.write_csv(df, path)
    back = spark.read.option("header", "true").csv(path)
    got = {(r["name"], r["tags"], int(r["n"])) for r in back.collect()}
    assert got == {("a", "x|y", 1), ("b", "z", 2)}


def test_jsonl_roundtrip_through_ingest(spark, tmp_path):
    df = spark.createDataFrame(
        [("10.1", "A Title", "acm", "en", "2001", ["kw"], ["Alice"], ["cs"])],
        "doi string, title string, publisher string, lang string, year string,"
        " keywords array<string>, authors array<string>, fos array<string>",
    )
    path = str(tmp_path / "pubs")
    io.write_jsonl(df, path)
    raw = io.read_jsonl(spark, path)
    # DBLP-shaped authors are plain strings; reuse OAG path with struct mapping
    parsed = raw.select(F.from_json("value", "doi string, title string").alias("j"))
    assert parsed.select("j.doi").collect()[0][0] == "10.1"


DBLP_XML = """<?xml version="1.0"?>
<dblp>
  <article key="journals/x/1">
    <author>Jane Roe</author><author>John Doe</author>
    <title>Learning Things</title>
    <journal>JMLR</journal>
    <year>2012</year>
    <cite>journals/y/2</cite><cite>...</cite>
  </article>
  <inproceedings key="conf/z/3">
    <author>Solo Author</author>
    <title>Conf Paper</title>
    <booktitle>KDD</booktitle>
    <year>2015</year>
    <publisher>ACM</publisher>
  </inproceedings>
  <article key="journals/x/4">
    <title>No Year So Dropped</title>
    <journal>JMLR</journal>
  </article>
</dblp>
"""


def test_dblp_xml_ingest_end_to_end(spark, tmp_path):
    xml_file = tmp_path / "dblp.xml"
    xml_file.write_text(DBLP_XML)
    raw = io.read_dblp_xml(spark, str(xml_file))
    assert raw.count() == 2  # record without year/conference dropped

    # producer shape -> kafka json -> consumer parse+validate (full S9->P2->P5)
    kafka_shaped = io.to_kafka_json(raw, key_col="key")
    assert set(kafka_shaped.columns) == {"key", "value"}
    pubs = ingest.ingest_dblp(kafka_shaped)
    got = {r["doi"]: r for r in pubs.collect()}
    assert set(got) == {"journalsx1", "confz3"}
    assert got["journalsx1"]["venue"] == "jmlr"
    assert got["journalsx1"]["authors"] == ["jane roe", "john doe"]
    assert got["confz3"]["publisher"] == "acm"


def _dblp_record(i: int) -> str:
    extra = "<publisher>ACM</publisher>" if i % 3 == 0 else ""
    return (
        f'<article key="journals/x/{i}">'
        f"<author>Author {i}</author><author>Shared Coauthor</author>"
        f"<title>Paper {i}</title><journal>J{i % 4}</journal>"
        f"<year>{2000 + i % 20}</year>{extra}</article>"
    )


def _oracle_rows(path) -> list[tuple]:
    """``iter_dblp_records`` rows as sorted tuples in DBLP_RAW_SCHEMA order."""
    cols = [f.name for f in DBLP_RAW_SCHEMA.fields]
    return sorted(tuple(r[c] for c in cols) for r in io.iter_dblp_records(str(path)))


def test_dblp_xml_distributed_matches_single_jvm(spark, tmp_path):
    records = [_dblp_record(i) for i in range(30)]
    # single file with every record
    single = tmp_path / "dblp_all.xml"
    single.write_text("<dblp>" + "".join(records) + "</dblp>")
    # the same records split at record boundaries into 3 rooted chunks
    chunks = tmp_path / "chunks"
    chunks.mkdir()
    for ci in range(3):
        (chunks / f"chunk{ci}.xml").write_text(
            "<dblp>" + "".join(records[ci * 10 : (ci + 1) * 10]) + "</dblp>"
        )

    want = _oracle_rows(single)
    got = sorted(
        map(
            tuple,
            io.read_dblp_xml_distributed(
                spark, str(chunks / "chunk*.xml")
            ).collect(),
        )
    )
    assert got == want and len(got) == 30
    with pytest.raises(FileNotFoundError, match="nomatch"):
        io.read_dblp_xml_distributed(spark, str(chunks / "nomatch*.xml"))


#: one edge case per record, named by its key
DBLP_EDGE_XML = """<?xml version="1.0"?>
<dblp>
<article key="e/amp"><author>Jane &amp; Roe</author><title>A &lt;b&gt; &amp; C</title><journal>J</journal><year>2001</year></article>
<article key="e/novenue"><author>X</author><title>Dropped</title><year>2001</year></article>
<article key="e/cite"><author>X</author><title>Cites</title><journal>J</journal><year>2001</year><cite>...</cite><cite>e/amp</cite></article>
<article key="e/orcid"><author orcid="0000-0001">Orc Id</author><author></author><title>Orcid</title><journal>J</journal><year>2002</year></article>
<article key="e/space"><author>X</author><title>  Spaced title  </title><journal>J</journal><year>2003</year></article>
<inproceedings key="e/both"><author>X</author><title>Both</title><journal>JOURNAL</journal><booktitle>BOOKTITLE</booktitle><year>2004</year></inproceedings>
<phdthesis key="e/inline"><author>X</author><title>Thesis <i>with</i> H<sub>2</sub>O &lt;i&gt; kept</title><journal>J</journal><year>2005</year><publisher>ACM</publisher></phdthesis>
</dblp>
"""


def test_dblp_xml_edge_cases_match_oracle(spark, tmp_path):
    """The JVM reader against the iterparse oracle, one edge case per
    record, plus a zero-byte file that must hold no records."""
    (tmp_path / "edge.xml").write_text(DBLP_EDGE_XML)
    (tmp_path / "empty.xml").write_text("")
    got = sorted(map(tuple, io.read_dblp_xml(spark, str(tmp_path / "*.xml")).collect()))
    assert got == _oracle_rows(tmp_path / "edge.xml")
    rows = {r[0]: r for r in got}
    assert set(rows) == {"e/amp", "e/cite", "e/orcid", "e/space", "e/both", "e/inline"}
    assert rows["e/amp"][1] == "A <b> & C" and rows["e/amp"][5] == ["Jane & Roe"]
    assert rows["e/cite"][6] == ["e/amp"]
    assert rows["e/orcid"][5] == ["Orc Id"]
    assert rows["e/space"][1] == "  Spaced title  "
    assert rows["e/both"][3] == "BOOKTITLE"
    assert rows["e/inline"][1] == "Thesis with H2O <i> kept"


def test_dblp_xml_undeclared_entity_drops_one_record(spark, tmp_path):
    """DBLP's DTD entities (``&uuml;``) are not declared without
    ``dblp.dtd``: the JVM reader drops only the record that holds one,
    while iterparse rejects the whole file. No parity is claimed."""
    xml = tmp_path / "entity.xml"
    xml.write_text(
        "<dblp>"
        + _dblp_record(1)
        + '<article key="e/uml"><author>J&uuml;rgen</author><title>T</title>'
        "<journal>J</journal><year>2001</year></article>"
        + _dblp_record(2)
        + "</dblp>"
    )
    got = io.read_dblp_xml(spark, str(xml)).collect()
    assert sorted(r["key"] for r in got) == ["journals/x/1", "journals/x/2"]
    with pytest.raises(ET.ParseError, match="undefined entity"):
        list(io.iter_dblp_records(str(xml)))


def test_dblp_xml_reader_plan_is_jvm_only(spark, tmp_path):
    """One from_xml per plan, also under a downstream filter (the inline
    barrier), and no Python node anywhere."""
    (tmp_path / "a.xml").write_text(
        "<dblp>" + "".join(_dblp_record(i) for i in range(10)) + "</dblp>"
    )
    df = io.read_dblp_xml_distributed(spark, str(tmp_path / "*.xml"))
    for q in (df, df.filter("year = '2001'")):
        q.collect()
        plan = executed_plan(q)
        assert plan.count("from_xml") == 1, plan
        for node in ("EvalPython", "MapInPandas", "MapInArrow", "PythonUDF"):
            assert node not in plan, plan


def test_dblp_xml_chunks_write_read_roundtrip(spark, tmp_path):
    """write_dblp_xml_chunks -> files iterparse can read, at most
    records_per_chunk records each, with XML-invalid control characters
    stripped; the reader returns the input after the producer rule."""
    rows = [
        (
            f"k/{i}\x01",
            f"Title\x00 {i} & <b>",
            "" if i % 5 == 0 else str(2000 + i),
            None if i % 7 == 0 else f"Venue\x0b{i % 3}",
            "ACM" if i % 2 else None,
            [f"Author {i}", "Co\x1fauthor"],
            [f"c/{i}"],
        )
        for i in range(23)
    ]
    df = spark.createDataFrame(rows, DBLP_RAW_SCHEMA).repartition(3)
    out = tmp_path / "chunks"
    assert io.write_dblp_xml_chunks(df, str(out), records_per_chunk=4) is None

    def clean(v):
        if isinstance(v, list):
            return [clean(x) for x in v]
        return v if v is None else re.sub("[\x00-\x08\x0b\x0c\x0e-\x1f]", "", v)

    want = sorted(
        tuple(clean(v) for v in r) for r in rows if r[2] and r[3] is not None
    )
    files = sorted(out.glob("*.xml"))
    oracle = []
    for f in files:
        if not f.stat().st_size:
            continue
        text = f.read_text()
        assert not re.search("[\x00-\x08\x0b\x0c\x0e-\x1f]", text)
        assert len(ET.parse(f).getroot()) <= 4
        oracle += _oracle_rows(f)
    assert sorted(oracle) == want
    got = sorted(map(tuple, io.read_dblp_xml(spark, str(out / "*.xml")).collect()))
    assert got == want and len(got) == 15

    # an empty frame leaves one zero-byte part file, which reads as no records
    empty = tmp_path / "empty"
    io.write_dblp_xml_chunks(df.limit(0), str(empty), records_per_chunk=4)
    assert [f.stat().st_size for f in empty.glob("*.xml")] == [0]
    assert io.read_dblp_xml(spark, str(empty / "*.xml")).count() == 0


def _media_df(spark):
    rows = [
        (1, "image", "png", b"\x89PNGfake1", (64, 48, 3, None, None)),
        (2, "image", "png", b"\x89PNGfake2", (32, 32, 1, None, None)),
        (3, "video", "mp4", b"\x00mp4fake", (640, 480, 3, None, 3500)),
        (4, "audio", "wav", None, (None, None, 1, 16000, 2000)),
    ]
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)


def test_default_decoder_rejects_compressed_formats(spark):
    """The default extract_features decoder is the REAL decode_image,
    which still refuses compressed formats (PNG here) — the error must
    name the unsupported magic, not silently fake features."""
    png_only = _media_df(spark).filter("asset_id in (1, 2)")
    with pytest.raises(Exception) as ei:
        mm.extract_features(png_only).collect()
    assert "NotImplementedError" in str(ei.value) or "magic" in str(ei.value)


def test_extract_features_fake_decoder(spark):
    out = mm.extract_features(_media_df(spark), decoder=mm.fake_decode).collect()
    assert len(out) == 4
    by_id = {r["asset_id"]: r["feature"] for r in out}
    assert all(len(v) == mm.FEATURE_DIM for v in by_id.values())
    # deterministic: same payload -> same features across runs
    again = {
        r["asset_id"]: r["feature"]
        for r in mm.extract_features(_media_df(spark), decoder=mm.fake_decode).collect()
    }
    assert by_id == again
    assert by_id[1] != by_id[2]


def test_resize_stub_shapes(spark):
    out = mm.resize_images(_media_df(spark).filter("media_type = 'image'"), 8, 8).collect()
    assert {(r["width"], r["height"]) for r in out} == {(8, 8)}
    assert len(out) == 2


def test_sample_frames(spark):
    out = mm.sample_frames(_media_df(spark), every_ms=1000).collect()
    # only the video (3500ms) yields frames: 0,1000,2000,3000
    assert [(r["asset_id"], r["frame_idx"], r["frame_ms"]) for r in out] == [
        (3, 0, 0),
        (3, 1, 1000),
        (3, 2, 2000),
        (3, 3, 3000),
    ]


def test_wav_roundtrip_mono_and_stereo():
    import numpy as np

    rng = np.random.RandomState(7)
    mono = (rng.randint(-32768, 32768, size=300)).astype("<i2")
    arr, rate = mm.decode_audio(mm.encode_wav(mono, 8000))
    assert rate == 8000 and arr.shape == (300, 1)
    assert (arr[:, 0] == mono).all()

    stereo = rng.randint(-32768, 32768, size=(100, 2)).astype("<i2")
    arr, rate = mm.decode_audio(mm.encode_wav(stereo, 44100))
    assert rate == 44100 and arr.shape == (100, 2)
    assert (arr == stereo).all()


def test_ppm_roundtrip_and_comment_header():
    import numpy as np

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(5, 9, 3)).astype("uint8")
    assert (mm.decode_image(mm.encode_ppm(img)) == img).all()
    # a '#' comment inside the header must be skipped
    payload = mm.encode_ppm(img)
    commented = b"P6\n# made by a test\n" + payload[3:]
    assert (mm.decode_image(commented) == img).all()


def test_bmp_roundtrip_padding_and_topdown():
    import numpy as np
    import struct

    rng = np.random.RandomState(13)
    # width 9 -> row stride 27 bytes, padded to 28: exercises the 4-byte
    # row padding and the bottom-up row order
    img = rng.randint(0, 256, size=(6, 9, 3)).astype("uint8")
    payload = mm.encode_bmp(img)
    assert (mm.decode_image(payload) == img).all()

    # negative biHeight = top-down row order; rebuild the raster to match
    h, w, _ = img.shape
    row_size = (w * 3 + 3) & ~3
    pad = b"\x00" * (row_size - w * 3)
    body = b"".join(img[y, :, ::-1].tobytes() + pad for y in range(h))
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, -h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    assert (mm.decode_image(header + body) == img).all()


def test_decode_image_rejects_unsupported():
    import numpy as np

    # r9: JPEG graduated to a real decoder (see test_codecs.py), so a
    # JPEG magic followed by garbage is now a CORRUPT stream error;
    # genuinely codec-less formats (MP4 here) still refuse loudly
    with pytest.raises(ValueError):
        mm.decode_image(b"\xff\xd8\xff\xe0fake-jpeg")
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x00mp4fake")
    # a PNG signature followed by garbage is a CORRUPT stream, not an
    # unsupported format — it must fail loudly, never decode
    with pytest.raises(ValueError):
        mm.decode_image(b"\x89PNG\r\n\x1a\nfake")
    # r9: 16-bit PPM decodes for real (test_codecs.py); an out-of-spec
    # maxval still fails loudly
    img = np.zeros((2, 2, 3), dtype="uint8")
    bad = mm.encode_ppm(img).replace(b"\n255\n", b"\n70000\n")
    with pytest.raises(ValueError):
        mm.decode_image(bad)


def test_media_stats_real_decode(spark):
    import numpy as np

    samples = np.array([[-5, 5], [10, -10], [32760, -32760]], dtype="<i2")
    img = np.arange(5 * 4 * 3, dtype="uint8").reshape(5, 4, 3)
    rows = [
        (1, "wav", bytearray(mm.encode_wav(samples, 16000))),
        (2, "ppm", bytearray(mm.encode_ppm(img))),
        (3, "bmp", bytearray(mm.encode_bmp(img))),
    ]
    media = spark.createDataFrame(
        rows, "asset_id long, format string, payload binary"
    )
    got = {r["asset_id"]: r.asDict() for r in mm.media_stats(media).collect()}
    assert got[1]["n"] == 6 and got[1]["d1"] == 16000 and got[1]["d2"] == 2
    assert got[1]["mean"] == 0.0 and got[1]["peak"] == 32760
    for aid in (2, 3):
        assert got[aid]["n"] == 60
        assert got[aid]["d1"] == 4 and got[aid]["d2"] == 5
        assert got[aid]["mean"] == float(np.arange(60).mean())
        assert got[aid]["peak"] == 59


def test_audio_features_order_sensitive(spark):
    import numpy as np

    # 6 samples, frame 2: zc pairs (+,-),(-,+),(+,+)... computed by hand
    v = np.array([100, -50, 25, 25, -75, 60], dtype="<i2")
    media = spark.createDataFrame(
        [(9, "wav", bytearray(mm.encode_wav(v, 8000))), (10, "ppm", b"P6x")],
        "asset_id long, format string, payload binary",
    )
    rows = mm.audio_features(media, frame_size=2).collect()
    assert len(rows) == 1  # non-wav filtered before decode
    r = rows[0].asDict()
    assert r["asset_id"] == 9
    assert r["n_samples"] == 6 and r["n_frames"] == 3
    # sign flips: 100/-50, -50/25, 25/-75, -75/60 -> 4
    assert r["zero_crossings"] == 4
    assert r["energy"] == int((v.astype(np.int64) ** 2).sum())
    # frame energies: 100^2+50^2=12500, 25^2+25^2=1250, 75^2+60^2=9225
    assert r["peak_frame_energy"] == 12500

    # PERMUTED samples (rolled by one): energy identical, zero crossings
    # and frame peak change with order — the features see sample order
    rolled = np.roll(v.astype(np.int64), 1).astype("<i2")
    w = mm.audio_features(
        spark.createDataFrame(
            [(9, "wav", bytearray(mm.encode_wav(rolled, 8000)))],
            "asset_id long, format string, payload binary",
        ),
        frame_size=2,
    ).collect()[0]
    assert w["energy"] == r["energy"]
    assert w["peak_frame_energy"] == 60 * 60 + 100 * 100  # 13600 != 12500
    assert w["zero_crossings"] == 3


def test_registered_udtf_lateral_sql(spark):
    """The UDTF registration surface: register once, call from SQL with
    LATERAL, re-register idempotently; the plan must use the Arrow
    transfer node, never row-pickling BatchEvalPython."""
    from scipi_spark.functions.text import register_word_lens_udtf

    register_word_lens_udtf(spark)
    register_word_lens_udtf(spark)  # idempotent replace
    spark.createDataFrame(
        [(1, "a bb  ccc"), (2, None)], "doc_id long, text string"
    ).createOrReplaceTempView("udtf_t")
    df = spark.sql(
        "SELECT doc_id, s.pos, s.wlen FROM udtf_t, LATERAL word_lens(text) s"
    )
    rows = sorted(map(tuple, df.collect()))
    assert rows == [(1, 0, 1), (1, 1, 2), (1, 2, 3)]  # NULL text -> 0 rows
    plan = executed_plan(df)
    assert "ArrowEvalPythonUDTF" in plan and "BatchEvalPython " not in plan


def test_registered_udaf_grouped_sql(spark):
    """The UDAF registration surface: a pandas GROUPED_AGG median
    registered once and called from SQL GROUP BY, Arrow aggregate node
    in the plan, even-count interpolation verified."""
    from scipi_spark.functions.sqlext import register_median_udaf

    register_median_udaf(spark)
    register_median_udaf(spark)  # idempotent replace
    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 10.0), ("b", 4.0), ("b", 6.0)],
        "k string, v double",
    ).createOrReplaceTempView("udaf_t")
    df = spark.sql("SELECT k, median_val(v) AS med FROM udaf_t GROUP BY k")
    assert sorted(map(tuple, df.collect())) == [("a", 2.0), ("b", 5.0)]
    plan = executed_plan(df)
    assert "AggregatePython" in plan and "Arrow" in plan


def test_y4m_roundtrip_and_variants():
    import numpy as np

    rng = np.random.RandomState(17)
    frames = rng.randint(0, 256, size=(4, 6, 8, 3)).astype("uint8")
    payload = mm.encode_y4m(frames, fps=30)
    out, fps = mm.decode_y4m(payload)
    assert fps == 30.0 and out.shape == (4, 6, 8, 3)
    assert (out == frames).all()
    # frame headers may carry parameters after the marker
    out2, _ = mm.decode_y4m(payload.replace(b"FRAME\n", b"FRAME Ix\n"))
    assert (out2 == frames).all()
    # zero-frame stream decodes to an empty stack
    empty, _ = mm.decode_y4m(mm.encode_y4m(frames[:0], fps=30))
    assert empty.shape == (0, 6, 8, 3)
    # r9: C420/C422 decode for real (test_codecs.py); exotic colour
    # modes are still refused, not garbled
    with pytest.raises(NotImplementedError):
        mm.decode_y4m(b"YUV4MPEG2 W2 H2 F25:1 Cmono\nFRAME\n" + b"\x00" * 4)


def test_video_frame_stats_real_grab(spark):
    import numpy as np

    f, y, x, c = np.indices((5, 2, 3, 3), dtype=np.int64)
    frames = ((10 * f + x + 100 * y + 7 * c) % 256).astype("uint8")
    media = spark.createDataFrame(
        [
            (1, "y4m", bytearray(mm.encode_y4m(frames, fps=10))),
            (2, "wav", b"RIFFnotvideo"),
        ],
        "asset_id long, format string, payload binary",
    )
    rows = {
        r["frame_idx"]: r.asDict()
        for r in mm.video_frame_stats(media, every_n=2).collect()
    }
    assert set(rows) == {0, 2, 4}  # every 2nd of 5 frames; wav filtered
    for idx, r in rows.items():
        fr = frames[idx].astype(np.int64)
        assert r["asset_id"] == 1 and r["n_px"] == 6
        assert r["frame_ms"] == idx * 100  # fps 10
        assert r["y_sum"] == int(fr[:, :, 0].sum())
        assert r["cb_sum"] == int(fr[:, :, 1].sum())
        assert r["cr_sum"] == int(fr[:, :, 2].sum())
        assert r["y_peak"] == int(fr[:, :, 0].max())


def test_resize_payload_real_for_decodable_formats():
    import numpy as np

    img = np.arange(8 * 6 * 3, dtype="uint8").reshape(8, 6, 3)
    for enc in (mm.encode_ppm, mm.encode_bmp):
        small = mm.resize_payload(enc(img), 3, 4)
        out = mm.decode_image(small)
        assert out.shape == (4, 3, 3)
        # nearest-neighbor: every output pixel is an exact source pixel
        ys = (np.arange(4) * (8 / 4)).astype(int)
        xs = (np.arange(3) * (6 / 3)).astype(int)
        assert (out == img[ys][:, xs]).all()
    # upscale round-trips too (index mapping, no interpolation artifacts)
    big = mm.decode_image(mm.resize_payload(mm.encode_ppm(img), 12, 16))
    assert big.shape == (16, 12, 3)
    # compressed formats pass through untouched
    assert mm.resize_payload(b"\x89PNGfake", 3, 4) == b"\x89PNGfake"


def test_write_training_shards_layout_and_determinism(spark, tmp_path):
    import glob
    import os

    from scipi_spark.sources.io import write_training_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_training_shards(docs, p1, n_shards=4)
    write_training_shards(docs.repartition(13), p2, n_shards=4)  # layout-independent

    dirs = sorted(os.path.basename(d) for d in glob.glob(p1 + "/shard=*"))
    assert dirs == ["shard=0", "shard=1", "shard=2", "shard=3"]
    for d in dirs:
        files = [f for f in glob.glob(f"{p1}/{d}/part-*") if not f.endswith(".crc")]
        assert len(files) == 1          # exactly one file per shard

    a = spark.read.parquet(p1)
    b = spark.read.parquet(p2)
    assert a.count() == docs.count()
    # same shard assignment regardless of input partitioning
    ka = {(r["doc_id"], r["shard"]) for r in a.select("doc_id", "shard").collect()}
    kb = {(r["doc_id"], r["shard"]) for r in b.select("doc_id", "shard").collect()}
    assert ka == kb
    # within-shard order is the hash order, not ingestion order
    rows0 = [
        r["doc_id"]
        for r in spark.read.parquet(p1 + "/shard=0").select("doc_id").collect()
    ]
    assert rows0 != sorted(rows0)


def test_png_roundtrip_all_filters_and_channels():
    """Every PNG spec filter (fixed 0-4 and the cycling default) must
    round-trip both truecolor and truecolor-alpha exactly."""
    import numpy as np

    from scipi_spark.operators import multimodal as M

    rng = np.random.default_rng(7)
    # r9: grayscale (colour 0) and gray+alpha (colour 4) join 2/6
    for ch in (1, 2, 3, 4):
        for ft in (None, 0, 1, 2, 3, 4):
            pix = rng.integers(0, 256, (13, 9, ch), dtype=np.uint8)
            out = M.decode_image(M.encode_png(pix, filter_type=ft))
            assert out.shape == pix.shape and (out == pix).all(), (ch, ft)
    # 2-D input is accepted as single-channel grayscale
    flat = rng.integers(0, 256, (5, 6), dtype=np.uint8)
    assert (M.decode_image(M.encode_png(flat)) == flat[..., None]).all()


def test_png_decode_hand_packed_independent():
    """Decoder checked against a PNG whose filtered bytes are computed
    HERE with independent arithmetic — encoder/decoder bugs that would
    cancel in a round-trip cannot cancel against this."""
    import struct
    import zlib

    import numpy as np

    from scipi_spark.operators import multimodal as M

    raw0 = np.array([10, 200, 30, 60, 90, 255, 7, 8, 9], dtype=np.int64)
    raw1 = np.array([11, 199, 31, 61, 91, 0, 17, 250, 3], dtype=np.int64)
    # row0 Sub: filt[i] = raw[i] - raw[i-3]; row1 Up: filt[i] = raw1 - raw0
    f0 = [1] + [int((raw0[i] - (raw0[i - 3] if i >= 3 else 0)) % 256) for i in range(9)]
    f1 = [2] + [int((raw1[i] - raw0[i]) % 256) for i in range(9)]

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    png = (
        M.PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(f0 + f1)))
        + chunk(b"IEND", b"")
    )
    out = M.decode_image(png)
    exp = np.stack([raw0.reshape(3, 3), raw1.reshape(3, 3)]).astype(np.uint8)
    assert (out == exp).all()


def test_png_rejects_unsupported_variants():
    import struct
    import zlib

    import pytest

    from scipi_spark.operators import multimodal as M

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    # 16-bit and Adam7 decode for real since r9 — what remains
    # unsupported is sub-byte packed depths, 16-bit palette, and
    # unknown interlace methods
    for depth, colour, interlace in (
        (1, 0, 0),
        (2, 3, 0),
        (4, 0, 0),
        (16, 3, 0),
        (8, 2, 2),
    ):
        png = (
            M.PNG_SIGNATURE
            + chunk(
                b"IHDR",
                struct.pack(">IIBBBBB", 2, 2, depth, colour, 0, 0, interlace),
            )
            + chunk(b"IEND", b"")
        )
        with pytest.raises(NotImplementedError):
            M.decode_image(png)


def test_png_palette_roundtrip_all_filters():
    """Indexed-color PNG: every scanline filter (fixed 0-4 and cycling)
    must round-trip indices through the PLTE lookup exactly; with tRNS
    the decode emits RGBA with per-entry alpha (entries beyond the tRNS
    table opaque per spec)."""
    import numpy as np

    from scipi_spark.operators import multimodal as M

    rng = np.random.default_rng(11)
    plte = rng.integers(0, 256, (37, 3), dtype=np.uint8)
    idx = rng.integers(0, 37, (14, 10), dtype=np.uint8)
    for ft in (None, 0, 1, 2, 3, 4):
        out = M.decode_image(M.encode_png_palette(idx, plte, filter_type=ft))
        assert out.shape == (14, 10, 3), ft
        assert (out == plte[idx]).all(), ft
    trans = rng.integers(0, 256, (20,), dtype=np.uint8)  # partial tRNS
    out = M.decode_image(M.encode_png_palette(idx, plte, trans=trans))
    assert out.shape == (14, 10, 4)
    assert (out[:, :, :3] == plte[idx]).all()
    alpha_lut = np.full(37, 255, dtype=np.uint8)
    alpha_lut[:20] = trans
    assert (out[:, :, 3] == alpha_lut[idx]).all()


def test_png_palette_hand_packed_independent():
    """Palette decode checked against a hand-packed stream (Sub + Up
    rows over 1-byte-per-pixel indices) so encoder/decoder bugs can't
    cancel; index out of palette range must raise, not wrap."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from scipi_spark.operators import multimodal as M

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    plte = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 8, 9]], dtype=np.uint8
    )
    row0 = [0, 3, 1, 2]
    row1 = [2, 2, 0, 1]
    # bpp=1 for palette: row0 Sub -> filt[i] = raw[i] - raw[i-1]
    f0 = [1] + [(row0[i] - (row0[i - 1] if i else 0)) % 256 for i in range(4)]
    f1 = [2] + [(row1[i] - row0[i]) % 256 for i in range(4)]
    png = (
        M.PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte.tobytes())
        + chunk(b"IDAT", zlib.compress(bytes(f0 + f1)))
        + chunk(b"IEND", b"")
    )
    out = M.decode_image(png)
    assert (out == plte[np.array([row0, row1], dtype=np.uint8)]).all()
    # out-of-range index (palette has 4 entries; index 9) must raise
    bad = (
        M.PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte.tobytes())
        + chunk(b"IDAT", zlib.compress(bytes([0, 9])))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        M.decode_image(bad)


def test_media_stats_png_alpha(spark):
    """media_stats over a mixed RGB/RGBA PNG frame: n counts 3 vs 4
    channels, dims come from IHDR, values from the real unfilter."""
    import numpy as np
    import pandas as pd

    from scipi_spark.operators import multimodal as M

    rows = []
    for aid, ch in ((1, 3), (2, 4)):
        y, x, c = np.indices((5, 7, ch))
        pix = ((aid + 7 * x + 13 * y + 29 * c) % 256).astype("uint8")
        rows.append((aid, "png", M.encode_png(pix)))
    media = spark.createDataFrame(
        pd.DataFrame(rows, columns=["asset_id", "format", "payload"])
    )
    got = {r["asset_id"]: r for r in M.media_stats(media).collect()}
    for aid, ch in ((1, 3), (2, 4)):
        y, x, c = np.indices((5, 7, ch))
        vals = (aid + 7 * x + 13 * y + 29 * c) % 256
        r = got[aid]
        assert r["n"] == 5 * 7 * ch and r["d1"] == 7 and r["d2"] == 5
        assert r["peak"] == int(vals.max())
        assert abs(r["mean"] - vals.mean()) < 1e-9


def test_csv_sink_rfc4180_hostile_roundtrip(spark, tmp_path):
    """S7 CSV sink with RFC-4180 quoting: embedded commas, quotes,
    newlines and backslashes survive write->read byte-identically."""
    import pandas as pd

    from scipi_spark.sources.io import read_csv, write_csv

    rows = [
        (1, 'plain text'),
        (2, 'comma, inside'),
        (3, 'quote " and "" doubled'),
        (4, 'newline\nsecond line'),
        (5, 'backslash \\ and \\n literal'),
        (6, 'all: ,"\n\\ mixed'),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "text"]))
    p = str(tmp_path / "csv_sink")
    write_csv(df, p)
    back = read_csv(spark, p, schema="id long, text string")
    got = {r["id"]: r["text"] for r in back.collect()}
    assert got == dict(rows)


def test_csv_sink_null_vs_empty_roundtrip(spark, tmp_path):
    """Round-8 advice: Spark's CSV defaults write NULL and '' both as
    nothing, so an empty text field silently came back NULL. With the
    pinned nullValue/emptyValue options the two round-trip
    distinguishably."""
    from pyspark.sql import Row

    from scipi_spark.sources.io import read_csv, write_csv

    df = spark.createDataFrame(
        [Row(id=1, text="x"), Row(id=2, text=""), Row(id=3, text=None)],
        "id long, text string",
    )
    p = str(tmp_path / "csv_nullempty")
    write_csv(df, p)
    back = read_csv(spark, p, schema="id long, text string")
    got = {r["id"]: r["text"] for r in back.collect()}
    assert got == {1: "x", 2: "", 3: None}


def test_orc_and_jsonl_hostile_roundtrip(spark, tmp_path):
    """r9 format widening: ORC (Spark-native columnar) and JSONL
    (to_json / from_json) sinks round-trip hostile content — embedded
    commas, quotes, newlines, backslashes, unicode — exactly, plus the
    NULL/empty distinction (both formats carry it natively, unlike
    CSV's in-band sentinel)."""
    from pyspark.sql import Row

    from scipi_spark.sources.io import (
        read_jsonl_typed,
        read_orc,
        write_jsonl,
        write_orc,
    )

    rows = [
        Row(id=1, text='comma, "quotes" and \n newline \\ backslash'),
        Row(id=2, text="unicode é中文 \U0001f600"),
        Row(id=3, text=""),
        Row(id=4, text=None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    want = {r.id: r.text for r in rows}
    p_orc, p_js = str(tmp_path / "orc"), str(tmp_path / "jsonl")
    write_orc(df, p_orc)
    write_jsonl(df, p_js)
    got_orc = {r["id"]: r["text"] for r in read_orc(spark, p_orc).collect()}
    got_js = {
        r["id"]: r["text"]
        for r in read_jsonl_typed(
            spark, p_js, "id long, text string"
        ).collect()
    }
    assert got_orc == want
    assert got_js == want
