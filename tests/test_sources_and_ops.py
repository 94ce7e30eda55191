"""Raw-feed normalizers (P4/P5), CSV work-list (S5/S9), scalar
functions (F-series), multimodal header decode, applyInPandas custom op."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from kahi_spark.functions.scalars import (
    country_alpha2_expr,
    issn_format_expr,
    name_parts_expr,
    safe_int_expr,
)


def test_rawfeed_normalizers_dispatch(spark):
    from kahi_spark.sources.rawfeeds import normalize_feeds

    rows = [
        (0, "lens", json.dumps({
            "conversation": {"id": "c1", "turn": 0},
            "speaker": {"role": "USER"},
            "body": "hello from lens",
            "tool": {"name": "search"},
            "sent_at": "2024-01-01T00:00:05",
            "operation": "insert",
        })),
        (1, "wos", json.dumps({
            "CI": "WOS:c1", "TI": 1, "RO": "Assistant", "TX": "wos reply",
            "TL": None, "TS": 1704067206, "OP": "I",
        })),
        (2, "scopus", json.dumps({
            "Conv Id": "c2", "Turn": "3a", "Role": "ai", "Text": "scopus text",
            "Tool": "sql", "Timestamp": "2024-01-01T00:00:07", "Op": "UPDATE",
        })),
        (3, "wos", json.dumps({
            "CI": "WOS:c1", "TI": 1, "RO": "x", "TX": None,
            "TL": None, "TS": 1704067299, "OP": "D",
        })),
    ]
    feed = spark.createDataFrame(rows, ["seq", "source", "payload"])
    out = normalize_feeds(feed).orderBy("seq").collect()
    assert [(r.op, r.conv_id, r.turn_idx, r.source) for r in out] == [
        ("insert", "c1", 0, "lens"),
        ("insert", "c1", 1, "wos"),
        ("update", "c2", 3, "scopus"),  # "3a" safe-cast → 3
        ("delete", "c1", 1, "wos"),
    ]
    assert out[0].tool == "search"
    assert out[1].ts.second == 6


def test_csv_worklist(spark, tmp_path):
    from kahi_spark.sources.csvlist import pending_worklist, read_worklist_csv

    p = tmp_path / "list.csv"
    p.write_text("doi,junk\n10.1/A,x\n10.1/b,y\n , z\n10.1/a,w\n")
    wl = read_worklist_csv(spark, str(p), "doi", alias="doi")
    got = sorted(r.doi for r in wl.collect())
    assert got == ["10.1/a", "10.1/b"]  # lowercased, deduped, blanks dropped
    done = spark.createDataFrame([("10.1/a",)], ["doi"])
    rest = pending_worklist(wl, done, "doi").collect()
    assert [r.doi for r in rest] == ["10.1/b"]


def test_scalar_functions(spark):
    df = spark.createDataFrame(
        [("2019a", "United States", "14769028", "ada lovelace byron")],
        ["year", "country", "issn", "name"],
    )
    parts = name_parts_expr("name")
    row = df.select(
        safe_int_expr("year").alias("year"),
        country_alpha2_expr("country").alias("cc"),
        issn_format_expr("issn").alias("issn"),
        parts["first_name"].alias("fn"),
        parts["last_name"].alias("ln"),
        parts["initials"].alias("ini"),
    ).collect()[0]
    assert row.year == 2019
    assert row.cc == "US"
    assert row.issn == "1476-9028"
    assert (row.fn, row.ln, row.ini) == ("ada", "byron", "ALB")


def test_multimodal_real_header_decode(spark):
    """The header decode parses GENUINE container headers
    (PNG IHDR / BMP info header / GIF screen descriptor / WAV fmt)."""
    from kahi_spark.operators.multimodal import decode_image_batch, make_real_assets

    assets = make_real_assets(spark, n=40)
    got = {r.asset_id: r for r in decode_image_batch(assets).collect()}
    assert len(got) == 40
    for i in range(40):
        w, h = 16 + (i * 13) % 640, 16 + (i * 7) % 480
        r = got[i]
        if i % 4 == 0:  # png
            assert (r.width, r.height) == (w, h)
        elif i % 4 == 1:  # bmp
            assert (r.width, r.height) == (w, h)
        elif i % 4 == 2:  # gif
            assert (r.width, r.height) == (w % 4096, h % 4096)
        else:  # wav: (sample_rate, channels)
            assert (r.width, r.height) == (8000 + 100 * i, 1 + i % 2)
        assert r.n_bytes > 0


def test_multimodal_mp4_box_walk(spark):
    """Real ISO-BMFF parsing: moov→trak→tkhd walk recovers the track
    dims from hand-built minimal MP4 bytes."""
    from kahi_spark.operators.multimodal import (
        _mp4_bytes,
        _mp4_dims,
        decode_image_batch,
        expected_real_assets,
        make_real_assets,
    )

    assert _mp4_dims(_mp4_bytes(640, 360)) == (640, 360)
    assert _mp4_dims(b"\x00\x00\x00\x08ftyp") == (None, None)  # no moov
    assets = make_real_assets(spark, n=8, n_video=4)  # ids 8..11 = mp4
    got = {r.asset_id: r for r in decode_image_batch(assets).collect()}
    exp = expected_real_assets(8, 4).set_index("asset_id")
    assert len(got) == 12
    for i in range(12):
        r, e = got[i], exp.loc[i]
        assert (r.kind, r.n_bytes, r.width, r.height, r.checksum) == (
            e["kind"], e["n_bytes"], e["width"], e["height"], e["checksum"]
        ), i
    assert all(got[i].kind == "video" for i in range(8, 12))


def test_conversation_stats_applyinpandas(spark):
    import datetime as dt

    from kahi_spark.operators.custom import conversation_stats
    from kahi_spark.schema import TRANSCRIPT_SCHEMA

    def t(i):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)

    rows = [
        ("c1", 0, "user", "a", None, t(0)),
        ("c1", 1, "assistant", "b", "search", t(10)),
        ("c1", 2, "user", "c", None, t(40)),
        ("c2", 0, "user", "x", None, t(0)),
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    got = {r.conv_id: r for r in conversation_stats(df).collect()}
    assert got["c1"].n_turns == 3
    assert got["c1"].n_roles == 2
    assert got["c1"].n_tool_calls == 1
    assert got["c1"].mean_gap_s == 20.0
    assert got["c1"].max_gap_s == 30.0
    assert got["c2"].mean_gap_s is None


def test_normalize_feeds_skips_malformed_payloads_and_dates(spark):
    """Round-5 review: a malformed JSON payload for a KNOWN source
    must be skipped (the reference drops unparseable records), not
    passed through as a phantom all-null insert; and a malformed
    date string must yield NULL ts, not an ANSI throw that kills the
    batch."""
    import json

    from kahi_spark.sources.rawfeeds import normalize_feeds

    good = json.dumps({
        "conversation": {"id": "cg", "turn": 1},
        "speaker": {"role": "user"}, "body": "hello",
        "tool": None, "sent_at": "2024-01-01T00:00:00", "operation": "insert",
    })
    bad_date = json.dumps({
        "conversation": {"id": "cb", "turn": 2},
        "speaker": {"role": "user"}, "body": "still here",
        "tool": None, "sent_at": "not-a-date", "operation": "insert",
    })
    rows = [
        (0, "lens", good),
        (1, "lens", "{truncated"),          # malformed JSON, known source
        (2, "lens", bad_date),              # well-formed JSON, bad date
        (3, "scielo", json.dumps({"codigo": "sci:cs", "turno": "T3",
                                  "papel": "user", "texto": "hola",
                                  "herramienta": None,
                                  "fecha": "31/02/2024 10:00:00",  # invalid date
                                  "accion": "ALTA"})),
        (4, "nosuchfeed", good),            # unknown source
    ]
    feed = spark.createDataFrame(rows, ["seq", "source", "payload"])
    out = {r.seq: r for r in normalize_feeds(feed).collect()}
    assert set(out) == {0, 2, 3}            # 1 (unparseable) and 4 (unknown) dropped
    assert out[0].ts is not None
    assert out[2].ts is None and out[2].text == "still here"
    assert out[3].ts is None and out[3].conv_id == "cs"


def test_header_parse_robustness():
    """The pure-Python container-header parser: PNG requires IHDR as
    the first chunk; a top-down BMP (negative header height) reports
    its positive height; WAV walks RIFF chunks to 'fmt ' (JUNK/LIST
    padding is routine); ISO-BMFF honors size==1 (64-bit largesize)
    and size==0 (to-end) boxes, and finds moov when mdat precedes it.
    Truncated or hostile containers degrade to (n_bytes, None, None)
    without raising."""
    from kahi_spark.operators.multimodal import (
        _bmp_bytes,
        _box,
        _mp4_bytes,
        _mp4_dims,
        _parse_header,
        _png_bytes,
        _wav_bytes,
    )

    # PNG magic whose first chunk is NOT IHDR (CgBI-style): no garbage dims
    bogus = b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"CgBI" + bytes(17)
    assert _parse_header(bogus) == (len(bogus), None, None)
    assert _parse_header(_png_bytes(33, 44)) == (len(_png_bytes(33, 44)), 33, 44)

    # WAV with an odd-sized JUNK chunk (word-aligned pad) before fmt
    wav = _wav_bytes(16000, 2)
    junk = b"JUNK" + (5).to_bytes(4, "little") + bytes(6)  # 5 data + 1 pad
    padded = wav[:12] + junk + wav[12:]
    padded = padded[:4] + (len(padded) - 8).to_bytes(4, "little") + padded[8:]
    assert _parse_header(padded) == (len(padded), 16000, 2)

    # MP4: mdat BEFORE moov, moov written with a 64-bit largesize header
    core = _mp4_bytes(64, 48)
    ftyp, moov = core[:24], core[24:]
    mdat = _box(b"mdat", bytes(32))
    large_moov = (
        (1).to_bytes(4, "big") + b"moov"
        + (len(moov) + 8).to_bytes(8, "big") + moov[8:]
    )
    assert _mp4_dims(ftyp + mdat + large_moov) == (64, 48)
    # size==0 final box: moov runs to end-of-file
    zero_moov = (0).to_bytes(4, "big") + moov[4:]
    assert _mp4_dims(ftyp + mdat + zero_moov) == (64, 48)

    # top-down BMP: the header stores -height; bottom-up rows follow
    assert _parse_header(_bmp_bytes(11, -7)) == (54, 11, 7)
    full = _bmp_bytes(11, -7) + bytes(7 * 36)  # 11*3 bytes padded to 36
    assert _parse_header(full) == (306, 11, 7)
    assert _parse_header(_bmp_bytes(11, 7)) == (54, 11, 7)

    # hostile / truncated containers: byte count, NULL dims, no raise
    huge_chunk = (
        b"RIFF" + (28).to_bytes(4, "little") + b"WAVE"
        + b"JUNK" + (2**32 - 1).to_bytes(4, "little") + bytes(16)
    )
    hostile = [
        b"BM" + bytes(10),
        huge_chunk,
        core[:60],  # moov/trak/tkhd declared past the end of the bytes
        ftyp + (4).to_bytes(4, "big") + b"moov" + bytes(8),  # size < header
        ftyp + (1).to_bytes(4, "big") + b"moov" + bytes(4),  # cut largesize
        _png_bytes(33, 44)[:20],
        b"",
    ]
    for payload in hostile:
        assert _parse_header(payload) == (len(payload), None, None), payload


def test_table_path_fingerprint_invalidates(spark, tmp_path):
    """Regenerating a source parquet must invalidate the /tmp shard
    cache (fingerprinted path) and sweep the stale copy — otherwise
    queries silently read old rows while oracles read new ones."""
    import os

    import pandas as pd

    from kahi_spark.sources import testdata as td

    sf = str(tmp_path / "sfx")
    os.makedirs(sf)
    src = f"{sf}/documents.parquet"
    pd.DataFrame(
        {"doc_id": pd.array(range(10), dtype="int64"), "v": 1}
    ).to_parquet(src, index=False)
    p1 = td.table_path(spark, sf, "documents")
    assert os.path.exists(p1) and spark.read.parquet(p1).count() == 10
    assert td.table_path(spark, sf, "documents") == p1  # stable while unchanged

    pd.DataFrame(
        {"doc_id": pd.array(range(25), dtype="int64"), "v": 2}
    ).to_parquet(src, index=False)
    p2 = td.table_path(spark, sf, "documents")
    assert p2 != p1
    assert spark.read.parquet(p2).count() == 25
    # mark-then-sweep: the stale copy is only MARKED at first — an
    # in-flight query in another process may still be scanning it
    assert os.path.exists(p1) and os.path.exists(p1 + ".stale")

    # age the marker past the grace window; the next rebuild sweeps
    os.utime(p1 + ".stale", (1, 1))
    pd.DataFrame(
        {"doc_id": pd.array(range(7), dtype="int64"), "v": 3}
    ).to_parquet(src, index=False)
    p3 = td.table_path(spark, sf, "documents")
    assert spark.read.parquet(p3).count() == 7
    assert not os.path.exists(p1) and not os.path.exists(p1 + ".stale")
    assert os.path.exists(p2)  # newly stale: marked, not yet swept
    assert os.path.exists(p2 + ".stale")
