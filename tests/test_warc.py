"""WARC source connector: writer/reader round-trips + dead-letter route."""

from __future__ import annotations

import gzip

from logai_spark.sources.warc import read_warc, warc_bytes


def _recs():
    return [
        ("http://a.com/1", "2024-01-02T03:04:05Z", b"<html>alpha</html>"),
        ("http://b.org/x", "2024-06-07T08:09:10Z", b"<html>beta &amp; more</html>"),
    ]


def test_warc_roundtrip_plain(spark, tmp_path):
    p = tmp_path / "seg.warc"
    p.write_bytes(warc_bytes(_recs()))
    rows = read_warc(spark, [str(p)]).orderBy("url").collect()
    assert [(r.url, bytes(r.html)) for r in rows] == [
        ("http://a.com/1", b"<html>alpha</html>"),
        ("http://b.org/x", b"<html>beta &amp; more</html>"),
    ]
    assert rows[0].warc_ts.isoformat() == "2024-01-02T03:04:05"
    assert all(r.rec_type == "response" for r in rows)


def test_warc_roundtrip_gzip_members(spark, tmp_path):
    # per-record gzip members concatenated — the Common Crawl layout
    p = tmp_path / "seg.warc.gz"
    p.write_bytes(warc_bytes(_recs(), compress=True))
    rows = read_warc(spark, [str(p)]).collect()
    assert sorted(r.url for r in rows) == ["http://a.com/1", "http://b.org/x"]


def test_warc_http_header_block_is_stripped(spark, tmp_path):
    p = tmp_path / "seg.warc"
    p.write_bytes(warc_bytes([("http://c.io/", "2024-01-01T00:00:00Z", b"BODY")]))
    raw = p.read_bytes()
    assert b"HTTP/1.1 200 OK" in raw  # the writer really wrote an HTTP message
    (row,) = read_warc(spark, [str(p)]).collect()
    assert bytes(row.html) == b"BODY"


def test_warc_no_http_wrapper(spark, tmp_path):
    p = tmp_path / "seg.warc"
    p.write_bytes(warc_bytes([("http://d.io/", "2024-01-01T00:00:00Z", b"RAW")], http=False))
    (row,) = read_warc(spark, [str(p)]).collect()
    assert bytes(row.html) == b"RAW"


def test_warc_malformed_routes_to_dead_letter(spark, tmp_path):
    good = tmp_path / "good.warc"
    good.write_bytes(warc_bytes(_recs()[:1]))
    bad = tmp_path / "bad.warc"
    bad.write_bytes(b"NOT A WARC FILE AT ALL\r\n")
    rows = read_warc(spark, [str(good), str(bad)]).collect()
    by_type = {r.rec_type for r in rows}
    assert by_type == {"response", "_malformed"}
    mal = [r for r in rows if r.rec_type == "_malformed"]
    assert len(mal) == 1 and mal[0].warc_file.endswith("bad.warc")


def test_warc_multiple_files_partitioned(spark, tmp_path):
    paths = []
    for i in range(4):
        p = tmp_path / f"seg{i}.warc"
        p.write_bytes(
            warc_bytes([(f"http://s{i}.net/", "2024-01-01T00:00:00Z", f"b{i}".encode())])
        )
        paths.append(str(p))
    df = read_warc(spark, paths)
    assert df.count() == 4
    assert df.rdd.getNumPartitions() == 4  # one task per archive by default


def test_warc_non_http_body_with_crlfcrlf_not_truncated(spark, tmp_path):
    """A non-HTTP response body containing an early CRLFCRLF must survive
    whole: the header-strip is gated on Content-Type application/http
    (ISO 28500), not a blind body split (ADVICE-r4 regression)."""
    body = b"PREFIX\r\n\r\nSUFFIX"
    p = tmp_path / "seg.warc"
    p.write_bytes(warc_bytes([("http://e.io/", "2024-01-01T00:00:00Z", body)], http=False))
    (row,) = read_warc(spark, [str(p)]).collect()
    assert bytes(row.html) == body


def test_warc_http_header_block_over_8kb_still_stripped(spark, tmp_path):
    """Header blocks larger than the old 8 KB sniff window are legal and
    must still be stripped (the ADVICE-r4 fix dropped the window)."""
    from logai_spark.sources.warc import _iter_records
    import io as _io

    big_hdr = b"HTTP/1.1 200 OK\r\nX-Pad: " + b"a" * 9000 + b"\r\n\r\n"
    body = big_hdr + b"ENTITY"
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"WARC-Target-URI: http://f.io/\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        + f"Content-Length: {len(body)}\r\n".encode()
        + b"\r\n" + body + b"\r\n\r\n"
    )
    (out,) = list(_iter_records(_io.BufferedReader(_io.BytesIO(rec)), "f.warc"))
    assert out["html"] == b"ENTITY"


def test_warc_one_archive_per_task_no_hash_collision(spark, tmp_path):
    """Round-robin repartition: every task gets exactly one archive —
    hash-on-path with n == len(paths) routinely stacked 2+ archives in one
    task while others sat empty (ADVICE-r4)."""
    paths = []
    for i in range(8):
        p = tmp_path / f"s{i}.warc"
        p.write_bytes(
            warc_bytes([(f"http://h{i}.net/", "2024-01-01T00:00:00Z", f"b{i}".encode())])
        )
        paths.append(str(p))
    df = read_warc(spark, paths)
    sizes = df.rdd.glom().map(len).collect()
    assert sorted(sizes) == [1] * 8


# ----------------------------------------------------------------- WET sink


def _pages_df(spark, n=37):
    import datetime as dt

    rows = [
        (
            f"https://example.com/doc/{i}",
            dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i),
            f"doc {i} line one\nline two é 中文" if i % 5 else None,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")


def test_wet_roundtrip_gzip(spark, tmp_path):
    from logai_spark.sources.warc import read_warc, write_wet

    pages = _pages_df(spark).repartition(4)
    man = write_wet(pages, str(tmp_path / "wet")).collect()
    assert len(man) == 4  # one file per partition
    assert sum(m.n_records for m in man) == 37
    paths = sorted(m.wet_file for m in man)
    back = read_warc(spark, paths, rec_types=("conversion",))
    got = {
        r.url: (r.warc_ts, r.html.decode("utf-8"))
        for r in back.collect()
    }
    assert len(got) == 37
    for r in pages.collect():
        ts, text = got[r.url]
        assert ts == r.warc_ts
        assert text == (r.text or "")  # NULL text -> empty conversion body


def test_wet_uncompressed_and_empty_partition(spark, tmp_path):
    from logai_spark.sources.warc import read_warc, write_wet

    pages = _pages_df(spark, n=2).repartition(4)  # 2 rows over 4 partitions
    man = write_wet(pages, str(tmp_path / "wet"), compress=False).collect()
    assert len(man) == 4 and sum(m.n_records for m in man) == 2
    empties = [m for m in man if m.n_records == 0]
    assert empties and all(m.n_bytes == 0 for m in empties)
    paths = sorted(m.wet_file for m in man)
    back = read_warc(spark, paths, rec_types=("conversion",))
    assert back.count() == 2


def test_wet_manifest_is_lazy_until_action(spark, tmp_path):
    from logai_spark.sources.warc import write_wet

    out = tmp_path / "wet_lazy"
    man = write_wet(_pages_df(spark, n=3), str(out))
    import os

    assert not any(f.startswith("part-") for f in os.listdir(out))
    man.collect()
    assert any(f.startswith("part-") for f in os.listdir(out))


def test_warc_gzip_content_encoding_decoded(spark, tmp_path):
    """An archived response whose entity body is Content-Encoding: gzip
    wire bytes decodes transparently (what warcio consumers do); corrupt
    streams keep the raw capture."""
    html = b"<html>compressed page body</html>"
    p = tmp_path / "seg.warc"
    p.write_bytes(warc_bytes(
        [("http://gz.io/", "2024-01-01T00:00:00Z", gzip.compress(html))],
        extra_http_headers=b"Content-Encoding: gzip\r\n",
    ))
    (row,) = read_warc(spark, [str(p)]).collect()
    assert bytes(row.html) == html

    # corrupt gzip -> raw bytes survive, never lost
    p2 = tmp_path / "bad.warc"
    p2.write_bytes(warc_bytes(
        [("http://bad.io/", "2024-01-01T00:00:00Z", b"\x1f\x8bnot-gzip")],
        extra_http_headers=b"Content-Encoding: gzip\r\n",
    ))
    (row2,) = read_warc(spark, [str(p2)]).collect()
    assert bytes(row2.html) == b"\x1f\x8bnot-gzip"


def test_warc_deflate_both_flavors_decoded(spark, tmp_path):
    import zlib

    html = b"<p>deflate page</p>"
    wrapped = zlib.compress(html)                     # zlib-wrapped (spec)
    raw = zlib.compressobj(wbits=-zlib.MAX_WBITS)     # raw (the web)
    rawbody = raw.compress(html) + raw.flush()
    p = tmp_path / "seg.warc"
    p.write_bytes(
        warc_bytes([("http://a.io/", "2024-01-01T00:00:00Z", wrapped)],
                   extra_http_headers=b"Content-Encoding: deflate\r\n")
        + warc_bytes([("http://b.io/", "2024-01-01T00:00:00Z", rawbody)],
                     extra_http_headers=b"Content-Encoding: deflate\r\n")
    )
    rows = read_warc(spark, [str(p)]).orderBy("url").collect()
    assert [bytes(r.html) for r in rows] == [html, html]


def test_warc_chunked_transfer_decoded(spark, tmp_path):
    """Chunked framing captured on the wire is de-chunked (with chunk
    extensions ignored), and chunked+gzip composes in RFC order."""
    html = b"<html>chunked body here</html>"
    chunked = (
        b"10;ext=1\r\n" + html[:16] + b"\r\n"
        + format(len(html) - 16, "x").encode() + b"\r\n" + html[16:] + b"\r\n"
        + b"0\r\n\r\n"
    )
    p = tmp_path / "seg.warc"
    p.write_bytes(warc_bytes(
        [("http://ch.io/", "2024-01-01T00:00:00Z", chunked)],
        extra_http_headers=b"Transfer-Encoding: chunked\r\n",
    ))
    (row,) = read_warc(spark, [str(p)]).collect()
    assert bytes(row.html) == html

    gz = gzip.compress(html)
    chunked_gz = (
        format(len(gz), "x").encode() + b"\r\n" + gz + b"\r\n0\r\n\r\n"
    )
    p2 = tmp_path / "both.warc"
    p2.write_bytes(warc_bytes(
        [("http://chgz.io/", "2024-01-01T00:00:00Z", chunked_gz)],
        extra_http_headers=(
            b"Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n"
        ),
    ))
    (row2,) = read_warc(spark, [str(p2)]).collect()
    assert bytes(row2.html) == html

    # malformed chunk framing -> raw bytes survive
    p3 = tmp_path / "badchunk.warc"
    p3.write_bytes(warc_bytes(
        [("http://badc.io/", "2024-01-01T00:00:00Z", b"zz\r\nnot chunked")],
        extra_http_headers=b"Transfer-Encoding: chunked\r\n",
    ))
    (row3,) = read_warc(spark, [str(p3)]).collect()
    assert bytes(row3.html) == b"zz\r\nnot chunked"


def test_warc_brotli_without_library_keeps_raw(spark, tmp_path):
    """'br' bodies pass through unchanged when brotli isn't installed —
    the capture is never lost; decode lights up via the import gate."""
    p = tmp_path / "br.warc"
    p.write_bytes(warc_bytes(
        [("http://br.io/", "2024-01-01T00:00:00Z", b"\x8b\x03\x80brdata")],
        extra_http_headers=b"Content-Encoding: br\r\n",
    ))
    (row,) = read_warc(spark, [str(p)]).collect()
    assert bytes(row.html) == b"\x8b\x03\x80brdata"


def test_warc_gzip_members_decoded_or_raw():
    """A multi-member gzip body decodes to every member's bytes; a stream
    that ends inside a member comes back raw, never partially decoded."""
    import random

    from logai_spark.sources.warc import _content_decode, _iter_records
    import io as _io

    two = gzip.compress(b"hello ") + gzip.compress(b"world")
    assert _content_decode(two, "gzip") == b"hello world"
    assert _content_decode(two[:-3], "gzip") == two[:-3]

    rng = random.Random(7)
    for _ in range(50):
        data = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 400)))
        cuts = sorted(rng.sample(range(1, len(data) + 1), min(3, len(data))))
        parts = [data[a:b] for a, b in zip([0] + cuts, cuts)]
        parts.append(data[cuts[-1]:])
        members = [gzip.compress(p) for p in parts]
        body = b"".join(members)
        assert _content_decode(body, "gzip") == data
        # a cut on a member boundary is itself a whole stream; any other
        # cut ends inside a member and must come back raw
        ends = {len(b"".join(members[:k])): b"".join(parts[:k])
                for k in range(1, len(members))}
        n = rng.randrange(1, len(body))
        assert _content_decode(body[:n], "gzip") == ends.get(n, body[:n])

    rec = warc_bytes(
        [("http://mm.io/", "2024-01-01T00:00:00Z", two)],
        extra_http_headers=b"Content-Encoding: gzip\r\n",
    )
    (out,) = list(_iter_records(_io.BufferedReader(_io.BytesIO(rec)), "f.warc"))
    assert out["html"] == b"hello world"


def test_warc_chunked_only_from_transfer_encoding_value():
    """'chunked' elsewhere in the header block (here an X-Cache value)
    does not make an identity-framed entity get de-chunked."""
    from logai_spark.sources.warc import _iter_records
    import io as _io

    entity = b"4\r\nabcd\r\n0\r\n\r\n"
    rec = warc_bytes(
        [("http://te.io/", "2024-01-01T00:00:00Z", entity)],
        extra_http_headers=b"Transfer-Encoding: identity\r\nX-Cache: chunked-hit\r\n",
    )
    (out,) = list(_iter_records(_io.BufferedReader(_io.BytesIO(rec)), "f.warc"))
    assert out["html"] == entity


def test_warc_dechunk_strict_framing_roundtrip_or_raw():
    """Chunk sizes are 1*HEXDIG only (RFC 9112 §7.1): the "0x", "_" and sign
    spellings int(..., 16) would take come back raw. Seeded random payloads,
    split into random chunks with random extensions and trailers, always
    de-chunk to the payload, and every truncation comes back raw."""
    import random

    from logai_spark.sources.warc import _dechunk

    for bad in (b"0x4", b"0_4", b"+4", b"-4", b" 4", b"4 ", b""):
        body = bad + b"\r\nabcd\r\n0\r\n\r\n"
        assert _dechunk(body) == body
    assert _dechunk(b"4\t ;x=1\r\nabcd\r\n0\r\n\r\n") == b"abcd"

    rng = random.Random(11)

    def ext():
        name = rng.choice([b"x", b"ext", b"a-b"])
        val = rng.choice([b"", b"=1", b'="q v"'])
        return rng.choice([b"", b" ", b"\t "]) + b";" + name + val

    for _ in range(60):
        data = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 200)))
        cuts = sorted(rng.sample(range(1, len(data)), min(3, max(len(data) - 1, 0))))
        framed = bytearray()
        for a, b in zip([0] + cuts, cuts + [len(data)]):
            if a == b:
                continue
            size = format(b - a, rng.choice(["x", "X", "04x"])).encode()
            exts = b"".join(ext() for _ in range(rng.randrange(3)))
            framed += size + exts + b"\r\n" + data[a:b] + b"\r\n"
        framed += b"0" + (ext() if rng.random() < 0.5 else b"") + b"\r\n"
        framed += b"".join(b"X-T%d: v\r\n" % k for k in range(rng.randrange(3)))
        framed += b"\r\n"
        framed = bytes(framed)
        assert _dechunk(framed) == data
        for n in range(len(framed)):
            assert _dechunk(framed[:n]) == framed[:n]
