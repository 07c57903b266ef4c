"""WARC source — ingest Common-Crawl-style archives into the pages table.

The pipeline's input (BASELINE.json input_hint) is a table of
(url, warc_ts, html, ...); the container those pages actually arrive in is
WARC (ISO 28500), so this connector is the ingest step that produces the
table. Design:

- **paths table, not binaryFile**: ``spark.read.format("binaryFile")``
  materializes each archive as ONE row (a 1 GiB WARC segment = a 1 GiB
  row). Instead the file LIST becomes the DataFrame and a ``mapInPandas``
  worker streams each archive record-by-record with bounded memory —
  one task per archive, the natural Common Crawl parallelism unit
  (segments are ~1 GiB x 80,000 per crawl; repartition the path list to
  spread them).
- **gzip**: per-record gzip members concatenated (the Common Crawl
  layout) decompress transparently — Python's gzip reader consumes
  concatenated members as one stream.
- **record framing**: version line + CRLF headers + empty line +
  Content-Length body + CRLF CRLF. ``response`` records carry an HTTP
  message; the connector strips the HTTP header block and yields the
  entity body as ``html:binary``. Malformed records route to the
  dead-letter side (rec_type='_malformed') instead of killing the task —
  the same contract as the grok scanner's dead-letter route
  (sources/readers.py).

Files must be reachable from executors (shared FS — HDFS/S3/NFS mount);
the local-mode tests use tmp dirs. A writer helper (:func:`warc_bytes`)
exists so tests round-trip real framing instead of trusting the parser to
validate itself.

Reference surface: extends SURVEY.md §2.1's scan family (the reference
reads csv/json/free-text only — file_data_loader.py); WARC is the
web-corpus container its LogRecordObject never had.
"""

from __future__ import annotations

import gzip
import io
import re
from datetime import datetime, timezone
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

WARC_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("rec_type", T.StringType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("warc_file", T.StringType(), True),
    ]
)


# ------------------------------------------------------------------ writer --


def warc_bytes(
    records: Iterable[tuple[str, str, bytes]],
    http: bool = True,
    compress: bool = False,
    extra_http_headers: bytes = b"",
) -> bytes:
    """Serialize (url, iso_ts, body) triples as WARC response records —
    the test-side writer that makes the reader's tests round-trips.
    ``http=True`` wraps bodies in an HTTP/1.1 200 message like real
    crawls; ``compress=True`` gzips each record as its own member
    (the Common Crawl layout). ``extra_http_headers`` injects raw
    CRLF-terminated header lines into the HTTP block (Content-Encoding /
    Transfer-Encoding fixtures — the body is taken as already-encoded
    wire bytes, exactly what a capture proxy writes)."""
    out = bytearray()
    for url, ts, body in records:
        if http:
            payload = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + extra_http_headers
                + f"Content-Length: {len(body)}\r\n\r\n".encode()
                + body
            )
            ctype = b"application/http; msgtype=response"
        else:
            payload = body
            ctype = b"application/octet-stream"
        rec = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + b"Content-Type: " + ctype + b"\r\n"
            + f"WARC-Target-URI: {url}\r\n".encode()
            + f"WARC-Date: {ts}\r\n".encode()
            + f"Content-Length: {len(payload)}\r\n".encode()
            + b"\r\n"
            + payload
            + b"\r\n\r\n"
        )
        out += gzip.compress(bytes(rec)) if compress else rec
    return bytes(out)


WET_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("wet_file", T.StringType(), False),
        T.StructField("n_records", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)


def write_wet(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    compress: bool = True,
) -> DataFrame:
    """Write extracted text as WET archives (WARC 'conversion' records) —
    the Common Crawl WARC->WET derivative format, produced distributedly.

    One output file per input partition (``part-NNNNN.warc.wet[.gz]``),
    written executor-side with bounded memory (records are serialized one
    at a time; gzip as concatenated per-record members so the files are
    splittable at record granularity, the Common Crawl layout the reader
    already consumes). Returns the MANIFEST DataFrame (wet_file,
    n_records, n_bytes) — an action on it performs the write; the
    manifest is the checkpointable lineage record per sink-file, matching
    the pipeline's per-partition metrics contract. ``read_warc(...,
    rec_types=('conversion',))`` round-trips the output exactly.

    Scale: repartition the input to the intended file count first (a
    100 TB corpus at ~150 MB/file wants ~700k files — one task each, no
    shuffle beyond the caller's explicit repartition). out_dir must be an
    executor-reachable shared FS, as with read_warc.
    """
    import os

    import pandas as pd

    from pyspark import TaskContext

    os.makedirs(out_dir, exist_ok=True)

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        ext = ".warc.wet.gz" if compress else ".warc.wet"
        path = os.path.join(out_dir, f"part-{pid:05d}{ext}")
        n_rec = n_bytes = 0
        with open(path, "wb") as fh:
            for b in batches:
                for url, ts, text in zip(b[url_col], b[ts_col], b[text_col]):
                    body = ("" if text is None else str(text)).encode("utf-8")
                    iso = (
                        pd.Timestamp(ts).strftime("%Y-%m-%dT%H:%M:%SZ")
                        if ts is not None and not pd.isna(ts)
                        else "1970-01-01T00:00:00Z"
                    )
                    rec = (
                        b"WARC/1.0\r\n"
                        b"WARC-Type: conversion\r\n"
                        b"Content-Type: text/plain\r\n"
                        + f"WARC-Target-URI: {url}\r\n".encode()
                        + f"WARC-Date: {iso}\r\n".encode()
                        + f"Content-Length: {len(body)}\r\n".encode()
                        + b"\r\n"
                        + body
                        + b"\r\n\r\n"
                    )
                    if compress:
                        rec = gzip.compress(rec, mtime=0)  # reproducible bytes
                    fh.write(rec)
                    n_rec += 1
                    n_bytes += len(rec)
        # empty partitions still wrote a (valid, zero-record) file; surface
        # it in the manifest so compaction can sweep it
        yield pd.DataFrame(
            {"wet_file": [path], "n_records": [n_rec], "n_bytes": [n_bytes]}
        )

    return df.select(url_col, ts_col, text_col).mapInPandas(
        _write, WET_MANIFEST_SCHEMA
    )


def wat_payload_expr(html_col: str = "html"):
    """The WAT metadata envelope for a page as ONE codegen JSON projection
    (Common Crawl's WAT shape, the fields this engine consumes: head title
    + outlinks). Title/links extraction is regexp codegen — page bytes
    never reach Python; ``to_json`` fixes field order so the payload is
    byte-deterministic for the oracle."""
    from pyspark.sql import functions as F

    from logai_spark.functions.webgraph import HREF_RE

    h = F.coalesce(F.col(html_col).cast("string"), F.lit(""))
    title = F.regexp_extract(h, r"(?is)<title[^>]*>([^<]*)</title>", 1)
    links = F.transform(
        F.regexp_extract_all(h, F.lit(HREF_RE), F.lit(1)),
        lambda u: F.struct(u.alias("url")),
    )
    html_meta = F.struct(
        F.struct(title.alias("Title")).alias("Head"),
        links.alias("Links"),
    )
    # the published WAT nesting: Envelope > Payload-Metadata >
    # HTTP-Response-Metadata > HTML-Metadata
    return F.to_json(
        F.struct(
            F.struct(
                F.struct(
                    F.struct(html_meta.alias("HTML-Metadata")).alias(
                        "HTTP-Response-Metadata"
                    ),
                ).alias("Payload-Metadata"),
            ).alias("Envelope"),
        )
    )


def write_wat(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    html_col: str = "html",
    compress: bool = True,
) -> DataFrame:
    """WAT sink: WARC ``metadata`` records whose JSON body describes each
    page (title + outlinks) — the third member of Common Crawl's
    WARC/WAT/WET triple (the first two: :func:`read_warc`,
    :func:`write_wet`). The envelope is computed Spark-side
    (:func:`wat_payload_expr`, zero-shuffle codegen); the Python writer
    only frames records, one output file per partition with bounded
    memory and per-record gzip members, mirroring write_wet's layout and
    manifest contract. ``read_warc(rec_types=('metadata',))`` +
    :func:`parse_wat` round-trips it."""
    import os

    import pandas as pd

    from pyspark import TaskContext

    os.makedirs(out_dir, exist_ok=True)
    thin = df.select(
        url_col, ts_col, wat_payload_expr(html_col).alias("_wat")
    )

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        ext = ".warc.wat.gz" if compress else ".warc.wat"
        path = os.path.join(out_dir, f"part-{pid:05d}{ext}")
        n_rec = n_bytes = 0
        with open(path, "wb") as fh:
            for b in batches:
                for url, ts, wat in zip(b[url_col], b[ts_col], b["_wat"]):
                    body = ("" if wat is None else str(wat)).encode("utf-8")
                    iso = (
                        pd.Timestamp(ts).strftime("%Y-%m-%dT%H:%M:%SZ")
                        if ts is not None and not pd.isna(ts)
                        else "1970-01-01T00:00:00Z"
                    )
                    rec = (
                        b"WARC/1.0\r\n"
                        b"WARC-Type: metadata\r\n"
                        b"Content-Type: application/json\r\n"
                        + f"WARC-Target-URI: {url}\r\n".encode()
                        + f"WARC-Date: {iso}\r\n".encode()
                        + f"Content-Length: {len(body)}\r\n".encode()
                        + b"\r\n"
                        + body
                        + b"\r\n\r\n"
                    )
                    if compress:
                        rec = gzip.compress(rec, mtime=0)  # reproducible
                    fh.write(rec)
                    n_rec += 1
                    n_bytes += len(rec)
        yield pd.DataFrame(
            {"wet_file": [path], "n_records": [n_rec], "n_bytes": [n_bytes]}
        )

    return thin.mapInPandas(_write, WET_MANIFEST_SCHEMA)


def parse_wat(df: DataFrame, body_col: str = "html") -> DataFrame:
    """Decode WAT metadata rows (as read by ``read_warc(rec_types=
    ('metadata',))``) back to (url, warc_ts, title, links) — one
    ``from_json`` codegen projection, zero shuffle."""
    from pyspark.sql import functions as F

    schema = (
        "struct<Envelope:struct<`Payload-Metadata`:struct<"
        "`HTTP-Response-Metadata`:struct<`HTML-Metadata`:struct<"
        "Head:struct<Title:string>,"
        "Links:array<struct<url:string>>>>>>>"
    )
    parsed = F.from_json(F.col(body_col).cast("string"), schema)
    meta = parsed["Envelope"]["Payload-Metadata"]["HTTP-Response-Metadata"][
        "HTML-Metadata"
    ]
    return df.select(
        "url",
        "warc_ts",
        meta["Head"]["Title"].alias("title"),
        F.transform(
            F.coalesce(
                meta["Links"],
                F.array().cast("array<struct<url:string>>"),
            ),
            lambda s: s["url"],
        ).alias("links"),
    )


# ------------------------------------------------------------------ reader --


# chunk-size line (RFC 9112 §7.1): 1*HEXDIG, then chunk extensions, each
# opened by ";" after optional whitespace. int(..., 16) alone would also
# take "0x", "_" and a sign.
_CHUNK_SIZE = re.compile(rb"([0-9A-Fa-f]+)(?:[ \t]*;.*)?")


def _dechunk(body: bytes) -> bytes:
    """Decode HTTP/1.1 chunked transfer framing (RFC 9112 §7.1) — WARC
    writers capture the raw wire bytes, so archived responses can carry
    the chunk-size lines inside the entity body. The body must end with
    the last chunk, its trailer fields and the closing empty line. Returns
    the raw input unchanged if the framing is malformed or truncated
    (defensive: never lose bytes)."""
    out = bytearray()
    i = 0
    try:
        while True:
            j = body.index(b"\r\n", i)
            m = _CHUNK_SIZE.fullmatch(body, i, j)
            if m is None:
                return body
            size = int(m.group(1), 16)
            i = j + 2
            if size == 0:
                break
            out += body[i : i + size]
            if body[i + size : i + size + 2] != b"\r\n":
                return body
            i += size + 2
        # trailer fields, up to the empty line that closes the message
        while (j := body.index(b"\r\n", i)) != i:
            i = j + 2
    except ValueError:
        return body
    return bytes(out) if i + 2 == len(body) else body


def _content_decode(body: bytes, encoding: str) -> bytes:
    """Decode an HTTP Content-Encoding'd entity body (gzip / x-gzip /
    deflate — both zlib-wrapped and raw per the field's messy reality).
    Unknown codings (br without a library, identity) and corrupt streams
    return the raw bytes unchanged — never lose the capture."""
    import zlib

    enc = encoding.strip().lower()
    try:
        if enc in ("gzip", "x-gzip"):
            # a gzip body may hold several members back to back (RFC 1952
            # §2.2); decode each in turn, and keep the raw bytes if the
            # stream ends inside one — never a partial decode
            out, rest = bytearray(), body
            while rest:
                member = zlib.decompressobj(16 + zlib.MAX_WBITS)
                out += member.decompress(rest)
                if not member.eof:
                    return body
                rest = member.unused_data
            return bytes(out)
        if enc == "deflate":
            try:
                return zlib.decompress(body)  # zlib-wrapped (the spec)
            except zlib.error:
                return zlib.decompress(body, -zlib.MAX_WBITS)  # raw (the web)
        if enc == "br":
            # brotli isn't in this container — import-gated so the path
            # lights up wherever the library exists (the common real-web
            # coding after gzip); raw bytes kept otherwise
            try:
                import brotli  # type: ignore[import-not-found]

                return brotli.decompress(body)
            except Exception:
                return body
    except zlib.error:
        return body
    return body


def _header_value(hlines: list[bytes], name: bytes) -> bytes:
    """Value of the first lower-cased HTTP header line starting with
    ``name`` (which includes the colon), or b"" when there is none."""
    for hline in hlines:
        if hline.startswith(name):
            return hline[len(name) :]
    return b""


def _iter_records(stream: io.BufferedIOBase, fname: str) -> Iterator[dict]:
    """Stream WARC records off a (decompressed) byte stream with bounded
    memory: headers are read line-wise, bodies via one sized read."""
    while True:
        line = stream.readline()
        if not line:
            return
        if not line.strip():
            continue  # inter-record padding
        if not line.startswith(b"WARC/"):
            yield {"rec_type": "_malformed", "warc_file": fname}
            return  # framing lost — cannot resync without Content-Length
        headers: dict[str, str] = {}
        while True:
            h = stream.readline()
            if not h or not h.strip():
                break
            if b":" in h:
                k, v = h.split(b":", 1)
                headers[k.decode("ascii", "replace").strip().lower()] = (
                    v.decode("utf-8", "replace").strip()
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            yield {"rec_type": "_malformed", "warc_file": fname}
            return
        body = stream.read(length)
        rec_type = headers.get("warc-type", "")
        if rec_type == "response":
            # strip the HTTP message header block; keep the entity body.
            # Gate on the record's Content-Type (application/http per ISO
            # 28500) so a non-HTTP body with an early CRLFCRLF is not
            # truncated; fall back to a body sniff (HTTP/ status line) only
            # when the header is absent. No size window — header blocks
            # larger than 8 KB are legal and must still be stripped.
            ctype = headers.get("content-type", "")
            is_http = (
                ctype.startswith("application/http")
                if ctype
                else body.startswith(b"HTTP/")
            )
            if is_http and b"\r\n\r\n" in body:
                head, body = body.split(b"\r\n\r\n", 1)
                # archived wire bytes: dechunk BEFORE content-decode (RFC
                # 9112 §6.1 ordering), exactly what warcio's recompression
                # consumers do; helpers return raw bytes on any failure
                hlines = head.lower().split(b"\r\n")
                if b"chunked" in _header_value(hlines, b"transfer-encoding:"):
                    body = _dechunk(body)
                coding = _header_value(hlines, b"content-encoding:")
                if coding:
                    body = _content_decode(body, coding.decode("ascii", "replace"))
        ts = None
        raw_ts = headers.get("warc-date")
        if raw_ts:
            try:
                ts = datetime.fromisoformat(raw_ts.replace("Z", "+00:00"))
                if ts.tzinfo is not None:
                    ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
            except ValueError:
                ts = None
        yield {
            "url": headers.get("warc-target-uri"),
            "warc_ts": ts,
            "rec_type": rec_type or "_malformed",
            "html": bytes(body),
            "warc_file": fname,
        }


def read_warc(
    spark: SparkSession,
    paths: list[str],
    rec_types: tuple[str, ...] = ("response",),
    partitions: int | None = None,
) -> DataFrame:
    """Pages DataFrame (url, warc_ts, rec_type, html, warc_file) from WARC
    archives. ``rec_types`` filters record types ('_malformed' rows pass
    any filter so callers can route them to a dead-letter sink);
    ``partitions`` spreads the path list (default one task per file)."""
    import pandas as pd

    n = partitions or max(len(paths), 1)
    # explicit even slicing: hash-partitioning on path with n == len(paths)
    # routinely collides (and round-robin starts each input partition at a
    # random offset, so tiny path lists still collide) — parallelize with
    # numSlices deals the driver-side path list one-per-slice, guaranteeing
    # one archive per task
    path_df = spark.createDataFrame(
        spark.sparkContext.parallelize([(p,) for p in paths], n),
        "path string",
    )
    want = set(rec_types)

    def _read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for p in b["path"]:
                opener = gzip.open if p.endswith(".gz") else open
                rows = []
                with opener(p, "rb") as fh:
                    for rec in _iter_records(fh, p):
                        t = rec.get("rec_type")
                        if t in want or t == "_malformed":
                            rows.append(
                                (
                                    rec.get("url"),
                                    rec.get("warc_ts"),
                                    t,
                                    rec.get("html"),
                                    p,
                                )
                            )
                if rows:
                    yield pd.DataFrame(
                        rows,
                        columns=["url", "warc_ts", "rec_type", "html", "warc_file"],
                    )

    return path_df.mapInPandas(_read, WARC_SCHEMA)
