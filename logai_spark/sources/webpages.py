"""Deterministic synthetic Common-Crawl-style web-pages table.

BASELINE.json ``input_hint``: columns (url:string, warc_ts:timestamp,
html:binary, text:string, lang:string). No external data — pages are
synthesized from a seeded per-row hash (no wall clock, no RNG state), so any
scale factor regenerates identically on any partitioning.

Pages embed log-like lines (HealthApp/HDFS-flavored templates, cf.
/root/reference/tests/logai/test_data/) inside simple HTML so the downstream
parse -> route -> aggregate pipeline has realistic template structure, and a
small share of hot domains / hot templates to exercise skew handling.
"""

from __future__ import annotations

import hashlib
import pandas as pd
import html as _html
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

WEBPAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

_LANGS = ["en", "en", "en", "en", "de", "fr", "es", "zh", "ru", "ja"]
# ~20 domains; domain 0 is hot (zipf-ish head) to exercise skew
_DOMAINS = ["popular.example.com"] * 6 + [f"site{i}.example.org" for i in range(14)]

_LINE_TEMPLATES = [
    "onStandStepChanged {n}",
    "onExtend:{big} {n} 0 {m}",
    "getTodayTotalDetailSteps = {big}##{n}##0##{m}##{big}##{n}",
    "REPORT : {n} {m} {big} 0",
    "Receiving block blk_{sb} src: /10.250.{o}.{p}:{port} dest: /10.250.{o}.{p}:50010",
    "PacketResponder {m} for block blk_{sb} terminating",
    "BLOCK* NameSystem.addStoredBlock: blockMap updated: 10.251.{o}.{p}:50010 is added to blk_{sb} size {big}",
    "Verification succeeded for blk_{sb}",
    "instruction cache parity error corrected",
    "generating core.{n}",
    "{n} double-hummer alignment exceptions",
    "CE sym {m}, at 0x{hex8}, mask 0x{hex2}",
    "connection refused from host {o}.{p}.{n}.{m} retry {small}",
    "user session {hex8} expired after {n} seconds",
]
# hot template index (skewed head): a large share of lines use template 0


def _h(seed: int, key: str) -> int:
    """Stable 64-bit hash stream: md5(seed:key)."""
    return int.from_bytes(
        hashlib.md5(f"{seed}:{key}".encode()).digest()[:8], "big"
    )


def _gen_line(seed: int, doc: int, i: int, line_pool: int | None = None) -> str:
    r = _h(seed, f"line:{doc}:{i}")
    if line_pool is not None:
        # high-duplication regime: draw the line from a fixed pool of
        # `line_pool` distinct lines (duplication factor ~= total/pool):
        # the corpus on which the fused match's memo hits, used by the
        # fused-vs-UDF match-equivalence test
        r = _h(seed, f"pline:{r % line_pool}")
    # skew: ~35% of lines hit template 0, rest uniform
    t = 0 if r % 100 < 35 else 1 + (r >> 8) % (len(_LINE_TEMPLATES) - 1)
    tpl = _LINE_TEMPLATES[t]
    return tpl.format(
        n=(r >> 3) % 10000,
        m=(r >> 7) % 97,
        big=10**12 + (r >> 5) % 10**10,
        sb=-((r >> 11) % 10**18),
        o=(r >> 13) % 256,
        p=(r >> 17) % 256,
        port=10000 + (r >> 19) % 50000,
        small=(r >> 23) % 8,
        hex8=f"{(r >> 9) % (16**8):08x}",
        hex2=f"{(r >> 15) % 256:02x}",
    )


def make_page(
    seed: int, doc_id: int, line_pool: int | None = None
) -> tuple[str, int, bytes, str]:
    """Deterministically build one page: (url, epoch_us, html, lang)."""
    r = _h(seed, f"doc:{doc_id}")
    domain = _DOMAINS[r % len(_DOMAINS)]
    url = f"https://{domain}/p/{doc_id}"
    lang = _LANGS[(r >> 8) % len(_LANGS)]
    # warc_ts in 2024-01-01 .. +90d, microsecond precision, deterministic
    epoch_us = 1_704_067_200_000_000 + (r % (90 * 24 * 3600)) * 1_000_000 + (r >> 32) % 1_000_000
    n_lines = 5 + (r >> 16) % 28
    lines = [_gen_line(seed, doc_id, i, line_pool) for i in range(n_lines)]
    body = "".join(f"<p>{_html.escape(ln)}</p>\n" for ln in lines)
    # under line_pool the page chrome pools too (the displayed doc id cycles
    # through the pool) — otherwise every page injects ~2 unique title/h1
    # lines and corpus duplication saturates at ~lines_per_page/2 no matter
    # how small the pool; near-duplicate web corpora duplicate their
    # boilerplate along with their body
    disp = doc_id if line_pool is None else _h(seed, f"pdoc:{doc_id}") % line_pool
    # the footer year pools with disp too — it is the third chrome line that
    # would otherwise stay unique-per-page and cap measurable duplication
    yr = r if line_pool is None else _h(seed, f"pyear:{disp}")
    page = (
        f"<html><head><title>doc {disp} &amp; logs</title>"
        f"<style>p {{color: #111}}</style>"
        f"<script>var x = {r % 997};</script></head>"
        f"<body>\n<h1>Log capture {disp}</h1>\n{body}"
        f"<div class=\"footer\">&copy; example {yr % 2024}</div>\n</body></html>"
    )
    return url, epoch_us, page.encode("utf-8"), lang


_TAG_STRIP = re.compile(r"(?s)<(script|style)\b.*?</\1>")
_TAGS = re.compile(r"(?s)<[^>]+>")
_BLANK = re.compile(r"[ \t]+")


def extract_text_reference(html_bytes: bytes) -> str:
    """THE reference extractor — the per-url byte-identity invariant is
    defined against this exact pure function (BASELINE.json input_hint).

    Pipeline: decode utf-8 -> drop script/style blocks -> strip tags ->
    unescape entities -> per-line whitespace squeeze -> drop blank lines ->
    join with newline. Mirrors LogAI's loader spirit of line-splitting +
    space-normalization (data_loader.py:96-106, preprocessor.py:44-53); LogAI
    itself has no HTML extractor, so this function is the pinned reference.
    """
    return _strip_html(html_bytes.decode("utf-8", errors="replace"))


def _strip_html(txt: str) -> str:
    txt = _TAG_STRIP.sub(" ", txt)
    txt = _TAGS.sub("\n", txt)
    txt = _html.unescape(txt)
    lines = []
    for ln in txt.split("\n"):
        ln = _BLANK.sub(" ", ln).strip()
        if ln:
            lines.append(ln)
    return "\n".join(lines)


def extract_text_sniffed(html_bytes: bytes) -> str:
    """The reference extractor with WHATWG charset sniffing in front
    (functions/charset.py) instead of blind utf-8: byte-identical to
    :func:`extract_text_reference` on valid-UTF-8 pages (the strict trial
    accepts them first), mojibake-free on the ~25-30% of real web pages
    that aren't. Opt-in via ``PipelineConfig.charset_sniff`` — the pinned
    per-url invariant stays defined against the utf-8 reference."""
    from logai_spark.functions.charset import decode_html

    return _strip_html(decode_html(html_bytes))


def synth_webpages(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    partitions: int | None = None,
    line_pool: int | None = None,
) -> DataFrame:
    """Generate the pages table distributedly: spark.range -> mapInPandas.

    The ``text`` column is filled by the reference extractor over the
    generated html, so `text == extract(html)` holds by construction (the
    extraction invariant test re-derives it per url from the lines of
    ``pipeline.pages_to_lines``, the pipeline's own Spark path).
    """
    ids = spark.range(0, n_docs, numPartitions=partitions or spark.sparkContext.defaultParallelism)

    def _gen(batches):
        for pdf in batches:
            rows = [make_page(seed, int(i), line_pool) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "url": [r[0] for r in rows],
                    "warc_ts": pd.to_datetime([r[1] for r in rows], unit="us"),
                    "html": [r[2] for r in rows],
                    "text": [extract_text_reference(r[2]) for r in rows],
                    "lang": [r[3] for r in rows],
                }
            )

    return ids.mapInPandas(_gen, schema=WEBPAGE_SCHEMA)
