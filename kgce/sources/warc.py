"""WARC crawl-archive source: raw Common-Crawl-style WARC files ->
the canonical ``pages(url, warc_ts, html, text, lang)`` table.

The pipeline's input_hint is an Iceberg pages table; this source is the
INGEST step that builds it from what crawlers actually emit.  Spark
reads WARC natively once you treat the full record header line as a
record separator: ``spark.read.option("lineSep", "WARC/1.0\\r\\n")``
yields one row per WARC record with NO custom input format and no RDD —
header fields, the HTTP payload split and the text extraction are all
JVM column expressions, so ingest is a narrow scan-shaped projection
that parallelizes by file split like any other read.

Documented limitations of the lineSep baseline (each is pinned by a
pytest in tests/test_warc.py):

* **Version anchoring.**  The separator is the exact header line
  ``WARC/{version}\\r\\n`` (default 1.0).  A WARC/1.1 archive read with
  the default does NOT silently collapse into one half-parsed row: any
  surviving record that still starts with a ``WARC/x.y`` header line
  trips a ``raise_error`` guard, so mixed/wrong-version input fails
  loudly instead of dropping records.  Pass ``version="1.1"`` to read
  1.1 archives.
* **Separator collision.**  A response BODY containing the literal
  bytes ``WARC/1.0\\r\\n`` would be split mid-record (the lineSep
  reader has no record-length awareness).  Real HTML bodies containing
  that exact line are vanishingly rare; record-length-aware parsing
  (Content-Length framing) needs a custom input format and is out of
  scope for this baseline.
* **UTF-8 only.**  The text datasource decodes bytes as UTF-8 before
  the ``binary`` cast, so non-UTF-8 payloads are lossily re-encoded;
  ``html`` is byte-exact only for UTF-8 (incl. ASCII) responses.

Text extraction (``html_to_text``) is a deterministic baseline —
script/style removal, tag strip, the common entities, whitespace
squeeze.  Production pipelines plug a real extractor (trafilatura /
resiliparse) in its place; those libraries are not in this sandbox, so
the baseline is the honest default.  The whole parse is
RE2-expressible (script and style blocks are stripped separately to
avoid backreferences), so the WARC projection has a DuckDB oracle twin
(tests/test_warc.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# `&amp;` is decoded LAST: decoding it first would turn the nested
# escape `&amp;lt;` into `&lt;` and then a second pass into `<` —
# double-decoding text that the author escaped on purpose.
_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def html_to_text(col) -> Column:
    """Baseline HTML -> text: drop script/style blocks, strip tags,
    decode the common entities (single pass, ``&amp;`` last), squeeze
    whitespace."""
    out = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    for ent, rep in _ENTITIES:
        out = F.regexp_replace(out, ent, rep)
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def read_warc(
    spark: SparkSession,
    path: str,
    default_lang: str = "en",
    version: str = "1.0",
) -> DataFrame:
    """WARC file(s) -> pages DataFrame (url, warc_ts, html, text, lang).

    Only ``WARC-Type: response`` records with a target URI survive
    (warcinfo/request/metadata records are filtered).  ``html`` is the
    HTTP response body (bytes after the SECOND blank line: record
    headers, then HTTP headers, then body); ``lang`` comes from the
    html tag's lang attribute when present, else ``default_lang``.
    A record whose content still begins with a ``WARC/x.y`` header line
    (wrong-version archive under this separator) raises at scan time.
    See the module docstring for the lineSep baseline's limitations.
    """
    raw = spark.read.option("lineSep", f"WARC/{version}\r\n").text(path)
    rec = F.col("value")
    rtype = F.regexp_extract(rec, r"WARC-Type:\s*(\S+)", 1)
    url = F.regexp_extract(rec, r"WARC-Target-URI:\s*(\S+)", 1)
    ts = F.to_timestamp(F.regexp_extract(rec, r"WARC-Date:\s*(\S+)", 1))
    # payload = after the first blank line; body = after the next one
    payload = F.regexp_replace(rec, r"(?s)\A.*?\r\n\r\n", "")
    body = F.regexp_replace(payload, r"(?s)\A.*?\r\n\r\n", "")
    # trailing record separator (blank lines before the next record);
    # a greedy [\r\n]+ class (not \r?\n+) so Java and RE2 (the DuckDB
    # twin) strip identically despite their different \Z/$ semantics
    body = F.regexp_replace(body, r"[\r\n]+\Z", "")
    lang = F.regexp_extract(body, r"(?i)<html[^>]*\blang=[\"']?([A-Za-z]{2})", 1)
    # loud-fail guard: under the version-anchored separator, a record can
    # only start with "WARC/x.y" if the archive's version differs
    other_version = F.regexp_extract(rec, r"\A(WARC/\d+\.\d+)", 1)
    checked_url = F.when(
        other_version != "",
        F.raise_error(
            F.concat(
                F.lit(f"read_warc: expected WARC/{version} records but found "),
                other_version,
                F.lit(" — pass version=... matching the archive"),
            )
        ),
    ).otherwise(url)
    return (
        raw.filter((rtype == "response") & (url != "") | (F.substring(rec, 1, 5) == "WARC/"))
        .select(
            checked_url.alias("url"),
            ts.alias("warc_ts"),
            body.cast("binary").alias("html"),
            html_to_text(body).alias("text"),
            F.when(lang != "", F.lower(lang)).otherwise(default_lang).alias("lang"),
        )
    )
