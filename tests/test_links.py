"""Link-graph operators: href resolution branch coverage, extraction
parity (DuckDB RE2 twin for the projection, pure-Python twin for
resolution), host-graph rollup, anchor dictionary, PageRank vs a
power-iteration oracle."""

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from kgce import schemas, synth
from kgce.operators import links
from kgce.operators.links import A_TAG_PATTERN

# ---------------------------------------------------------------------------
# pure-Python twins (third engine next to Spark/Java and DuckDB/RE2)
# ---------------------------------------------------------------------------

_ENTS = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def _py_strip_markup(s):
    s = re.sub(r"(?s)<[^>]+>", " ", s)
    for ent, rep in _ENTS:
        s = s.replace(ent, rep)
    return re.sub(r"\s+", " ", s).strip()


def _py_resolve(base, href):
    h = re.sub(r"#.*$", "", href)
    if h == "":
        return None
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://", base)
    scheme = m.group(1).lower() if m else ""
    mo = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", base)
    origin = mo.group(1) if mo else ""
    mp = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", base)
    base_dir = re.sub(r"[^/]*$", "", mp.group(1) if mp else "") or "/"
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", h):
        r = h
    elif re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", h):
        return None
    elif h.startswith("//"):
        r = scheme + ":" + h
    elif h.startswith("/"):
        r = origin + h
    else:
        r = origin + base_dir + h
    for _ in range(4):
        r = re.sub(r"/[^/.][^/]*/\.\.(/|$)", "/", r)
        r = re.sub(r"/\./", "/", r)
    return r


def _py_extract(rows):
    out = []
    for row in rows:
        html = row["html"].decode("utf-8")
        for m in re.finditer(A_TAG_PATTERN, html):
            out.append(
                (
                    row["url"],
                    m.group(1),
                    _py_strip_markup(m.group(2)),
                    _py_resolve(row["url"], m.group(1)),
                )
            )
    return out


# ---------------------------------------------------------------------------
# resolution branch coverage
# ---------------------------------------------------------------------------

RESOLVE_CASES = [
    # absolute passes through (fragment dropped)
    ("https://a.example/x/y", "https://b.example/p#frag", "https://b.example/p"),
    # protocol-relative inherits the base scheme
    ("https://a.example/x/y", "//b.example/p", "https://b.example/p"),
    ("http://a.example/", "//b.example/p?q=1", "http://b.example/p?q=1"),
    # root-relative
    ("https://a.example/x/y", "/p/q", "https://a.example/p/q"),
    # path-relative resolves against the base DIRECTORY
    ("https://a.example/x/y", "p", "https://a.example/x/p"),
    ("https://a.example/x/", "p/q", "https://a.example/x/p/q"),
    # base with no path: directory is "/"
    ("https://a.example", "p", "https://a.example/p"),
    # dot segments, one..four levels
    ("https://a.example/x/y", "../p", "https://a.example/p"),
    ("https://a.example/1/2/3/4/f", "../../../../p", "https://a.example/p"),
    ("https://a.example/x/y", "./p", "https://a.example/x/p"),
    # trailing ".." (no slash)
    ("https://a.example/x/y", "..", "https://a.example/"),
    # non-navigational refs -> NULL
    ("https://a.example/x", "mailto:me@example.org", None),
    ("https://a.example/x", "javascript:void(0)", None),
    ("https://a.example/x", "#top", None),
    ("https://a.example/x", "", None),
    # query survives, fragment does not
    ("https://a.example/x/y", "p?a=1#sec", "https://a.example/x/p?a=1"),
]


def test_resolve_href_branches(spark):
    df = spark.createDataFrame(
        [(b, h) for b, h, _ in RESOLVE_CASES], ["base", "href"]
    ).withColumn("dst", links.resolve_href(F.col("base"), F.col("href")))
    got = [r.dst for r in df.collect()]
    want = [w for _, _, w in RESOLVE_CASES]
    assert got == want
    # the python twin agrees on every branch
    assert [_py_resolve(b, h) for b, h, _ in RESOLVE_CASES] == want


def test_resolve_href_documented_bound(spark):
    """Nesting DEEPER than four dot segments is out of spec: the bound
    leaves residual '..' literal (never a wrong collapse)."""
    base = "https://a.example/1/2/3/4/5/6/f"
    href = "../" * 5 + "p"
    df = spark.range(1).select(
        links.resolve_href(F.lit(base), F.lit(href)).alias("dst")
    )
    got = df.collect()[0].dst
    assert got == _py_resolve(base, href)
    assert ".." in got  # residual, not mis-collapsed


# ---------------------------------------------------------------------------
# extraction parity
# ---------------------------------------------------------------------------


def test_extract_links_matches_python_twin(spark):
    rows = synth.gen_linked_pages(60, seed=11)
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    got = sorted(
        (r.src, r.href, r.anchor, r.dst)
        for r in links.extract_links(pages, canonical=False).collect()
    )
    assert got == sorted(_py_extract(rows))
    assert len(got) > 50
    assert any(d is None for *_, d in got)  # junk refs are NULLed


def test_extract_links_projection_matches_duckdb(spark):
    """The (src, href, anchor) projection re-run by DuckDB's RE2 on the
    IDENTICAL pattern — proves the regex grammar is engine-portable."""
    rows = synth.gen_linked_pages(40, seed=23)
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    got = sorted(
        (r.src, r.href, r.anchor)
        for r in links.extract_links(pages, canonical=False)
        .select("src", "href", "anchor")
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pages AS SELECT * FROM (VALUES "
        + ",".join(["(?, ?)"] * len(rows))
        + ") t(url, html)",
        [v for row in rows for v in (row["url"], row["html"].decode("utf-8"))],
    )
    def _sq(s):
        return "'" + s.replace("'", "''") + "'"

    ent_chain = "tag_txt"
    for ent, rep in _ENTS:
        ent_chain = f"replace({ent_chain}, {_sq(ent)}, {_sq(rep)})"
    sql = f"""
        WITH tags AS (
          SELECT url AS src, unnest(regexp_extract_all(html, ?, 0)) AS tag
          FROM pages
        ), parts AS (
          SELECT src,
                 regexp_extract(tag, ?, 1) AS href,
                 regexp_replace(regexp_extract(tag, ?, 2), '(?s)<[^>]+>', ' ', 'g') AS tag_txt
          FROM tags
        )
        SELECT src, href,
               trim(regexp_replace({ent_chain}, '\\s+', ' ', 'g')) AS anchor
        FROM parts
    """
    want = sorted(
        tuple(r) for r in con.execute(
            sql, [A_TAG_PATTERN, A_TAG_PATTERN, A_TAG_PATTERN]
        ).fetchall()
    )
    assert got == want


# ---------------------------------------------------------------------------
# host graph + anchor dictionary
# ---------------------------------------------------------------------------


def _host(u):
    m = re.match(r"^[a-z]+://([^/]+)", u)
    return m.group(1) if m else ""


def test_host_graph_matches_python_rollup(spark):
    rows = synth.gen_linked_pages(80, seed=7)
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    lk = links.extract_links(pages)
    got = {
        (r.src_host, r.dst_host): (r.n_links, r.n_src_pages)
        for r in links.host_graph(lk).collect()
    }
    per_pair_pages: dict = {}
    for src, _h, _a, dst in (
        (r.src, r.href, r.anchor, r.dst) for r in lk.collect()
    ):
        if dst is None:
            continue
        sh, dh = _host(src), _host(dst)
        if sh == dh:
            continue
        per_pair_pages.setdefault((sh, dh), {}).setdefault(src, 0)
        per_pair_pages[(sh, dh)][src] += 1
    want = {
        pair: (sum(c.values()), len(c)) for pair, c in per_pair_pages.items()
    }
    assert got == want
    assert len(got) > 5


def test_anchor_stats_shares(spark):
    rows = synth.gen_linked_pages(80, seed=7)
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    st = links.anchor_stats(links.extract_links(pages)).collect()
    by_anchor: dict = {}
    for r in st:
        by_anchor.setdefault(r.anchor_norm, []).append(r)
    assert len(by_anchor) > 3
    for anchor, rs in by_anchor.items():
        assert anchor == anchor.lower().strip()
        # shares within one anchor sum to 1 (each rounded to 6 dp)
        assert abs(sum(x.anchor_share for x in rs) - 1.0) < 1e-4 * len(rs) + 1e-6


def test_link_mentions_by_anchor(spark):
    """Anchor-prior linking: argmax target per surface form, min_share
    gate, NULL when no confident prior — checked against a hand-built
    dictionary (deterministic tie-breaks included)."""
    anchors = spark.createDataFrame(
        [
            # "acme corp": dominant target (0.75) -> linked
            ("acme corp", "http://acme.example/about", 9, 0.75),
            ("acme corp", "http://other.example/acme", 3, 0.25),
            # "spam": split 50/50 -> tie broken by n then dst; share
            # passes min_share=0.5 exactly
            ("spam", "http://a.example/s", 2, 0.5),
            ("spam", "http://b.example/s", 2, 0.5),
            # "weak": best share below the gate -> not linked
            ("weak", "http://w1.example/", 1, 0.4),
            ("weak", "http://w2.example/", 1, 0.35),
            ("weak", "http://w3.example/", 1, 0.25),
        ],
        ["anchor_norm", "dst", "n", "anchor_share"],
    )
    mentions = spark.createDataFrame(
        [
            (0, "Acme Corp"),  # case/trim-normalized to the dict key
            (1, "  acme corp "),
            (2, "spam"),
            (3, "weak"),
            (4, "unknown thing"),
        ],
        ["mention_id", "mention_text"],
    )
    out = {
        r.mention_id: r
        for r in links.link_mentions_by_anchor(mentions, anchors).collect()
    }
    assert len(out) == 5  # left join: every mention survives exactly once
    assert out[0].linked_url == "http://acme.example/about"
    assert out[0].link_share == pytest.approx(0.75)
    assert out[1].linked_url == "http://acme.example/about"
    # 50/50 tie: equal share, equal n -> lexicographically smaller dst
    assert out[2].linked_url == "http://a.example/s"
    assert out[3].linked_url is None
    assert out[4].linked_url is None


def test_anchor_targets_deterministic(spark):
    rows = synth.gen_linked_pages(80, seed=7)
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    st = links.anchor_stats(links.extract_links(pages))
    a = {r.anchor_norm: r.dst for r in links.anchor_targets(st).collect()}
    b = {r.anchor_norm: r.dst for r in links.anchor_targets(st).collect()}
    assert a == b and len(a) > 3
    # exactly one target per surface form
    assert links.anchor_targets(st).count() == st.select("anchor_norm").distinct().count()


# ---------------------------------------------------------------------------
# PageRank vs power-iteration oracle
# ---------------------------------------------------------------------------


def _py_pagerank(edges, iters, d=0.85):
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    n = len(nodes)
    out: dict = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        linked_mass = 0.0
        for s, ts in out.items():
            w = rank[s] / len(ts)
            linked_mass += rank[s]
            for t in ts:
                contrib[t] += w
        dangling = 1.0 - linked_mass  # matches the Spark scalar form
        rank = {
            v: (1 - d) / n + d * (contrib[v] + dangling / n) for v in nodes
        }
    return rank


def test_pagerank_matches_power_iteration(spark):
    rows = synth.gen_linked_pages(120, seed=19)
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    hg = links.host_graph(links.extract_links(pages))
    edge_rows = [(r.src_host, r.dst_host) for r in hg.collect()]
    got = {
        r.node: r.rank
        for r in links.pagerank(hg, iters=8).collect()
    }
    want = _py_pagerank(edge_rows, iters=8)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-9, abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # skewed synthetic crawl -> a genuinely non-uniform fixed point
    assert max(got.values()) > 2.0 * min(got.values())


def test_pagerank_distributed_path_releases_its_cache(spark):
    """The distributed loop (forced by small_graph_threshold=0) gives the
    power iteration's ranks and leaves no cached frame behind."""
    rows = synth.gen_linked_pages(60, seed=19)
    hg = links.host_graph(links.extract_links(spark.createDataFrame(rows, schema=schemas.PAGES)))
    want = _py_pagerank([(r.src_host, r.dst_host) for r in hg.collect()], iters=4)
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.cachedData().size()
    ranks = links.pagerank(hg, iters=4, small_graph_threshold=0)
    assert cache.cachedData().size() == before
    got = {r.node: r.rank for r in ranks.collect()}
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-9, abs=1e-12)
