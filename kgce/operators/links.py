"""Hyperlink extraction and the host-level web graph.

A web-scale KG is not built from page text alone: the crawl's LINK
structure supplies (a) entity alias candidates (anchor text pointing at
a url is a name for whatever that url denotes — the classic
anchor-dictionary used by every Wikipedia-scale linker), (b) a
host-level authority signal (PageRank over the domain graph feeds
quality-weighted corpus mixing the same way C4/RefinedWeb gate on
domain lists), and (c) the crawl frontier itself.  The reference engine
(ClinicalTransformerNER) has no counterpart — this is beyond-reference
web tooling per the task brief, same stance as urlnorm/domains.

Scale shape:

* ``extract_links`` is a NARROW projection: regexp_extract_all over the
  ``html`` column, one explode, per-element JVM regexes.  No shuffle,
  no Python; parallelizes by input split like any scan.  The href
  grammar is the RE2-safe subset (quoted or bare values without
  embedded whitespace) so the DuckDB oracle twin runs the *same*
  pattern (tests/test_links.py).
* ``resolve_href`` is pure column algebra (absolute / protocol-relative
  / root-relative / path-relative with bounded dot-segment removal) —
  the full RFC 3986 merge needs unbounded ``..`` collapsing; four
  passes cover real crawl depth and the bound is documented + tested.
* ``host_graph`` aggregates (src_host, dst_host) with a TWO-LEVEL
  groupBy so the per-pair distinct-page count never materializes a
  distinct set: partial aggregation on (pair, src_url) first, then the
  pair rollup.  Hosts are ~10^7-10^8 at crawl scale, far below links.
* ``pagerank`` is the iterative DataFrame form: edges are normalized
  once (out-degree pre-joined, hash-partitioned on ``src``) and
  PERSISTED — each of the K iterations re-reads that one cached
  edge table, joins the (node, rank) table on ``src``, and partially
  aggregates contributions by ``dst``.  The per-iteration contribution
  table (O(nodes), not O(edges)) is eagerly localCheckpointed so every
  iteration's plan is depth-1 off a materialized table — a lazily
  chained loop would replay the whole prefix per iteration AND double
  it at the dangling-mass DAG fork (2^k within a lazy window; measured
  117 s at sf0.01 before this shape, ~3 s after).  Dangling mass is
  redistributed exactly: ONE scalar per iteration, read from the
  already-checkpointed contribs (a bounded 1-row collect, the same
  driver-side fixed-point discipline as ann's Lloyd refinement), then
  folded into the plan as a literal — no crossJoin, no recompute.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.skew import domain_of
from .urlnorm import canonicalize_url

# One <a ...>...</a> element; group 1 = href value (quoted or bare, no
# embedded whitespace — hrefs with raw spaces are invalid HTML and
# dropped), group 2 = inner markup.  RE2-safe: no backrefs/lookaround,
# so Spark (Java regex) and DuckDB (RE2) run the IDENTICAL pattern.
A_TAG_PATTERN = r"""(?is)<a\s[^>]*?href\s*=\s*["']?([^"'\s>]*)[^>]*>(.*?)</a>"""


def _strip_markup(col) -> Column:
    """Anchor inner markup -> text: drop tags, decode the common
    entities (same table as sources.warc.html_to_text), squeeze."""
    from ..sources.warc import _ENTITIES

    out = F.regexp_replace(col, r"(?s)<[^>]+>", " ")
    for ent, rep in _ENTITIES:
        out = F.regexp_replace(out, ent, rep)
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def resolve_href(base_url, href) -> Column:
    """Absolute URL for ``href`` found on page ``base_url`` (NULL for
    non-navigational refs: fragments, mailto:/javascript:/data: and
    other non-hierarchical schemes, empty hrefs).

    Handles: absolute (``scheme://``), protocol-relative (``//host/..``),
    root-relative (``/path``), and path-relative (``p/q``, ``../p``)
    references; the resulting fragment is dropped.  Dot segments are
    collapsed by FOUR passes of ``x/../`` removal — nesting deeper than
    four is out of spec (documented bound, tests pin both sides of it).
    """
    h = F.regexp_replace(href, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(base_url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    origin = F.regexp_extract(base_url, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    # directory of the base path: origin + path up to (and incl.) the
    # last '/'; a base with no path component gets "/"
    base_path = F.regexp_extract(base_url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    base_dir = F.regexp_replace(base_path, r"[^/]*$", "")
    base_dir = F.when(base_dir == "", F.lit("/")).otherwise(base_dir)

    resolved = (
        F.when(h == "", F.lit(None).cast("string"))
        .when(h.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), h)
        # non-hierarchical scheme (mailto:, javascript:, data:, tel:)
        .when(h.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:"), F.lit(None).cast("string"))
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(origin, h))
        .otherwise(F.concat(origin, base_dir, h))
    )
    # bounded dot-segment removal: each pass removes one "seg/../" (or a
    # trailing "seg/..") and one "./"; four passes collapse nesting up
    # to depth four.  Conservative on purpose: a segment starting with
    # '.' is never treated as collapsible, and ".." above the root is
    # left literal rather than mis-clamped.
    for _ in range(4):
        resolved = F.regexp_replace(resolved, r"/[^/.][^/]*/\.\.(/|$)", "/")
        resolved = F.regexp_replace(resolved, r"/\./", "/")
    return resolved


def extract_links(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    canonical: bool = True,
) -> DataFrame:
    """pages -> (src, href, anchor, dst): one row per ``<a href>``
    element, in document order.

    ``src`` is the page url, ``href`` the raw attribute value,
    ``anchor`` the markup-stripped anchor text, ``dst`` the resolved
    absolute target (canonicalized through urlnorm when ``canonical``,
    NULL for non-navigational refs).  Narrow scan-shaped projection —
    see the module docstring; DuckDB oracle twin in tests/test_links.py.
    """
    h = F.col(html_col).cast("string")
    tags = F.regexp_extract_all(h, F.lit(A_TAG_PATTERN), 0)
    out = (
        pages.select(F.col(url_col).alias("src"), tags.alias("_tags"))
        .select("src", F.explode("_tags").alias("_tag"))
        .select(
            "src",
            F.regexp_extract(F.col("_tag"), A_TAG_PATTERN, 1).alias("href"),
            _strip_markup(F.regexp_extract(F.col("_tag"), A_TAG_PATTERN, 2)).alias(
                "anchor"
            ),
        )
        .withColumn("dst", resolve_href(F.col("src"), F.col("href")))
    )
    if canonical:
        out = out.withColumn("dst", canonicalize_url(F.col("dst")))
    return out


def host_graph(links: DataFrame, drop_self: bool = True) -> DataFrame:
    """links -> (src_host, dst_host, n_links, n_src_pages): the
    domain-level web graph.  Two-level aggregation (partial on
    (pair, src) first) so no distinct set is ever held per pair."""
    pairs = links.filter(F.col("dst").isNotNull()).select(
        domain_of(F.col("src")).alias("src_host"),
        domain_of(F.col("dst")).alias("dst_host"),
        "src",
    )
    if drop_self:
        pairs = pairs.filter(F.col("src_host") != F.col("dst_host"))
    per_page = pairs.groupBy("src_host", "dst_host", "src").agg(
        F.count("*").alias("_n")
    )
    return per_page.groupBy("src_host", "dst_host").agg(
        F.sum("_n").cast("long").alias("n_links"),
        F.count("*").cast("long").alias("n_src_pages"),
    )


def anchor_stats(links: DataFrame, min_count: int = 1) -> DataFrame:
    """links -> (anchor_norm, dst, n, anchor_share): the anchor
    dictionary — for each normalized anchor text, where it points and
    how often (share within the anchor = the linker's prior
    P(target | surface form)).  One groupBy + one window over the
    anchor key; anchors are vocabulary-scale, far below links."""
    from pyspark.sql import Window

    base = (
        links.filter(F.col("dst").isNotNull() & (F.trim(F.col("anchor")) != ""))
        .select(F.lower(F.trim(F.col("anchor"))).alias("anchor_norm"), "dst")
        .groupBy("anchor_norm", "dst")
        .agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    w = Window.partitionBy("anchor_norm")
    return base.withColumn(
        "anchor_share", F.round(F.col("n") / F.sum("n").over(w), 6)
    )


def anchor_targets(anchors: DataFrame) -> DataFrame:
    """anchor_stats output -> (anchor_norm, dst, n, anchor_share): the
    argmax-share target per surface form (ties broken by higher n, then
    lexicographic dst — fully deterministic).  One window over the
    anchor key; vocabulary-scale."""
    from pyspark.sql import Window

    w = Window.partitionBy("anchor_norm").orderBy(
        F.col("anchor_share").desc(), F.col("n").desc(), F.col("dst").asc()
    )
    return (
        anchors.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def link_mentions_by_anchor(
    mentions: DataFrame,
    anchors: DataFrame,
    text_col: str = "mention_text",
    min_share: float = 0.5,
) -> DataFrame:
    """Anchor-prior entity linking: attach the crawl's P(target |
    surface form) argmax to each mention whose surface form appears in
    the anchor dictionary with share ≥ ``min_share``.

    This is the classic Wikipedia-style commonness linker expressed
    relationally: mentions (corpus-scale) left join the anchor-target
    dictionary (vocabulary-scale, UNHINTED — AQE broadcasts when it
    measures small).  Output adds ``linked_url`` / ``link_share``
    (NULL when no confident prior exists); downstream canonicalization
    can prefer ``linked_url`` over the MinHash-LSH cluster keeper when
    present — the two linkers compose, they don't compete.
    """
    tgt = anchor_targets(anchors).filter(F.col("anchor_share") >= F.lit(min_share))
    keyed = tgt.select(
        F.col("anchor_norm").alias("_k"),
        F.col("dst").alias("linked_url"),
        F.col("anchor_share").alias("link_share"),
    )
    return (
        mentions.withColumn("_k", F.lower(F.trim(F.col(text_col))))
        .join(keyed, "_k", "left")
        .drop("_k")
    )


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src: str = "src_host",
    dst: str = "dst_host",
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """(node, rank) PageRank over a directed edge table.

    Iterative DataFrame power iteration with exact dangling-mass
    redistribution; ranks sum to 1 every iteration.  Edge weights are
    uniform per out-link (duplicate (src,dst) rows act as weight).
    Scale shape in the module docstring: edges normalized + persisted
    once; each iteration eagerly localCheckpoints the O(nodes)
    contribution table (lineage depth stays 1) and folds the exact
    dangling mass in as a scalar literal read from that checkpoint —
    the only driver-side data is one float per iteration.  Verified
    against a pure-Python power iteration (test_links.py).
    """
    from ..plans.stage import checkpoint

    # materialize the edge projection ONCE: the node-distinct, the
    # out-degree aggregation and the normalized-edge join each consumed
    # the lazy input before (3 upstream executions of whatever produced
    # the edges — e.g. the whole link-extraction chain), and the
    # small-graph probe below needs a cheap count.
    e = checkpoint(edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")))
    if small_graph_threshold and e.count() <= small_graph_threshold:
        # driver power iteration for vocabulary-scale graphs (host
        # graphs are ~10^1-10^8 nodes; below the bound the distributed
        # loop is pure scheduling latency — measured 7 s for 10
        # iterations over an 80-edge graph).  Same formula, same
        # dangling redistribution; summation order differs only in the
        # last ulps (the pinned tolerance is 1e-9).
        pdf = e.toPandas()
        out: dict = {}
        for s, t in zip(pdf["_s"].tolist(), pdf["_d"].tolist()):
            out.setdefault(s, []).append(t)
        node_set = sorted(set(pdf["_s"]) | set(pdf["_d"]))
        n = len(node_set)
        if n == 0:
            from pyspark.sql import types as T

            schema = T.StructType(
                [
                    T.StructField("node", e.schema["_s"].dataType, True),
                    T.StructField("rank", T.DoubleType(), True),
                ]
            )
            return edges.sparkSession.createDataFrame([], schema)
        rank = {v: 1.0 / n for v in node_set}
        for _ in range(iters):
            contrib = {v: 0.0 for v in node_set}
            linked_mass = 0.0
            for s, ts in out.items():
                w = rank[s] / len(ts)
                linked_mass += rank[s]
                for t in ts:
                    contrib[t] += w
            dangling = 1.0 - linked_mass
            rank = {
                v: (1 - damping) / n + damping * (contrib[v] + dangling / n)
                for v in node_set
            }
        import pandas as pd

        return edges.sparkSession.createDataFrame(
            pd.DataFrame(
                {"node": node_set, "rank": [rank[v] for v in node_set]}
            )
        )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    out_deg = e.groupBy("_s").agg(F.count("*").cast("double").alias("_deg"))
    # per-edge contribution weight, partitioned by src for the rank join
    norm_edges = (
        e.join(out_deg, "_s")
        .select("_s", "_d", (F.lit(1.0) / F.col("_deg")).alias("_w"))
        .repartition("_s")
        .persist()
    )
    n = nodes.count()  # one small job; the node table is O(hosts)
    nodes = nodes.repartition("node").persist()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for it in range(iters):
        # O(nodes); truncates ALL lineage
        contribs = checkpoint(
            norm_edges.join(
                ranks.select(F.col("node").alias("_s"), "rank"), "_s"
            )
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("_w")).alias("_in"))
        )
        # dangling mass = 1 - mass that flowed along edges: exact, the
        # 1-row aggregate rides the next job as a crossJoined scalar
        # read off the checkpoint — no per-iteration .first() driver
        # round-trip (10 serial driver jobs of pure latency).  The
        # expression (1.0 - sum)/n is the same IEEE sequence the old
        # driver-side literal computed.
        dm = contribs.agg(
            (
                (F.lit(1.0) - F.coalesce(F.sum("_in"), F.lit(0.0))) / F.lit(float(n))
            ).alias("_dm")
        )
        ranks = nodes.join(contribs, "node", "left").crossJoin(dm).select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (F.coalesce(F.col("_in"), F.lit(0.0)) + F.col("_dm"))
            ).alias("rank"),
        )
    # the O(nodes) result is materialized, so the persisted inputs can go
    ranks = checkpoint(ranks)
    norm_edges.unpersist()
    nodes.unpersist()
    return ranks
