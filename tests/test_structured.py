"""Structured-data (JSON-LD) triple extraction: fixture semantics +
a full DuckDB oracle twin of the whole projection.

The twin pins the cross-engine contract documented in
kgce/operators/structured.py: scalar leaves decode identically in
Spark's get_json_object and DuckDB's json_extract_string; structured
leftovers (values still starting with ``{``/``[``) are dropped on both
sides; invalid JSON silently nulls on Spark and is json_valid-filtered
on DuckDB — same surviving rows.
"""

from datetime import datetime

import duckdb
import pytest

from kgce import schemas
from kgce.operators import structured


def _page(url, html):
    return {
        "url": url,
        "warc_ts": datetime(2024, 1, 1),
        "html": html.encode("utf-8"),
        "text": "ignored",
        "lang": "en",
    }


def _ld(block):
    return f'<script type="application/ld+json">{block}</script>'


PAGES = [
    # plain Person: scalar, nested-object, and array-valued predicates
    _page(
        "http://a.example/1",
        "<html><body>"
        + _ld(
            '{"@type": "Person", "name": "Ada Lovelace",'
            ' "jobTitle": "Mathematician",'
            ' "worksFor": {"@type": "Organization", "name": "Analytical Engines"},'
            ' "sameAs": ["http://w.example/ada", "http://x.example/ada"]}'
        )
        + "<p>prose</p></body></html>",
    ),
    # top-level ARRAY of entities + a second island on the same page;
    # the second island is INVALID json (must drop silently both sides)
    _page(
        "http://a.example/2",
        _ld(
            '[{"@type": "Product", "name": "Widget", "brand": "Acme",'
            ' "url": "http://shop.example/w"},'
            ' {"@type": "Person", "name": "Bob", "email": "bob@example.com"}]'
        )
        + _ld('{"name": "broken"')
        + "<div>x</div>",
    ),
    # @graph expansion; entity keyed by @id (no name); number leaf;
    # object-valued address WITHOUT a name -> structured leftover, dropped
    _page(
        "http://b.example/3",
        _ld(
            '{"@graph": [{"@type": "NewsArticle", "name": "Quake",'
            ' "headline": "Quake hits", "datePublished": "2024-03-01"},'
            ' {"@id": "http://b.example/org", "@type": "Organization",'
            ' "telephone": 5551234,'
            ' "address": {"streetAddress": "1 Main St"}}]}'
        ),
    ),
    # escaped string leaf (quote + unicode escape) decodes identically
    _page(
        "http://c.example/4",
        _ld('{"@type": "Person", "name": "Caf\\u00e9 \\"Neo\\"", "jobTitle": "Chef"}'),
    ),
    # no JSON-LD at all
    _page("http://c.example/5", "<html><body>plain prose only</body></html>"),
    # uppercase attribute spelling + single quotes + async attr
    _page(
        "http://c.example/6",
        "<script async type='application/ld+json'>"
        '{"@type": "Person", "name": "Eve", "worksFor": "Initech"}'
        "</script>",
    ),
]


@pytest.fixture(scope="module")
def pages_df(spark):
    return spark.createDataFrame(PAGES, schema=schemas.PAGES)


def test_jsonld_triples_semantics(spark, pages_df):
    rows = {
        (r.url, r.subj_text, r.subj_type, r.pred, r.obj_text)
        for r in structured.extract_structured_triples(pages_df).collect()
    }
    # scalar leaf
    assert ("http://a.example/1", "Ada Lovelace", "person", "sdo:jobTitle",
            "Mathematician") in rows
    # nested object -> its name
    assert ("http://a.example/1", "Ada Lovelace", "person", "sdo:worksFor",
            "Analytical Engines") in rows
    # array of strings -> first element
    assert ("http://a.example/1", "Ada Lovelace", "person", "sdo:sameAs",
            "http://w.example/ada") in rows
    # top-level array expands to every entity
    assert ("http://a.example/2", "Widget", "product", "sdo:brand", "Acme") in rows
    assert ("http://a.example/2", "Bob", "person", "sdo:email",
            "bob@example.com") in rows
    # @graph expands; @id fallback subject; number leaf stringifies
    assert ("http://b.example/3", "Quake", "newsarticle", "sdo:headline",
            "Quake hits") in rows
    assert ("http://b.example/3", "http://b.example/org", "organization",
            "sdo:telephone", "5551234") in rows
    # object-valued address without a name is a structured leftover: dropped
    assert not any(p == "sdo:address" for (_, _, _, p, _) in rows)
    # escaped leaves decode
    assert ("http://c.example/4", 'Café "Neo"', "person", "sdo:jobTitle",
            "Chef") in rows
    # flat string predicate
    assert ("http://c.example/6", "Eve", "person", "sdo:worksFor", "Initech") in rows
    # invalid JSON island and no-ld page contribute nothing
    assert not any(u == "http://c.example/5" for (u, _, _, _, _) in rows)
    assert not any(s == "broken" for (_, s, _, _, _) in rows)


def _oracle_sql(max_items=8):
    """DuckDB twin of jsonld_blocks + jsonld_triples (module-docstring
    contract; same literal paths, same bounded item expansion)."""
    re_sql = (
        "(?is)<script[^>]*type\\s*=\\s*[\"'']application/ld\\+json[\"'']"
        "[^>]*>(.*?)</script>"
    )
    idx = ", ".join(f"json_extract_string(base, '$[{i}]')" for i in range(max_items))
    preds = []
    for p in structured.DEFAULT_PREDICATES:
        obj = (
            f"coalesce(json_extract_string(item, '$.{p}.name'), "
            f"json_extract_string(item, '$.{p}[0].name'), "
            f"json_extract_string(item, '$.{p}[0]'), "
            f"json_extract_string(item, '$.{p}'))"
        )
        preds.append(f"struct_pack(pred := 'sdo:{p}', obj := {obj})")
    pred_list = ", ".join(preds)
    return f"""
    WITH blocks AS (
      SELECT url, trim(b) AS block
      FROM pages, unnest(regexp_extract_all(html, '{re_sql}', 1)) AS t(b)
    ), valid AS (
      SELECT * FROM blocks WHERE json_valid(block)
    ), based AS (
      SELECT url,
        CASE WHEN json_extract_string(block, '$."@graph"') IS NOT NULL
             THEN trim(json_extract_string(block, '$."@graph"'))
             ELSE block END AS base
      FROM valid
    ), its AS (
      SELECT url,
        CASE WHEN starts_with(base, '[') THEN [{idx}] ELSE [base] END AS arr
      FROM based
    ), it AS (
      SELECT url, i AS item FROM its, unnest(arr) AS t(i) WHERE i IS NOT NULL
    ), subjects AS (
      SELECT url, item,
        coalesce(json_extract_string(item, '$.name'),
                 json_extract_string(item, '$."@id"')) AS subj_text,
        lower(coalesce(json_extract_string(item, '$."@type"'), 'thing'))
          AS subj_type
      FROM it
    ), po AS (
      SELECT url, subj_text, subj_type, p.pred AS pred, p.obj AS obj_text
      FROM subjects, unnest([{pred_list}]) AS u(p)
    )
    SELECT url, subj_text, subj_type, pred, obj_text
    FROM po
    WHERE subj_text IS NOT NULL AND obj_text IS NOT NULL
      AND NOT starts_with(subj_text, '{{') AND NOT starts_with(subj_text, '[')
      AND NOT starts_with(obj_text, '{{') AND NOT starts_with(obj_text, '[')
    """


def test_jsonld_matches_duckdb_oracle(spark, pages_df):
    got = sorted(
        map(tuple, structured.extract_structured_triples(pages_df).collect())
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pages (url VARCHAR, html VARCHAR)"
    )
    con.executemany(
        "INSERT INTO pages VALUES (?, ?)",
        [(p["url"], p["html"].decode("utf-8")) for p in PAGES],
    )
    want = sorted(tuple(r) for r in con.execute(_oracle_sql()).fetchall())
    assert got == want and len(got) >= 10


def test_declared_pairs_aggregate_merges_with_text_schema(spark, pages_df):
    """Declared triples, as scored pairs, aggregate through the text
    path's aggregate_triples into the text-triple schema and merge
    through the same edges-table path."""
    from kgce.operators import triples as triples_ops

    agg = triples_ops.aggregate_triples(
        structured.as_scored_pairs(structured.extract_structured_triples(pages_df))
    )
    assert agg.columns == [
        "subj_text", "pred", "obj_text", "subj_type", "obj_type",
        "n_evidence", "confidence",
    ]
    rows = {(r.subj_text, r.pred, r.obj_text): (r.n_evidence, r.confidence,
                                                r.obj_type)
            for r in agg.collect()}
    assert rows[("Ada Lovelace", "sdo:jobTitle", "Mathematician")] == (
        1, 1.0, "literal")
    # merge-compat: run it through the incremental edges merge
    from kgce.plans import materialize as mat

    out = None
    import tempfile, os

    d = tempfile.mkdtemp()
    out = os.path.join(d, "edges_src")
    mat.merge_aggregated_triples(agg, out, epoch_id=0)
    mat.merge_aggregated_triples(agg, out, epoch_id=1)  # second increment adds
    merged = {
        (r.subj_text, r.pred, r.obj_text): r.n_evidence
        for r in spark.read.parquet(out).collect()
    }
    assert merged[("Ada Lovelace", "sdo:jobTitle", "Mathematician")] == 2
