"""Entity linking: connected components vs a union-find oracle;
MinHash-LSH clustering behavior on near-duplicate surface forms."""

import random

import pytest

from pyspark.sql import functions as F

from kgce.operators import linking


def _union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


@pytest.mark.parametrize("threshold", [1_000_000, 0])  # driver path / star loop
def test_connected_components_random_graphs(spark, threshold):
    rng = random.Random(17)
    for trial in range(2):
        n = 200
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(120 + 60 * trial)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "a long, b long")
        got = {
            r.node: r.component
            for r in linking.connected_components(
                df, small_graph_threshold=threshold
            ).collect()
        }
        nodes = {x for e in edges for x in e}
        want = _union_find(edges, nodes)
        # every node in an edge gets the min-id of its component
        comp_min = {}
        for nd, root in want.items():
            comp_min.setdefault(root, nd)
            comp_min[root] = min(comp_min[root], nd)
        want_min = {nd: comp_min[want[nd]] for nd in nodes}
        assert got == want_min


def test_connected_components_chain_converges(spark):
    # a long path is the worst case for naive min-propagation;
    # large-star/small-star must converge in O(log n) rounds
    edges = [(i, i + 1) for i in range(300)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r.node: r.component
        for r in linking.connected_components(
            df, max_iter=12, small_graph_threshold=0  # force the star loop
        ).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == 301


def test_connected_components_empty(spark):
    df = spark.createDataFrame([], "a long, b long")
    assert linking.connected_components(df).count() == 0


@pytest.mark.parametrize("threshold", [1_000_000, 0])  # driver path / star loop
def test_connected_components_assume_canonical_drops_null_ids(spark, threshold):
    # an edge with a NULL id links nothing: the canonicalizing branch
    # drops it as a self-loop, and the assume_canonical shortcut must
    # drop it too instead of feeding a NULL node into either CC path
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 5), (6, None), (None, None), (7, 8)], "a long, b long"
    )
    want = {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    for assume in (False, True):
        got = {
            r.node: r.component
            for r in linking.connected_components(
                edges, small_graph_threshold=threshold, assume_canonical=assume
            ).collect()
        }
        assert got == want, assume


def test_cc_driver_path_chain_and_negatives(spark):
    # the vectorized driver path (Shiloach-Vishkin hooking + pointer
    # doubling) on its own worst case: a long shuffled-id chain forces
    # many hook rounds, and negative ids exercise the signed-int64
    # min-index == min-id mapping
    rng = random.Random(23)
    ids = [rng.randrange(-(2**62), 2**62) for _ in range(500)]
    edges = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r.node: r.component
        for r in linking.connected_components(
            df, small_graph_threshold=1_000_000  # force the driver path
        ).collect()
    }
    assert set(got.values()) == {min(ids)}
    assert len(got) == len(set(ids))


@pytest.mark.parametrize("seed", [3, 11])
def test_triangle_stats_match_brute_force(spark, seed):
    """Degree-ordered triangle counting == O(n^3) brute force on random
    graphs; degrees match; each triangle counted exactly once."""
    import itertools
    import random

    from kgce.operators import graph

    rng = random.Random(seed)
    n = 24
    edges = sorted(
        {(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < 0.25}
    )
    df = spark.createDataFrame(
        [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges] + [(0, 0)],
        "a long, b long",
    )  # mixed orientation + a self-loop that must be dropped
    row = graph.triangle_stats(df).first()
    es = set(edges)
    tri = sum(
        1
        for x, y, z in itertools.combinations(range(n), 3)
        if (x, y) in es and (y, z) in es and (x, z) in es
    )
    assert row.n_triangles == tri
    assert row.n_edges == len(edges)
    assert row.n_nodes == len({v for e in edges for v in e})
    deg = {r.node: r.degree for r in graph.degrees(df).collect()}
    for v in deg:
        assert deg[v] == sum(1 for e in edges if v in e)


def test_canonicalize_clusters_near_duplicates(spark):
    mentions = spark.createDataFrame(
        [
            ("International Business Machines",),
            ("International Business Machine",),  # near-dup
            ("Internatioal Business Machines",),  # typo near-dup
            ("Qualcomm Incorporated",),
            ("Qualcomm Incorporatedd",),  # near-dup
            ("Zebra",),  # unrelated
        ],
        "text string",
    ).select(F.lit("u").alias("url"), F.lit(0).alias("sent_id"), F.col("text"))
    canon = linking.canonicalize(mentions, threshold=0.6)
    rows = canon.collect()
    by_norm = {r.norm: r.canonical_id for r in rows}
    ibm = {v for k, v in by_norm.items() if "business" in k}
    q = {v for k, v in by_norm.items() if "qualcomm" in k}
    assert len(ibm) == 1, by_norm
    assert len(q) == 1, by_norm
    assert by_norm["zebra"] not in ibm | q
    # deterministic across runs
    rows2 = {r.norm: r.canonical_id for r in linking.canonicalize(mentions, threshold=0.6).collect()}
    assert rows2 == by_norm


def test_verified_pairs_equals_reference_composition(spark):
    # the prefiltered fast path must emit EXACTLY the edges of the
    # public composition verified_edges(candidate_pairs_lsh(...)) —
    # including the injectivity bypass rows (the prefilter may only
    # ever pass extra pairs, never drop one the exact verify keeps)
    rng = random.Random(41)
    words = ["spark", "table", "merge", "query", "vector", "window"]
    surfaces = set()
    for i in range(120):
        w = rng.choice(words)
        surfaces.add(w + " " + w[: 3 + rng.randrange(3)] + str(i % 7))
    mentions = spark.createDataFrame(
        [(s,) for s in surfaces], "text string"
    ).select(F.lit("u").alias("url"), F.col("text"))
    signed = linking.minhash_signatures(
        linking.entity_vocab(mentions)
    ).localCheckpoint(eager=True)
    fast = {
        (r.a, r.b, round(r.jaccard, 9))
        for r in linking.verified_pairs(signed, 0.6).collect()
    }
    ref = {
        (r.a, r.b, round(r.jaccard, 9))
        for r in linking.verified_edges(
            linking.candidate_pairs_lsh(signed), 0.6
        ).collect()
    }
    assert fast == ref
    assert fast  # non-degenerate: the corpus must actually produce edges


def test_verified_pairs_injectivity_bypass_keeps_collided_pair(spark, monkeypatch):
    # force the within-surface collision the prefilter bound cannot
    # survive (A={a1,a2,x}, B={a1,a2,y}, h(a1)=h(a2)): every shingle the
    # two surfaces share hashes to one value, so the hashed Jaccard reads
    # 1/4 while the true Jaccard is 14/17 — only the bypass keeps the pair
    near, far = "sparkling waters", "sparkling water"

    def shingles(t):
        pad = f" {t} "
        return {pad[i : i + 3] for i in range(len(pad) - 2)}

    shared = sorted(shingles(near) & shingles(far))
    assert len(shared) == 14
    real = linking._shingle_hash
    monkeypatch.setattr(
        linking,
        "_shingle_hash",
        lambda s: F.when(s.isin(*shared), F.lit(0)).otherwise(real(s)),
    )
    texts = [near, far, "zebra crossing", "quartz vector"]
    mentions = spark.createDataFrame([(t,) for t in texts], "text string").select(
        F.lit("u").alias("url"), F.col("text")
    )
    signed = linking.minhash_signatures(
        linking.entity_vocab(mentions)
    ).localCheckpoint(eager=True)
    keys = {r.norm: r.entity_key for r in signed.collect()}
    pair = tuple(sorted((keys[near], keys[far])))
    fast = {
        (r.a, r.b, round(r.jaccard, 9))
        for r in linking.verified_pairs(signed, 0.6).collect()
    }
    ref = {
        (r.a, r.b, round(r.jaccard, 9))
        for r in linking.verified_edges(linking.candidate_pairs_lsh(signed), 0.6).collect()
    }
    assert fast == ref
    assert (*pair, round(14 / 17, 9)) in fast


def test_blocking_quality_gauge(spark):
    from kgce.operators import linking

    # planted near-dup surface pairs + diverse fillers; permille=1000
    # keeps the whole vocabulary so the gauge is exactly recomputable
    rows = []
    for i, (a, b) in enumerate(
        [("Acme Corporation", "Acme Corporations"),
         ("Johnson and Johnson", "Johnson & Johnson"),
         ("Deep Learning Group", "Deep Learning Groups")]
    ):
        rows += [(f"u{i}", a, "org"), (f"u{i}", b, "org")]
    rows += [(f"f{j}", f"Zq{j}xw{j * 7}", "misc") for j in range(40)]
    m = spark.createDataFrame(
        [(u, 0, 0, t, 0, len(t), ty) for u, t, ty in rows],
        "url string, sent_id long, mention_id long, text string, "
        "start long, end long, type string",
    )
    out = linking.blocking_quality(m, threshold=0.6, sample_permille=1000).collect()[0]

    # recompute every field independently from the building blocks
    signed = linking.minhash_signatures(linking.entity_vocab(m)).localCheckpoint()
    k = signed.count()
    import itertools
    sh = {r.entity_key: set(r.shingles) for r in signed.collect()}
    true_pairs = {
        (min(a, b), max(a, b))
        for a, b in itertools.combinations(sh, 2)
        if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.6
    }
    cands = {
        (r.a, r.b)
        for r in linking.candidate_pairs_lsh(signed)
        .select("a", "b").collect()
    }
    assert out.n_sampled == k
    assert out.n_true_pairs == len(true_pairs)
    assert out.n_candidate_pairs == len(cands)
    assert out.n_found == len(true_pairs & cands)
    assert out.pair_completeness == (
        len(true_pairs & cands) / len(true_pairs) if true_pairs else 1.0
    )
    assert out.reduction_ratio == 1.0 - len(cands) / (k * (k - 1) / 2)
    assert len(true_pairs) >= 2            # planted near-dups are true
    assert 0.0 < out.reduction_ratio <= 1.0
    # deterministic gauge: same sample, same numbers, every run
    again = linking.blocking_quality(m, threshold=0.6, sample_permille=1000).collect()[0]
    assert out == again
