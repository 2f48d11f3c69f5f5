"""Dedup + text-analysis operators over a documents-shaped table."""

import duckdb
import pytest
from pyspark.sql import functions as F

from kgce.operators import ann, dedup, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_exact_dedup(spark, docs):
    groups = dedup.exact_dedup_groups(docs)
    n_docs = docs.count()
    agg = groups.agg(F.sum("n_docs").alias("s"), F.count("*").alias("g")).collect()[0]
    assert agg.s == n_docs
    assert agg.g <= n_docs
    # keeper is the min doc_id of its group (verify on one group via duckdb)
    want = duckdb.sql(
        f"""select md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) d,
                   min(doc_id) k, count(*) n
            from '{SF}/documents.parquet' group by 1 order by 1"""
    ).fetchall()
    got = sorted((r.digest, r.keeper_id, r.n_docs) for r in groups.collect())
    assert got == [tuple(w) for w in want]


def test_ngram_jaccard_near_dups(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
        (3, "completely different content about database systems and queries"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert [(p.a, p.b) for p in pairs] == [(1, 2)]
    assert 0.5 <= pairs[0].jaccard < 1.0


def test_minhash_lsh_finds_near_dups(spark):
    base = "word%d " * 30
    rows = [(i, (base % tuple(range(30)))) for i in range(5)]
    rows += [(10, "the quick brown fox jumps over the lazy dog and runs far away home tonight")]
    rows += [(11, "the quick brown fox jumps over the lazy dog and runs far away home tonite")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cands = {(r.a, r.b) for r in dedup.minhash_lsh_pairs(df).collect()}
    assert (10, 11) in cands
    # the 5 identical docs must all pair up
    for i in range(5):
        for j in range(i + 1, 5):
            assert (i, j) in cands


def test_simhash_near_pairs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappab"),  # 1 word changed
        (3, "totally unrelated words about spark duckdb parquet arrow pandas"),
        (4, "Alpha  beta gamma delta epsilon zeta eta theta iota kappa"),  # same after norm
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    # near-dup is closer in hamming space than an unrelated doc
    ham12 = bin((sh[1] ^ sh[2]) & (2**64 - 1)).count("1")
    ham13 = bin((sh[1] ^ sh[3]) & (2**64 - 1)).count("1")
    assert ham12 < ham13
    assert sh[1] == sh[4]  # normalization-identical docs collide exactly
    # banded join finds hamming<=3 pairs (the 4x16-bit pigeonhole guarantee)
    pairs = {(r.a, r.b) for r in dedup.simhash_near_pairs(df, max_hamming=3).collect()}
    assert (1, 4) in pairs and (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_blocking_finds_every_near_pair(spark):
    """Blocking recall: the 4x16-bit band join loses no pair.  Fingerprints
    within 3 bits agree on at least one of 4 disjoint 16-bit bands
    (pigeonhole), so the banded result equals the all-pairs Hamming <= 3
    set computed from the same fingerprints."""
    import random

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    for d in range(8):
        base = [rng.choice(vocab) for _ in range(60)]
        rows.append((d * 10, " ".join(base)))
        for edits in range(1, 5):  # planted near-dups: 1..4 words replaced
            words = list(base)
            for _ in range(edits):
                words[rng.randrange(60)] = rng.choice(vocab)
            rows.append((d * 10 + edits, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    ids = sorted(sh)

    def ham(a, b):
        return bin((sh[a] ^ sh[b]) & (2**64 - 1)).count("1")

    truth = {
        (a, b, ham(a, b)) for i, a in enumerate(ids) for b in ids[i + 1 :] if ham(a, b) <= 3
    }
    # the fixture reaches every distance the guarantee covers
    assert {h for _, _, h in truth} == {0, 1, 2, 3}
    got = {tuple(r) for r in dedup.simhash_near_pairs(df, max_hamming=3).collect()}
    assert got == truth


def test_simhash_matches_python_oracle(spark):
    import ctypes

    def xxhash64_spark(spark, w):
        return spark.sql(f"select xxhash64('{w}') h").collect()[0].h

    text = "alpha beta gamma alpha"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = dedup.simhash(df).collect()[0].simhash
    words = text.split()
    hs = [xxhash64_spark(spark, w) for w in words]
    votes = [0] * 64
    for h in hs:
        for j in range(64):
            votes[j] += 1 if (h >> j) & 1 else -1
    fp = 0
    for j in range(64):
        if votes[j] > 0:
            fp |= 1 << j
    assert got == ctypes.c_int64(fp).value


def test_textstats_and_langid(spark, docs):
    tc = textstats.token_counts(docs)
    row = tc.orderBy("doc_id").first()
    assert row.n_words > 0 and row.n_subwords >= row.n_words
    qs = textstats.quality_scores(docs)
    assert qs.filter((F.col("quality_score") < 0) | (F.col("quality_score") > 1)).count() == 0
    langs = textstats.language_id(
        spark.createDataFrame(
            [
                (1, "the cat and the dog sat in the house with the mouse"),
                (2, "der hund und die katze sind nicht mit dem haus"),
                (3, "le chat et la souris sont dans la maison pour une nuit"),
            ],
            "doc_id long, text string",
        )
    ).collect()
    assert {r.doc_id: r.lang_pred for r in langs} == {1: "en", 2: "de", 3: "fr"}


def test_fingerprints_robust_to_local_edit(spark):
    df = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight nine ten eleven twelve"),
            (2, "one two three four five six seven eight nine ten eleven twelv"),
        ],
        "doc_id long, text string",
    )
    fp = {r.doc_id: (r.exact_digest, r.winnow_fp) for r in textstats.fingerprints(df).collect()}
    assert fp[1][0] != fp[2][0]  # exact digest differs
    assert fp[1][1] == fp[2][1]  # winnow fingerprint survives a tail edit


def test_cosine_topk_matches_duckdb(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    got = [(r.vec_id, r.cosine) for r in ann.cosine_topk(emb, qvec, k=5).collect()]
    want = duckdb.sql(
        f"""with q as (select embedding e from '{SF}/embeddings.parquet' where vec_id=0)
            select vec_id, round(list_cosine_similarity(embedding, (select e from q)), 6) c
            from '{SF}/embeddings.parquet'
            order by c desc, vec_id limit 5"""
    ).fetchall()
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert abs(g[1] - w[1]) < 1e-4


def test_cosine_topk_bcast_matches_literal(spark):
    """The single-scan broadcast form must be BIT-identical to the
    list-literal form (double-cast query array reproduces the same
    widened-float products and strict left folds), and its plan must be
    one scan of the big side + a broadcast join — no driver collect, no
    exchange of the embeddings."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding")
    lit_form = [(r.vec_id, r.cosine) for r in ann.cosine_topk(emb, qvec, k=50).collect()]
    bc_form = [(r.vec_id, r.cosine) for r in ann.cosine_topk_bcast(emb, qrow, k=50).collect()]
    assert lit_form == bc_form
    plan = (
        ann.cosine_topk_bcast(emb, qrow, k=50)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # big side never shuffles


def test_lsh_topk_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 7).collect()[0].embedding
    exact = {r.vec_id for r in ann.cosine_topk(emb, qvec, k=10).collect()}
    approx = {r.vec_id for r in ann.cosine_topk_lsh(emb, qvec, k=10, n_planes=6).collect()}
    assert len(exact & approx) >= 5  # multi-probe recall >= 0.5 on sf0.001
    assert 7 in approx  # the query vector itself is always found


def test_bcast_ann_forms_match_literal(spark):
    """The broadcast-query-row LSH and IVF forms return exactly the
    list-literal results (same bucket/probe selection, same widened
    floats) with NO driver collect of the query vector."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 7).collect()[0].embedding]
    qrow = emb.filter(F.col("vec_id") == 7).select("embedding")
    dim = len(qvec)
    lsh_lit = [(r.vec_id, r.cosine) for r in
               ann.cosine_topk_lsh(emb, qvec, k=10, n_planes=6).collect()]
    lsh_bc = [(r.vec_id, r.cosine) for r in
              ann.cosine_topk_lsh_bcast(emb, qrow, k=10, n_planes=6, dim=dim).collect()]
    assert lsh_lit == lsh_bc
    ivf_lit = [(r.vec_id, r.cosine) for r in
               ann.ivf_topk(emb, qvec, k=10, n_centroids=8, n_probe=3).collect()]
    ivf_bc = [(r.vec_id, r.cosine) for r in
              ann.ivf_topk_bcast(emb, qrow, k=10, n_centroids=8, n_probe=3).collect()]
    assert ivf_lit == ivf_bc
    assert lsh_bc and lsh_bc[0][0] == 7  # the query vector is its own top hit


def test_lloyd_refine_improves_ivf_recall(spark):
    """r2 VERDICT #6: a few deterministic Lloyd iterations over a
    hash-sample must beat seeds-as-centroids at equal n_probe.  Recall
    is measured with a driver-side mirror of ivf_topk's exact math
    (same strict folds, same tie-breaks) so 30 queries stay cheap; one
    Spark ivf_topk call is cross-checked against the mirror."""
    from kgce.operators.ann import _py_dot

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    seeds = ann.seed_centroids(emb, 16)
    refined = ann.lloyd_refine(emb, 16, n_iter=5)
    assert refined == ann.lloyd_refine(emb, 16, n_iter=5)  # deterministic

    def _assign(v, cents):
        best, best_s = 0, float("-inf")
        for cid, c in cents:
            s = _py_dot(v, c) / (_py_dot(c, c) ** 0.5)
            if s > best_s:
                best, best_s = cid, s
        return best

    def _recall(cents, n_probe=2, k=10):
        cell = {i: _assign(v, cents) for i, v in vecs.items()}
        total = 0.0
        qids = sorted(vecs)[:: max(1, len(vecs) // 30)][:30]
        for q in qids:
            qv = vecs[q]
            qn = _py_dot(qv, qv) ** 0.5

            def cos(i):
                v = vecs[i]
                return _py_dot(v, qv) / ((_py_dot(v, v) ** 0.5) * qn)

            exact = sorted(vecs, key=lambda i: (-cos(i), i))[:k]
            probes = set(
                cid for cid, _ in sorted(
                    cents, key=lambda c: -_py_dot(qv, c[1]) / (_py_dot(c[1], c[1]) ** 0.5)
                )[:n_probe]
            )
            cand = [i for i in vecs if cell[i] in probes]
            got = sorted(cand, key=lambda i: (-cos(i), i))[:k]
            total += len(set(exact) & set(got)) / k
        return total / len(qids)

    r_seed, r_ref = _recall(seeds), _recall(refined)
    assert r_ref > r_seed, (r_seed, r_ref)

    # bridge the mirror to the real operator for one query
    q = sorted(vecs)[7]
    spark_got = [
        r.vec_id
        for r in ann.ivf_topk(emb, vecs[q], k=10, n_probe=2, centroids=refined).collect()
    ]
    cell = {i: _assign(v, refined) for i, v in vecs.items()}
    qv = vecs[q]
    qn = _py_dot(qv, qv) ** 0.5
    probes = set(
        cid for cid, _ in sorted(
            refined, key=lambda c: -_py_dot(qv, c[1]) / (_py_dot(c[1], c[1]) ** 0.5)
        )[:2]
    )
    cand = [i for i in vecs if cell[i] in probes]
    mirror = sorted(
        cand,
        key=lambda i: (
            -round(_py_dot(vecs[i], qv) / ((_py_dot(vecs[i], vecs[i]) ** 0.5) * qn), 6),
            i,
        ),
    )[:10]
    assert spark_got == mirror


def test_decontaminate_flags_planted_leak(spark):
    """A training doc containing a verbatim eval sentence is flagged;
    clean docs are not; min_hits screens single-n-gram coincidences.
    The eval n-gram set must reach the corpus as a broadcast join."""
    from kgce.operators import decontam

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox jumps over the lazy dog end"),
            (2, "completely unrelated content about spark partitions"),
            (3, "mentions a brown fox jumps once by coincidence"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_hits, r.contaminated)
           for r in decontam.decontaminate(train, ev, n=5, min_hits=2).collect()}
    assert out[1][0] >= 2 and out[1][1] is True      # verbatim leak
    assert out[2] == (0, False)                      # clean
    assert out[3][1] is False                        # coincidental overlap
    plan = (
        decontam.ngram_hits(train, ev, n=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan  # eval grams broadcast, corpus narrow


def test_url_canonicalization(spark):
    """Case, default ports, fragments, tracking params, param order, and
    empty paths all normalize; non-default ports and https :80 survive;
    duplicate groups pick the lexicographically smallest raw keeper."""
    from kgce.operators import urlnorm

    cases = [
        ("HTTP://Example.COM:80/a?utm_source=x&b=2#top", "http://example.com/a?b=2"),
        ("http://example.com/a?b=2", "http://example.com/a?b=2"),
        ("https://Host.io:443/", "https://host.io/"),
        ("https://host.io:8443/x", "https://host.io:8443/x"),
        ("https://host.io:80/x", "https://host.io:80/x"),  # :80 not default for https
        ("http://h.co", "http://h.co/"),
        ("http://h.co?z=1&a=2&gclid=abc", "http://h.co/?a=2&z=1"),
        ("http://h.co/p?fbclid=1&utm_campaign=c", "http://h.co/p"),
        ("relative/path?a=1", "relative/path?a=1"),  # scheme-less passthrough
        ("not a url at all", "not a url at all"),
        # userinfo keeps its case — RFC 3986 lowercases only scheme+host
        # (ADVICE r3); host normalization still applies around it
        ("HTTP://User:Pw@Host.COM:80/x", "http://User:Pw@host.com/x"),
        ("http://alice@H.co/p?b=1", "http://alice@h.co/p?b=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r.c for r in df.select(urlnorm.canonicalize_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [want for _, want in cases]
    groups = {
        r.canon_url: (r.n_urls, r.keeper_url)
        for r in urlnorm.canonical_url_groups(df).collect()
    }
    assert groups["http://example.com/a?b=2"] == (
        2, "HTTP://Example.COM:80/a?utm_source=x&b=2#top"
    )


def test_boilerplate_detection_and_strip(spark):
    """Planted footer repeats across docs -> detected at min_df and
    stripped; unique sentences survive in original order; a doc that is
    ALL boilerplate drops out; per-doc repeats count df once."""
    from kgce.operators import boilerplate

    footer = "all rights reserved."
    rows = [
        (1, f"alpha unique one. {footer} beta unique two."),
        (2, f"{footer} gamma unique three. {footer}"),  # footer twice: df counts once
        (3, f"delta unique four. {footer}"),
        (4, footer),  # all boilerplate -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bp = boilerplate.boilerplate_sentences(df, min_df=3).collect()
    assert len(bp) == 1 and bp[0].df == 4  # 4 docs, each counted once
    got = {r.doc_id: r.text for r in boilerplate.strip_boilerplate(df, min_df=3).collect()}
    assert got == {
        1: "alpha unique one. beta unique two.",
        2: "gamma unique three.",
        3: "delta unique four.",
    }
    plan = (
        boilerplate.strip_boilerplate(df, min_df=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortAggregate" not in plan  # struct collect_list keeps hash agg


def test_near_dup_groups_end_to_end(spark):
    rows = [(i, f"totally unique document number {i} about topic {i * 7}") for i in range(20)]
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows += [(100, base), (101, base), (102, base + "!")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    g = {r.doc_id: (r.group_id, r.keeper) for r in dedup.near_dup_groups(df).collect()}
    assert len(g) == 23
    # the three near-dups share a cluster with one keeper
    assert g[100][0] == g[101][0] == g[102][0] == 100
    assert g[100][1] and not g[101][1] and not g[102][1]
    # unique docs keep themselves
    assert all(g[i] == (i, True) for i in range(20))


def test_ngram_jaccard_max_df_pruning_keeps_exact_values(spark):
    """High-DF shingle pruning changes CANDIDATE generation only; the
    reported jaccard of surviving pairs is exact (full-set verify)."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),
        (3, "completely different content about database systems and queries"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r.a, r.b): round(r.jaccard, 9)
             for r in dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()}
    pruned = {(r.a, r.b): round(r.jaccard, 9)
              for r in dedup.ngram_jaccard_pairs(df, threshold=0.5, max_df=3).collect()}
    assert pruned == exact and (1, 2) in pruned


def test_lsh_hot_bucket_cap(spark):
    """A degenerate bucket (many identical docs) is dropped from candidate
    generation when over the cap; distinct near-dups still pair."""
    base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    rows = [(i, "identical boilerplate page content repeated everywhere exactly") for i in range(30)]
    rows += [(100, base), (101, base + "!")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {(r.a, r.b) for r in dedup.minhash_lsh_pairs(df).collect()}
    capped = {(r.a, r.b) for r in dedup.minhash_lsh_pairs(df, max_bucket_size=10).collect()}
    # boilerplate all-pairs (435 pairs) vanish under the cap
    assert sum(1 for a, b in uncapped if a < 30 and b < 30) == 435
    assert not any(a < 30 and b < 30 for a, b in capped)
    assert (100, 101) in capped


def test_ivf_assign_matches_python_oracle(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = ann.seed_centroids(emb, n_centroids=8)
    got = {
        r.vec_id: r._cid
        for r in ann.ivf_assign(emb, cents).select("vec_id", "_cid").collect()
    }
    for r in emb.collect():
        scores = [
            (ann._py_dot(r.embedding, cv) / (ann._py_dot(cv, cv) ** 0.5), -cid)
            for cid, cv in cents
        ]
        want = -max(scores)[1]  # max score, ties -> smallest cid
        assert got[r.vec_id] == want, r.vec_id


def test_ivf_topk_recall_and_self_hit(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 7).collect()[0].embedding]
    exact = {r.vec_id for r in ann.cosine_topk(emb, qvec, k=10).collect()}
    approx = {
        r.vec_id
        for r in ann.ivf_topk(emb, qvec, k=10, n_centroids=8, n_probe=3).collect()
    }
    assert len(exact & approx) >= 5  # 3/8 cells probed
    assert 7 in approx  # the query vector's own cell is always probed


def test_ivf_indexed_equals_unindexed_and_prunes(spark, tmp_path):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 3).collect()[0].embedding]
    path = str(tmp_path / "ivf_index")
    cents = ann.ivf_write_index(emb, path, n_centroids=8)
    unindexed = ann.ivf_topk(emb, qvec, k=10, n_centroids=8, n_probe=3).collect()
    indexed = ann.ivf_topk_indexed(spark, path, qvec, cents, k=10, n_probe=3).collect()
    assert [(r.vec_id, r.cosine) for r in indexed] == [
        (r.vec_id, r.cosine) for r in unindexed
    ]
    # the probe filter must be PARTITION pruning, not a scan+filter
    df = ann.ivf_topk_indexed(spark, path, qvec, cents, k=10, n_probe=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "_cid" in plan.split("PartitionFilters:")[1][:200]


def test_repetition_signals_hand_computed(spark):
    rows = [
        # "a b a b": words=4, distinct=2 -> dup_word 0.5;
        # 2-grams: [a b, b a, a b] -> top count 2, gram chars 2, total chars 4
        # -> top2 cover = 2*2/4 = 1.0
        (1, "a b a b"),
        # all-distinct words, no repeated grams: top2 = 1*2/4 (ties -> len 2)
        (2, "x y z w"),
        # duplicate lines
        (3, "hello world\nhello world\nbye"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textstats.repetition_signals(df).collect()}
    assert got[1].dup_word_fraction == 0.5
    assert got[1].top2gram_cover == 1.0
    assert got[2].dup_word_fraction == 0.0
    assert got[2].top2gram_cover == 0.5  # 1 occurrence * 2 chars / 4 chars
    assert got[3].dup_line_fraction == pytest.approx(1 / 3, abs=1e-6)


def test_repetition_filter_drops_degenerate(spark):
    rows = [
        (1, "spam spam spam spam spam spam spam spam"),  # dup_word 7/8
        # long enough that a single-occurrence top gram is a small char
        # fraction (short docs legitimately fail the coverage thresholds)
        (2, "a perfectly normal sentence with varied vocabulary where every "
            "single word appears exactly once and nothing repeats because "
            "the author kept finding fresh terms for each successive clause"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = [r.doc_id for r in textstats.repetition_filter(df).collect()]
    assert kept == [2]
    # both implementations agree on the hand-built edge rows too
    kept_jvm = [r.doc_id for r in textstats.repetition_filter(df, impl="jvm").collect()]
    assert kept == kept_jvm


def test_repetition_filter_impls_decision_equal(spark):
    """The Arrow (Counter) predicate and the JVM column-expression
    predicate — whose VALUES the DuckDB oracle pins — keep exactly the
    same rows on a synthetic corpus plus adversarial edges (empty text,
    whitespace-only, single word, newline runs, heavy duplication, long
    docs, null)."""
    from kgce import schemas, synth

    pages = synth.gen_pages(120, seed=9, long_frac=0.25)
    rows = [{"doc_id": i, "text": p["text"]} for i, p in enumerate(pages)]
    edge_texts = [
        "", "   ", "\n\n\n", "word", "a a a a a a a a a a",
        "x\nx\nx\nx", "one two " * 50, "tok " * 500, None,
        "Mixed CASE Words mixed case words MIXED case",
        # non-ASCII casefold/whitespace semantics (ADVICE r4): Unicode
        # default case mapping + ASCII-only \s + space-only trim must
        # agree between CPython and the JVM on real multilingual crawl
        # text — NBSP edges, Turkish dotted-I, ß/ẞ, Greek final sigma,
        # ligatures, fullwidth forms, line/paragraph separators
        "\xa0İstanbul\xa0 ıI İstanbul ıI İstanbul ıI İstanbul ıI",
        "STRASSE ß ẞ straße " * 12,
        "ΣΙΣΥΦΟΣ τέλοσ Σίσυφος " * 10,
        "ﬁle ﬀ ＡＢＣ ǅungla " * 15,
        "a\xa0b c d e f " * 20,
        "İ i̇ İ i̇ distinct words here now",
    ]
    rows += [{"doc_id": 1000 + i, "text": t} for i, t in enumerate(edge_texts)]
    df = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    )
    kept_py = {r.doc_id for r in textstats.repetition_filter(df).collect()}
    kept_jvm = {r.doc_id for r in textstats.repetition_filter(df, impl="jvm").collect()}
    assert kept_py == kept_jvm
    assert kept_py  # non-degenerate: something survives
    assert 1008 not in kept_py  # null text dropped by both
