"""Entity linking & canonicalization (J10 + A10, BASELINE.json:6).

1. normalize mention surface forms,
2. MinHash signatures over character-3-gram shingles — deterministic
   ``xxhash64(shingle, seed_i)`` per hash function, all JVM-side column
   expressions (no UDF),
3. LSH banding: pairs sharing any band bucket are candidates (the
   blocked similarity join — one shuffle on band key; AQE skew-join
   handles hot buckets like single-token surface forms),
4. verify candidates with exact Jaccard on shingle sets
   (array_intersect/array_union — still JVM-side),
5. connected components over the verified similarity edges via the
   alternating large-star/small-star algorithm (Kiveris et al., "Connected
   Components in MapReduce and Beyond", SOCC'14) — O(log n) rounds,
   each round checkpointed to cut lineage,
6. canonical entity id = the component representative (min entity key).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.stage import checkpoint

DEFAULT_NUM_HASHES = 12
DEFAULT_BANDS = 4  # 4 bands x 3 rows


def normalize_text(col) -> "F.Column":
    """Deterministic surface-form normalization (lower + squeeze non-alnum)."""
    return F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))


def _shingle_expr(colname: str, n: int = 3) -> "F.Column":
    padded = f"concat(' ', {colname}, ' ')"
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({padded}) - {n - 1}, 1)), "
        f"i -> substring({padded}, i, {n})))"
    )


def entity_vocab(mentions: DataFrame) -> DataFrame:
    """Distinct surface forms with a stable entity key.

    Linking runs over the VOCABULARY of normalized surface forms (distinct
    strings), not over mention instances — at 10^12 pages the vocabulary
    is orders of magnitude smaller than the mention table, and instances
    join back to canonical ids by surface form at the end.
    """
    return (
        mentions.select(normalize_text(F.col("text")).alias("norm"))
        .filter(F.length("norm") > 0)
        .distinct()
        .withColumn("entity_key", F.xxhash64("norm"))
    )


def minhash_signatures(vocab: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES) -> DataFrame:
    def _mh(i: int):
        # closure (not a defaulted lambda param: that would bind the array
        # index) — hash family = xxhash64(shingle, seed=i)
        return F.array_min(F.transform(F.col("shingles"), lambda s: F.xxhash64(s, F.lit(i))))

    sig = F.array(*[_mh(i) for i in range(num_hashes)])
    return (
        vocab.withColumn("shingles", _shingle_expr("norm"))
        .withColumn("signature", sig)
    )


def candidate_pairs_lsh(
    signed: DataFrame,
    bands: int = DEFAULT_BANDS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    max_bucket_size: int | None = 10_000,
    materialize: bool = True,
) -> DataFrame:
    """Pairs of entity keys sharing >=1 LSH band bucket (a < b).

    ``max_bucket_size`` caps degenerate buckets (stop-word-like surface
    forms — "Inc", single hot tokens — land millions of vocabulary
    entries in one bucket at web scale, and a k-member bucket emits k²/2
    pairs in one task).  Oversized buckets are dropped; genuinely similar
    forms still pair through their other bands.  The SURVEY §7 hard-parts
    list calls this the real-world hot spot.

    ``materialize`` checkpoints ``signed`` first: this plan consumes it
    from SIX subtrees (band explode x2, bucket counts x2, payload
    re-attach x2), and when it derives from the mention-extraction UDF an
    unmaterialized fork re-runs that UDF per consumer (the CLAUDE.md
    self-join trap; verified 6 MapInPandas in the live plan).  Pass
    False only if the caller already materialized it.
    """
    if materialize:
        signed = checkpoint(signed)
    rows = num_hashes // bands
    band_cols = F.array(
        *[
            F.xxhash64(F.slice("signature", i * rows + 1, rows).cast("string"), F.lit(1000 + i))
            for i in range(bands)
        ]
    )
    # the band explode + self-join + dedup move ONLY (band, entity_key) —
    # 16 bytes/row instead of norm + shingle arrays replicated per band
    # (r2 ADVICE: at vocabulary scale the fat payload dominated the
    # shuffled/broadcast bytes).  norm/shingles re-attach below to the
    # SURVIVING pairs only, which LSH makes a tiny fraction of the
    # banded rows; the payload probe also never computes the minhash
    # signature (Catalyst prunes it), so the re-attach costs two joins
    # against the shingled vocab, not two signature passes.
    banded = signed.select("entity_key", F.explode(band_cols).alias("band"))
    if max_bucket_size is not None:
        small = (
            banded.groupBy("band")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("band")
        )
        banded = banded.join(small, "band")
    a = banded.select("band", F.col("entity_key").alias("a"))
    b = banded.select("band", F.col("entity_key").alias("b"))
    pairs = (
        a.join(b, "band")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    payload = signed.select("entity_key", "norm", "shingles")
    return pairs.join(
        payload.select(
            F.col("entity_key").alias("a"),
            F.col("norm").alias("norm_a"),
            F.col("shingles").alias("sh_a"),
        ),
        "a",
    ).join(
        payload.select(
            F.col("entity_key").alias("b"),
            F.col("norm").alias("norm_b"),
            F.col("shingles").alias("sh_b"),
        ),
        "b",
    ).select("a", "b", "norm_a", "norm_b", "sh_a", "sh_b")


def verified_pairs(
    signed: DataFrame,
    threshold: float = 0.6,
    bands: int = DEFAULT_BANDS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """``verified_edges(candidate_pairs_lsh(signed), threshold)`` with
    the SAME output, restructured for the per-pair hot loop (the LSH
    self-join emits 12M candidate pairs from a 15k vocabulary at sf1.0
    and only ~11% survive the Jaccard filter):

    * candidates attach an xxhash64-per-shingle (top-31-bit) INT array
      first and a hash-Jaccard prefilter drops the ~89% non-edges on
      cheap 4-byte comparisons.  Conservativeness (no true edge
      dropped; a false survivor is killed by the exact pass below) is
      PROVABLE when the hash is injective on each side's own shingle
      array: then |h(A)∩h(B)| >= |h(A∩B)| = |A∩B| while
      |h(A)|+|h(B)| = |A|+|B|, so hash-Jaccard >= true Jaccard.  A
      WITHIN-surface collision breaks that bound (the collided
      intersection can undercount — e.g. A={a1,a2,x}, B={a1,a2,y} with
      h(a1)=h(a2) reads 1/3 against a true 2/4), so the per-surface
      flag ``size(hashed) == size(shingles)`` detects exactly those
      rows (~k²/2^32 of the vocabulary) and pairs touching one bypass
      the prefilter straight into the exact verify.  The filter is
      therefore lossless BY CONSTRUCTION at any scale, not just
      empirically at the measured SFs;
    * only surviving pairs attach the string shingle arrays for the
      exact verify, and ``norm`` — which no edge consumer reads — never
      attaches at all;
    * |A∪B| is |A| + |B| - |A∩B| on both passes (arrays are distinct
      by construction).

    ``signed`` must be materialized (the caller checkpoints it — same
    contract as ``candidate_pairs_lsh(materialize=False)``).
    """
    rows = num_hashes // bands
    band_cols = F.array(
        *[
            F.xxhash64(
                F.slice("signature", i * rows + 1, rows).cast("string"),
                F.lit(1000 + i),
            )
            for i in range(bands)
        ]
    )
    banded = signed.select("entity_key", F.explode(band_cols).alias("band"))
    if max_bucket_size is not None:
        small = (
            banded.groupBy("band")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("band")
        )
        banded = banded.join(small, "band")
    a = banded.select("band", F.col("entity_key").alias("a"))
    b = banded.select("band", F.col("entity_key").alias("b"))
    # A bare hash exchange on the pair key stands between generation and
    # verification — NOT a dropDuplicates: deduplicating 12M
    # mostly-unique (a, b) keys builds useless partial-aggregation hash
    # maps before the shuffle (measured ~2x the exchange cost), while
    # NO exchange at all fuses the per-pair verify into the band-join
    # stage, where the hottest bucket (k=2153 -> 2.3M pairs at sf1.0)
    # runs as one straggler task (measured 1.5-2x slower than either).
    # The exchange spreads verify work uniformly (pair keys are
    # near-unique); a pair shared by several bands runs the cheap hash
    # prefilter once per band and dedups in the ~11% survivor set below.
    spark = signed.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    pairs = (
        a.join(b, "band")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .repartition(n_part, "a", "b")
    )
    # int32 (top-31-bit) hashes: half the bytes of int64 copied through
    # the two 12M-row payload joins, measured ~10% off the whole chain.
    # _inj = hash is injective on THIS surface's shingles (the hashed
    # distinct array kept every element) — the precondition under which
    # the prefilter bound is provable (see docstring); non-injective
    # rows are ~k²/2^32 of the vocabulary and their pairs skip the
    # prefilter (the exact pass decides them).
    hashed = signed.select(
        "entity_key",
        F.array_distinct(
            F.transform(
                F.col("shingles"),
                lambda s: F.shiftright(F.xxhash64(s), 33).cast("int"),
            )
        ).alias("_hs"),
        F.size("shingles").alias("_ns"),
    ).select(
        "entity_key", "_hs", (F.size("_hs") == F.col("_ns")).alias("_inj")
    )
    pre = pairs.join(
        hashed.select(
            F.col("entity_key").alias("a"),
            F.col("_hs").alias("_ha"),
            F.col("_inj").alias("_ia"),
        ),
        "a",
    ).join(
        hashed.select(
            F.col("entity_key").alias("b"),
            F.col("_hs").alias("_hb"),
            F.col("_inj").alias("_ib"),
        ),
        "b",
    )
    hinter = F.size(F.array_intersect("_ha", "_hb")).cast("double")
    hunion = (F.size("_ha") + F.size("_hb")).cast("double") - hinter
    # epsilon absorbs the one-ulp division rounding at the threshold
    # boundary; any extra survivor dies in the exact pass
    survivors = (
        pre.filter(
            (hinter / hunion >= F.lit(threshold) - F.lit(1e-9))
            | ~(F.col("_ia") & F.col("_ib"))
        )
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    payload = signed.select("entity_key", "shingles")
    exact = survivors.join(
        payload.select(F.col("entity_key").alias("a"), F.col("shingles").alias("sh_a")),
        "a",
    ).join(
        payload.select(F.col("entity_key").alias("b"), F.col("shingles").alias("sh_b")),
        "b",
    )
    return verified_edges(exact, threshold)


def verified_edges(cands: DataFrame, threshold: float = 0.6) -> DataFrame:
    """Exact Jaccard verification of LSH candidates (no false positives).

    |A∪B| is computed arithmetically as |A| + |B| - |A∩B| — exact
    because shingle arrays are array_distinct by construction — so each
    candidate pair pays ONE set operation instead of two (the verify
    stage is the per-pair hot loop: 12M candidate pairs at sf1.0)."""
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        cands.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    small_graph_threshold: int = 4_000_000,
    assume_canonical: bool = False,
) -> DataFrame:
    """A10: alternating large-star/small-star until fixpoint, with an
    adaptive small-graph fast path.

    Input: undirected edges (a, b) over long node ids.
    Output: (node, component) with component = min node id in component.

    Adaptivity: the deduped edge set is checkpointed ONCE, then a count
    over the materialized blocks decides the path — small graphs fetch
    the edges through the Arrow collect path for a driver-side
    union-find (at that size the distributed loop is pure scheduling
    overhead: each round is 2 jobs over kilobytes); big graphs iterate
    from the same checkpoint.  (The previous ``limit(T+1).collect()``
    probe was one job, but on a graph that CROSSED the threshold it
    py4j-collected T+1 Row objects only to throw them away AND left the
    upstream LSH+Jaccard chain to re-execute for the loop's own
    checkpoint — measured ~50 s of pure waste at sf1.0's 1.37M-edge
    vocabulary graph.  Checkpoint-first runs that chain exactly once on
    BOTH paths; the count/collect that follow are metadata-cheap reads
    of local blocks.)  Production web-scale runs with billions of edges
    take the iterative path: two groupBy/shuffle rounds per iteration,
    each checkpointed to cut the exponentially-growing lineage (the
    reference analog is its epoch-loop checkpointing,
    task.py:135-151).  With a configured checkpoint dir the cut is
    RELIABLE (executor loss cannot kill the truncated lineage);
    otherwise localCheckpoint.  Pass ``small_graph_threshold=0`` to
    force the distributed loop.
    """
    # undirected edge set, canonical (small, large) orientation.
    # ``assume_canonical``: the caller guarantees rows are already
    # (a < b), distinct and self-loop-free (verified_pairs output is,
    # by construction: pairs are generated with a < b and deduped) —
    # skipping the re-canonicalization saves one full exchange +
    # aggregation over the edge set.  Edges with a NULL id carry no
    # link (the canonicalizing branch drops them as self-loops), so the
    # shortcut drops them with one narrow filter.
    if assume_canonical:
        und = edges.select(F.col("a").alias("lo"), F.col("b").alias("hi")).dropna()
    else:
        und = (
            edges.select(
                F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
            )
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )
    e = checkpoint(und)
    if small_graph_threshold:
        if e.count() <= small_graph_threshold:
            # Arrow collect (toPandas), not .collect(): 10-100x cheaper
            # per row than py4j Row materialization at 10^5-10^6 edges.
            # The 4M default bound is a driver budget (~64 MB Arrow,
            # ~4 s of path-compressed union-find — the same size class
            # as a large broadcast); the distributed star loop needs
            # several shuffle rounds over the same edges and only wins
            # past that size.
            pdf = e.toPandas()
            return _cc_driver_arrays(
                pdf["lo"].to_numpy(), pdf["hi"].to_numpy(), edges.sparkSession
            )

    def _sym(und: DataFrame) -> DataFrame:
        return und.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
            und.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )

    def _stats(df: DataFrame) -> tuple:
        # order-independent fingerprint of the edge set: count + xor-hash
        # (bit_xor, not sum — ANSI mode overflows on summed xxhash64)
        return tuple(
            df.agg(
                F.count("*"),
                F.coalesce(F.bit_xor(F.xxhash64("lo", "hi")), F.lit(0)),
            ).collect()[0]
        )

    prev = _stats(e)
    converged = False
    for _ in range(max_iter):
        sym = _sym(e)
        # large-star: every undirected edge is seen once from its SMALLER
        # endpoint u (neighbor v > u); v re-attaches to m(u) = min(N(u) ∪ u)
        mins = (
            sym.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        e1 = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.least("v", "m").alias("lo"), F.greatest("v", "m").alias("hi"))
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )

        # small-star: every undirected edge seen once from its LARGER
        # endpoint u (neighbors v <= u); u and all of them attach to the min
        oriented = _sym(e1).filter(F.col("v") < F.col("u"))
        mins2 = oriented.groupBy("u").agg(F.min("v").alias("m"))
        e2 = (
            oriented.join(mins2, "u")
            .select(F.least("v", "m").alias("lo"), F.greatest("v", "m").alias("hi"))
            .union(mins2.select(F.col("m").alias("lo"), F.col("u").alias("hi")))
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )
        e2 = checkpoint(e2)  # cut iterative lineage
        # ONE cheap action per round: the edge-set fingerprint (count +
        # xor-hash) over the just-checkpointed blocks replaces the round-1
        # double-exceptAll probe — star contraction is monotone, so an
        # unchanged fingerprint across a round means fixpoint
        cur = _stats(e2)
        converged = cur == prev
        prev, e = cur, e2
        if converged:
            break
    if not converged:
        warnings.warn(
            f"connected_components: no fixpoint after max_iter={max_iter} "
            "rounds; component assignments may be incomplete",
            RuntimeWarning,
            stacklevel=2,
        )

    # fixpoint = forest of stars: every edge is (root, member)
    comp = e.groupBy(F.col("hi").alias("node")).agg(F.min("lo").alias("component"))
    roots = e.select(F.col("lo").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return comp.unionByName(roots.join(comp, "node", "left_anti"))


def _cc_driver_arrays(lo, hi, spark_session) -> DataFrame:
    """Small-graph fallback: vectorized connected components on the
    driver over the collected (deduped) edge arrays — semantics
    identical to the star loop (component = min node id), proven by the
    shared pytest union-find oracle.

    Shiloach-Vishkin shape: per round, hook each crossing edge's larger
    root under the smallest neighboring root (``np.minimum.at`` makes
    concurrent hooks into the same root order-independent — min wins),
    then pointer-double to full compression; settled edges drop out of
    later rounds.  O(log n) rounds, each a handful of O(E) numpy kernels
    — measured 6x over the previous pure-Python union-find loop at
    1.37M edges (0.29 s vs 1.74 s, np.unique's sort being over half the
    remaining cost), and the way back up is the same Arrow path (a py4j
    row upload is the bottleneck at 10^5+ nodes; pandas int64 == long).
    All-integer min/compare ops — bit-exact, no float-order concerns.
    """
    import numpy as np
    import pandas as pd

    lo = np.asarray(lo, dtype=np.int64)
    hi = np.asarray(hi, dtype=np.int64)
    if lo.size == 0:
        return spark_session.createDataFrame([], "node long, component long")
    # index space: np.unique sorts ascending, so index order == id order
    # and the min INDEX per component maps back to the min node id
    uniq, idx = np.unique(np.concatenate([lo, hi]), return_inverse=True)
    il, ih = idx[: lo.size], idx[lo.size :]
    p = np.arange(len(uniq), dtype=np.int64)
    while il.size:
        ru, rv = p[il], p[ih]
        crossing = ru != rv
        il, ih = il[crossing], ih[crossing]
        if not il.size:
            break
        ru, rv = ru[crossing], rv[crossing]
        np.minimum.at(p, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:  # pointer doubling to a fully-compressed forest
            p2 = p[p]
            if np.array_equal(p2, p):
                break
            p = p2
    return spark_session.createDataFrame(
        pd.DataFrame({"node": uniq, "component": uniq[p]})
    )


def canonicalize(mentions: DataFrame, threshold: float = 0.6) -> DataFrame:
    """Full linking pass: mentions -> (norm, entity_key, canonical_id).

    Surface forms that never matched anything keep their own key.
    """
    # ONE mention-UDF + vocab-distinct pass total: the signed vocabulary
    # is checkpointed here and every downstream consumer — band explode,
    # bucket counts, payload re-attach, and the final membership join —
    # reads the materialized blocks instead of re-running the pipeline.
    signed = checkpoint(minhash_signatures(entity_vocab(mentions)))
    edges = verified_pairs(signed, threshold)
    # verified_pairs emits (a < b), distinct, self-loop-free rows — the
    # CC re-canonicalization pass (one exchange + agg over the edge
    # set) is provably redundant here
    comps = connected_components(edges, assume_canonical=True)
    return (
        signed.select("norm", "entity_key")
        .join(comps, signed.entity_key == comps.node, "left")
        .select(
            "norm",
            "entity_key",
            F.coalesce(F.col("component"), F.col("entity_key")).alias("canonical_id"),
        )
    )


def blocking_quality(
    mentions: DataFrame,
    threshold: float = 0.6,
    sample_permille: int = 50,
    bands: int = DEFAULT_BANDS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """Measure the LSH blocking against exact ground truth on a bounded
    sample — the "measure, don't guess" gauge for the banding/threshold
    knobs before a 10^12-page run commits to them.

    One row: (n_sampled, n_true_pairs, n_candidate_pairs, n_found,
    pair_completeness, reduction_ratio) where

    * ``pair_completeness`` = fraction of true >=threshold-Jaccard pairs
      the band join surfaces (blocking RECALL — verification makes
      precision 1.0, so recall is the only quality axis);
    * ``reduction_ratio`` = 1 - candidates / all-pairs — how much of the
      quadratic comparison space blocking avoided.

    Bounded by construction: the vocabulary is hash-sampled at
    ``sample_permille`` (consistent md5 buckets — reproducible, and the
    SAME sample every run so the gauge is comparable across recrawls),
    and the exact all-pairs pass runs ONLY inside the sample (k²/2 with
    k = permille-scaled vocabulary; the default 5% of a 10^6-surface
    vocabulary is ~1.2e9 cheap integer-set comparisons across the
    cluster, a measurement budget — never run it on the full corpus).
    """
    vocab = entity_vocab(mentions).filter(
        F.pmod(
            F.conv(F.substring(F.md5(F.concat(F.lit("bq:"), F.col("norm"))), 1, 15), 16, 10).cast(
                "long"
            ),
            F.lit(1000),
        )
        < sample_permille
    )
    signed = checkpoint(minhash_signatures(vocab, num_hashes=num_hashes))
    n_sampled = signed.count()
    x = signed.select(
        F.col("entity_key").alias("a"), F.col("shingles").alias("sh_a")
    )
    y = signed.select(
        F.col("entity_key").alias("b"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    true_pairs = checkpoint(
        x.join(y, F.col("a") < F.col("b"))
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b")
    )
    cands = checkpoint(
        candidate_pairs_lsh(
            signed, bands=bands, num_hashes=num_hashes, materialize=False
        ).select("a", "b")
    )
    n_true = true_pairs.count()
    n_cand = cands.count()
    n_found = true_pairs.join(cands, ["a", "b"], "left_semi").count()
    all_pairs = n_sampled * (n_sampled - 1) / 2
    spark = mentions.sparkSession
    return spark.createDataFrame(
        [
            (
                n_sampled,
                n_true,
                n_cand,
                n_found,
                (n_found / n_true) if n_true else 1.0,
                (1.0 - n_cand / all_pairs) if all_pairs else 1.0,
            )
        ],
        "n_sampled long, n_true_pairs long, n_candidate_pairs long, "
        "n_found long, pair_completeness double, reduction_ratio double",
    )
