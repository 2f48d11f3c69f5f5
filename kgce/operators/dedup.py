"""Document deduplication for training-data pipelines.

Four families, each a DataFrame->DataFrame operator over a
``documents(doc_id, text, ...)`` table:

* exact        — hash-groupBy on a content digest (md5 so the DuckDB
                 oracle can reproduce it bit-for-bit),
* n-gram Jaccard — exploded word-shingle equi-join; pairs above a
                 Jaccard threshold.  One shuffle on shingle, one on pair.
* MinHash+LSH  — shingle -> K minhashes -> B band buckets -> bucket join;
                 the scale path: candidate generation never compares all
                 pairs.  Hash = md5(seed || shingle) (lexicographic min),
                 chosen over xxhash64 ONLY because both engines implement
                 md5 identically — swap to xxhash64 on a real cluster.
* SimHash      — 64-bit weighted-majority fingerprint; near-dups differ
                 in few bits.  Bitwise ops are JVM-side; no SQL oracle
                 (verified against a pure-Python oracle in pytest).

Embedding-cosine near-dup lives in kgce.operators.ann (same machinery as
similarity search).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.stage import checkpoint


def normalize_doc(col) -> "F.Column":
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


# universal-hash family over one md5-derived 32-bit base: h_i = (a*b + c) % p.
# a < 2^30 so a*b stays under 2^62 (ANSI-mode signed-64 safety); fixed odd
# multipliers — identical literals in the DuckDB oracle SQL.
MH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
MH_A = [769, 13337, 514229, 1000003, 29986577, 104395301, 512927357, 982451653]
MH_C = [12289, 24593, 49157, 98317, 196613, 393241, 786433, 1572869]


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct content digest: keeper id + duplicate count."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.md5(normalize_doc(F.col(text_col))).alias("digest"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_docs"))
    )


def _gram_array(words: "F.Column", n: int) -> "F.Column":
    """Word n-grams of a words array, one per start position (k =
    max(size - n + 1, 1); when the doc has < n words the single gram is
    the whole doc).

    Shape matters: a ``transform(sequence(0, k-1), i -> array_join(
    slice(words, i+1, n)))`` lambda re-evaluates the ``words``
    expression tree — the regexp normalize + split of the WHOLE
    document — once per element (HOF lambdas are interpreted and inline
    free outer expressions; the CLAUDE.md HOF cost model), making the
    gram build O(words²·len).  Zipping ``words`` with its n-1 shifted
    copies instead references ``words`` only O(n) times per ROW (and
    those non-lambda references are subexpression-eliminated), and the
    per-element lambda touches nothing but its own struct: O(words·n).
    Measured 6.8x (n=3) / 3x (n=8) on the sf1.0 corpus, byte-identical
    output (arrays_zip pads the shifted copies with NULL at the tail;
    concat_ws skips NULLs exactly like array_join of the shorter
    slice)."""
    sz = F.size(words)
    parts = [
        (words if i == 0 else F.slice(words, i + 1, sz)).alias(f"w{i}")
        for i in range(n)
    ]
    grams = F.transform(
        F.arrays_zip(*parts),
        lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(n)]),
    )
    k = F.greatest(sz - (n - 1), F.lit(1))
    return F.slice(grams, 1, k)


def word_shingles(col, n: int = 3) -> "F.Column":
    """Distinct word n-grams (space-joined) of a text column."""
    return F.array_distinct(_gram_array(F.split(normalize_doc(col), " "), n))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold via shingle inverted index.

    Distributed shape: explode shingles (narrow), self-join on shingle
    (one shuffle), count common shingles per pair, then
    |A∩B| / (|A|+|B|-|A∩B|).

    ``max_df`` is the 100-TB guard: a stop-shingle ("of the x") appearing
    in k docs contributes k² rows to the self-join — one hot shingle can
    pair a large fraction of the corpus.  With ``max_df`` set, shingles
    whose document frequency exceeds it are dropped from CANDIDATE
    generation and the surviving pairs are re-verified with EXACT Jaccard
    over the full shingle sets (so reported values stay exact; only pairs
    whose every common shingle is high-DF can be missed — by construction
    near-dups share many low-DF shingles).  Default None keeps the fully
    exact single-join form.
    """
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(word_shingles(F.col(text_col), n)).alias("n_sh"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        idx = sh.join(rare, "shingle")  # pruned inverted index
        a = idx.select(F.col("doc_id").alias("a"), "shingle")
        b = idx.select(F.col("doc_id").alias("b"), "shingle")
        cands = a.join(b, "shingle").filter(F.col("a") < F.col("b")).select("a", "b").distinct()
        full = docs.select(
            F.col(id_col).alias("_id"), word_shingles(F.col(text_col), n).alias("_sh")
        )
        # |A∪B| = |A| + |B| - |A∩B| (exact: word_shingles is distinct) —
        # one set operation per pair instead of two
        inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
        union = (F.size("_sha") + F.size("_shb")).cast("double") - inter
        return (
            cands.join(full.select(F.col("_id").alias("a"), F.col("_sh").alias("_sha")), "a")
            .join(full.select(F.col("_id").alias("b"), F.col("_sh").alias("_shb")), "b")
            .withColumn("jaccard", inter / union)
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard")
        )
    a = sh.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na"), "shingle")
    b = sh.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "na", "nb")
        .agg(F.count("*").alias("common"))
    )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return common.withColumn("jaccard", jac).filter(F.col("jaccard") >= threshold).select(
        "a", "b", "jaccard"
    )


def minhash_band_buckets(
    docs: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, band_id, bucket) rows; near-dups share a bucket in >=1 band.

    ``hash_fn``:
      * ``md5`` — ONE md5 per shingle, parsed to a 32-bit base
        (``conv(substr(md5(s),1,8),16,10)`` == DuckDB
        ``('0x'||substr(md5(s),1,8))::BIGINT``), then the K hash family
        derived by universal hashing ``(a_i * base + c_i) % p`` — 8x less
        hashing than an md5 per family member, LONG aggregate buffers
        (HashAggregate), and every bit reproducible in DuckDB.
        ``a_i < 2^30`` keeps ``a_i * base`` under 2^62 (ANSI overflow).
      * ``xx``  — minhash_i = min of xxhash64(shingle, seed=i) — the
        production path at 100 TB (no DuckDB twin; pytest-verified
        equivalent pair recall instead).
    """
    # the shingle array and the per-shingle base hash are materialized as
    # COLUMNS once per row; the K family members are then cheap array
    # transforms over that bound column — NO explode, NO shuffle, the
    # whole signature computation is a narrow projection (round-1 used an
    # explode + 8-way groupBy, i.e. a full shuffle of every shingle row)
    rows = num_hashes // bands
    # Both paths fold ALL hash families in ONE F.aggregate pass with a
    # struct accumulator: K separate array_min(transform(...)) columns
    # each materialize an intermediate array per row — measured 3.7 s of
    # the md5 path's 5 s at sf0.1.  The accumulator struct lands in its
    # own projection so the fold is evaluated once, not once per field.
    if hash_fn == "xx":
        shingled = docs.select(
            F.col(id_col).alias("doc_id"), word_shingles(F.col(text_col), n).alias("_sh")
        )
        zero = F.struct(
            *[F.lit(2**63 - 1).alias(f"m{i}") for i in range(num_hashes)]
        )
        acc = F.aggregate(
            F.col("_sh"),
            zero,
            lambda a, s: F.struct(
                *[
                    F.least(a[f"m{i}"], F.xxhash64(s, F.lit(i))).alias(f"m{i}")
                    for i in range(num_hashes)
                ]
            ),
        )
        sig = shingled.select("doc_id", acc.alias("_acc")).select(
            "doc_id", *[F.col("_acc").getField(f"m{i}").alias(f"mh{i}") for i in range(num_hashes)]
        )
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(band).alias("band_id"),
                    F.xxhash64(
                        *[F.col(f"mh{band * rows + j}") for j in range(rows)]
                    ).cast("string").alias("bucket"),
                )
                for band in range(bands)
            ]
        )
        return sig.select("doc_id", F.explode(band_structs).alias("b")).select(
            "doc_id", F.col("b.band_id").alias("band_id"), F.col("b.bucket").alias("bucket")
        )
    based = docs.select(
        F.col(id_col).alias("doc_id"),
        F.transform(
            word_shingles(F.col(text_col), n),
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
        ).alias("_b"),
    )
    zero = F.struct(
        *[F.lit(MH_P).cast("long").alias(f"m{i}") for i in range(num_hashes)]
    )
    acc = F.aggregate(
        F.col("_b"),
        zero,
        lambda a, b: F.struct(
            *[
                F.least(
                    a[f"m{i}"], (F.lit(MH_A[i]) * b + F.lit(MH_C[i])) % F.lit(MH_P)
                ).alias(f"m{i}")
                for i in range(num_hashes)
            ]
        ),
    )
    sig = based.select("doc_id", acc.alias("_acc")).select(
        "doc_id", *[F.col("_acc").getField(f"m{i}").alias(f"mh{i}") for i in range(num_hashes)]
    )
    # all bands in one select + explode (no union of recomputed branches)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh{band * rows + j}").cast("string")
                            for j in range(rows)
                        ],
                    )
                ).alias("bucket"),
            )
            for band in range(bands)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.band_id").alias("band_id"), F.col("b.bucket").alias("bucket")
    )


def minhash_lsh_pairs(
    docs: DataFrame, max_bucket_size: int | None = None, **kw
) -> DataFrame:
    """Candidate near-dup pairs from shared LSH buckets (a < b).

    The band-bucket table is materialized (plans.stage.checkpoint) before the
    self-join: a broadcast build side defeats ReusedExchange, so without
    this the whole shingle->minhash pipeline executes TWICE (verified in
    the round-1 live plan).  Post-checkpoint the join reads the tiny
    (doc_id, band_id, bucket) table from block storage on both sides.

    ``max_bucket_size`` is the hot-bucket skew guard for 10^12-doc runs:
    a degenerate bucket of k members (boilerplate pages, empty docs)
    yields k²/2 candidate pairs in ONE task.  Buckets larger than the cap
    are dropped from candidate generation — their members still pair via
    their other (more selective) bands, which is where true near-dups
    agree anyway.  Default None = exact oracle behavior.
    """
    bb = checkpoint(minhash_band_buckets(docs, **kw))
    if max_bucket_size is not None:
        small = (
            bb.groupBy("band_id", "bucket")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("band_id", "bucket")
        )
        bb = bb.join(small, ["band_id", "bucket"])
    x, y = bb.alias("x"), bb.alias("y")
    return (
        x.join(
            y,
            F.expr("x.band_id = y.band_id AND x.bucket = y.bucket AND x.doc_id < y.doc_id"),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash over words: bit j = majority sign of hash-bit j.

    All bitwise math stays in JVM codegen: per word, xxhash64 supplies the
    64 bits; per bit, +1/-1 votes are summed via an aggregate over a
    64-slot array.
    """
    words = F.split(normalize_doc(F.col(text_col)), " ")
    hashes = F.transform(words, lambda w: F.xxhash64(w))
    # vote vector per word, built with the bit index unrolled at plan time
    # (shiftright needs a literal bit count); one aggregate pass over words
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                    .otherwise(F.lit(-1))
                    .cast("long")
                    for j in range(64)
                ]
            ),
            lambda a, v: a + v,
        ),
    )
    docs = docs.withColumn("_votes", votes)
    fp = F.lit(0).cast("long")
    for j in range(64):
        bit = (1 << j) if j < 63 else -(1 << 63)  # sign bit as signed long
        fp = fp.bitwiseOR(
            F.when(F.element_at("_votes", j + 1) > 0, F.lit(bit).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return docs.select(F.col(id_col).alias("doc_id"), fp.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3, band_bits: int = 16) -> DataFrame:
    """Near-dup pairs by SimHash: block on 16-bit bands (any equal band),
    verify Hamming distance <= max_hamming.  Standard 4-band trick: dups
    within 3 bits MUST agree on at least one of 4 disjoint 16-bit bands.
    """
    sh = simhash(docs)
    bands = [
        F.shiftrightunsigned(F.col("simhash"), i * band_bits)
        .bitwiseAND(F.lit((1 << band_bits) - 1))
        .alias(f"band{i}")
        for i in range(64 // band_bits)
    ]
    banded = sh.select("doc_id", "simhash", *[b for b in bands])
    stacked = None
    for i in range(64 // band_bits):
        part = banded.select(
            "doc_id", "simhash", F.lit(i).alias("band_id"), F.col(f"band{i}").alias("band_val")
        )
        stacked = part if stacked is None else stacked.unionByName(part)
    a = stacked.select(
        F.col("doc_id").alias("a"), F.col("simhash").alias("sh_a"), "band_id", "band_val"
    )
    b = stacked.select(
        F.col("doc_id").alias("b"), F.col("simhash").alias("sh_b"), "band_id", "band_val"
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_md5(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Oracle-checkable SimHash twin: 64 bits from md5, kept as TWO
    unsigned 32-bit halves (fp_hi = md5 hex chars 1-8, fp_lo = chars 9-16)
    so both engines avoid signed-64 overflow; DuckDB reproduces every bit
    (``('0x'||substr(md5(w),1,8))::BIGINT`` == Spark ``conv(...,16,10)``).

    Production path stays :func:`simhash` (xxhash64 — one hash per word
    instead of an md5 + two string slices).
    """
    words = F.split(normalize_doc(F.col(text_col)), " ")

    def _fp(offset: int) -> "F.Column":
        hs = F.transform(
            words,
            lambda w: F.conv(F.substring(F.md5(w), offset, 8), 16, 10).cast("long"),
        )
        votes = F.aggregate(
            hs,
            F.array_repeat(F.lit(0).cast("long"), 32),
            lambda acc, h: F.zip_with(
                acc,
                F.array(
                    *[
                        F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                        .otherwise(F.lit(-1))
                        .cast("long")
                        for j in range(32)
                    ]
                ),
                lambda a, v: a + v,
            ),
        )
        fp = F.lit(0).cast("long")
        for j in range(32):
            fp = fp + F.when(F.element_at(votes, j + 1) > 0, F.lit(1 << j)).otherwise(
                F.lit(0)
            ).cast("long")
        return fp

    return docs.select(
        F.col(id_col).alias("doc_id"), _fp(1).alias("fp_hi"), _fp(9).alias("fp_lo")
    )


def simhash_near_pairs_md5(docs: DataFrame, max_hamming: int = 8) -> DataFrame:
    """DuckDB-checkable twin of :func:`simhash_near_pairs`: 4x16-bit band
    blocking over the (fp_hi, fp_lo) md5 SimHash, Hamming verify."""
    sh = simhash_md5(docs)
    mask = (1 << 16) - 1
    band_vals = [
        F.col("fp_lo").bitwiseAND(F.lit(mask)),
        F.shiftrightunsigned(F.col("fp_lo"), 16).bitwiseAND(F.lit(mask)),
        F.col("fp_hi").bitwiseAND(F.lit(mask)),
        F.shiftrightunsigned(F.col("fp_hi"), 16).bitwiseAND(F.lit(mask)),
    ]
    stacked = None
    for i, bv in enumerate(band_vals):
        part = sh.select(
            "doc_id", "fp_hi", "fp_lo", F.lit(i).alias("band_id"), bv.alias("band_val")
        )
        stacked = part if stacked is None else stacked.unionByName(part)
    a = stacked.select(
        F.col("doc_id").alias("a"), F.col("fp_hi").alias("ha"), F.col("fp_lo").alias("la"),
        "band_id", "band_val",
    )
    b = stacked.select(
        F.col("doc_id").alias("b"), F.col("fp_hi").alias("hb"), F.col("fp_lo").alias("lb"),
        "band_id", "band_val",
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) + F.bit_count(
        F.col("la").bitwiseXOR(F.col("lb"))
    )
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", ham.cast("long").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def near_dup_groups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xx",
    threshold: float = 0.5,
    n: int = 3,
    **lsh_kw,
) -> DataFrame:
    """Full near-duplicate clustering: MinHash-LSH candidate pairs ->
    exact-Jaccard verify -> connected components -> one keeper per
    cluster.

    The verify step matters: LSH candidates are probabilistic — without
    it, random band collisions between unrelated docs chain clusters
    together via the transitive closure (one false edge merges two whole
    groups).  Verification joins the (small) candidate set back to the
    per-doc shingle sets and keeps pairs with true Jaccard >= threshold,
    exactly like linking.verified_edges does for entity surface forms.

    Output: (doc_id, group_id, keeper) — ``keeper`` is true for exactly
    one member of each near-dup cluster (the min-id member for integral
    ids); singleton docs are their own keeper.  The downstream
    training-data filter is ``.filter("keeper")``.

    Non-integral ids (e.g. URL strings) are mapped to longs via xxhash64
    for the component computation and the component root is mapped BACK
    to its original id, so ``group_id`` always lives in id space — a
    plain ``cast('long')`` would turn every URL into NULL and silently
    drop the whole corpus at the keeper filter.
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    from .linking import connected_components

    cands = minhash_lsh_pairs(
        docs, id_col=id_col, text_col=text_col, hash_fn=hash_fn, n=n, **lsh_kw
    )
    sh = docs.select(
        F.col(id_col).alias("_sid"), word_shingles(F.col(text_col), n).alias("_sh")
    )
    pairs = (
        cands.join(sh.select(F.col("_sid").alias("a"), F.col("_sh").alias("_sha")), "a")
        .join(sh.select(F.col("_sid").alias("b"), F.col("_sh").alias("_shb")), "b")
        .filter(
            F.size(F.array_intersect("_sha", "_shb"))
            >= F.lit(threshold) * F.size(F.array_union("_sha", "_shb"))
        )
        .select("a", "b")
    )
    integral = isinstance(
        docs.schema[id_col].dataType, (ByteType, ShortType, IntegerType, LongType)
    )
    if integral:
        # minhash_lsh_pairs emits (a < b) + distinct; the 1:1 shingle
        # joins and the Jaccard filter preserve both, and so does the
        # long cast of integral ids — skip CC's re-canonicalization.
        # Precondition: ``id_col`` is unique per row.  A repeated id
        # makes the shingle joins 1:k, so the pairs are no longer
        # distinct and one id stands for two different texts.
        # (The xxhash64 branch below must NOT skip it: hashing preserves
        # neither the a < b order nor, under collision, loop-freeness.)
        comps = connected_components(
            pairs.select(F.col("a").cast("long"), F.col("b").cast("long")),
            assume_canonical=True,
        )
        ids = docs.select(F.col(id_col).cast("long").alias("doc_id"))
        return (
            ids.join(comps, ids.doc_id == comps.node, "left")
            .select(
                "doc_id",
                F.coalesce("component", F.col("doc_id")).alias("group_id"),
            )
            .withColumn("keeper", F.col("doc_id") == F.col("group_id"))
        )
    ids = docs.select(F.col(id_col).alias("doc_id")).withColumn(
        "node", F.xxhash64(F.col("doc_id").cast("string"))
    )
    comps = connected_components(
        pairs.select(
            F.xxhash64(F.col("a").cast("string")).alias("a"),
            F.xxhash64(F.col("b").cast("string")).alias("b"),
        )
    )
    assigned = ids.join(comps, "node", "left").select(
        "doc_id", "node", F.coalesce("component", F.col("node")).alias("comp")
    )
    # the component label is the min member HASH; its row maps it back to id
    roots = assigned.filter(F.col("node") == F.col("comp")).select(
        "comp", F.col("doc_id").alias("group_id")
    )
    return (
        assigned.join(roots, "comp", "left")
        .select("doc_id", F.coalesce("group_id", F.col("doc_id")).alias("group_id"))
        .withColumn("keeper", F.col("doc_id") == F.col("group_id"))
    )
