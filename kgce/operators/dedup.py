"""Document deduplication for training-data pipelines.

Four families, each a DataFrame->DataFrame operator over a
``documents(doc_id, text, ...)`` table:

* exact        — hash-groupBy on a content digest (md5 so the DuckDB
                 oracle can reproduce it bit-for-bit),
* n-gram Jaccard — checkpointed per-doc shingle sets; their exploded
                 (doc_id, shingle) rows are the band table of
                 ``linking.band_pairs`` (one shuffle on shingle), the
                 distinct pairs are verified with exact set Jaccard.
* MinHash+LSH  — shingle -> K minhashes -> B band buckets -> bucket join;
                 the scale path: candidate generation never compares all
                 pairs.  md5 family (one md5 per shingle + universal
                 hashing, DuckDB-reproducible) or xxhash64 (production).
* SimHash      — 64-bit weighted-majority fingerprint; near-dups differ
                 in few bits, found by 4x16-bit band blocking.  Bitwise
                 ops are JVM-side; the xxhash64 form is verified against
                 a pure-Python oracle in pytest, the md5 twin by DuckDB.

Every pair-generating blocker self-joins its band rows through
``linking.band_pairs`` over a checkpointed signature or band frame.

Embedding-cosine near-dup lives in kgce.operators.ann (same machinery as
similarity search).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.stage import checkpoint
from .linking import band_pairs, verified_edges


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

    Distributed shape: the per-doc shingle sets are checkpointed once;
    their exploded (doc_id, shingle) rows are the band table of
    :func:`linking.band_pairs` (one shuffle on shingle), the distinct
    pairs that share a shingle are the candidates, and
    :func:`linking.verified_edges` scores each with the exact Jaccard of
    the two full sets.

    ``max_df`` is the 100-TB guard: a stop-shingle ("of the x") appearing
    in k docs contributes k² rows to the self-join — one hot shingle can
    pair a large fraction of the corpus.  With ``max_df`` set, shingles
    whose document frequency exceeds it are dropped from CANDIDATE
    generation only, so reported values stay exact; only pairs whose
    every common shingle is high-DF can be missed — by construction
    near-dups share many low-DF shingles.  Default None keeps every
    shingle: every pair with a common shingle is verified.

    Precondition: ``id_col`` is unique per row.  A repeated id makes the
    set re-attach 1:k, so one pair can be reported with several values.
    """
    full = checkpoint(
        docs.select(F.col(id_col).alias("doc_id"), word_shingles(F.col(text_col), n).alias("sh"))
    )
    sh = full.select("doc_id", F.explode("sh").alias("shingle"))
    cands = band_pairs(sh, "doc_id", ["shingle"], max_df).distinct()
    return verified_edges(_reattach(cands, full, "sh"), threshold)


def _reattach(pairs: DataFrame, per_doc: DataFrame, col: str) -> DataFrame:
    """``pairs`` (a, b) with ``per_doc``'s (doc_id, ``col``) payload joined
    on as ``<col>_a`` and ``<col>_b``."""
    for side in ("a", "b"):
        pairs = pairs.join(
            per_doc.select(F.col("doc_id").alias(side), F.col(col).alias(f"{col}_{side}")), side
        )
    return pairs


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

    The two differ only in the per-shingle value, the family member
    derived from it and the band's bucket expression; the fold and the
    band explode are shared.
    """
    return _minhash_bands(
        docs.select(F.col(id_col).alias("doc_id"), word_shingles(F.col(text_col), n).alias("sh")),
        num_hashes,
        bands,
        hash_fn,
    )


def _minhash_bands(per_doc: DataFrame, num_hashes: int, bands: int, hash_fn: str) -> DataFrame:
    """:func:`minhash_band_buckets` of ``per_doc``'s (doc_id, sh) shingle sets."""
    if hash_fn == "xx":
        return _band_buckets(
            per_doc.select("doc_id", F.col("sh").alias("_x")),
            num_hashes,
            bands,
            F.lit(2**63 - 1),
            lambda i, s: F.xxhash64(s, F.lit(i)),
            lambda mhs: F.xxhash64(*mhs).cast("string"),
        )
    return _band_buckets(
        per_doc.select(
            "doc_id",
            F.transform(
                "sh", lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
            ).alias("_x"),
        ),
        num_hashes,
        bands,
        F.lit(MH_P).cast("long"),
        lambda i, b: (F.lit(MH_A[i]) * b + F.lit(MH_C[i])) % F.lit(MH_P),
        lambda mhs: F.md5(F.concat_ws("|", *[m.cast("string") for m in mhs])),
    )


def _band_buckets(per_doc, num_hashes, bands, zero, member, bucket) -> DataFrame:
    """(doc_id, band_id, bucket) rows from ``per_doc`` (doc_id, _x): the
    K minhashes ``min over x in _x of member(i, x)`` (``zero`` when _x is
    empty), then one ``bucket(minhashes)`` per band of K / bands rows.

    The shingle array and its per-shingle values are COLUMNS, so the
    whole signature is a narrow projection — NO explode before the fold,
    NO shuffle (round-1 used an explode + 8-way groupBy, i.e. a full
    shuffle of every shingle row).  All K families fold in ONE
    ``F.aggregate`` pass with a struct accumulator: K separate
    array_min(transform(...)) columns each materialize an intermediate
    array per row — measured 3.7 s of the md5 path's 5 s at sf0.1.  The
    accumulator struct lands in its own projection so the fold is
    evaluated once, not once per field; all bands come from one array
    explode, not a union of recomputed branches."""
    rows = num_hashes // bands
    acc = F.aggregate(
        F.col("_x"),
        F.struct(*[zero.alias(f"m{i}") for i in range(num_hashes)]),
        lambda a, x: F.struct(
            *[F.least(a[f"m{i}"], member(i, x)).alias(f"m{i}") for i in range(num_hashes)]
        ),
    )
    sig = per_doc.select("doc_id", acc.alias("_acc")).select(
        "doc_id", *[F.col("_acc").getField(f"m{i}").alias(f"mh{i}") for i in range(num_hashes)]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band_id"),
                bucket([F.col(f"mh{band * rows + j}") for j in range(rows)]).alias("bucket"),
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
    are dropped from candidate generation (linking.band_pairs) — their
    members still pair via their other (more selective) bands, which is
    where true near-dups agree anyway.  Default None = exact oracle
    behavior.
    """
    bb = checkpoint(minhash_band_buckets(docs, **kw))
    return band_pairs(bb, "doc_id", ["band_id", "bucket"], max_bucket_size).distinct()


def _simhash_fold(docs: DataFrame, id_col: str, text_col: str, bits: int, **hashes) -> DataFrame:
    """(doc_id, <name>...) SimHash fingerprints of ``bits`` bits, one per
    ``name=word_hash`` keyword: bit j is set when most words' hash has
    bit j set (the majority sign of +1/-1 votes).

    All bitwise math stays in JVM codegen: one aggregate pass over the
    words sums a ``bits``-slot vote array (the bit index is unrolled at
    plan time — shiftright needs a literal bit count), and the votes land
    in their own projection, so the fold runs once per row, not once per
    bit read.  Bit 63 is the signed long's sign bit."""
    words = F.split(normalize_doc(F.col(text_col)), " ")

    def votes(word_hash) -> "F.Column":
        return F.aggregate(
            F.transform(words, word_hash),
            F.array_repeat(F.lit(0).cast("long"), bits),
            lambda acc, h: F.zip_with(
                acc,
                F.array(
                    *[
                        F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                        .otherwise(F.lit(-1))
                        .cast("long")
                        for j in range(bits)
                    ]
                ),
                lambda a, v: a + v,
            ),
        )

    def fingerprint(v: "F.Column") -> "F.Column":
        fp = F.lit(0).cast("long")
        for j in range(bits):
            bit = (1 << j) if j < 63 else -(1 << 63)
            fp = fp.bitwiseOR(
                F.when(F.element_at(v, j + 1) > 0, F.lit(bit).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
            )
        return fp

    voted = docs.select(
        F.col(id_col).alias("doc_id"), *[votes(h).alias(f"_v_{k}") for k, h in hashes.items()]
    )
    return voted.select("doc_id", *[fingerprint(F.col(f"_v_{k}")).alias(k) for k in hashes])


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, simhash): 64-bit SimHash over words, xxhash64 per word."""
    return _simhash_fold(docs, id_col, text_col, 64, simhash=lambda w: F.xxhash64(w))


def simhash_md5(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Oracle-checkable SimHash twin: 64 bits from md5, kept as TWO
    unsigned 32-bit halves (fp_hi = md5 hex chars 1-8, fp_lo = chars 9-16)
    so both engines avoid signed-64 overflow; DuckDB reproduces every bit
    (``('0x'||substr(md5(w),1,8))::BIGINT`` == Spark ``conv(...,16,10)``).

    Production path stays :func:`simhash` (xxhash64 — one hash per word
    instead of an md5 + two string slices).
    """

    def half(offset: int):
        return lambda w: F.conv(F.substring(F.md5(w), offset, 8), 16, 10).cast("long")

    return _simhash_fold(docs, id_col, text_col, 32, fp_hi=half(1), fp_lo=half(9))


def _simhash_pairs(fp: DataFrame, bands: list, hamming, max_hamming: int) -> DataFrame:
    """(a, b, hamming) pairs of the (doc_id, fingerprint...) frame ``fp``
    that agree on at least one of ``bands`` and lie within
    ``max_hamming`` bits; ``hamming(a, b)`` is the distance of the two
    fingerprint structs.

    The fingerprint frame is checkpointed, so the word fold runs once;
    one posexplode gives the (band_id, band_val) rows that
    :func:`linking.band_pairs` self-joins, and the fingerprints re-attach
    to the distinct pairs only.  Precondition: ``doc_id`` is unique per
    row (a repeated id re-attaches 1:k)."""
    fp = checkpoint(fp)
    banded = fp.select("doc_id", F.posexplode(F.array(*bands)).alias("band_id", "band_val"))
    cands = band_pairs(banded, "doc_id", ["band_id", "band_val"], None).distinct()
    side = fp.select("doc_id", F.struct(*fp.columns[1:]).alias("fp"))
    return (
        _reattach(cands, side, "fp")
        .select("a", "b", hamming(F.col("fp_a"), F.col("fp_b")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def _band(col: str, shift: int, bits: int = 16) -> "F.Column":
    return F.shiftrightunsigned(F.col(col), shift).bitwiseAND(F.lit((1 << bits) - 1))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3, band_bits: int = 16) -> DataFrame:
    """Near-dup pairs by SimHash: block on 16-bit bands (any equal band),
    verify Hamming distance <= max_hamming.  Standard 4-band trick: dups
    within 3 bits MUST agree on at least one of 4 disjoint 16-bit bands.
    Precondition: ``doc_id`` is unique per row."""
    return _simhash_pairs(
        simhash(docs),
        [_band("simhash", i * band_bits, band_bits) for i in range(64 // band_bits)],
        lambda a, b: F.bit_count(a["simhash"].bitwiseXOR(b["simhash"])),
        max_hamming,
    )


def simhash_near_pairs_md5(docs: DataFrame, max_hamming: int = 8) -> DataFrame:
    """DuckDB-checkable twin of :func:`simhash_near_pairs`: 4x16-bit band
    blocking over the (fp_hi, fp_lo) md5 SimHash, Hamming verify.
    Precondition: ``doc_id`` is unique per row."""
    return _simhash_pairs(
        simhash_md5(docs),
        [_band(half, shift) for half in ("fp_lo", "fp_hi") for shift in (0, 16)],
        lambda a, b: (
            F.bit_count(a["fp_hi"].bitwiseXOR(b["fp_hi"]))
            + F.bit_count(a["fp_lo"].bitwiseXOR(b["fp_lo"]))
        ).cast("long"),
        max_hamming,
    )


def near_dup_groups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xx",
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full near-duplicate clustering: MinHash-LSH candidate pairs ->
    exact-Jaccard verify -> connected components -> one keeper per
    cluster.

    The per-doc shingle sets are checkpointed once: the band table (as
    in :func:`minhash_lsh_pairs`), the verify sets and the id list all
    read that checkpoint, so the input is evaluated once.

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

    full = checkpoint(
        docs.select(F.col(id_col).alias("doc_id"), word_shingles(F.col(text_col), n).alias("sh"))
    )
    bb = checkpoint(_minhash_bands(full, num_hashes, bands, hash_fn))
    cands = band_pairs(bb, "doc_id", ["band_id", "bucket"], max_bucket_size).distinct()
    pairs = (
        _reattach(cands, full, "sh")
        .filter(
            F.size(F.array_intersect("sh_a", "sh_b"))
            >= F.lit(threshold) * F.size(F.array_union("sh_a", "sh_b"))
        )
        .select("a", "b")
    )
    integral = isinstance(
        docs.schema[id_col].dataType, (ByteType, ShortType, IntegerType, LongType)
    )
    if integral:
        # the candidates are (a < b) + distinct; the 1:1 shingle
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
        ids = full.select(F.col("doc_id").cast("long"))
        return (
            ids.join(comps, ids.doc_id == comps.node, "left")
            .select(
                "doc_id",
                F.coalesce("component", F.col("doc_id")).alias("group_id"),
            )
            .withColumn("keeper", F.col("doc_id") == F.col("group_id"))
        )
    ids = full.select("doc_id", F.xxhash64(F.col("doc_id").cast("string")).alias("node"))
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
