"""Document deduplication operators for large-scale training-data
pipelines: exact, n-gram Jaccard, MinHash/LSH, SimHash.

All operators are pure Catalyst built-ins over a ``documents``-shaped
table (doc_id, text, ...). Hashing uses md5 (identical across Spark and
DuckDB, which makes every operator oracle-checkable end-to-end); the ER
pipeline's blocking uses xxhash64 for speed — same algorithms, different
hash family.

Scale notes (100 TB corpus):
* shingle self-joins are the skew hazard: ``max_df`` drops
  ultra-common shingles BEFORE the join (a deterministic document-
  frequency cut, mirrored in the oracle SQL);
* exact dedup is one hash-groupBy (map-side partial agg);
* MinHash signatures are k min-aggregates in a single groupBy pass;
* all pair outputs are TRIL-deduped (doc_id_a < doc_id_b) at
  generation — the reference's triangle optimization
  (/root/reference/src/cuTWED.h:24-26) as a join predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cutwed_spark.cache import scoped_persist


def normalized_text(col: str = "text"):
    """Whitespace-collapsed lower-case normalization (shared with the
    oracle SQL verbatim)."""
    return F.trim(F.regexp_replace(F.lower(F.col(col)), r"\s+", " "))


def exact_duplicate_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup: md5 of normalized text -> groups with >= 2 docs.
    Output: (dup_hash, n_docs, min_doc_id, max_doc_id)."""
    return (
        docs.select(F.md5(normalized_text()).alias("dup_hash"), "doc_id")
        .groupBy("dup_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


def doc_shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle): distinct word k-gram shingles of normalized
    text; docs shorter than k words contribute their whole text.

    The word array is materialized as its OWN projection before the
    higher-order transform: Spark skips common-subexpression
    elimination inside HOF lambdas, so inlining the normalize+split
    tree into the per-shingle ``slice`` recomputes the regex split per
    OUTPUT shingle (interleaved A/B on the sf0.1 documents: 3.8 s ->
    0.85 s warm for the shingle subtree — the same trap featurize.py
    documents)."""
    staged = docs.select(
        "doc_id", F.split(normalized_text(), " ").alias("_words")
    )
    words = F.col("_words")
    shingles = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - k),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", words)))
    return staged.select(
        "doc_id", F.explode(shingles).alias("shingle")
    ).dropDuplicates(["doc_id", "shingle"])


def _rare_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles appearing in more than max_df docs (deterministic
    document-frequency cut — the anti-skew guard)."""
    # No forced broadcast: the <=max_df shingle set is unbounded (it
    # grows with the corpus — billions of rows at 100 TB). Plain equi-
    # join lets AQE pick broadcast only when the runtime size fits.
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return sh.join(
        df_counts.where(F.col("df") <= max_df).select("shingle"),
        "shingle",
    )


def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 3, threshold: float = 0.6, max_df: int = 100
) -> DataFrame:
    """Pairwise word-k-gram Jaccard similarity >= threshold.
    Output: (doc_id_a, doc_id_b, jaccard rounded to 4dp)."""
    # The shingle subtree feeds the size agg, the document-frequency
    # cut, AND both sides of the intersection self-join — without a
    # persist it would re-shingle the corpus ~4x. Run inside
    # cache.cache_scope() for deterministic release; outside a scope the
    # cache lives for the session (LRU-evicted).
    sh = scoped_persist(doc_shingles(docs, k))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    rare = _rare_shingles(sh, max_df)
    inter = (
        rare.alias("l")
        .join(rare.alias("r"), "shingle")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(
            F.col("l.doc_id").alias("doc_id_a"), F.col("r.doc_id").alias("doc_id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return _jaccard_cut(inter, sizes, threshold)


def _jaccard_cut(inter: DataFrame, sizes: DataFrame, min_jaccard: float) -> DataFrame:
    """(doc_id_a, doc_id_b, n_shared) + per-doc set sizes (doc_id, n_sh)
    -> (doc_id_a, doc_id_b, jaccard), keeping jaccard >= min_jaccard.
    Jaccard is rounded to 4dp BEFORE the cut — the oracle SQL's rule,
    so a borderline pair lands on the same side in Spark and DuckDB."""
    sa = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                4,
            ),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def _verified_pairs(cand: DataFrame, sh: DataFrame, min_jaccard: float) -> DataFrame:
    """Candidate pairs (doc_id_a, doc_id_b) -> (doc_id_a, doc_id_b,
    jaccard) by EXACT Jaccard over the full (doc_id, shingle) sets —
    intersection work only for the candidates, never all-pairs. ``sh``
    must hold each (doc_id, shingle) once: sizes and intersections
    count rows."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cand.join(
            sh.select(F.col("doc_id").alias("doc_id_a"), "shingle"), "doc_id_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_id_b"), "shingle"),
            ["doc_id_b", "shingle"],
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return _jaccard_cut(inter, sizes, min_jaccard)


def _band_keys(sh: DataFrame, num_hashes: int, band_size: int) -> DataFrame:
    """(doc_id, shingle) -> (doc_id, band_key): digest-split MinHash
    signature cut into bands. The one band-key derivation for batch and
    streaming dedup, so both agree on collisions by construction."""
    # 4 independent 32-bit slices per md5 digest (one-permutation-
    # hashing-style splitting): num_hashes min-hash functions cost only
    # ceil(num_hashes/4) digest computations per shingle row, and band
    # keys carry 8-hex-char slices instead of full 32-char digests —
    # ~4x less hashing CPU and ~4x smaller signature/bucket shuffle
    # rows. Digests are projected BEFORE the groupBy so each is
    # computed once per shingle (never re-evaluated per min-agg member).
    n_digests = (num_hashes + 3) // 4
    pre = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.col("shingle"), F.lit(f"#{d}"))).alias(f"d{d}")
            for d in range(n_digests)
        ],
    )
    mins = [
        F.min(F.substring(F.col(f"d{i // 4}"), 1 + 8 * (i % 4), 8)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = pre.groupBy("doc_id").agg(*mins)
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"h{b * band_size + r}") for r in range(band_size)],
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("band_key"))


def _minhash_band_pairs(
    sh: DataFrame, num_hashes: int, band_size: int
) -> DataFrame:
    """(doc_id, shingle) -> banded MinHash candidate pairs
    (doc_id_a < doc_id_b)."""
    keys = _band_keys(sh, num_hashes, band_size)
    return (
        keys.alias("l")
        .join(keys.alias("r"), "band_key")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_id_a"), F.col("r.doc_id").alias("doc_id_b")
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 12,
    band_size: int = 2,
    max_df: int = 100,
) -> DataFrame:
    """MinHash+LSH near-dup CANDIDATES: shingle -> k md5-minhashes ->
    banded keys -> bucket self-join. Output: (doc_id_a, doc_id_b).

    These are band collisions, NOT verified near-duplicates — at
    num_hashes=12 / band_size=2 a pair of Jaccard s collides with
    probability 1-(1-s^2)^6 (~6% at s=0.1), so anything that DELETES
    documents must verify first (:func:`minhash_lsh_verified_pairs`).
    The shingle subtree persists across the df-cut and the signature
    agg (two consumers); run inside cache.cache_scope() for
    deterministic release."""
    sh = _rare_shingles(scoped_persist(doc_shingles(docs, k)), max_df)
    return _minhash_band_pairs(sh, num_hashes, band_size)


def minhash_lsh_verified_pairs(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 12,
    band_size: int = 2,
    max_df: int = 100,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """LSH candidates post-verified by EXACT Jaccard over the full
    shingle sets, computed only for the candidate pairs (|candidates| x
    avg-shingles join work — never all-pairs). This is the form safe to
    prune on: a false-positive band collision between unrelated
    documents cannot delete a distinct document.
    Output: (doc_id_a, doc_id_b, jaccard) with jaccard >= min_jaccard
    (rounded to 4dp before the cut, mirroring the oracle SQL)."""
    sh = scoped_persist(doc_shingles(docs, k))
    cand = _minhash_band_pairs(_rare_shingles(sh, max_df), num_hashes, band_size)
    return _verified_pairs(cand, sh, min_jaccard)


def simhash_docs(docs: DataFrame, bits: int = 16) -> DataFrame:
    """Per-document SimHash over words: bit j of a word = low bit of the
    j-th hex nibble of md5(word); simhash bit j = majority vote.
    Output: (doc_id, simhash bigint). Portable to the SQL oracle
    (md5 + substring + conv are identical in DuckDB)."""
    words = docs.select(
        "doc_id", F.explode(F.split(normalized_text(), " ")).alias("word")
    ).where(F.col("word") != "")
    h = F.md5(F.col("word"))
    # vote_j = +1 if nibble_j odd else -1
    votes = [
        (
            F.when(
                F.conv(F.substring(h, j + 1, 1), 16, 10).cast("int") % 2 == 1, 1
            ).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    per_word = words.select("doc_id", *votes)
    sums = per_word.groupBy("doc_id").agg(
        *[F.sum(F.col(f"v{j}")).alias(f"s{j}") for j in range(bits)]
    )
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return sums.select("doc_id", sim.cast("bigint").alias("simhash"))


def simhash_pairs_from_hashes(
    sim: DataFrame, bits: int = 16, max_hamming: int = 2
) -> DataFrame:
    """Near-dup pairs from a (doc_id, simhash) table by hamming distance
    <= max_hamming. Banded self-join, never Cartesian: the hash is cut
    into ``max_hamming + 1`` contiguous bit-slices, so by pigeonhole any
    pair within max_hamming bit errors agrees exactly on >= 1 slice
    (max_hamming errors cannot touch all max_hamming+1 slices). Fewer
    slices would silently lose recall: 2 errors split 1-per-half match
    neither of 2 halves. Output: (doc_id_a, doc_id_b, hamming)."""
    n_bands = max_hamming + 1
    if bits < n_bands:
        raise ValueError(
            f"bits={bits} < max_hamming+1={n_bands}: cannot form "
            f"max_hamming+1 non-empty slices, so the pigeonhole recall "
            f"guarantee is unsatisfiable; lower max_hamming or raise bits"
        )
    # BALANCED split (widths differ by at most 1): a ceil-width split
    # can collapse the band count (e.g. bits=16, max_hamming=4 ->
    # width=4 gives only 4 slices for 5 required), silently voiding the
    # guarantee for pairs with one error per slice.
    base, rem = divmod(bits, n_bands)
    slices = []
    start = 0
    for j in range(n_bands):
        w = base + (1 if j < rem else 0)
        val = F.shiftright(F.col("simhash"), start).bitwiseAND(F.lit((1 << w) - 1))
        slices.append(F.concat_ws(":", F.lit(str(j)), val.cast("string")))
        start += w
    keyed = sim.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*slices)).alias("band"),
    )
    pairs = (
        keyed.alias("l")
        .join(keyed.alias("r"), "band")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_id_a"),
            F.col("r.doc_id").alias("doc_id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    return pairs.where(F.col("hamming") <= max_hamming)


def simhash_pairs(
    docs: DataFrame, bits: int = 16, max_hamming: int = 2
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.
    simhash_docs + banded join (see simhash_pairs_from_hashes for the
    pigeonhole guarantee). Output: (doc_id_a, doc_id_b, hamming).

    The signature table is persisted before the banded SELF-join:
    without it both join sides recompute the word-explode + 16-column
    vote aggregation (measured 10.0 s -> ~3 s composed at sf0.1). Run
    inside cache.cache_scope() for deterministic release."""
    sim = scoped_persist(simhash_docs(docs, bits))
    return simhash_pairs_from_hashes(sim, bits, max_hamming)
