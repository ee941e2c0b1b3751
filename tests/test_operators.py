"""Unit tests for the training-data operators (dedup, similarity,
textstats, multimodal) on planted fixtures — complements the DuckDB
oracle checks in tools/check_oracles.py with known-answer cases."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cutwed_spark.operators.dedup import (
    exact_duplicate_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_docs,
    simhash_pairs,
    simhash_pairs_from_hashes,
)
from cutwed_spark.operators.multimodal import (
    decode_media,
    extract_features,
    sample_frames,
    synth_media,
)
from cutwed_spark.operators.similarity import (
    cosine_pairs,
    cosine_topk,
    lsh_cosine_topk,
)
from cutwed_spark.operators.textstats import lang_id, quality_stats, token_counts


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs away fast"
    near = "the quick brown fox jumps over the lazy cat and runs away fast"
    other = "completely different content about spark query engines and shuffles"
    rows = [
        (0, base),
        (1, base),          # exact dup of 0
        (2, "  " + base.upper() + "  "),  # normalizes to dup of 0
        (3, near),          # near dup of 0
        (4, other),
        (5, "zz qq ww"),    # short junk
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_duplicates(docs):
    groups = exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_docs"] == 3 and g["min_doc_id"] == 0 and g["max_doc_id"] == 2


def test_ngram_jaccard(docs):
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 2)] == 1.0
    assert 0.5 <= pairs[(0, 3)] < 1.0  # one word changed
    assert (0, 4) not in pairs


def test_minhash_lsh_recall(docs):
    got = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert {(0, 1), (0, 2), (1, 2)} <= got
    assert (0, 4) not in got


def test_simhash_distance(docs, spark):
    sim = {r["doc_id"]: r["simhash"] for r in simhash_docs(docs).collect()}
    assert sim[0] == sim[1] == sim[2]
    ham_near = bin(sim[0] ^ sim[3]).count("1")
    ham_far = bin(sim[0] ^ sim[4]).count("1")
    assert ham_near < ham_far
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=4).collect()
    }
    assert pairs[(0, 1)] == 0


def test_simhash_banding_split_errors(spark):
    """Known-answer banding test: bit errors SPLIT ACROSS HALVES must
    still collide on >= 1 of the max_hamming+1 slices (the pigeonhole
    guarantee a 2-half banding violates: 2 errors, 1 per half, match
    neither half)."""
    base = 0b1010101010101010  # 16-bit pattern
    rows = [
        (0, base),
        (1, base ^ (1 << 2) ^ (1 << 13)),   # hamming 2, one error per half
        (2, base ^ (1 << 4) ^ (1 << 5)),    # hamming 2, same slice
        (3, base ^ (1 << 1) ^ (1 << 7) ^ (1 << 14)),  # hamming 3 vs base
        (4, base),                           # exact dup of 0
    ]
    sim = spark.createDataFrame(rows, "doc_id bigint, simhash bigint")
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in simhash_pairs_from_hashes(sim, bits=16, max_hamming=2).collect()
    }
    assert got[(0, 1)] == 2  # the pair a 2-half banding silently drops
    assert got[(0, 2)] == 2
    assert got[(0, 4)] == 0 and got[(1, 4)] == 2
    assert (0, 3) not in got  # hamming 3 > max_hamming


def test_simhash_banding_balanced_slices(spark):
    """bits=16, max_hamming=4 needs 5 NON-EMPTY slices: a ceil-width
    split produces only 4 (width 4x4=16), and 4 errors hitting all four
    would then be silently dropped. Balanced widths (4,3,3,3,3) keep
    the pigeonhole guarantee; errors at bits 1,5,9,13 hit 4 of the 5
    balanced slices and all 4 of the ceil slices."""
    base = 0b1010101010101010
    rows = [(0, base), (1, base ^ (1 << 1) ^ (1 << 5) ^ (1 << 9) ^ (1 << 13))]
    sim = spark.createDataFrame(rows, "doc_id bigint, simhash bigint")
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in simhash_pairs_from_hashes(sim, bits=16, max_hamming=4).collect()
    }
    assert got[(0, 1)] == 4
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs_from_hashes(sim, bits=4, max_hamming=6)


def test_signatures_null_text_sentinel(spark):
    """All-NULL-text conversations must get NULL sig AND NULL wsig (the
    degenerate-block sentinel), not arrays of NULLs that every such
    conversation would share as a word-band block key."""
    from cutwed_spark.operators.assemble import assemble_with_signatures

    rows = [
        ("nulls", 0, "user", None, "", "2025-01-01 00:00:00"),
        ("nulls", 1, "assistant", None, "", "2025-01-01 00:00:30"),
        ("real", 0, "user", "hello world again", "", "2025-01-01 00:00:00"),
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["conv_id"]: r for r in assemble_with_signatures(tr, 8, 64).collect()}
    assert out["nulls"]["sig"] is None
    assert out["nulls"]["wsig"] is None
    assert out["real"]["sig"] is not None


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(1)
    centers = rng.randn(4, 16) * 2
    rows = []
    for i in range(40):
        c = i % 4
        v = centers[c] + rng.randn(16) * 0.15
        rows.append((i, [float(x) for x in v], c))
    return (
        spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int"),
        rows,
    )


def test_cosine_topk_vs_numpy(emb):
    df, rows = emb
    got = cosine_topk(df, k=3).collect()
    V = np.array([r[1] for r in rows])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = Vn @ Vn.T
    np.fill_diagonal(sims, -np.inf)
    by_vec = {}
    for r in got:
        by_vec.setdefault(r["vec_id"], []).append((r["rank"], r["neighbor_id"], r["cos"]))
    for vid, lst in by_vec.items():
        lst.sort()
        want_top1 = int(np.argmax(np.round(sims[vid], 4)))
        assert lst[0][1] == want_top1 or np.isclose(
            np.round(sims[vid, lst[0][1]], 4), np.round(sims[vid, want_top1], 4)
        )
        assert len(lst) == 3


def test_lsh_topk_recall(emb):
    df, rows = emb
    exact = {
        (r["vec_id"], r["neighbor_id"])
        for r in cosine_topk(df, k=1).collect()
    }
    approx = {
        (r["vec_id"], r["neighbor_id"])
        for r in lsh_cosine_topk(df, dim=16, k=1, n_planes=6).collect()
    }
    # tight clusters: bucketed ANN should recover most exact top-1s
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, recall


def test_lsh_bucket_cap_drops_pathological_bucket(spark):
    """All-identical embeddings pile into ONE bucket; the cap must drop
    it (no quadratic self-join) and the stats must surface the drop."""
    from cutwed_spark.operators.blocking import cap_blocks
    from cutwed_spark.operators.similarity import lsh_bucket_ids

    rows = [(i, [1.0] * 8) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = lsh_cosine_topk(df, dim=8, k=3, n_planes=4, max_bucket=10)
    assert out.count() == 0  # the only bucket is oversized -> dropped
    _, stats = cap_blocks(
        lsh_bucket_ids(df, dim=8, n_planes=4), "bucket", "vec_id", max_size=10
    )
    s = stats.collect()[0]
    assert s["n_dropped_blocks"] == 1 and s["max_block_size"] == 50
    assert s["est_candidate_pairs"] == 0


def test_suggest_n_planes_grows_with_n():
    from cutwed_spark.operators.similarity import suggest_n_planes

    assert suggest_n_planes(1_000, 256) <= suggest_n_planes(1_000_000, 256)
    assert suggest_n_planes(10**9, 256) <= 30
    assert suggest_n_planes(0, 256) >= 4


def test_cosine_topk_guard_and_empty(spark, emb):
    df, _ = emb
    with pytest.raises(ValueError, match="max_rows"):
        cosine_topk(df, k=1, max_rows=10)
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert cosine_topk(empty, k=3).count() == 0


def test_ivf_topk_recall(emb):
    """IVF (cells + probes + exact re-rank) recovers most exact top-1
    neighbors on tight clusters; results are a subset of real cosine
    scores (no fabricated neighbors)."""
    from cutwed_spark.operators.similarity import ivf_cosine_topk

    df, _ = emb
    exact = {
        (r["vec_id"], r["neighbor_id"])
        for r in cosine_topk(df, k=1).collect()
    }
    approx = {
        (r["vec_id"], r["neighbor_id"])
        for r in ivf_cosine_topk(df, k=1, n_cells=8, n_probe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, recall


def test_emb_near_dup_lsh_vs_exact(emb):
    """The bucketed near-dup path returns a SUBSET of the exact pairs
    (no false positives — exact cosine re-check inside buckets) with
    usable recall on tight clusters."""
    from cutwed_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
    )

    df, _ = emb
    exact = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.9).collect()
    }
    lsh = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in embedding_near_dup_pairs_lsh(
            df, dim=16, threshold=0.9, n_planes=4
        ).collect()
    }
    assert lsh <= exact
    assert len(exact) > 0
    assert len(lsh & exact) / len(exact) >= 0.6, (len(lsh), len(exact))


def test_curation_funnel(spark):
    """Planted fixture: junk fails the quality gate, the exact dup and
    the near dup are pruned keeping the min doc_id — the funnel counts
    each stage."""
    from cutwed_spark.operators.curation import curate_documents

    base = (
        "the quick brown fox jumps over the lazy dog and then it runs far "
        "away into the green field while the sun is high and the wind is low"
    )
    near = base.replace("dog", "cat").replace("sun", "moon")
    rows = [
        (0, base),
        (1, base),            # exact dup of 0 -> dropped at exact stage
        (2, near),            # near dup of 0 -> dropped at near-dup stage
        (3, "zz qq ww 11 22"),  # junk -> dropped at quality gate
        (4, "a completely different long document about spark query engines "
            "and the shuffles they run when a join is too large to broadcast "
            "across the cluster of many machines in the same data center"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    survivors, funnel = curate_documents(docs, max_df=100)
    f = funnel.collect()[0]
    assert f["n_input"] == 5
    assert f["n_after_quality"] == 4     # junk out
    assert f["n_after_exact"] == 3       # doc 1 out
    assert f["n_after_neardup"] == 2     # doc 2 out
    assert {r["doc_id"] for r in survivors.collect()} == {0, 4}


def test_quality_and_lang(docs):
    q = {r["doc_id"]: r for r in quality_stats(docs).collect()}
    assert q[0]["n_words"] == 13
    assert q[0]["stopword_ratio"] > q[5]["stopword_ratio"]
    langs = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert langs[0] == "en" and langs[5] == "other"


def test_token_counts(docs):
    t = {r["doc_id"]: r for r in token_counts(docs).collect()}
    assert t[0]["n_words"] == 13
    assert t[0]["est_bpe_tokens"] >= t[0]["n_words"]


def test_hashed_embedding(docs):
    from cutwed_spark.operators.textstats import hashed_embedding

    emb = {
        r["doc_id"]: np.array(r["embedding"])
        for r in hashed_embedding(docs, dim=16).collect()
    }
    # normalization-invariant: exact dups (0, 1) and case/space dup (2)
    # hash to the identical vector
    assert np.array_equal(emb[0], emb[1])
    assert np.array_equal(emb[0], emb[2])
    # L2-normalized (4dp rounding happens per-component after normalize)
    for v in emb.values():
        assert abs(np.linalg.norm(v) - 1.0) < 1e-2
    # one-word swap stays close; unrelated text does not
    cos_near = float(emb[0] @ emb[3])
    cos_far = float(emb[0] @ emb[4])
    assert cos_near > 0.8
    assert cos_near > cos_far


def test_multimodal_decode(spark):
    media = synth_media(spark, n=30)
    out = decode_media(media).collect()
    assert len(out) == 30
    for r in out:
        assert r["ok"] and r["n_bytes"] >= 256
        if r["kind"] == "image":
            assert r["width"] >= 64 and r["duration_ms"] == 0
        if r["kind"] == "audio":
            assert r["duration_ms"] >= 500 and r["width"] == 0
    # determinism
    again = decode_media(media).collect()
    assert sorted(map(str, out)) == sorted(map(str, again))


def test_multimodal_features_feed_similarity(spark):
    media = synth_media(spark, n=24)
    feats = extract_features(media).withColumnRenamed("media_id", "vec_id").withColumnRenamed("feature", "embedding")
    top = cosine_topk(feats, k=2).collect()
    assert len(top) == 24 * 2
    assert all(abs(r["cos"]) <= 1.0 for r in top)


def test_multimodal_resize(spark):
    from cutwed_spark.operators.multimodal import resize_images, synth_media

    media = synth_media(spark, n=12)
    out = resize_images(media, width=32, height=16).collect()
    assert len(out) == 4  # only 'image' rows
    for r in out:
        assert r["width"] == 32 and r["height"] == 16
        assert len(r["payload"]) == 32 * 16 * 3 == r["n_bytes"]
    # determinism + dependence on requested geometry
    again = {r["media_id"]: bytes(r["payload"])
             for r in resize_images(media, width=32, height=16).collect()}
    other = {r["media_id"]: bytes(r["payload"])
             for r in resize_images(media, width=16, height=16).collect()}
    for r in out:
        assert bytes(r["payload"]) == again[r["media_id"]]
        assert bytes(r["payload"])[:16] != other[r["media_id"]][:16]


def test_multimodal_frame_sampling(spark):
    media = synth_media(spark, n=12)
    frames = sample_frames(media, frame_bytes=128, every_k=2).collect()
    assert len(frames) > 0
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    for idxs in by_media.values():
        assert all(i % 2 == 0 for i in idxs)  # every 2nd frame kept


def test_self_delete_cost_root_convention():
    """_self_delete_cost must follow the kernel's root convention: at
    degree=-2 (Marteau no-root repro mode, twed.c:114-119) local costs
    are raw powered sums, so twed_ratio stays kernel-consistent."""
    import numpy as np

    from cutwed_spark.operators.scoring import _self_delete_cost
    from cutwed_spark.twed.core import local_costs

    rng = np.random.RandomState(3)
    n, dim = 7, 4
    A = rng.randn(n, dim)
    T = np.cumsum(rng.rand(n) + 0.1)
    nu, lamb = 0.7, 0.3
    V = A[None, :, :]
    TT = T[None, :]
    L = np.array([n], dtype=np.int64)
    for degree in (2, -2, 3, -3):
        got = _self_delete_cost(V, TT, L, nu, lamb, degree)[0]
        expected = local_costs(A, degree)[1:].sum() + lamb * n + nu * T[-1]
        assert np.isclose(got, expected, rtol=1e-12), (degree, got, expected)
    # and the no-root mode really differs from the rooted one
    d_pos = _self_delete_cost(V, TT, L, nu, lamb, 2)[0]
    d_neg = _self_delete_cost(V, TT, L, nu, lamb, -2)[0]
    assert not np.isclose(d_pos, d_neg)


def test_dedup_side_gather_contract():
    """_dedup_side must pad each distinct conversation ONCE and return
    codes that gather the unique stacks back to per-pair order — the
    duplicated-series optimization of the score UDF. Duplicate ids must
    map to the same unique row; scattered duplicates included."""
    import numpy as np
    import pyarrow as pa

    from cutwed_spark.operators.scoring import _dedup_side, _pad_from_arrow

    dim = 2
    ids = pa.array(["c2", "c1", "c2", "c3", "c1", "c2"])
    series = {
        "c1": ([1.0, 2.0, 3.0, 4.0], [0.0, 1.0]),        # 2 turns
        "c2": ([5.0, 6.0], [0.0]),                        # 1 turn
        "c3": ([7.0, 8.0, 9.0, 10.0, 11.0, 12.0], [0.0, 1.0, 2.0]),  # 3
    }
    vals = pa.array([series[i.as_py()][0] for i in ids], type=pa.list_(pa.float64()))
    times = pa.array([series[i.as_py()][1] for i in ids], type=pa.list_(pa.float64()))
    V, T, L, codes = _dedup_side(ids, vals, times, dim)
    assert V.shape[0] == 3 and len(codes) == 6
    # gathering the unique stacks must reproduce the per-pair padding
    Vp, Tp, Lp = _pad_from_arrow(vals, times, dim)
    n = Vp.shape[1]
    assert np.array_equal(V[codes, :n], Vp)
    assert np.array_equal(T[codes, :n], Tp)
    assert np.array_equal(L[codes], Lp)
    # every duplicate id shares one code
    id_list = [i.as_py() for i in ids]
    code_of = {}
    for i, c in zip(id_list, codes):
        assert code_of.setdefault(i, c) == c
    # all-unique and all-identical edge cases
    _, _, L1, c1 = _dedup_side(
        pa.array(["a", "b"]),
        pa.array([[1.0, 1.0], [2.0, 2.0]], type=pa.list_(pa.float64())),
        pa.array([[0.0], [0.0]], type=pa.list_(pa.float64())),
        dim,
    )
    assert len(set(c1.tolist())) == 2 and L1.tolist() == [1, 1]
    _, _, L2, c2 = _dedup_side(
        pa.array(["a", "a", "a"]),
        pa.array([[1.0, 1.0]] * 3, type=pa.list_(pa.float64())),
        pa.array([[0.0]] * 3, type=pa.list_(pa.float64())),
        dim,
    )
    assert set(c2.tolist()) == {0} and L2.tolist() == [1]


def test_minhash_verified_pairs(docs, spark):
    """Verified pairs = LSH candidates post-filtered by exact Jaccard on
    the full shingle sets — must equal the naive all-pairs Jaccard
    filter intersected with the candidate set (verification adds no
    pairs and keeps no unrelated collision)."""
    from cutwed_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_verified_pairs,
    )

    cand = {
        (r["doc_id_a"], r["doc_id_b"]) for r in minhash_lsh_pairs(docs).collect()
    }
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in minhash_lsh_verified_pairs(docs, min_jaccard=0.5).collect()
    }
    naive = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5, max_df=10**9).collect()
    }
    assert set(got) == {p for p in naive if p in cand}
    for p, j in got.items():
        assert j >= 0.5 and abs(j - naive[p]) < 1e-9
    assert got[(0, 1)] == 1.0 and got[(0, 2)] == 1.0


def test_curation_require_lang_validation(spark):
    from cutwed_spark.operators.curation import curate_documents

    docs = spark.createDataFrame([(0, "hello")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="require_lang"):
        curate_documents(docs, require_lang="fr")


def test_cache_scope_releases_operator_persists(spark):
    """After a funnel run inside cache_scope, no net-new persisted RDDs
    remain (the twed_free_dev analog for operator-internal caches)."""
    from cutwed_spark.cache import cache_scope
    from cutwed_spark.operators.curation import curate_documents

    def persisted_ids():
        # set of ids, not a count: the ContextCleaner may concurrently
        # GC-unpersist caches left by other tests in this session
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    rows = [(i, f"document number {i} about topic {i % 3} with words") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    before = persisted_ids()
    with cache_scope():
        survivors, funnel = curate_documents(docs)
        funnel.collect()
        assert persisted_ids() - before  # caches alive inside the scope
    assert not (persisted_ids() - before)  # no net-new after exit


def test_cache_scope_releases_blocking_persists(spark):
    """The blocking operator's internal persists (the repartitioned
    block-key table AND the block-size table) must both be released by
    an enclosing cache_scope — the block-table persist leaked past the
    scope until round 4 (CacheManager then silently substituted the
    stale cache into re-built plans, corrupting steady-state timings)."""
    from cutwed_spark.cache import cache_scope
    from cutwed_spark.operators.assemble import assemble_with_signatures
    from cutwed_spark.operators.blocking import (
        build_candidate_pairs_from_state,
    )
    from cutwed_spark.sources.synth import synth_corpus

    tr, _ = synth_corpus(40)
    state = assemble_with_signatures(spark.createDataFrame(tr), 16, 64)

    def persisted_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted_ids()
    with cache_scope():
        pairs, stats = build_candidate_pairs_from_state(state)
        stats.collect()
        pairs.count()
        assert persisted_ids() - before  # caches alive inside the scope
    assert not (persisted_ids() - before)  # fully released on exit


def test_multi_table_lsh_recall_dominates(spark):
    """Multi-table LSH candidates are a superset of single-table ones
    (table 0 is shared), so recall@k vs exact cosine can only improve;
    on a planted-cluster corpus the 4-table recall must be strictly
    higher than single-table."""
    import numpy as np

    from cutwed_spark.operators.similarity import (
        cosine_topk,
        lsh_cosine_topk,
    )

    rng = np.random.RandomState(11)
    dim, n = 16, 240
    base = rng.randn(n // 4, dim)
    rows = []
    for i in range(n):
        v = base[i % (n // 4)] + 0.45 * rng.randn(dim)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    def pairs(df):
        return {(r["vec_id"], r["neighbor_id"]) for r in df.collect()}

    exact = pairs(cosine_topk(emb, k=5))
    one = pairs(lsh_cosine_topk(emb, dim, k=5, n_planes=4, n_tables=1))
    four = pairs(lsh_cosine_topk(emb, dim, k=5, n_planes=4, n_tables=4))
    r1 = len(exact & one) / len(exact)
    r4 = len(exact & four) / len(exact)
    assert r4 > r1, (r1, r4)
    assert r4 >= 0.5, r4


def test_deterministic_sample_properties(spark):
    """Membership is a pure function of (key, salt): append-stable,
    rerun-stable, salt-independent samples, map-only plan."""
    from cutwed_spark.operators.sampling import deterministic_sample

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(2000)], "doc_id bigint, text string"
    )
    s1 = {r["doc_id"] for r in deterministic_sample(docs, 0.2).collect()}
    s2 = {r["doc_id"] for r in deterministic_sample(docs, 0.2).collect()}
    assert s1 == s2  # rerun-stable
    assert 0.12 <= len(s1) / 2000 <= 0.28  # ~Bernoulli(0.2)
    # append-stable: membership of old rows unchanged by new rows
    more = spark.createDataFrame(
        [(i, f"text {i}") for i in range(2000, 3000)],
        "doc_id bigint, text string",
    )
    s3 = {
        r["doc_id"]
        for r in deterministic_sample(docs.unionByName(more), 0.2).collect()
    }
    assert {d for d in s3 if d < 2000} == s1
    # different salts give (near-)independent samples, not subsets
    s_holdout = {
        r["doc_id"] for r in deterministic_sample(docs, 0.2, salt="eval").collect()
    }
    assert s_holdout != s1
    # smaller rate nests inside larger rate at the SAME salt
    s_small = {r["doc_id"] for r in deterministic_sample(docs, 0.05).collect()}
    assert s_small <= s1
    # map-only: no Exchange in the plan
    plan = deterministic_sample(docs, 0.2)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError, match="rate"):
        deterministic_sample(docs, 1.5)


def test_stratified_sample_quota_and_nesting(spark):
    from cutwed_spark.operators.sampling import stratified_sample

    rows = [(i, ["en", "fr"][i % 2], f"s{i % 3}") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, source string")
    out = stratified_sample(docs, ["lang", "source"], 7).collect()
    by_stratum = {}
    for r in out:
        by_stratum.setdefault((r["lang"], r["source"]), []).append(r)
    assert len(by_stratum) == 6
    for rows_ in by_stratum.values():
        assert len(rows_) == 7
        assert sorted(r["smp_rank"] for r in rows_) == list(range(1, 8))
    # nested prefix: rank <= 3 equals an n_per_stratum=3 run
    small = {
        r["doc_id"] for r in stratified_sample(docs, ["lang", "source"], 3).collect()
    }
    assert small == {r["doc_id"] for r in out if r["smp_rank"] <= 3}


def test_cache_scopes_are_thread_isolated():
    """Scope stacks are per-thread (contextvars): another thread
    entering deferred_cache_scope must not release THIS thread's
    deferred caches mid-materialization (round-4 advice)."""
    import threading

    from cutwed_spark import cache

    class FakeDF:
        def __init__(self):
            self.persisted = False

        def persist(self):
            self.persisted = True
            return self

        def unpersist(self):
            self.persisted = False
            return self

    cache.release_deferred()  # clean slate in this thread's context
    with cache.deferred_cache_scope():
        mine = cache.scoped_persist(FakeDF())
    assert mine.persisted  # deferred, still alive after scope exit

    other: list = []

    def worker():
        with cache.deferred_cache_scope():
            other.append(cache.scoped_persist(FakeDF()))

    t = threading.Thread(target=worker)
    t.start()
    t.join()
    # the worker's scope entry released ITS context's deferred list
    # (empty), not ours
    assert mine.persisted
    assert other[0].persisted  # worker's cache awaits its own release
    assert cache.release_deferred() == 1  # ours only
    assert not mine.persisted
    assert other[0].persisted  # cross-thread release never happens
