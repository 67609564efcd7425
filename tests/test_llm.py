"""Quality assertions for sketch-based LLM operators: the rows-only
workload entries (MinHash-LSH, SimHash, hyperplane ANN) are validated
here against their exact counterparts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg_lakehouse_spark.llm.dedup import (
    jaccard_near_duplicates,
    minhash_lsh_candidates,
    simhash_near_duplicates,
)
from pg_lakehouse_spark.llm.multimodal import (
    decode_images,
    sample_frames,
    synthesize_media,
)
from pg_lakehouse_spark.llm.similarity import cosine_topk, lsh_ann_topk
from pg_lakehouse_spark.tables import table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def exact_pairs(docs):
    return {
        (r["id1"], r["id2"])
        for r in jaccard_near_duplicates(
            docs, n=3, threshold=0.5, max_shingle_df=None
        ).collect()
    }


def test_minhash_lsh_recovers_exact_pairs(docs, exact_pairs):
    got = {
        (r["id1"], r["id2"])
        for r in minhash_lsh_candidates(
            docs, n=3, num_hashes=64, bands=16, verify_threshold=0.5
        ).collect()
    }
    assert exact_pairs, "fixture should contain planted near-dup pairs"
    # verified candidates are a subset by construction; at r=4/b=16 the
    # detection probability for j>=0.8 is ~0.9997 → expect full recall
    assert got == exact_pairs


def test_minhash_lsh_candidate_set_is_sparse(docs):
    n_docs = docs.count()
    candidates = minhash_lsh_candidates(
        docs, n=3, num_hashes=64, bands=16, verify_threshold=None
    ).count()
    # the whole point of LSH: candidates << N²/2
    assert candidates < n_docs * n_docs / 20


def test_prefixed_xxhash64_bit_identical(spark):
    """The seeded one-field XxHash64 the signature agg uses (r14) must
    equal the public two-field form bit-for-bit for every hash index —
    the whole optimization is a constant-folded seed, not a family
    change."""
    from pg_lakehouse_spark.functions.hashing import prefixed_xxhash64

    base = spark.range(2000).select(
        F.xxhash64(F.concat(F.lit("sh-"), F.col("id"))).alias("sh")
    )
    checks = [
        (F.xxhash64(F.lit(i), F.col("sh")) == prefixed_xxhash64(i, F.col("sh")))
        for i in (0, 1, 7, 31, 63)
    ]
    bad = base.filter(~checks[0] | ~checks[1] | ~checks[2]
                      | ~checks[3] | ~checks[4]).count()
    assert bad == 0


def test_prefixed_xxhash64_family_bit_identical(spark):
    """The bulk family builder (r14: one resolved JVM handle set for
    all 64 members instead of ~20 driver round-trips each) must equal
    the public two-field form bit-for-bit across the WHOLE family."""
    from pg_lakehouse_spark.functions.hashing import (
        prefixed_xxhash64_family,
    )

    base = spark.range(2000).select(
        F.xxhash64(F.concat(F.lit("sh-"), F.col("id"))).alias("sh")
    )
    fam = prefixed_xxhash64_family(list(range(64)), F.col("sh"))
    mismatch = None
    for i, h in enumerate(fam):
        bad = (F.xxhash64(F.lit(i), F.col("sh")) != h)
        mismatch = bad if mismatch is None else (mismatch | bad)
    assert base.filter(mismatch).count() == 0


def test_seeded_hash_fallback_does_not_latch(spark, monkeypatch):
    """A call with no active session (e.g. from a thread before the
    session exists) falls back for THAT call only: a later call with a
    live session takes the seeded path again, bit-identical to the
    public two-field form. Only a missing JVM class disables the seeded
    path for the rest of the process."""
    from pyspark.sql import SparkSession

    from pg_lakehouse_spark.functions import hashing

    monkeypatch.setattr(hashing, "_SEEDED_OK", hashing._SEEDED_OK)
    with monkeypatch.context() as m:
        m.setattr(
            SparkSession, "getActiveSession", classmethod(lambda cls: None)
        )
        assert hashing.seeded_xxhash64_family(F.col("sh"), [1]) is None
        fallback = hashing.prefixed_xxhash64(5, F.col("sh"))
    assert hashing._SEEDED_OK is not False
    seeded = hashing.seeded_xxhash64_family(
        F.col("sh"), [hashing.xxh64_int(5, 42)]
    )
    assert seeded is not None
    want = F.xxhash64(F.lit(5), F.col("sh"))
    base = spark.range(500).select(
        F.xxhash64(F.concat(F.lit("sh-"), F.col("id"))).alias("sh")
    )
    assert base.filter((seeded[0] != want) | (fallback != want)).count() == 0

    def missing_class():
        raise hashing._NoJvmClass

    monkeypatch.setattr(hashing, "_seeded_handles", missing_class)
    assert hashing.seeded_xxhash64_family(F.col("sh"), [1]) is None
    assert hashing._SEEDED_OK is False


def test_jaccard_min_overlap_epsilon_is_relative(spark):
    """At N ≈ 3.4e7 the IEEE product t·N lands one ulp (3.7e-9) above
    the overlap i of a pair whose Jaccard is exactly t = i/N: a fixed
    1e-9 epsilon rounded the required overlap up to i + 1 and so cut
    the prefix one shingle short. The relative epsilon keeps it at i."""
    from pg_lakehouse_spark.llm.dedup import _min_overlap

    n, i = 33_579_289, 26_678_207
    t = i / n
    assert t * n > i + 1e-9  # the case a fixed epsilon gets wrong
    got = spark.range(1).select(_min_overlap(t, F.lit(n)).alias("a"))
    assert got.first().a == i


def _naive_jaccard_pairs(spark, df, threshold, cap):
    """The pre-r14 inverted-index formulation (shingle self-join +
    intersection count), kept as the equivalence oracle for the
    prefix-filtered rewrite."""
    from pg_lakehouse_spark.llm.text import shingles

    arr = F.transform(shingles(F.col("text"), 3), lambda s: F.xxhash64(s))
    base = df.select(F.col("doc_id").alias("__id"), arr.alias("__arr"))
    sizes = base.select("__id", F.size("__arr").alias("__n"))
    sh = base.select("__id", F.explode("__arr").alias("__sh"))
    if cap is not None:
        rare = (
            sh.groupBy("__sh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= cap)
            .select("__sh")
        )
        sh = sh.join(rare, "__sh")
    a = sh.select(F.col("__id").alias("id1"), "__sh")
    b = sh.select(F.col("__id").alias("id2"), "__sh")
    inter = (
        a.join(b, (a["__sh"] == b["__sh"]) & (F.col("id1") < F.col("id2")))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    sa = sizes.select(F.col("__id").alias("id1"), F.col("__n").alias("__n1"))
    sb = sizes.select(F.col("__id").alias("id2"), F.col("__n").alias("__n2"))
    return (
        inter.join(sa, "id1")
        .join(sb, "id2")
        .withColumn(
            "jaccard",
            F.col("__i") / (F.col("__n1") + F.col("__n2") - F.col("__i")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))
    )


@pytest.mark.parametrize("threshold,cap", [(0.5, None), (0.5, 5), (0.3, None)])
def test_jaccard_prefix_filter_equals_naive(spark, docs, threshold, cap):
    """r14: the prefix-filtered jaccard (AllPairs/PPJoin) must return
    EXACTLY the naive inverted-index pairs — the prefix principle has
    no false negatives and verification is exact — across thresholds
    and with the df cap active."""
    got = sorted(
        map(
            tuple,
            jaccard_near_duplicates(
                docs, threshold=threshold, max_shingle_df=cap
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, _naive_jaccard_pairs(spark, docs, threshold, cap).collect())
    )
    assert got == want


def test_jaccard_prefix_filter_equals_naive_random(spark):
    """Randomized corpus with heavy boilerplate overlap (hot shingles
    in every doc) — the exact regime prefix filtering rewrites."""
    import random

    rng = random.Random(1411)
    vocab = [f"w{i}" for i in range(40)]
    boiler = "the quick brown fox jumps over the lazy dog every day"
    rows = []
    for i in range(120):
        words = [vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(3, 18))]
        text = (boiler + " " if i % 2 else "") + " ".join(words)
        rows.append((i, text))
        if rng.random() < 0.3:  # planted near-duplicate
            dup = words[:]
            if dup:
                dup[rng.randrange(len(dup))] = "mut"
            rows.append((1000 + i, (boiler + " " if i % 2 else "") + " ".join(dup)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for threshold, cap in ((0.5, None), (0.4, 6)):
        got = sorted(
            map(
                tuple,
                jaccard_near_duplicates(
                    df, threshold=threshold, max_shingle_df=cap
                ).collect(),
            )
        )
        want = sorted(
            map(
                tuple, _naive_jaccard_pairs(spark, df, threshold, cap).collect()
            )
        )
        assert got == want


def test_minhash_lsh_leaves_no_stranded_cache(spark, docs):
    """r13 VERDICT #4: the pipeline's two corpus-row-sized persists
    must not outlive the call — the result is materialized and both
    caches dropped before returning."""
    spark.catalog.clearCache()
    out = minhash_lsh_candidates(
        docs, n=3, num_hashes=64, bands=16, verify_threshold=0.5
    )
    assert out.count() >= 0
    # CacheManager empty: nothing this call persisted is still cached
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_simhash_finds_planted_near_dups(docs, exact_pairs):
    got = {
        (r["id1"], r["id2"])
        for r in simhash_near_duplicates(
            docs, n=2, max_hamming=3, bands=4
        ).collect()
    }
    # SimHash (token-permutation-sensitive) won't match Jaccard exactly,
    # but the planted high-overlap pairs should substantially surface.
    assert len(got & exact_pairs) >= len(exact_pairs) // 2
    assert all(a < b for a, b in got)


def test_lsh_ann_subset_and_overlap(emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries, k=5).collect()
    approx = lsh_ann_topk(
        emb, queries, k=5, dim=64, nbits=8, num_tables=4, seed=42
    ).collect()
    exact_top = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_top = {(r["query_id"], r["neighbor_id"]) for r in approx}
    # approximate sims must be real cosine values of real pairs
    assert approx_top  # non-empty
    recall = len(exact_top & approx_top) / len(exact_top)
    assert recall > 0.05, f"ANN recall collapsed: {recall}"
    # every query keeps <= k neighbors, ranked 1..n without gaps
    by_q: dict = {}
    for r in approx:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_multimodal_decode_deterministic(docs, spark):
    media = synthesize_media(docs.limit(50), "doc_id", "text")
    a = sorted(map(tuple, decode_images(media).collect()))
    b = sorted(map(tuple, decode_images(media).collect()))
    assert a == b
    assert all(64 <= r[1] < 256 and 64 <= r[2] < 256 for r in a)


def test_multimodal_frame_sampling_bounded(docs):
    media = synthesize_media(docs.limit(20), "doc_id", "text")
    frames = sample_frames(media, chunk_chars=88, max_frames=8)
    per_doc = frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()
    assert per_doc and all(1 <= r["n"] <= 8 for r in per_doc)


def test_ivf_ann_recall_and_shape(emb):
    from pg_lakehouse_spark.llm.similarity import ivf_ann_topk

    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries, k=5).collect()
    approx = ivf_ann_topk(emb, queries, k=5, nlist=8, nprobe=3, seed=42).collect()
    exact_top = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_top = {(r["query_id"], r["neighbor_id"]) for r in approx}
    assert approx_top
    recall = len(exact_top & approx_top) / len(exact_top)
    # nprobe=3 of nlist=8 → searching ~3/8 of the corpus; random
    # gaussian vectors put true neighbors near-uniformly across cells
    assert recall > 0.15, f"IVF recall collapsed: {recall}"
    for r in approx:
        assert 1 <= r["rank"] <= 5


def test_persisted_ivf_index_roundtrip(emb, spark, tmp_path):
    """Build the IVF index as lakehouse tables, query it, rebuild with
    different nlist, and time-travel back to the first index version."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog
    from pg_lakehouse_spark.llm.index import build_ivf_index, query_ivf_index

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    build_ivf_index(cat, "idx", "emb", emb, nlist=8, seed=42)
    queries = emb.filter(F.col("vec_id") < 15)

    got = query_ivf_index(cat, "idx", "emb", queries, k=5, nprobe=3).collect()
    assert got
    exact = cosine_topk(emb, queries, k=5).collect()
    exact_top = {(r["query_id"], r["neighbor_id"]) for r in exact}
    got_top = {(r["query_id"], r["neighbor_id"]) for r in got}
    assert len(exact_top & got_top) / len(exact_top) > 0.15

    # rebuild (new snapshots) — old index version still queryable
    v1 = cat.load_table("idx", "emb__assignments").current_version()
    build_ivf_index(cat, "idx", "emb", emb, nlist=4, seed=7)
    assert cat.load_table("idx", "emb__assignments").current_version() > v1
    pinned = query_ivf_index(
        cat, "idx", "emb", queries, k=5, nprobe=3, snapshot=v1
    ).collect()
    assert {(r["query_id"], r["neighbor_id"]) for r in pinned} == got_top


def test_pandas_matmul_topk_equals_expression_topk(emb):
    """The Arrow-batch BLAS variant must return exactly the expression
    variant's results (same rounding, same tiebreaks)."""
    from pg_lakehouse_spark.llm.similarity import cosine_topk_pandas

    queries = emb.filter(F.col("vec_id") < 15)
    a = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    b = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"])
        for r in cosine_topk_pandas(emb, queries, k=5).collect()
    }
    assert a == b


def test_hash_split_properties(docs, spark):
    """Disjoint+exhaustive, ratio-correct, and stable under
    repartitioning — the properties rand()-based splits lack."""
    from pg_lakehouse_spark.llm.splits import hash_split, stratified_sample

    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    split = hash_split(docs, "doc_id", weights)
    counts = {r["split"]: r["n"] for r in
              split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = docs.count()
    assert sum(counts.values()) == total  # exhaustive, disjoint
    assert abs(counts["train"] / total - 0.8) < 0.06
    # stability: same assignment after a full repartition
    a = {(r["doc_id"], r["split"]) for r in split.select("doc_id", "split").collect()}
    b = {
        (r["doc_id"], r["split"])
        for r in hash_split(docs.repartition(13), "doc_id", weights)
        .select("doc_id", "split")
        .collect()
    }
    assert a == b

    sampled = stratified_sample(docs, "lang", "doc_id", {"en": 0.5, "de": 1.0})
    langs = {r["lang"] for r in sampled.select("lang").distinct().collect()}
    assert langs <= {"en", "de"}
    n_de = docs.filter(F.col("lang") == "de").count()
    assert sampled.filter(F.col("lang") == "de").count() == n_de  # frac 1.0


def test_ivfpq_ann_recall_and_exact_rerank(emb):
    from pg_lakehouse_spark.llm.similarity import cosine_topk, ivfpq_ann_topk

    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries, k=5).collect()
    approx = ivfpq_ann_topk(
        emb, queries, k=5, nlist=8, nprobe=3, m_subvectors=8, ksub=16,
        rerank_factor=4, seed=42,
    ).collect()
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in exact}
    approx_top = {(r["query_id"], r["neighbor_id"]) for r in approx}
    assert approx_top
    recall = len(set(exact_scores) & approx_top) / len(exact_scores)
    # same cell coverage as plain IVF (nprobe=3/nlist=8); PQ only
    # re-orders candidates within probed cells and the exact re-rank
    # repairs quantization error, so recall must not collapse below it
    assert recall > 0.15, f"IVF-PQ recall collapsed: {recall}"
    # the re-rank is EXACT: every returned score equals brute force
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert r["cosine_sim"] == exact_scores[key]
        assert 1 <= r["rank"] <= 5


def test_ivfpq_deterministic(emb):
    from pg_lakehouse_spark.llm.similarity import ivfpq_ann_topk

    queries = emb.filter(F.col("vec_id") < 5)
    a = sorted(
        map(tuple, ivfpq_ann_topk(emb, queries, k=3, nlist=4, nprobe=2,
                                  seed=7).collect())
    )
    b = sorted(
        map(tuple, ivfpq_ann_topk(emb, queries, k=3, nlist=4, nprobe=2,
                                  seed=7).collect())
    )
    assert a == b


def test_embedding_near_dup_lsh_equals_exact(emb):
    from pg_lakehouse_spark.llm.dedup import embedding_near_duplicates

    dup = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    salted = emb.select("vec_id", "embedding").unionByName(dup)
    exact = set(
        map(tuple, embedding_near_duplicates(salted, method="exact").collect())
    )
    lsh = set(
        map(tuple, embedding_near_duplicates(salted, method="lsh").collect())
    )
    # planted identical copies: cosine exactly 1.0, one pair per copy
    assert len(exact) == dup.count()
    assert all(b == a + 10000 and c == 1.0 for a, b, c in exact)
    # identical vectors share every LSH bucket -> recall 1 guaranteed
    assert lsh == exact
    with pytest.raises(ValueError, match="unknown method"):
        embedding_near_duplicates(salted, method="nope").collect()


def test_multimodal_feature_extract_shape_and_determinism(docs):
    from pg_lakehouse_spark.llm.multimodal import extract_features, synthesize_media

    media = synthesize_media(docs.limit(50), "doc_id", "text")
    f1 = {r["media_id"]: tuple(r["feature"]) for r in extract_features(media, dim=8).collect()}
    f2 = {r["media_id"]: tuple(r["feature"]) for r in extract_features(media, dim=8).collect()}
    assert f1 == f2  # deterministic
    assert all(len(v) == 8 for v in f1.values())
    assert all(0.0 <= x < 1.0 for v in f1.values() for x in v)


def test_multimodal_resize_budget_and_scales(docs):
    from pg_lakehouse_spark.llm.multimodal import resize_images, synthesize_media

    media = synthesize_media(docs.limit(50), "doc_id", "text")
    out = resize_images(media, target_w=128, target_h=96).collect()
    budget = 128 * 96 // 64
    assert all(len(r["payload"]) == budget for r in out)
    assert all(r["width"] == 128 and r["height"] == 96 for r in out)
    # stub dims are 64..255 -> scale factors stay in a sane band
    assert all(128 / 256 * 10000 <= r["scale_x_e4"] <= 128 / 64 * 10000 for r in out)


def test_decontamination_planted(spark, sf_dir):
    """Planted contamination: a benchmark doc whose text is a verbatim
    slice of a training doc must flag exactly that doc; clean docs
    survive remove_contaminated."""
    from pg_lakehouse_spark.llm.decontaminate import (
        ngram_overlap,
        remove_contaminated,
    )
    from pg_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    victim = docs.orderBy("doc_id").first()
    # benchmark = first 6 words of the victim text (≥4 trigrams)
    bench_text = " ".join(victim["text"].split()[:6])
    bench = spark.createDataFrame(
        [(9001, bench_text)], "bench_id long, text string"
    )
    flagged = ngram_overlap(
        docs, bench, n=3, min_overlap=3,
        bench_id_col="bench_id",
    )
    hits = {r["doc_id"] for r in flagged.collect()}
    assert victim["doc_id"] in hits
    clean = remove_contaminated(docs, bench, n=3, min_overlap=3)
    clean_ids = {r["doc_id"] for r in clean.select("doc_id").collect()}
    assert victim["doc_id"] not in clean_ids
    assert len(clean_ids) == docs.count() - len(hits)


# ---------------------------------------------------------------------------
# connected components + survivor selection (pair -> cluster -> dedup)
# ---------------------------------------------------------------------------


def test_connected_components_chain_and_islands(spark):
    """A 4-node chain (worst case for min-label: diameter 3), a
    triangle, and an isolated pair — all labeled with the component
    min."""
    from pg_lakehouse_spark.llm.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),  # triangle
         (20, 21)],                     # pair
        "id1 long, id2 long",
    )
    out = {r.node: r.component for r in connected_components(edges).collect()}
    assert out == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_direction_invariant(spark):
    from pg_lakehouse_spark.llm.dedup import connected_components

    fwd = spark.createDataFrame([(5, 1), (1, 9), (9, 3)], "id1 long, id2 long")
    rev = spark.createDataFrame([(1, 5), (9, 1), (3, 9)], "id1 long, id2 long")
    a = {r.node: r.component for r in connected_components(fwd).collect()}
    b = {r.node: r.component for r in connected_components(rev).collect()}
    assert a == b == {1: 1, 3: 1, 5: 1, 9: 1}


def test_dedup_survivors_end_to_end(spark):
    """Corpus with a duplicate cluster {1,2,3} and a pair {5,6}: the
    min ids survive, untouched rows pass through."""
    from pg_lakehouse_spark.llm.dedup import dedup_survivors

    docs = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(1, 8)], "doc_id long, body string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id1 long, id2 long"
    )
    out = sorted(r.doc_id for r in dedup_survivors(docs, pairs).collect())
    assert out == [1, 4, 5, 7]


def test_connected_components_star_matches_label(spark):
    """Star and label-propagation must agree on mixed graphs (chain +
    triangle + pair + isolated-ish star)."""
    from pg_lakehouse_spark.llm.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),
         (10, 11), (11, 12), (10, 12),
         (20, 21),
         (30, 31), (30, 32), (30, 33)],
        "id1 long, id2 long",
    )
    a = {r.node: r.component
         for r in connected_components(edges, algorithm="label").collect()}
    b = {r.node: r.component
         for r in connected_components(edges, algorithm="star").collect()}
    assert a == b


def test_connected_components_star_deep_path(spark):
    """A path graph of depth 60 ≫ 25: label propagation's round count
    is diameter-bound and must REFUSE to return partial labels at
    max_iter=25; the star variant converges in O(log n) rounds."""
    import pytest as _pytest

    from pg_lakehouse_spark.llm.dedup import connected_components

    n = 60
    # shuffled ids so the min isn't at the head of the path
    ids = [(i * 37) % n for i in range(n)]
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], "id1 long, id2 long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=5, algorithm="label")
    out = {
        r.node: r.component
        for r in connected_components(
            edges, max_iter=12, algorithm="star"
        ).collect()
    }
    assert set(out) == set(range(n))
    assert set(out.values()) == {0}


def test_connected_components_star_random_graph_property(spark):
    """Randomized cross-check: star labels == a driver-side union-find
    on the same edge list (seeded, deterministic)."""
    import random

    from pg_lakehouse_spark.llm.dedup import connected_components

    rng = random.Random(42)
    n = 200
    pairs = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(150)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for a, b in pairs:
        for x in (a, b):
            want[x] = find(x)
    edges = spark.createDataFrame(pairs, "id1 long, id2 long")
    got = {
        r.node: r.component
        for r in connected_components(edges, algorithm="star").collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# chunking / repetition / PII (training-sample assembly + scrub)
# ---------------------------------------------------------------------------


def test_chunk_documents_windows(spark):
    from pg_lakehouse_spark.llm.text import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "a b c")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, window=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc1: 10 tokens, starts 0,3,6 -> ceil((10-4)/3)+1 = 3 chunks
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["chunk_text"] for r in c1] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9"
    ]
    assert [r["n_tokens"] for r in c1] == [4, 4, 4]
    # doc2 shorter than the window -> exactly one (short) chunk
    c2 = by_doc[2]
    assert len(c2) == 1 and c2[0]["chunk_text"] == "a b c"
    assert c2[0]["n_tokens"] == 3


def test_chunk_documents_reassembly(spark, sf_dir):
    """Stride == window (no overlap) must reassemble the exact token
    stream."""
    from pg_lakehouse_spark.llm.text import chunk_documents, words
    from pg_lakehouse_spark.tables import table

    docs = table(spark, sf_dir, "documents").limit(20)
    chunks = chunk_documents(docs, window=16, stride=16)
    glued = (
        chunks.orderBy("doc_id", "chunk_id")
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("chunk_text")).alias("glued"))
    )
    orig = docs.select(
        "doc_id", F.array_join(words(F.col("text")), " ").alias("orig")
    )
    bad = glued.join(orig, "doc_id").filter(
        F.col("glued") != F.col("orig")
    )
    assert bad.count() == 0


def test_repetition_signals_detects_loops(spark):
    from pg_lakehouse_spark.llm.text import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "spam ham " * 50),          # one bigram dominates
            (2, " ".join(f"u{i}" for i in range(40))),  # all unique
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert rows[1]["dup_word_ratio"] > 0.9
    assert rows[1]["top_bigram_ratio"] > 0.4
    assert rows[2]["dup_word_ratio"] == 0.0
    assert rows[2]["top_bigram_ratio"] <= 0.03


def test_redact_pii_kinds(spark):
    from pg_lakehouse_spark.llm.text import redact_pii

    df = spark.createDataFrame(
        [(1, "mail a.b+c@x-corp.io call +1 555 0100 1234 "
             "from 192.168.0.1 ssn 321-54-9876")],
        "id long, text string",
    )
    full = df.select(redact_pii(F.col("text")).alias("t")).first()["t"]
    assert "[EMAIL]" in full and "[PHONE]" in full
    assert "[IP]" in full and "[SSN]" in full
    assert "@" not in full and "192.168" not in full
    only_email = df.select(
        redact_pii(F.col("text"), kinds=("email",)).alias("t")
    ).first()["t"]
    assert "[EMAIL]" in only_email and "192.168.0.1" in only_email


def test_quality_filter_splits_corpus(spark, sf_dir):
    from pg_lakehouse_spark.llm.text import quality_filter
    from pg_lakehouse_spark.tables import table

    out = quality_filter(
        table(spark, sf_dir, "documents"),
        min_words=30, max_words=1000,
        max_dup_word_ratio=0.82, min_stopword_ratio=0.01,
    )
    kept = out.filter(F.col("keep")).count()
    dropped = out.filter(~F.col("keep")).count()
    assert kept > 0 and dropped > 0  # thresholds actually discriminate
    # reasons are only present on drops, and every drop has one
    assert out.filter(F.col("keep") & F.col("reject_reason").isNotNull()).count() == 0
    assert out.filter(~F.col("keep") & F.col("reject_reason").isNull()).count() == 0


def test_vocabulary_min_df_and_determinism(spark):
    from pg_lakehouse_spark.llm.text import vocabulary

    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "durian")],
        "doc_id long, text string",
    )
    v = {r["term"]: (r["term_freq"], r["doc_freq"]) for r in
         vocabulary(df, min_df=2, top_k=10).collect()}
    assert v == {"banana": (2, 2)}  # apple: df=1; durian: df=1 -> pruned


# ---------------------------------------------------------------------------
# Sequence packing / interleaving (packing.py)
# ---------------------------------------------------------------------------


def test_pack_bins_greedy_contract(spark, sf_dir):
    """Every doc lands in exactly one bin; no bin exceeds the budget
    unless a single oversize doc owns it; assignment is deterministic
    under repartitioning."""
    from pg_lakehouse_spark.llm.packing import pack_bins_greedy

    docs = table(spark, sf_dir, "documents")
    budget = 128
    packed = pack_bins_greedy(docs, budget=budget, shards=4)
    assert packed.count() == docs.count()
    assert packed.groupBy("doc_id").count().filter("count > 1").count() == 0
    totals = packed.groupBy("shard", "bin_in_shard").agg(
        F.sum("n_tokens").alias("tot"), F.count("*").alias("n")
    )
    # overfull bins must be singleton oversize docs
    bad = totals.filter((F.col("tot") > budget) & (F.col("n") > 1))
    assert bad.count() == 0
    # determinism: a different input partitioning yields the same bins
    again = pack_bins_greedy(docs.repartition(13), budget=budget, shards=4)
    a = {(r.doc_id): (r.shard, r.bin_in_shard) for r in packed.collect()}
    b = {(r.doc_id): (r.shard, r.bin_in_shard) for r in again.collect()}
    assert a == b
    # packing efficiency: used bins shouldn't exceed naive one-per-doc
    n_bins = totals.count()
    lower_bound = (
        packed.agg((F.ceil(F.sum("n_tokens") / budget)).alias("lb"))
        .collect()[0]
        .lb
    )
    assert lower_bound <= n_bins < packed.count()


def test_pack_sequences_offsets_consistent(spark, sf_dir):
    """Stream packing invariants: begin_offset < budget; within a
    shard, cumulative tokens reproduce (seq_in_shard, begin_offset)."""
    from pg_lakehouse_spark.llm.packing import pack_sequences

    docs = table(spark, sf_dir, "documents")
    p = pack_sequences(docs, budget=64, shards=4, shard_by="hash")
    assert p.filter(F.col("begin_offset") >= 64).count() == 0
    # reconstruct: start position = seq*budget + offset must be the
    # running sum of preceding docs in the shard
    rows = p.select(
        "doc_id", "shard", "n_tokens", "seq_in_shard", "begin_offset"
    ).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in shard_rows:
            assert r.seq_in_shard * 64 + r.begin_offset == cum
            cum += r.n_tokens


def test_interleave_sources_proportions(spark):
    """A weight-2 source appears ~2x as often as a weight-1 source in
    any prefix of the interleaved order."""
    from pg_lakehouse_spark.llm.packing import interleave_sources

    rows = [(i, "big") for i in range(200)] + [
        (1000 + i, "small") for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    mixed = interleave_sources(df, "src", {"big": 2.0, "small": 1.0})
    ordered = mixed.orderBy("mix_pos", "src", "doc_id").collect()
    prefix = [r.src for r in ordered[:90]]
    n_big = prefix.count("big")
    assert 55 <= n_big <= 65  # ~2/3 of the prefix
    # unknown sources are dropped
    df2 = df.union(spark.createDataFrame([(5000, "ghost")], df.schema))
    assert (
        interleave_sources(df2, "src", {"big": 2.0, "small": 1.0})
        .filter("src = 'ghost'")
        .count()
        == 0
    )


# ---------------------------------------------------------------------------
# BM25 search (search.py)
# ---------------------------------------------------------------------------


def test_bm25_ranking_properties(spark):
    """BM25 semantics on a controlled corpus: a doc containing both
    query terms outranks single-term docs; rare terms outweigh common
    ones; scores match the closed-form reference."""
    from pg_lakehouse_spark.llm.search import bm25_search, idf_weight

    rows = [
        (1, "apple banana cherry"),
        (2, "apple apple apple apple"),
        (3, "banana date elderberry fig"),
        (4, "cherry date elderberry fig grape"),
        (5, "apple banana"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_search(df, "apple banana", k=5)
    ranked = [r.doc_id for r in out.orderBy("rank").collect()]
    # docs 1 and 5 contain both terms -> above any single-term doc
    assert set(ranked[:2]) == {1, 5}
    assert 4 not in ranked  # no query term at all
    # closed-form check for doc 5 (tf=1 each, dl=2)
    import math

    n, avgdl, k1, b = 5, 18 / 5, 1.2, 0.75
    def contrib(tf, dl, dfc):
        return idf_weight(n, dfc) * tf * (k1 + 1) / (
            tf + k1 * (1 - b + b * dl / avgdl)
        )

    want5 = contrib(1, 2, 3) + contrib(1, 2, 3)  # apple df=3, banana df=3
    got5 = {r.doc_id: r.score for r in out.collect()}[5]
    assert abs(got5 - want5) < 1e-9
    # rare term beats common term at equal tf/dl: query 'cherry apple'
    out2 = {r.doc_id: r.score for r in bm25_search(df, "cherry", k=5).collect()}
    out3 = {r.doc_id: r.score for r in bm25_search(df, "apple", k=5).collect()}
    assert out2[1] > out3[1]  # cherry (df=2) outweighs apple (df=3) in doc 1
    with pytest.raises(ValueError, match="empty query"):
        bm25_search(df, "   ")


def test_postings_index_incremental_maintenance(spark, tmp_path):
    """The postings index advances by the corpus change feed: inserts
    tokenize only new docs, deletes retract, updates replace — result
    equals a from-scratch build; the refresh publishes atomically and
    the fallback path (no change feed) rebuilds."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog
    from pg_lakehouse_spark.llm.search import (
        build_postings,
        create_postings_table,
        refresh_postings,
    )

    cat = LakeCatalog(spark, str(tmp_path / "wh_post"))
    docs0 = spark.createDataFrame(
        [(1, "apple banana"), (2, "banana cherry cherry"), (3, "date")],
        "doc_id long, text string",
    )
    src = cat.create_table_as(
        "db", "corpus", docs0,
        properties={"change_data_feed": "on", "row_key": "doc_id",
                    "write_delete_mode": "merge-on-read"},
    )
    post = create_postings_table(cat, "db", "corpus_postings", src)

    def snap_post():
        return {
            (r.doc_id, r.term): (r.tf, r.dl)
            for r in post.read().collect()
        }

    def expected():
        return {
            (r.doc_id, r.term): (r.tf, r.dl)
            for r in build_postings(src.read()).collect()
        }

    assert snap_post() == expected()
    # DML mix: new doc, delete doc 3, rewrite doc 2's text
    src.append(spark.createDataFrame([(4, "elderberry apple")],
                                     "doc_id long, text string"))
    src.delete(F.col("doc_id") == 3)
    src.update(F.col("doc_id") == 2, {"text": F.lit("cherry fig")})
    refresh_postings(src, post)
    assert snap_post() == expected()
    assert (3, "date") not in snap_post()
    assert snap_post()[(2, "cherry")] == (1, 2)
    # idempotent when already current
    v = post.current_version()
    refresh_postings(src, post)
    assert post.current_version() == v


def test_export_shards_deterministic_manifest(spark, sf_dir, tmp_path):
    """Sharded export: membership is content-hashed (identical across
    re-exports and partitionings), the manifest accounts for every
    row, and order_col orders rows within each shard file."""
    import json
    import os

    from pg_lakehouse_spark.llm.packing import export_shards, interleave_sources

    docs = table(spark, sf_dir, "documents")
    mixed = interleave_sources(
        docs, "lang", {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.25, "zh": 0.25}
    )
    p1 = str(tmp_path / "exp1")
    m1 = export_shards(mixed, p1, 4, order_col="mix_pos")
    assert m1["total_rows"] == mixed.count()
    assert sum(s["rows"] for s in m1["shards"]) == m1["total_rows"]
    assert all(s["bytes"] > 0 for s in m1["shards"] if s["rows"])
    with open(os.path.join(p1, "manifest.json")) as f:
        assert json.load(f)["num_shards"] == 4
    # determinism under repartitioning
    p2 = str(tmp_path / "exp2")
    export_shards(mixed.repartition(13), p2, 4, order_col="mix_pos")

    def members(p, s):
        return {
            r.doc_id
            for r in spark.read.parquet(os.path.join(p, f"shard={s}")).collect()
        }

    for s in range(4):
        assert members(p1, s) == members(p2, s)
    # within-shard order follows order_col
    one = spark.read.parquet(os.path.join(p1, "shard=0")).collect()
    pos = [r.mix_pos for r in one]
    assert pos == sorted(pos)


# ---------------------------------------------------------------------------
# BPE training (bpe.py)
# ---------------------------------------------------------------------------


def test_bpe_training_classic_corpus(spark):
    """The canonical BPE example: 'low/lower/newest/widest' corpus
    learns (e,s) -> (es,t) -> (est,</w>) first; application with the
    learned merges reproduces whole-word tokens for frequent words and
    round-trips losslessly."""
    from pg_lakehouse_spark.llm.bpe import END, apply_bpe, train_bpe

    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    merges = train_bpe(df, 10)
    assert merges[:3] == [("e", "s"), ("es", "t"), ("est", END)]
    assert ("l", "o") in merges and ("lo", "w") in merges
    out = apply_bpe(df, merges).collect()[0].bpe_tokens
    # 'newest' fused to a single token (most frequent word)
    assert f"newest{END}" in out
    # lossless: stripping markers and re-joining reproduces the text
    rebuilt = "".join(out).replace(END, " ").strip()
    assert rebuilt == text
    # determinism
    assert train_bpe(df, 10) == merges


def test_bpe_corpus_scale_and_compression(spark, sf_dir):
    """On the real corpus: training is vocabulary-sized work, and
    applying the merges strictly compresses the token stream vs
    characters while never splitting across words."""
    from pg_lakehouse_spark.llm.bpe import END, apply_bpe, train_bpe

    docs = table(spark, sf_dir, "documents").limit(60)
    merges = train_bpe(docs, 24)
    assert len(merges) == 24
    toks = apply_bpe(docs, merges)
    stats = toks.select(
        F.size("bpe_tokens").alias("n_bpe"),
        F.length("text").alias("n_chars"),
    ).agg(F.sum("n_bpe").alias("b"), F.sum("n_chars").alias("c")).collect()[0]
    assert stats.b < stats.c  # merges compress
    # every token is either a learned fusion or a char/terminal
    vocab = {a + b for a, b in merges}
    sample = toks.select(F.explode("bpe_tokens").alias("t")).distinct().collect()
    for r in sample:
        t = r.t
        assert t in vocab or len(t.rstrip(END).replace(END, "")) <= 1 or t.endswith(END) or len(t) == 1


def test_bpe_batched_training(spark):
    """batch>1 fuses several symbol-disjoint pairs per round: fewer
    sequential rounds, deterministic, and within a batch the combined
    single-pass fusion equals sequential application. batch=1 stays
    exact greedy (same list as the default path)."""
    from pg_lakehouse_spark.llm.bpe import END, apply_bpe, train_bpe

    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    exact = train_bpe(df, 10)
    assert train_bpe(df, 10, batch=1) == exact
    batched = train_bpe(df, 10, batch=4)
    assert len(batched) == 10
    # determinism
    assert train_bpe(df, 10, batch=4) == batched
    # the undisputed top pair is still first, and every selected pair
    # was a genuinely frequent adjacency of the corpus
    assert batched[0] == ("e", "s")
    # lossless round-trip under the batched model
    out = apply_bpe(df, batched).collect()[0].bpe_tokens
    rebuilt = "".join(out).replace(END, " ").strip()
    assert rebuilt == text
    # batches are symbol-disjoint: replaying the merge list one at a
    # time can never fuse a pair the combined pass missed — token
    # stream is no longer than the exact model's by more than the
    # divergence allows; sanity: compresses vs characters
    assert len(out) < len(text)


def test_ivf_index_incremental_refresh(spark, sf_dir, tmp_path):
    """Persisted-index maintenance: appended corpus vectors join the
    index via nearest-existing-centroid assignment (no re-cluster);
    queries then find them; DML forces a rebuild."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog
    from pg_lakehouse_spark.llm.index import (
        build_ivf_index,
        query_ivf_index,
        refresh_ivf_index,
    )

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cat = LakeCatalog(spark, str(tmp_path / "wh_ivf"))
    src = cat.create_table_as(
        "db", "vecs", emb.filter(F.col("vec_id") % 2 == 0)
    )
    build_ivf_index(cat, "db", "idx", src.read(), nlist=8)
    cat.load_table("db", "idx__assignments").set_properties(
        {"ivf_source_version": str(src.current_version())}
    )
    # append the odd half; refresh assigns them to existing centroids
    src.append(emb.filter(F.col("vec_id") % 2 == 1))
    r = refresh_ivf_index(cat, "db", "idx", src, nlist=8)
    assert r["rebuilt"] is False and r["appended"] > 0
    n_assigned = cat.load_table("db", "idx__assignments").read().count()
    assert n_assigned == src.read().count()
    # a planted near-duplicate of an ODD (appended) vector is found
    probe_id = 1
    q = src.read().filter(F.col("vec_id") == probe_id).select(
        F.lit(999999).alias("vec_id"), "embedding"
    )
    hits = query_ivf_index(cat, "db", "idx", q, k=3, nprobe=4)
    assert probe_id in {r2.neighbor_id for r2 in hits.collect()}
    # idempotent when current; DML WITHOUT a change feed -> rebuild
    # (no row-level delta to advance by)
    assert refresh_ivf_index(cat, "db", "idx", src, nlist=8)["appended"] == 0
    src.delete(F.col("vec_id") == 0)
    assert refresh_ivf_index(cat, "db", "idx", src, nlist=8)["rebuilt"]


def test_ivf_index_dml_tombstone_retraction(spark, sf_dir, tmp_path):
    """r3 verdict item 4: corpus DML on a change-feed source advances
    the index by equality-delete tombstones + delta appends — cost ∝
    delta, NO rebuild. Deleted vectors vanish from queries; updated
    vectors retire their old assignment row and re-assign."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog
    from pg_lakehouse_spark.llm.index import (
        build_ivf_index,
        query_ivf_index,
        refresh_ivf_index,
    )

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cat = LakeCatalog(spark, str(tmp_path / "wh_ivf_ts"))
    src = cat.create_table_as(
        "db", "vecs", emb.filter(F.col("vec_id") < 60),
        properties={"change_data_feed": "on"},
    )
    build_ivf_index(cat, "db", "idx", src.read(), nlist=8)
    at = cat.load_table("db", "idx__assignments")
    at.set_properties({"ivf_source_version": str(src.current_version())})
    # DELETE: tombstone only, no rebuild, no re-cluster
    src.delete(F.col("vec_id") == 3)
    r = refresh_ivf_index(cat, "db", "idx", src, nlist=8)
    assert r["rebuilt"] is False and r["removed"] >= 1
    assert at.read().filter(F.col("id") == 3).count() == 0
    assert at.read().count() == src.read().count() == 59
    # the deleted vector never surfaces as a neighbor
    q = emb.filter(F.col("vec_id") == 3).select(
        F.lit(999999).alias("vec_id"), "embedding"
    )
    hits = query_ivf_index(cat, "db", "idx", q, k=5, nprobe=8)
    assert 3 not in {h.neighbor_id for h in hits.collect()}
    # UPDATE: old assignment row retires, postimage re-assigns — one
    # live row for the id, carrying the NEW vector
    new_vec = emb.filter(F.col("vec_id") == 50).select("embedding").first()[0]
    src.update(F.col("vec_id") == 5, {"embedding": F.lit(new_vec)})
    r = refresh_ivf_index(cat, "db", "idx", src, nlist=8)
    assert r["rebuilt"] is False and r["appended"] >= 1
    live5 = at.read().filter(F.col("id") == 5).collect()
    assert len(live5) == 1
    assert [round(x, 6) for x in live5[0].vec] == [
        round(float(x), 6) for x in new_vec
    ]
    # mixed window (append + delete) stays incremental too
    src.append(emb.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 70)))
    src.delete(F.col("vec_id") == 7)
    r = refresh_ivf_index(cat, "db", "idx", src, nlist=8)
    assert r["rebuilt"] is False
    assert at.read().count() == src.read().count() == 68
    # watermark advanced: immediate re-refresh is a no-op
    assert refresh_ivf_index(cat, "db", "idx", src, nlist=8)["appended"] == 0


def test_ann_join_recall_vs_bruteforce(spark, sf_dir):
    """Corpus-to-corpus ANN join: per-left-row top-k against the right
    corpus reaches high recall vs brute force, and the plan never
    broadcasts either corpus (only the centroid list)."""
    from pg_lakehouse_spark.llm.similarity import ann_join, cosine_topk

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # disjoint id spaces (a cross-corpus join has no self-exclusion
    # semantics; exact cosine_topk excludes same-id pairs)
    left = emb.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    approx = ann_join(left, emb, k=5, nlist=8, nprobe=6)
    exact = cosine_topk(emb, left, k=5)
    a = {
        (r.query_id, r.neighbor_id) for r in approx.collect()
    }
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.8, recall


# -- r6: corpus line dedup + domain balancing ---------------------------


def test_dedup_lines_removes_boilerplate_preserves_order(spark):
    from pg_lakehouse_spark.llm.dedup import dedup_lines

    hdr = "COOKIE BANNER accept all"
    docs = spark.createDataFrame(
        [
            (1, f"{hdr}\nunique prose one\nmore unique text"),
            (2, f"{hdr}\nsecond doc body"),
            (3, f"{hdr}"),  # all boilerplate -> dropped
            (4, "alpha\nbeta\nalpha"),  # within-doc repetition counts
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.text
        for r in dedup_lines(docs, min_dup=2).collect()
    }
    assert out == {
        1: "unique prose one\nmore unique text",
        2: "second doc body",
        4: "beta",  # within-doc repeats count as duplicates too
    }


def test_dedup_lines_min_chars_exempts_short_lines(spark):
    from pg_lakehouse_spark.llm.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(1, "a\nlong unique line"), (2, "a\nother unique line")],
        "doc_id long, text string",
    )
    # "a" repeats but is under min_chars -> exempt, survives
    out = {
        r.doc_id: r.text
        for r in dedup_lines(docs, min_dup=2, min_chars=2).collect()
    }
    assert out == {1: "a\nlong unique line", 2: "a\nother unique line"}


def test_balance_by_key_caps_and_is_deterministic(spark):
    from pg_lakehouse_spark.llm.splits import balance_by_key

    rows = [(i, f"src{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    a = balance_by_key(df, "source", cap=5)
    got = a.groupBy("source").count().collect()
    assert {r["source"]: r["count"] for r in got} == {
        "src0": 5, "src1": 5, "src2": 5
    }
    # stable across partitionings
    b = balance_by_key(df.repartition(13), "source", cap=5)
    assert sorted(r.doc_id for r in a.collect()) == sorted(
        r.doc_id for r in b.collect()
    )
    # under-cap keys keep everything
    c = balance_by_key(df, "source", cap=100)
    assert c.count() == 90


def test_temperature_mix_proportions(spark, sf_dir):
    """T=1 reproduces natural proportions (weights all equal); larger
    T upsamples the rarest source: in any stream prefix the rare
    source's share sits between its natural share and uniform."""
    from pg_lakehouse_spark.llm.packing import (
        temperature_mix,
        temperature_weights,
    )
    from pg_lakehouse_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    w1 = temperature_weights(docs, "lang", 1.0)
    assert all(abs(w - 1.0) < 1e-12 for w in w1.values())
    counts = {
        r["lang"]: r["count"]
        for r in docs.groupBy("lang").count().collect()
    }
    rare = min(counts, key=counts.get)
    total = sum(counts.values())
    natural = counts[rare] / total
    uniform = 1.0 / len(counts)
    mixed = temperature_mix(docs, "lang", temperature=4.0)
    prefix = mixed.orderBy("mix_pos", "lang", "doc_id").limit(
        total // 4
    )
    share = (
        prefix.filter(F.col("lang") == rare).count() / (total // 4)
    )
    assert natural < share <= uniform + 0.05, (natural, share, uniform)


def test_duplicate_spans(spark):
    """r7 span-level dedup: a passage shared by two docs (different
    surrounding text) is detected; unique text is not; the plan stays
    expression-only (no Python UDF stage)."""
    from pg_lakehouse_spark.llm.dedup import duplicate_spans

    boiler = "All rights reserved. Subscribe to our newsletter today! " * 4
    rows = [
        (1, "intro one " * 20 + boiler + "tail one " * 20),
        (2, "different start " * 15 + boiler + "other ending " * 15),
        (3, "completely unrelated text " * 40),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_spans(
        docs, id_col="doc_id", text_col="text", window=64, stride=32
    )
    hits = out.collect()
    assert hits, "shared boilerplate must surface"
    assert all(r.n_docs == 2 and r.sample_doc == 1 for r in hits)
    # a doc with no shared span never appears
    spans3 = duplicate_spans(
        docs.filter("doc_id = 3"), window=64, stride=32, min_docs=1,
        id_col="doc_id", text_col="text",
    )
    assert spans3.filter("n_docs >= 2").count() == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # short docs (< window) contribute nothing rather than erroring
    short = spark.createDataFrame(
        [(9, "tiny"), (10, "tiny")], "doc_id long, text string"
    )
    assert duplicate_spans(
        short, id_col="doc_id", text_col="text"
    ).count() == 0


def test_span_duplication_share(spark):
    """r7: per-doc boilerplate share — docs sharing a passage score
    dup_share > 0, unique docs 0; join runs on the hash (no text in
    the shuffle), no Python UDF stage."""
    from pg_lakehouse_spark.llm.dedup import span_duplication_share

    boiler = "standard legal disclaimer text repeated verbatim " * 4
    rows = [
        (1, boiler + "unique tail one " * 30),
        (2, "unique head two " * 30 + boiler),
        (3, "entirely original writing " * 40),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = span_duplication_share(
        docs, id_col="doc_id", text_col="text", window=64, stride=32
    )
    by_id = {r.doc_id: r for r in out.collect()}
    assert by_id[1].dup_spans > 0 and by_id[2].dup_spans > 0
    assert 0 < by_id[1].dup_share < 1
    assert by_id[3].dup_spans == 0 and by_id[3].dup_share == 0.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
