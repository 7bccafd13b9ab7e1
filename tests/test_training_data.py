"""Tests for the training-data pipeline operators: dedup sketches,
similarity search, text analysis."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_finance_pipeline_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from etl_finance_pipeline_spark.operators.similarity import (
    cosine_topk,
    embedding_near_duplicates,
    hyperplane_bucket,
    lsh_ann_topk,
)
from etl_finance_pipeline_spark.operators.text_analysis import (
    language_id,
    quality_score,
    token_counts,
    winnowing_fingerprints,
)

DOC_A = "the quick brown fox jumps over the lazy dog again and again today"
DOC_A2 = "the quick brown fox jumps over the lazy dog again and again tonight"
DOC_B = "completely different words about spark query engines and parquet files"


def _docs(spark):
    return spark.createDataFrame(
        [(1, DOC_A), (2, DOC_A2), (3, DOC_B)], ["doc_id", "text"]
    )


def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], ["doc_id", "text"]
    )
    out = exact_duplicates(df, ["text"], "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]


def test_minhash_identical_docs_identical_sigs(spark):
    df = spark.createDataFrame([(1, DOC_A), (2, DOC_A)], ["doc_id", "text"])
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]
    assert len(sigs[1]) == 16


def test_minhash_lsh_finds_near_dup(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(_docs(spark)).collect()
    }
    assert (1, 2) in pairs  # near-identical docs collide in some band
    assert pairs[(1, 2)] > 0.5
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_identical_zero_hamming(spark):
    df = spark.createDataFrame([(1, DOC_A), (2, DOC_A), (3, DOC_B)], ["doc_id", "text"])
    fps = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(df).collect()}
    assert pairs[(1, 2)] == 0


def test_ngram_jaccard_exact_value(spark):
    # DOC_A vs DOC_A2: 13 tokens -> 11 shingles each, differing only in
    # the final word -> 10 shared shingles, union 12 (11+11-10)
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), threshold=0.1).collect()
    }
    assert out[(1, 2)] == pytest.approx(10 / 12)


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is happy"),
            (2, "der hund ist ein gutes tier und er bellt"),
            (3, "xylophone zebra quartz"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["pred_lang"] for r in language_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "und"


def test_quality_score_bounds_and_metrics(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on a mat with the dog and the bird today ok")],
        ["doc_id", "text"],
    )
    r = quality_score(df).collect()[0]
    assert 0.0 <= r["quality"] <= 1.0
    assert r["n_tokens"] == 14
    assert r["stopword_ratio"] > 0.2
    assert r["quality"] >= 0.75  # len ok? 55 chars -> yes; stop ok; noise 0


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "hello world, 42 times!")], ["doc_id", "text"])
    r = token_counts(df).collect()[0]
    assert r["ws_tokens"] == 4
    # hello / world / , / 42 / times / !
    assert r["bpe_ish_tokens"] == 6


def test_winnowing_shared_substring_shares_fingerprint(spark):
    # shared run of >= k+w-1 = 11 chars guarantees a shared fingerprint
    df = spark.createDataFrame(
        [
            (1, "AAAA shared-substring-here BBBB"),
            (2, "CCCC shared-substring-here DDDD"),
            (3, "totally unrelated text q7vx"),
        ],
        ["doc_id", "text"],
    )
    fp = winnowing_fingerprints(df)
    f1 = {r["fp_hash"] for r in fp.filter(F.col("doc_id") == 1).collect()}
    f2 = {r["fp_hash"] for r in fp.filter(F.col("doc_id") == 2).collect()}
    f3 = {r["fp_hash"] for r in fp.filter(F.col("doc_id") == 3).collect()}
    assert f1 & f2
    assert not (f1 & f3)


VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),   # closest to 0
    (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
    (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
    (4, [1.0, 0.0, 0.0, 0.0]),   # identical to 0
]


def _emb(spark):
    return spark.createDataFrame(VECS, ["vec_id", "embedding"])


def test_cosine_topk_exact(spark):
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") == 0)
    out = cosine_topk(emb, q, k=4).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in out] == [4, 1, 2, 3]
    assert out[0]["cosine"] == 1.0
    assert out[3]["cosine"] == -1.0


def test_kmeans_assign_nearest_centroid(spark):
    """Assignment picks the squared-L2-nearest centroid with the
    lower-cid tie-break — the identical argmin the training loop
    runs, so semantic-pack buckets agree with k-means itself."""
    from etl_finance_pipeline_spark.operators.similarity import kmeans_assign

    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 0.0])],
        "cluster_id int, cvec array<double>",
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [9.0, 1.0]), (3, [5.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r["cluster_id"]
           for r in kmeans_assign(vecs, cents).collect()}
    assert out == {1: 0, 2: 1, 3: 0}  # 3 is equidistant -> lower cid


def test_bt_ratings_orders_by_strength(spark):
    """A > B > C in every duel must come out A > B > C in rating; the
    half-win-vs-reference regularization keeps the all-loser positive
    and the fixed-round MM is deterministic across invocations."""
    from etl_finance_pipeline_spark.operators.mlprep import bt_ratings

    duels = spark.createDataFrame(
        [("A", "B", 1), ("A", "B", 1), ("B", "C", 1), ("B", "C", 1),
         ("A", "C", 1), ("A", "C", 0)],
        ["item_a", "item_b", "win_a"],
    )
    out = {r["item"]: r for r in bt_ratings(duels, iters=5).collect()}
    assert out["A"]["rating"] > out["B"]["rating"] > out["C"]["rating"]
    assert out["C"]["rating"] > 0
    assert out["A"]["n_wins"] == 3 and out["A"]["n_duels"] == 4
    again = {r["item"]: r["rating"] for r in bt_ratings(duels, iters=5).collect()}
    assert {k: v["rating"] for k, v in out.items()} == again


def test_exact_lanes_enforce_pair_ceiling(spark):
    """The brute-force lanes are documented as eval-only recall
    oracles; the max_pairs guard makes that contract mechanical — a
    pair frame over the ceiling raises BEFORE the cross join runs,
    and a bounded call is unaffected."""
    import pytest

    from etl_finance_pipeline_spark.operators.similarity import (
        bitext_margin_mine,
    )

    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") == 0)
    with pytest.raises(ValueError, match="max_pairs"):
        cosine_topk(emb, q, k=4, max_pairs=3)
    with pytest.raises(ValueError, match="max_pairs"):
        bitext_margin_mine(emb, emb, k=2, max_pairs=3)
    # unchanged result under the default ceiling
    out = cosine_topk(emb, q, k=4).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in out] == [4, 1, 2, 3]


def test_lsh_identical_vectors_same_bucket(spark):
    planes = [[1.0, 2.0, -1.0, 0.5], [-0.3, 1.0, 0.7, -2.0]]
    emb = _emb(spark)
    b = emb.select(
        "vec_id", hyperplane_bucket(F.col("embedding").cast("array<double>"), planes).alias("b")
    )
    got = {r["vec_id"]: r["b"] for r in b.collect()}
    assert got[0] == got[4]
    assert got[0] != got[3]  # opposite vector flips every plane sign


def test_lsh_ann_topk_finds_identical(spark):
    planes = [[1.0, 2.0, -1.0, 0.5], [-0.3, 1.0, 0.7, -2.0]]
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") == 0)
    out = lsh_ann_topk(emb, q, k=3, planes=planes).orderBy("rank").collect()
    assert out[0]["neighbor_id"] == 4 and out[0]["cosine"] == 1.0


def test_embedding_near_duplicates(spark):
    # two bands of two planes each: near-identical vectors agree on
    # every sign, so they collide in both bands and must dedupe to ONE
    # scored pair (the banded OR-amplification path)
    banded = [
        [[1.0, 2.0, -1.0, 0.5], [-0.3, 1.0, 0.7, -2.0]],
        [[0.2, -1.0, 1.5, 0.8], [1.1, 0.4, -0.6, 0.9]],
    ]
    # cos(v0, v1) = 0.9/sqrt(0.82) ≈ 0.9939, so at 0.99 the near-dup set
    # is the full clique {0, 1, 4}; at 0.999 only the identical pair.
    out = embedding_near_duplicates(_emb(spark), 0.99, banded_planes=banded).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(0, 1), (0, 4), (1, 4)}
    assert len(out) == 3  # multi-band collisions deduped before scoring
    strict = embedding_near_duplicates(
        _emb(spark), 0.999, banded_planes=banded
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in strict} == {(0, 4)}


def test_embedding_near_dup_probes_vector_dim(spark):
    # default planes are 64-dim; these vectors are 4-dim. Without the
    # dim probe every dot goes NULL (zip_with null-pads), every
    # signature collapses to 0 and the band self-join degenerates into
    # a full cross join. With it, planes regenerate at width 4 and the
    # identical pair (0, 4) still surfaces.
    out = embedding_near_duplicates(_emb(spark), 0.999).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(0, 4)}


def test_embedding_near_dup_dim_probe_matches_explicit_planes(spark):
    from etl_finance_pipeline_spark.operators.similarity import (
        banded_planes_for_dim,
    )

    probed = embedding_near_duplicates(_emb(spark), 0.99).collect()
    explicit = embedding_near_duplicates(
        _emb(spark), 0.99, banded_planes=banded_planes_for_dim(4)
    ).collect()
    assert sorted(map(tuple, probed)) == sorted(map(tuple, explicit))


def test_lsh_ann_topk_probes_corpus_dim(spark):
    # same collapse mode as above, on the single-probe ANN path: with
    # 64-dim default planes a 4-dim corpus all lands in bucket 0 —
    # silently exhaustive. The probe sizes planes to the corpus width.
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") == 0)
    out = lsh_ann_topk(emb, q, k=3).orderBy("rank").collect()
    assert out and out[0]["neighbor_id"] == 4 and out[0]["cosine"] == 1.0


def test_ivf_ann_topk_finds_identical(spark):
    from etl_finance_pipeline_spark.operators.similarity import ivf_ann_topk
    import pyspark.sql.functions as SF

    emb = _emb(spark)
    centroids = emb.filter(SF.col("vec_id").isin(0, 2)).select(
        SF.col("vec_id").alias("cid"), SF.col("embedding").alias("cvec")
    )
    q = emb.filter(SF.col("vec_id") == 0)
    out = ivf_ann_topk(emb, q, centroids, k=3, nprobe=1).orderBy("rank").collect()
    # list of centroid 0 holds vectors {0,1,4} (3 is closer to centroid
    # 2's opposite... vec 3 = -v0 -> cos(v0)=-1 < cos(v2)=0 -> list 2)
    assert out[0]["neighbor_id"] == 4 and out[0]["cosine"] == 1.0
    assert {r["neighbor_id"] for r in out} == {1, 4}


def test_lsh_multiprobe_recovers_cross_bucket_neighbor(spark):
    # planes split on dims 0 and 1; w = [1, -0.01, ...] sits across the
    # dim-1 plane from v = [1, +0.01, ...] despite cosine ~1.0
    planes = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    emb = spark.createDataFrame(
        [(0, [1.0, 0.01, 0.0, 0.0]), (1, [1.0, -0.01, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    q = emb.filter(F.col("vec_id") == 0)
    single = lsh_ann_topk(emb, q, k=5, planes=planes).collect()
    multi = lsh_ann_topk(emb, q, k=5, planes=planes, multiprobe=1).collect()
    assert single == []  # different sign on plane 1 -> different bucket
    assert [r["neighbor_id"] for r in multi] == [1]
    assert multi[0]["cosine"] > 0.999


def test_connected_components(spark):
    from etl_finance_pipeline_spark.operators.graph import (
        connected_components,
        near_dup_clusters,
    )

    # two chains {1-2-3-4} (transitive via shared middle) and {7-8}, 9 isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], ["id_a", "id_b"]
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}

    all_ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 7, 8, 9]], ["doc_id"])
    full = {
        r["doc_id"]: r["component"]
        for r in near_dup_clusters(pairs, all_ids).collect()
    }
    assert full[9] == 9  # singleton keeps itself
    assert full[4] == 1


def test_connected_components_star_equivalence(spark):
    """Large-star/small-star produces the same components as label
    propagation on shapes that stress both: a DEEP chain (propagation's
    worst case — diameter rounds), a clique, random edges, and a
    two-node component."""
    import random

    from etl_finance_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(13)
    chain = [(i, i + 1) for i in range(100, 140)]          # 40-deep chain
    clique = [(200 + a, 200 + b) for a in range(5) for b in range(a + 1, 5)]
    randoms = [
        (300 + rng.randrange(30), 300 + rng.randrange(30)) for _ in range(40)
    ]
    randoms = [(a, b) for a, b in randoms if a != b]
    pairs = spark.createDataFrame(chain + clique + randoms + [(7, 8)], ["id_a", "id_b"])

    prop = {r["id"]: r["component"] for r in connected_components(pairs, max_iter=100).collect()}
    star = {r["id"]: r["component"] for r in connected_components_star(pairs).collect()}
    assert star == prop
    assert star[139] == 100  # the deep chain collapsed to its min id


def test_incremental_lsh_matches_self_join(spark):
    """Batch-vs-corpus candidates = the self-join pairs restricted to
    one endpoint in each side; the banded batch side broadcasts."""
    from etl_finance_pipeline_spark.operators.dedup import incremental_lsh_pairs

    docs = _docs(spark)
    batch = docs.filter("doc_id = 2")
    corpus = docs.filter("doc_id != 2")
    out = incremental_lsh_pairs(batch, corpus)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    got = {(r["batch_id"], r["corpus_id"]): r["est_jaccard"] for r in out.collect()}
    full = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs).collect()
    }
    expect = {
        (b, c): v
        for (a, c2), v in full.items()
        for (b, c) in [(2, c2) if a == 2 else (2, a) if c2 == 2 else (None, None)]
        if b is not None
    }
    assert got == expect and (2, 1) in got


def test_train_kmeans_centroids(spark):
    """Lloyd's k-means build path: deterministic across runs, inertia
    non-increasing, k centroids of the right dimension, and the
    trained centroids actually separate an obviously-clustered set."""
    import math

    from pyspark.sql import functions as F

    from etl_finance_pipeline_spark.operators.similarity import (
        train_kmeans_centroids,
    )

    # two tight blobs in 4-d
    rows = []
    for i in range(20):
        rows.append((i, [10.0 + (i % 3) * 0.1, 10.0, 10.0, 10.0]))
        rows.append((100 + i, [-5.0, -5.0 - (i % 3) * 0.1, -5.0, -5.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    c1 = train_kmeans_centroids(df, k=2, iters=4)
    c2 = train_kmeans_centroids(df, k=2, iters=4)
    got1 = sorted([tuple(r["cvec"]) for r in c1.collect()])
    got2 = sorted([tuple(r["cvec"]) for r in c2.collect()])
    assert got1 == got2  # deterministic
    # one centroid near each blob
    signs = sorted(c[0] > 0 for c in got1)
    assert signs == [False, True]
    for c in got1:
        assert len(c) == 4
        blob = (10.0, 10.1) if c[0] > 0 else (-5.2, -4.9)
        assert blob[0] - 0.2 <= c[0] <= blob[1] + 0.2

    # inertia with trained centroids beats the 1-iteration version
    def inertia(cents):
        tot = 0.0
        for _, v in rows:
            tot += min(
                sum((a - b) ** 2 for a, b in zip(v, c)) for c in cents
            )
        return tot

    c0 = train_kmeans_centroids(df, k=2, iters=1)
    i_trained = inertia(got1)
    i_early = inertia([tuple(r["cvec"]) for r in c0.collect()])
    assert i_trained <= i_early + 1e-9
    assert not math.isnan(i_trained)


def test_decontaminate_flags_eval_members_and_clean_docs(spark):
    from etl_finance_pipeline_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over a sleeping cat"),  # shares prefix
            (2, "completely different words about spark engines here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in decontaminate(
            docs, docs.filter("doc_id = 0"), max_overlap=0.3
        ).collect()
    }
    # the eval doc itself is 100% contaminated
    assert out[0]["overlap"] == 1.0 and out[0]["contaminated"]
    # partial shingle overlap ("the quick brown", ...) crosses 0.3
    assert 0 < out[1]["overlap"] < 1.0 and out[1]["contaminated"]
    # disjoint vocabulary is clean
    assert out[2]["n_overlap"] == 0 and not out[2]["contaminated"]


def test_repetition_stats_flags_degenerate_doc(spark):
    from etl_finance_pipeline_spark.operators.text_analysis import repetition_stats

    docs = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam"),        # one token repeated
            (1, "all tokens here are unique words"),  # no repetition
            (2, "one"),                              # single token: no bigrams
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert out[0]["top_word_frac"] == 1.0
    assert out[0]["dup_bigram_frac"] == 1.0  # "spam spam" x4
    assert out[0]["repetitive"]
    assert out[1]["top_word_frac"] < 0.3 and not out[1]["repetitive"]
    assert out[1]["dup_word_frac"] == 0.0
    assert out[2]["n_bigrams"] == 0 and out[2]["top_bigram_frac"] == 0.0


def test_unigram_logprob_ranks_rare_token_docs_lower(spark):
    import math

    from etl_finance_pipeline_spark.operators.text_analysis import unigram_logprob

    docs = spark.createDataFrame(
        [(0, "the the the the"), (1, "the zyxqw")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    # corpus: "the" x5, "zyxqw" x1, total 6
    assert abs(out[0]["avg_logprob"] - math.floor(math.log(5 / 6) * 1e6 + 0.5) / 1e6) < 1e-9
    expected1 = (math.log(5 / 6) + math.log(1 / 6)) / 2
    assert abs(out[1]["avg_logprob"] - math.floor(expected1 * 1e6 + 0.5) / 1e6) < 1e-9
    assert out[1]["avg_logprob"] < out[0]["avg_logprob"]


def test_semdedup_drops_higher_id_near_dup_within_cluster(spark):
    from etl_finance_pipeline_spark.operators.similarity import semdedup

    # ids 0/1 identical direction (dup pair), id 2 orthogonal
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [2.0, 0.0]),
            (2, [0.0, 1.0]),
        ],
        ["vec_id", "embedding"],
    )
    out = {r["vec_id"]: r for r in semdedup(emb, k=2, threshold=0.9).collect()}
    assert out[0]["keep"] and not out[1]["keep"]
    assert out[2]["keep"]
    # 0 and 1 land in the same cluster for the drop to be in-cluster
    assert out[0]["cluster_id"] == out[1]["cluster_id"]


def test_pagerank_hand_computed_triangle(spark):
    import math

    from etl_finance_pipeline_spark.operators.graph import pagerank

    # a -> b, a -> c, b -> c, c -> a  (N=3)
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")], ["src", "dst"]
    )
    out = {r["id"]: r["rank"] for r in pagerank(edges, iters=1).collect()}

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    third = r6(1.0 / 3)
    base = (1.0 - 0.85) / 3
    assert out["a"] == r6(base + 0.85 * third)              # from c (deg 1)
    assert out["b"] == r6(base + 0.85 * (third / 2))        # from a (deg 2)
    assert out["c"] == r6(base + 0.85 * (third / 2 + third))  # a + b
    # mass roughly conserved (no dangling nodes here)
    assert abs(sum(out.values()) - 1.0) < 1e-5


def test_pagerank_with_trust_matches_separate_operators(spark):
    # the fused rank+trust loop pair (shared e/verts/links frames)
    # must reproduce pagerank + trustrank EXACTLY — same iteration
    # algebra, same per-round rounding, same seed derivation
    from etl_finance_pipeline_spark.operators.graph import (
        pagerank,
        pagerank_with_trust,
        trustrank,
    )
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
            ("d", "a"), ("d", "b"), ("e", "d"), ("c", "e"),
        ],
        ["src", "dst"],
    )
    ranks, trust = pagerank_with_trust(edges, top_seeds=2, iters=3)
    pr = {r["id"]: r["rank"] for r in pagerank(edges, iters=3).collect()}
    seeds = (
        pagerank(edges, iters=3)
        .orderBy(F.col("rank").desc(), "id")
        .limit(2)
        .select("id")
    )
    tr = {
        r["id"]: r["trust"]
        for r in trustrank(edges, seeds, iters=3).collect()
    }
    assert {r["id"]: r["rank"] for r in ranks.collect()} == pr
    assert {r["id"]: r["trust"] for r in trust.collect()} == tr


def test_cross_doc_repetition_shared_template(spark):
    from etl_finance_pipeline_spark.operators.dedup import cross_doc_repetition

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta unique0 tail0"),
            (1, "alpha beta gamma delta unique1 tail1"),  # shares prefix 4-gram
            (2, "totally different content with no overlap at all"),
            (3, "shrt"),  # < k tokens: zero shingles
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in cross_doc_repetition(docs, shingle_k=4).collect()}
    # docs 0/1: 3 shingles each, exactly 1 shared ("alpha beta gamma delta")
    assert out[0]["n_shingles"] == 3 and out[0]["n_shared"] == 1
    assert out[1]["n_shared"] == 1
    assert abs(out[0]["shared_frac"] - 0.333333) < 1e-9
    assert not out[0]["mostly_duplicated"]
    assert out[2]["n_shared"] == 0 and not out[2]["mostly_duplicated"]
    assert out[3]["n_shingles"] == 0 and out[3]["shared_frac"] == 0.0


def test_set_similarity_join_matches_bruteforce(spark):
    """Prefix filtering must lose nothing: result equals the
    brute-force all-pairs Jaccard join on token sets."""
    from itertools import combinations

    from etl_finance_pipeline_spark.operators.dedup import set_similarity_join

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma epsilon"),       # J(1,2)=3/5
        (3, "alpha beta gamma delta"),         # J(1,3)=1.0
        (4, "zeta eta theta"),
        (5, "zeta eta theta iota kappa"),      # J(4,5)=3/5
        (6, "completely different words here"),
        (7, "alpha"),                          # tiny doc, length-pruned
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in set_similarity_join(df, threshold=0.6).collect()
    }
    sets = {i: set(t.split()) for i, t in rows}
    expected = {}
    for a, b in combinations(sorted(sets), 2):
        i = len(sets[a] & sets[b])
        j = i / len(sets[a] | sets[b])
        if j >= 0.6:
            expected[(a, b)] = round(j * 1e6 + 0.5) // 1 / 1e6 if False else j
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-6
    assert got[(1, 3)] == 1.0


def test_set_similarity_join_threshold_is_exact_integer(spark):
    """A pair EXACTLY at the threshold is kept (>=, integer
    cross-multiply — no FP boundary loss)."""
    from etl_finance_pipeline_spark.operators.dedup import set_similarity_join

    # J = 3/5 = 0.6 exactly
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    out = set_similarity_join(df, threshold=0.6).collect()
    assert len(out) == 1 and out[0]["jaccard"] == 0.6
    # and at a threshold just above, it is dropped
    assert set_similarity_join(df, threshold=0.61).count() == 0


def test_set_similarity_join_plan_is_distributed(spark):
    """No single-partition exchange on the data path: the rank window
    partitions by doc, candidate/verify joins by token and pair."""
    from etl_finance_pipeline_spark.operators.dedup import set_similarity_join

    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} shared common words") for i in range(50)],
        "doc_id long, text string",
    )
    out = set_similarity_join(df, threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_quantize_embeddings_bounds_and_zero_vector(spark):
    """Codes stay in [-127, 127], reconstruction error is bounded by
    scale/2, and zero vectors quantize to zeros with scale 0."""
    from etl_finance_pipeline_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.5, 2.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [-0.001, 0.001, 0.0005, -0.0002]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    r1 = out[1]
    assert max(abs(q) for q in r1["qvec"]) == 127  # max element saturates
    assert r1["max_abs_err"] <= r1["scale"] / 2 + 1e-15
    # reconstruction: q * scale ~ v
    recon = [q * r1["scale"] for q in r1["qvec"]]
    assert all(abs(a - b) <= r1["scale"] / 2 + 1e-15 for a, b in zip(recon, [1.0, -2.0, 0.5, 2.0]))
    r2 = out[2]
    assert r2["scale"] == 0.0 and r2["qvec"] == [0, 0, 0, 0] and r2["max_abs_err"] == 0.0
    r3 = out[3]
    assert max(abs(q) for q in r3["qvec"]) == 127  # scale adapts to tiny vectors


def test_duplicate_token_spans_hand_built(spark):
    """Spans: a shared 8-token passage marks both docs; a WITHIN-doc
    repeat counts (Lee et al. semantics); runs shorter than k are
    invisible; overlapping covers merge to one maximal span."""
    from etl_finance_pipeline_spark.operators.dedup import (
        duplicate_token_spans,
    )

    boiler = "all rights reserved see license file for details"  # 8 toks
    docs = spark.createDataFrame(
        [
            # boiler at positions 3..10, unique tail
            (1, "alpha beta gamma " + boiler + " tail one two"),
            # boiler at positions 1..8 then again 9..16 (within-doc
            # repeat ALSO witnesses the gram) and they merge into one
            # span 1..16
            (2, boiler + " " + boiler),
            # shares only a 4-token run with boiler -> below k, no span
            (3, "all rights reserved see nothing else here at all"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicate_token_spans(docs, k=8).collect()
    }
    assert out == {1: (4, 11, 8), 2: (1, 16, 16)}


def test_remove_duplicate_spans_rewrites_and_counts(spark):
    from etl_finance_pipeline_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    boiler = "all rights reserved see license file for details"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + boiler + " tail one two"),
            (2, boiler + " " + boiler),
            (3, "completely unique content with no duplication at all"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (
            r["clean_text"],
            r["n_tokens_kept"],
            r["n_tokens_removed"],
        )
        for r in remove_duplicate_spans(docs, k=8).collect()
    }
    assert out[1] == ("alpha beta gamma tail one two", 6, 8)
    # doc 2 is ALL boilerplate: everything removed
    assert out[2] == ("", 0, 16)
    assert out[3] == (
        "completely unique content with no duplication at all",
        8,
        0,
    )


def test_decontaminate_spans_marks_quoted_eval_content(spark):
    """A corpus doc quoting an eval passage gets exactly that span;
    clean corpus docs and sub-k overlaps emit nothing; the eval set
    itself is never scanned for output."""
    from etl_finance_pipeline_spark.operators.dedup import (
        decontaminate_spans,
    )

    bench = "what is the capital of france paris obviously"  # 8 toks
    eval_df = spark.createDataFrame([(900, bench)], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [
            (1, "intro text here " + bench + " trailing words"),
            (2, "what is the capital of spain though"),  # sub-k overlap
            (3, "totally unrelated training document content here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"])
        for r in decontaminate_spans(corpus, eval_df, k=8).collect()
    }
    assert out == {1: (4, 11, 8)}


def test_pq_roundtrip_separable_clusters(spark):
    """PQ on well-separated synthetic clusters: every vector's codes
    match its cluster-mates' (the codebook collapses each cluster per
    subspace), and ADC top-k retrieves cluster-mates first."""
    import numpy as np

    from etl_finance_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    rng = np.random.RandomState(0)
    rows = []
    # two tight clusters in dim 8, far apart
    for i in range(6):
        base = 0.0 if i < 3 else 10.0
        rows.append((i, (base + rng.uniform(-0.1, 0.1, 8)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_train(df, m=2, ksub=2, iters=3)
    assert cb.count() == 4  # 2 subspaces x 2 codes
    codes = {
        r["vec_id"]: tuple(r["codes"]) for r in pq_encode(df, cb).collect()
    }
    assert codes[0] == codes[1] == codes[2]
    assert codes[3] == codes[4] == codes[5]
    assert codes[0] != codes[3]
    top = pq_topk(df, df.filter("vec_id = 0"), cb, k=2).collect()
    assert {r["neighbor_id"] for r in top} == {1, 2}


def test_pq_encode_lanes_agree(spark):
    """The oracle-exact JVM expression lane and the Arrow/numpy scale
    lane assign identical codes (divergence is only possible on
    sub-ulp distance ties, which needs duplicate codewords)."""
    import numpy as np

    from etl_finance_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_train,
    )

    rng = np.random.RandomState(2)
    rows = [(i, rng.uniform(-1, 1, 16).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_train(df, m=4, ksub=4, iters=2)
    jvm = {r["vec_id"]: tuple(r["codes"]) for r in pq_encode(df, cb).collect()}
    np_lane = {
        r["vec_id"]: tuple(r["codes"])
        for r in pq_encode(df, cb, engine="numpy").collect()
    }
    assert jvm == np_lane


def test_pq_train_null_first_seed_raises_value_error(spark):
    """A NULL vector in the first seed slot is malformed input: it
    reaches pq_train's documented ValueError, not a TypeError."""
    from etl_finance_pipeline_spark.functions.scalar import portable_hash64
    from etl_finance_pipeline_spark.operators.similarity import pq_train

    ids = spark.createDataFrame([(i,) for i in range(4)], "vec_id long")
    first = (
        ids.withColumn("_h", portable_hash64(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .first()["vec_id"]
    )
    rows = [(i, None if i == first else [float(i)] * 4) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=2, ksub=2, iters=1)


def test_incremental_duplicate_spans_semantics(spark):
    """Union semantics: a batch span duplicates if its grams exist in
    the corpus (once is enough) OR repeat within the batch; corpus
    docs never appear in the output; batch-only unique content emits
    nothing."""
    from etl_finance_pipeline_spark.operators.dedup import (
        incremental_duplicate_spans,
    )

    passage = "the well known eight token boilerplate passage here"
    corpus = spark.createDataFrame(
        [(1, "corpus doc containing " + passage + " and more")],
        ["doc_id", "text"],
    )
    rep = "batch internal repeated run of eight tokens x"
    batch = spark.createDataFrame(
        [
            (100, "prefix words " + passage + " suffix"),  # corpus hit
            (101, rep + " " + rep),  # batch-internal repeat
            (102, "entirely novel content never seen anywhere before now"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in incremental_duplicate_spans(batch, corpus, k=8).collect()
    }
    assert out == {100: (3, 10), 101: (1, 16)}


def test_linear_probe_learns_planted_relation(spark):
    """GD on y = 2*x1 - x2 recovers the plane (within rounding) and
    the scoring projection separates the labels."""
    import numpy as np

    from etl_finance_pipeline_spark.operators.mlprep import (
        linear_probe_score,
        linear_probe_train,
    )

    rng = np.random.RandomState(4)
    rows = []
    for i in range(200):
        x = rng.uniform(-1, 1, 2)
        rows.append((i, x.tolist(), float(2 * x[0] - x[1])))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label double")
    w, b = linear_probe_train(df, lr=0.3, iters=60)
    assert abs(w[0] - 2.0) < 0.05 and abs(w[1] + 1.0) < 0.05
    assert abs(b) < 0.05
    scored = linear_probe_score(df, w, b)
    err = scored.selectExpr("max(abs(probe_score - label)) AS e").first()["e"]
    assert err < 0.1


def test_linear_probe_empty_input_raises_and_releases_cache(spark):
    """Empty input raises the documented ValueError and leaves no
    cached block behind."""
    from etl_finance_pipeline_spark.operators.mlprep import linear_probe_train

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    df = spark.createDataFrame([], "vec_id long, embedding array<double>, label double")
    with pytest.raises(ValueError, match="empty input"):
        linear_probe_train(df, iters=2)
    assert set(sc._jsc.getPersistentRDDs().keySet()) == before


def test_char_entropy_bounds_and_known_values(spark):
    """H=0 for a constant string, exactly 1 bit for a 50/50 two-char
    string, log2(n) for all-distinct; empty docs carry 0."""
    from etl_finance_pipeline_spark.operators.text_analysis import (
        char_entropy,
    )

    df = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "abababab"), (3, "abcd"), (4, "")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert out[1]["entropy"] == 0.0
    assert out[2]["entropy"] == 1.0
    assert out[3]["entropy"] == 2.0
    assert out[4]["entropy"] == 0.0 and out[4]["n_chars"] == 0
    assert out[3]["n_distinct_chars"] == 4


def test_hamming_pairs_lossless_when_bands_exceed_threshold(spark):
    """Pigeonhole property: with bands > max_hamming every qualifying
    pair is caught — checked against brute force over adversarial
    fingerprints (bit flips spread to DEFEAT any single band)."""
    import itertools
    import random

    from etl_finance_pipeline_spark.operators.dedup import hamming_pairs

    rng = random.Random(17)
    base = rng.getrandbits(63)
    fps = [base]
    # neighbors at hamming 1..7 with flips spread across all 8 bands
    for d in range(1, 8):
        fp = base
        positions = [(i * 61) % 63 for i in range(d)]  # hits many bands
        for p in set(positions):
            fp ^= 1 << p
        fps.append(fp)
    fps += [rng.getrandbits(63) for _ in range(20)]
    rows = [(i, f) for i, f in enumerate(fps)]
    df = spark.createDataFrame(rows, "doc_id long, fp long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_pairs(
            df, "fp", id_col="doc_id", bits=64, bands=8, max_hamming=7
        ).collect()
    }
    expected = {}
    for (ia, fa), (ib, fb) in itertools.combinations(rows, 2):
        h = bin(fa ^ fb).count("1")
        if h <= 7:
            expected[(min(ia, ib), max(ia, ib))] = h
    assert got == expected and len(expected) >= 7


def test_hamming_pairs_identical_fingerprints_collapse(spark):
    """Degenerate skew: many ids sharing ONE fingerprint. pairs mode
    must enumerate every within-group pair at hamming 0 (brute-force
    parity); star mode must emit exactly rep→member edges plus one
    rep↔rep edge per near-dup fingerprint pair, preserving connected
    components with linear output."""
    from etl_finance_pipeline_spark.operators.dedup import hamming_pairs

    rows = [(i, 0b1010) for i in range(6)] + [
        (10, 0b1011),  # hamming 1 from the hot fingerprint
        (11, 0b1011),
        (20, 1 << 40),  # far away
    ]
    df = spark.createDataFrame(rows, "doc_id long, fp long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_pairs(
            df, "fp", id_col="doc_id", bits=64, bands=8, max_hamming=2,
            max_bucket_size=None,
        ).collect()
    }
    import itertools

    expected = {}
    for (ia, fa), (ib, fb) in itertools.combinations(rows, 2):
        h = bin(fa ^ fb).count("1")
        if h <= 2:
            expected[(min(ia, ib), max(ia, ib))] = h
    assert got == expected
    assert len([1 for h in got.values() if h == 0]) == 15 + 1  # C(6,2) + C(2,2)

    star = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_pairs(
            df, "fp", id_col="doc_id", bits=64, bands=8, max_hamming=2,
            max_bucket_size=None, identical_mode="star",
        ).collect()
    }
    # stars: 0→{1..5}, 10→11; cross edge: rep(0b1010)=0 ↔ rep(0b1011)=10
    assert star == {**{(0, i): 0 for i in range(1, 6)}, (10, 11): 0, (0, 10): 1}
    # component check: union of star edges connects {0..5, 10, 11}
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in star:
        parent[find(a)] = find(b)
    comp = {find(i) for i in [0, 1, 2, 3, 4, 5, 10, 11]}
    assert len(comp) == 1 and find(20) != find(0)


def test_hamming_pairs_lossless_ceiling_fails_loud(spark):
    """The lossless contract must break with an ERROR, never silent
    quadratic work: a SUB-bucket wider than lossless_bucket_ceiling
    distinct fingerprints raises from inside the plan. (Fingerprints
    differing only in high bits share band 0 AND sub-slice 0 of the
    remaining bits — the multi-index split cannot separate them.)"""
    import pytest as _pytest

    from etl_finance_pipeline_spark.operators.dedup import hamming_pairs

    # 40 distinct fps sharing band 0 (low byte 0x7) whose differences
    # sit at bits >= 36, i.e. inside sub-slice 1 of the remaining 56
    # bits (max_hamming=1 -> 2 sub-slices of 28) — sub-slice 0 is
    # identical for all of them
    rows = [(i, (i << 36) | 0x7) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, fp long")
    ok = hamming_pairs(
        df, "fp", id_col="doc_id", bits=64, bands=8, max_hamming=1,
        max_bucket_size=None, sub_band_threshold=10,
        lossless_bucket_ceiling=40,
    )
    ok.count()  # at the ceiling: fine
    bad = hamming_pairs(
        df, "fp", id_col="doc_id", bits=64, bands=8, max_hamming=1,
        max_bucket_size=None, sub_band_threshold=10,
        lossless_bucket_ceiling=39,
    )
    with _pytest.raises(Exception, match="sub-bucket exceeds"):
        bad.count()


def test_hamming_pairs_lossless_with_negative_fingerprints(spark):
    """64-bit fingerprints with the sign bit set (xxhash64-shaped):
    the sub-banding's bit excision must use UNSIGNED shifts — a
    sign-extending shift would corrupt the remaining-bits value and
    silently lose pairs. Brute-force parity over a mixed-sign set."""
    import itertools
    import random

    from etl_finance_pipeline_spark.operators.dedup import hamming_pairs

    rng = random.Random(23)
    base = rng.getrandbits(64) | (1 << 63)  # negative as int64
    fps = [base]
    for d in range(1, 6):
        fp = base
        for p in {(i * 53) % 64 for i in range(d)}:
            fp ^= 1 << p
        fps.append(fp)
    fps += [rng.getrandbits(64) for _ in range(20)]

    def to_i64(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    rows = [(i, to_i64(f)) for i, f in enumerate(fps)]
    df = spark.createDataFrame(rows, "doc_id long, fp long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_pairs(
            df, "fp", id_col="doc_id", bits=64, bands=8, max_hamming=5,
            max_bucket_size=None, sub_band_threshold=2,
        ).collect()
    }
    expected = {}
    for (ia, fa), (ib, fb) in itertools.combinations(rows, 2):
        h = bin((fa ^ fb) & ((1 << 64) - 1)).count("1")
        if h <= 5:
            expected[(min(ia, ib), max(ia, ib))] = h
    assert got == expected and len(expected) >= 5


def test_gopher_rules_per_rule_flags(spark):
    from etl_finance_pipeline_spark.operators.text_analysis import gopher_rules

    good = "the quick brown fox jumps to be of and that have with " * 6
    bullets = "- one item\n- two item\n- three item\nplain line of the be"
    dots = "the be to of and that have with more words here..."
    symbols = "the be # # # # # # of words"  # 6 hashes / 9 words > 0.1
    df = spark.createDataFrame(
        [(1, good.strip()), (2, bullets), (3, dots), (4, symbols)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    g = out[1]
    assert g["gopher_pass"] and g["n_words"] == 72 and g["rule_stopwords"]
    b = out[2]
    assert b["n_lines"] == 4 and b["bullet_lines"] == 3
    assert b["rule_bullet_lines"]  # 3/4 = 0.75 <= 0.9
    assert not b["rule_word_count"]  # too short
    d = out[3]
    assert d["ellipsis_lines"] == 1 and not d["rule_ellipsis_lines"]
    s = out[4]
    assert s["symbol_ratio"] > 0.1 and not s["rule_symbol_ratio"]
    assert not s["gopher_pass"]


def test_binary_auc_known_values(spark):
    from etl_finance_pipeline_spark.operators.mlprep import binary_auc

    # perfect separation
    df = spark.createDataFrame(
        [(0.1, 0), (0.2, 0), (0.8, 1), (0.9, 1)], ["probe_score", "label"]
    )
    r = binary_auc(df).collect()[0]
    assert (r["n"], r["n_pos"], r["n_neg"], r["auc"]) == (4, 2, 2, 1.0)
    # random-looking interleave with a tie: hand-computed via sklearn
    # semantics (average ranks): scores .1(0) .2(1) .2(0) .3(1)
    # ranks: 1, 2.5, 2.5, 4 -> S_pos = 6.5 -> (6.5 - 3)/(2*2) = 0.875
    df2 = spark.createDataFrame(
        [(0.1, 0), (0.2, 1), (0.2, 0), (0.3, 1)], ["probe_score", "label"]
    )
    r2 = binary_auc(df2).collect()[0]
    assert r2["auc"] == 0.875
    # reversed scores -> AUC mirrors to 1 - x
    df3 = spark.createDataFrame(
        [(-s, y) for s, y in [(0.1, 0), (0.2, 1), (0.2, 0), (0.3, 1)]],
        ["probe_score", "label"],
    )
    assert binary_auc(df3).collect()[0]["auc"] == 0.125


def test_binary_auc_one_class_split_fails_loud(spark):
    """A split with zero positives (or zero negatives) has no defined
    AUC — the plan must raise, never return a silent NULL score."""
    import pytest as _pytest

    from etl_finance_pipeline_spark.operators.mlprep import binary_auc

    all_neg = spark.createDataFrame(
        [(0.1, 0), (0.2, 0)], ["probe_score", "label"]
    )
    with _pytest.raises(Exception, match="one-class eval split"):
        binary_auc(all_neg).collect()
    all_pos = spark.createDataFrame(
        [(0.1, 1), (0.2, 1)], ["probe_score", "label"]
    )
    with _pytest.raises(Exception, match="one-class eval split"):
        binary_auc(all_pos).collect()


def test_hard_negative_topk_excludes_same_label(spark):
    from etl_finance_pipeline_spark.operators.similarity import (
        hard_negative_topk,
    )

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.14], 0),   # same label — must never appear
        (2, [0.9, 0.44], 1),    # hardest negative
        (3, [0.0, 1.0], 1),
        (4, [-1.0, 0.0], 2),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    anchors = emb.filter(F.col("vec_id") == 0)
    out = hard_negative_topk(emb, anchors, k=2).orderBy("rank").collect()
    assert [r["negative_id"] for r in out] == [2, 3]
    assert all(r["anchor_id"] == 0 for r in out)


def test_containment_asymmetric_quote_detection(spark):
    from etl_finance_pipeline_spark.operators.dedup import containment_pairs

    quoted = "alpha beta gamma delta epsilon"
    page = quoted + " " + "zeta eta theta iota kappa lam mu nu xi omicron pi rho"
    df = spark.createDataFrame([(1, quoted), (2, page)], ["doc_id", "text"])
    out = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, threshold=0.1).collect()
    }
    # doc 1 fully contained in doc 2: C(1->2) = 1.0; reverse is small
    assert out[(1, 2)] == pytest.approx(1.0)
    assert out[(2, 1)] == pytest.approx(3 / 15)  # 3 shared of 15 shingles


def test_hashed_text_features_mean_pooled_and_consistent(spark):
    """Dense features = feature_hash bucket sums ÷ token count, with
    zero-filled empty buckets — the two featurizers must agree bucket
    for bucket."""
    from etl_finance_pipeline_spark.operators.corpus import feature_hash
    from etl_finance_pipeline_spark.operators.mlprep import hashed_text_features

    df = spark.createDataFrame(
        [(1, "alpha beta alpha gamma"), (2, "delta")], ["doc_id", "text"]
    )
    dim = 8
    dense = {
        r["doc_id"]: r["features"]
        for r in hashed_text_features(df, dim=dim).collect()
    }
    sparse = feature_hash(df, dim=dim).collect()
    n_tok = {1: 4.0, 2: 1.0}
    expected = {1: [0.0] * dim, 2: [0.0] * dim}
    for r in sparse:
        expected[r["doc_id"]][r["feature_idx"]] = r["feature_val"] / n_tok[r["doc_id"]]
    assert dense[1] == pytest.approx(expected[1])
    assert dense[2] == pytest.approx(expected[2])
    assert len(dense[1]) == dim


def test_fasttext_composition_separates_planted_classes(spark):
    """Linear head over hashed features must separate two classes
    with disjoint vocabularies (the planted-relation sanity the
    embeddings probe has)."""
    from etl_finance_pipeline_spark.operators.mlprep import (
        hashed_text_features,
        linear_probe_score,
        linear_probe_train,
    )
    from pyspark.sql import functions as F

    rows = [(i, "aardvark apple anchor", 1.0) for i in range(10)] + [
        (i + 10, "zebra zephyr zinc", 0.0) for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "y"])
    feats = hashed_text_features(df, dim=16).join(
        df.select("doc_id", "y"), "doc_id"
    )
    w, b = linear_probe_train(feats, vec_col="features", label_col="y", lr=0.3, iters=10)
    scored = linear_probe_score(feats, w, b, vec_col="features")
    means = {
        r["y"]: r["m"]
        for r in scored.groupBy("y").agg(F.avg("probe_score").alias("m")).collect()
    }
    assert means[1.0] > means[0.0] + 0.4


def test_calibration_report_hand_computed(spark):
    """Fixed-width bins over the clamped score; per-bin confidence,
    accuracy and gap — hand-checked, including the score=1.0 edge
    landing in the LAST bin and out-of-range clamping."""
    from etl_finance_pipeline_spark.operators.mlprep import (
        calibration_report,
        expected_calibration_error,
    )

    rows = [
        (0.05, 0), (0.08, 0),          # bin 0: conf .065, acc 0
        (0.55, 1), (0.55, 0),          # bin 5: conf .55, acc .5
        (1.0, 1), (0.95, 1),           # bin 9: conf .975, acc 1
        (1.7, 1), (-0.2, 0),           # clamp -> bins 9 and 0
    ]
    df = spark.createDataFrame(rows, ["probe_score", "label"])
    rep = {r["bin"]: r for r in calibration_report(df).collect()}
    assert set(rep) == {0, 5, 9}
    assert rep[0]["n"] == 3 and rep[0]["frac_pos"] == 0.0
    assert rep[0]["mean_score"] == pytest.approx((0.05 + 0.08 + 0.0) / 3, abs=1e-6)
    assert rep[5]["mean_score"] == 0.55 and rep[5]["frac_pos"] == 0.5
    assert rep[9]["n"] == 3 and rep[9]["frac_pos"] == 1.0
    assert rep[9]["mean_score"] == pytest.approx((1.0 + 0.95 + 1.0) / 3, abs=1e-6)
    assert rep[5]["gap"] == pytest.approx(0.05, abs=1e-6)

    ece = expected_calibration_error(df).collect()[0]
    expected = (3 * rep[0]["gap"] + 2 * rep[5]["gap"] + 3 * rep[9]["gap"]) / 8
    assert ece["n"] == 8 and ece["ece"] == pytest.approx(expected, abs=1e-6)


def test_ngram_repetition_hand_computed(spark):
    """'a b a b a b': 3-grams are (a b a)x2, (b a b)x2 — top frac
    clamps to 1.0 only when coverage saturates; here every position
    is covered by a duplicate gram."""
    from etl_finance_pipeline_spark.operators.text_analysis import (
        ngram_repetition_stats,
    )

    rows = [
        (1, "a b a b a b"),                   # all grams duplicated
        (2, "one two three four five six"),   # all grams unique
        (3, "x y"),                           # too short: dropped
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in ngram_repetition_stats(df, n=3).collect()}
    assert set(out) == {1, 2}
    r1 = out[1]
    # grams: a b a (pos 1,3), b a b (pos 2,4) -> tie break gram asc
    assert r1["top_ngram"] == "a b a" and r1["top_count"] == 2
    assert r1["top_ngram_frac"] == 1.0       # 2*3/6 clamped at exactly 1
    assert r1["dup_ngram_frac"] == 1.0       # positions 1..6 all covered
    r2 = out[2]
    assert r2["top_count"] == 1
    assert r2["top_ngram_frac"] == pytest.approx(3 / 6, abs=1e-6)
    assert r2["dup_ngram_frac"] == 0.0


def test_source_token_kl_known_values(spark):
    """Two sources, one shared vocabulary: KL computed by hand."""
    import math

    from etl_finance_pipeline_spark.operators.corpus import source_token_kl

    rows = [
        ("s1", "a a b"),
        ("s2", "b b a"),
    ]
    df = spark.createDataFrame(rows, ["source", "text"])
    out = {r["source"]: r for r in source_token_kl(df).collect()}
    # corpus: a=3, b=3 -> q = 1/2 each; s1: p(a)=2/3, p(b)=1/3
    kl = (2 / 3) * math.log((2 / 3) / 0.5) + (1 / 3) * math.log((1 / 3) / 0.5)
    assert out["s1"]["kl"] == pytest.approx(kl, abs=1e-6)
    assert out["s2"]["kl"] == pytest.approx(kl, abs=1e-6)  # symmetric mix
    assert out["s1"]["n_tokens"] == 3 and out["s1"]["n_types"] == 2


def test_vocab_coverage_and_zipf_fit(spark):
    from etl_finance_pipeline_spark.operators.corpus import vocab_coverage
    from etl_finance_pipeline_spark.operators.text_analysis import zipf_fit

    rows = [
        (1, "the the the cat"),   # 'the' x3, cat x1
        (2, "the dog"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cov = {r["doc_id"]: r for r in vocab_coverage(df, min_count=2).collect()}
    # corpus counts: the=4, cat=1, dog=1 -> vocab={the}
    assert (cov[1]["n_tokens"], cov[1]["n_oov"]) == (4, 1)
    assert cov[1]["oov_frac"] == 0.25
    assert (cov[2]["n_tokens"], cov[2]["n_oov"]) == (2, 1)

    # min_count=1, no head cap: fit over the full 3-type vocabulary —
    # ranks (the=1, cat=2, dog=3); x=ln(rank), y=ln(count)
    z = zipf_fit(df, min_count=1, top_n=None).collect()[0]
    import math

    xs = [math.log(1), math.log(2), math.log(3)]
    ys = [math.log(4), math.log(1), math.log(1)]
    n = 3
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    intercept = (sy - slope * sx) / n
    assert z["n_fit_types"] == 3 and z["n_fit_tokens"] == 6
    assert z["slope"] == pytest.approx(slope, abs=1e-6)
    assert z["intercept"] == pytest.approx(intercept, abs=1e-6)

    # default min_count=2 drops the hapax tail (cat, dog) before any
    # ranking; with one surviving type the fit frame is degenerate on
    # purpose — counts confirm the cutoff, not the regression
    z2 = zipf_fit(df).collect()[0]
    assert z2["n_fit_types"] == 1 and z2["n_fit_tokens"] == 4

    # top_n caps the head AFTER min_count: keep the 2 best (count,
    # token) ranks of the full vocabulary
    z3 = zipf_fit(df, min_count=1, top_n=2).collect()[0]
    # ranks kept: the(4) rank 1, cat(1) rank 2 (token asc beats dog)
    assert z3["n_fit_types"] == 2 and z3["n_fit_tokens"] == 5

    import pytest as _pt

    with _pt.raises(ValueError, match="min_count"):
        zipf_fit(df, min_count=0)


def test_prototype_prune_per_cluster_cut(spark):
    """Hand-checkable SSL-prototypes cut: two clusters of 4, 25%
    prune → exactly the single closest-to-centroid vector in each
    cluster is flagged prune; ranks are distance-ordered with id
    tiebreak."""
    from etl_finance_pipeline_spark.operators.similarity import (
        prototype_prune,
    )

    # centroids at (0,0) and (10,0); distances within each cluster
    # are distinct except a deliberate tie (ids 2 and 3) broken by id
    rows = [
        (0, [0.1, 0.0]),   # d2=0.01  -> most prototypical of c0
        (1, [1.0, 0.0]),   # d2=1.0
        (2, [0.0, 2.0]),   # d2=4.0 (tie with 3, lower id ranks first)
        (3, [2.0, 0.0]),   # d2=4.0
        (4, [10.2, 0.0]),  # d2=0.04 -> most prototypical of c1
        (5, [10.0, 1.0]),  # d2=1.0
        (6, [13.0, 0.0]),  # d2=9.0
        (7, [10.0, 4.0]),  # d2=16.0
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 0.0])], ["cluster_id", "cvec"]
    )
    out = {
        r["vec_id"]: (r["cluster_id"], r["proto_rank"], r["keep"])
        for r in prototype_prune(emb, cents, prune_frac=0.25).collect()
    }
    assert out == {
        0: (0, 1, False),
        1: (0, 2, True),
        2: (0, 3, True),
        3: (0, 4, True),
        4: (1, 1, False),
        5: (1, 2, True),
        6: (1, 3, True),
        7: (1, 4, True),
    }


def test_cluster_profile_census_and_purity(spark):
    from etl_finance_pipeline_spark.operators.similarity import cluster_profile

    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 0.0])], ["cluster_id", "cvec"]
    )
    rows = [
        (1, [0.0, 1.0], 7),
        (2, [1.0, 0.0], 7),
        (3, [0.0, -1.0], 3),
        (4, [10.0, 1.0], 5),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r["cluster_id"]: r for r in cluster_profile(df, cents).collect()}
    assert out[0]["n_vecs"] == 3 and out[1]["n_vecs"] == 1
    assert out[0]["mean_dist"] == pytest.approx(1.0, abs=1e-6)
    assert out[0]["top_label"] == 7
    assert out[0]["label_purity"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[1]["top_label"] == 5 and out[1]["label_purity"] == 1.0


def test_html_tables_cells_and_flags(spark):
    """Cell unfolding on hand-built markup: indices are 0-based per
    (table, row, col); <th> flags header; inline tags strip; entities
    unescape; a page without a table emits nothing; two tables get
    distinct table_idx."""
    from etl_finance_pipeline_spark.operators.corpus import html_tables

    rows = [
        (
            0,
            '<body><table class="x"><tr><th>A</th><th a="1">B</th></tr>'
            "<tr><td><b>1</b></td><td>2 &amp; 3</td></tr></table>"
            "<p>noise</p><table><tr><td>z</td></tr></table></body>",
        ),
        (1, "<body><p>no table here</p></body>"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "html"])
    got = {
        (r["doc_id"], r["table_idx"], r["row_idx"], r["col_idx"]): (
            r["is_header"],
            r["cell"],
        )
        for r in html_tables(df).collect()
    }
    assert got == {
        (0, 0, 0, 0): (True, "A"),
        (0, 0, 0, 1): (True, "B"),
        (0, 0, 1, 0): (False, "1"),
        (0, 0, 1, 1): (False, "2 & 3"),
        (0, 1, 0, 0): (False, "z"),
    }


def test_link_extract_resolution_branches(spark):
    """All four RFC 3986 relative shapes + the non-web filter, on
    hand-built payloads: absolute kept as-is, protocol-relative gains
    the page scheme (or stays scheme-less), root-relative gains
    scheme+host, relative resolves against the path directory;
    javascript:/mailto:/#-only hrefs never become links; external =
    registrable-domain mismatch."""
    from etl_finance_pipeline_spark.operators.corpus import link_extract

    rows = [
        # page with scheme + subdir path
        (
            0,
            "https://www.a.com/dir/page",
            '<a href="https://b.com/x">1</a> <a href="//c.org/y">2</a> '
            '<a href="/root">3</a> <a href="sib">4</a> '
            '<a href="javascript:void(0)">5</a> <a href="#top">6</a> '
            "<a href='mailto:x@y.z'>7</a>",
        ),
        # scheme-less canonical page
        (1, "a.com/p", '<a href="//b.com/q">8</a> <a href="r">9</a>'),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url_canon", "html"])
    got = {
        (r["doc_id"], r["href"]): (
            r["link_url"],
            r["link_domain"],
            r["is_external"],
        )
        for r in link_extract(df).collect()
    }
    assert got == {
        (0, "https://b.com/x"): ("https://b.com/x", "b.com", True),
        (0, "//c.org/y"): ("https://c.org/y", "c.org", True),
        (0, "/root"): ("https://www.a.com/root", "a.com", False),
        (0, "sib"): ("https://www.a.com/dir/sib", "a.com", False),
        (1, "//b.com/q"): ("//b.com/q", "b.com", True),
        (1, "r"): ("a.com/r", "a.com", False),
    }


def test_link_extract_fixture_edges_match_arithmetic(spark):
    """The extracted external edge set over the synthesized pages
    equals the fixture arithmetic the domain_authority oracle uses:
    partner src((d//20)%(d%20+1)).com when cross-domain, mirror
    src((d+1)%20).com on d%5==3."""
    from etl_finance_pipeline_spark.operators.corpus import (
        link_extract,
        synthesize_html,
        url_canonicalize,
    )
    from etl_finance_pipeline_spark.plans.training_data import (
        _crawl_url_expr,
    )
    from etl_finance_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001/documents.parquet")
    pages = synthesize_html(docs).withColumn("url", _crawl_url_expr())
    links = link_extract(url_canonicalize(pages))
    got = {
        (r["page_domain"], r["link_domain"])
        for r in links.filter("is_external").collect()
    }
    want_dofollow = set()
    sponsored = set()
    for (d,) in docs.select("doc_id").collect():
        k, p = d % 20, (d // 20) % (d % 20 + 1)
        if p != k:
            want_dofollow.add((f"src{k}.com", f"src{p}.com"))
        if d % 5 == 3:
            want_dofollow.add((f"src{k}.com", f"src{(d + 1) % 20}.com"))
        if d % 7 == 1:
            sponsored.add((f"src{k}.com", f"src{(d * 3 + 5) % 20}.com"))
    # href-only extraction sees the sponsored placements too
    assert got == want_dofollow | sponsored

    # …but the RANKING graph (anchor_texts, nofollow excluded — what
    # domain_authority consumes) is exactly the dofollow edge set
    from etl_finance_pipeline_spark.operators.corpus import anchor_texts

    at = anchor_texts(url_canonicalize(pages))
    graph = {
        (r["page_domain"], r["link_domain"])
        for r in at.filter("is_external and not nofollow").collect()
    }
    assert graph == want_dofollow


def test_anchor_texts_flags_and_text(spark):
    """Anchor parse on hand-built markup: visible text is
    tag-stripped/unescaped/ws-normalized; rel=nofollow flags (either
    attribute order); non-web hrefs drop; resolution matches
    link_extract."""
    from etl_finance_pipeline_spark.operators.corpus import anchor_texts

    rows = [
        (
            0,
            "https://a.com/p",
            '<a href="https://b.com/x">Read <b>this</b> &amp; that</a>'
            '<a rel="nofollow noopener" href="https://c.com/y">Ad</a>'
            '<a href="/in" rel="nofollow">In-site ad</a>'
            '<a href="mailto:x@y.z">mail</a>',
        ),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url_canon", "html"])
    got = {
        r["href"]: (r["anchor_text"], r["nofollow"], r["is_external"])
        for r in anchor_texts(df).collect()
    }
    assert got == {
        "https://b.com/x": ("Read this & that", False, True),
        "https://c.com/y": ("Ad", True, True),
        "/in": ("In-site ad", True, False),
    }


def test_link_extract_quote_edge_cases(spark):
    """Round-12 ADVICE regressions, hand-built markup the arithmetic
    fixtures can never produce: a '>' INSIDE a quoted href must not
    truncate the opening tag (per-quote alternation in HREF_RE /
    _ANCHOR_EL_RE), mismatched quote pairs must not match at all,
    single-quoted hrefs extract, and a query-only href resolves by
    REPLACING the query against the full base path (RFC 3986 §5.3),
    not by resolving path-relative."""
    from etl_finance_pipeline_spark.operators.corpus import (
        anchor_texts,
        link_extract,
    )

    rows = [
        (
            0,
            "https://a.com/dir/page?q=1",
            # '>' inside the quoted href value
            '<a href="https://b.com/x?a>b">Gt inside</a> '
            # single-quoted
            "<a href='https://c.com/z'>Single</a> "
            # query-only reference: replace query on the FULL path
            '<a href="?page=2">Next page</a>',
        ),
        # a mismatched quote pair with no later closing quote in the
        # document: must not extract anything (the old cross-quote
        # class ["'][^"']*["'] would have matched it)
        (
            1,
            "https://a.com/p",
            "<a href=\"https://bad.com/y'>Mismatch</a>",
        ),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url_canon", "html"])
    got = {
        (r["doc_id"], r["href"]): r["link_url"]
        for r in link_extract(df).collect()
    }
    assert got == {
        (0, "https://b.com/x?a>b"): "https://b.com/x?a>b",
        (0, "https://c.com/z"): "https://c.com/z",
        (0, "?page=2"): "https://a.com/dir/page?page=2",
    }
    # anchor parse: same element set, and the inner-text capture
    # survives the '>' inside the quoted attribute
    at = {
        (r["doc_id"], r["href"]): r["anchor_text"]
        for r in anchor_texts(df).collect()
    }
    assert at == {
        (0, "https://b.com/x?a>b"): "Gt inside",
        (0, "https://c.com/z"): "Single",
        (0, "?page=2"): "Next page",
    }


def test_link_extract_dot_segments_dedupe_keys(spark):
    """RFC 3986 §5.2.4 on real shapes: every dotted variant of the
    same target resolves to the IDENTICAL link_url (the property the
    frontier anti-join and URL dedup key on), including nested ../,
    ./, trailing dots, root-excess ../ past the root, and dots inside
    an absolute href."""
    from etl_finance_pipeline_spark.operators.corpus import link_extract

    html = (
        '<a href="../p/1">a</a> <a href="x/../../p/1">b</a> '
        '<a href="./../p/1">c</a> <a href="https://a.com/d/../p/1">d</a>'
        ' <a href="/q/.">e</a> <a href="/q/r/..">f</a> '
        '<a href="/../../top">g</a>'
    )
    rows = [(0, "https://a.com/d/page", html)]
    df = spark.createDataFrame(rows, ["doc_id", "url_canon", "html"])
    got = {r["href"]: r["link_url"] for r in link_extract(df).collect()}
    assert got == {
        "../p/1": "https://a.com/p/1",
        "x/../../p/1": "https://a.com/p/1",
        "./../p/1": "https://a.com/p/1",
        "https://a.com/d/../p/1": "https://a.com/p/1",
        "/q/.": "https://a.com/q/",
        "/q/r/..": "https://a.com/q/",
        "/../../top": "https://a.com/top",
    }
    # one resolved URL per distinct target — the dedup-key property
    assert len(set(got.values())) == 3


def test_robots_rules_and_gate_semantics(spark):
    """RFC 9309 semantics on a hand-built payload: the '*' group is
    isolated from other agents' groups, empty-path rules are dropped
    (allow-everything), longest-match wins, Allow beats Disallow on a
    length tie, no-rule candidates are allowed, and Crawl-delay
    parses with a default."""
    from etl_finance_pipeline_spark.operators.corpus import (
        robots_delays,
        robots_gate,
        robots_rules,
    )

    txt_a = (
        "User-agent: googlebot\nDisallow: /only-google\n\n"
        "User-agent: *\nCrawl-delay: 5\nDisallow: /private/\n"
        "Allow: /private/ok\nDisallow:\n\n"
        "User-agent: badbot\nDisallow: /\n"
    )
    txt_b = "User-agent: *\nDisallow: /x\nAllow: /x\n"
    rows = [("a.com", txt_a), ("b.com", txt_b), ("c.com", "")]
    robots = spark.createDataFrame(rows, ["host", "robots_txt"])
    rules = robots_rules(robots)
    got = {
        (r["host"], r["rule_type"], r["rule_path"])
        for r in rules.collect()
    }
    # googlebot/badbot groups never leak; the empty Disallow: drops
    assert got == {
        ("a.com", "disallow", "/private/"),
        ("a.com", "allow", "/private/ok"),
        ("b.com", "disallow", "/x"),
        ("b.com", "allow", "/x"),
    }
    delays = {
        r["host"]: r["crawl_delay"] for r in robots_delays(robots).collect()
    }
    assert delays == {"a.com": 5, "b.com": 1, "c.com": 1}

    cands = spark.createDataFrame(
        [
            ("a.com/private/secret",),  # longest match: Disallow
            ("a.com/private/ok/page",),  # longer Allow overrides
            ("a.com/public",),  # no matching rule -> allowed
            ("a.com/only-google",),  # other agent's rule never applies
            ("b.com/x/y",),  # length tie -> Allow wins
            ("c.com/anything",),  # empty robots -> allowed
        ],
        ["url_key"],
    )
    verdicts = {
        r["url_key"]: (r["allowed"], r["rule_type"], r["rule_path"])
        for r in robots_gate(cands, rules).collect()
    }
    assert verdicts == {
        "a.com/private/secret": (False, "disallow", "/private/"),
        "a.com/private/ok/page": (True, "allow", "/private/ok"),
        "a.com/public": (True, None, None),
        "a.com/only-google": (True, None, None),
        "b.com/x/y": (True, "allow", "/x"),
        "c.com/anything": (True, None, None),
    }


def test_sitemap_parse_hand_built(spark):
    """Sitemap parse on hand-built XML: multi-entry urlsets, missing
    <lastmod> (NULL month), attribute noise inside <url>, empty <loc>
    dropped, and whitespace/case tolerance in the tags."""
    from etl_finance_pipeline_spark.operators.corpus import sitemap_parse

    xml_a = (
        '<?xml version="1.0"?><urlset>'
        "<url><loc>https://a.com/x</loc><lastmod>2026-03-01</lastmod></url>"
        "<URL><LOC>https://a.com/y</LOC></URL>"
        "<url><loc></loc><lastmod>2026-04-01</lastmod></url>"
        "</urlset>"
    )
    rows = [("a.com", xml_a), ("b.com", "<urlset></urlset>")]
    df = spark.createDataFrame(rows, ["host", "sitemap_xml"])
    got = {
        (r["host"], r["loc"]): r["lastmod_month"]
        for r in sitemap_parse(df).collect()
    }
    assert got == {
        ("a.com", "https://a.com/x"): 3,
        ("a.com", "https://a.com/y"): None,
    }


def test_meta_robots_hand_built(spark):
    """Meta-robots parse on hand-built markup: quote/case variants,
    bare name, multiple elements OR-combined, 'none' expanding to
    both flags, 'all' asserting nothing, ws inside the token list."""
    from etl_finance_pipeline_spark.operators.corpus import meta_robots

    rows = [
        (0, '<head><meta name="robots" content="noindex , nofollow"></head>'),
        (1, "<head><meta name='ROBOTS' content='NONE'></head>"),
        (2, '<head><meta name=robots content="all"></head>'),
        (3, '<head><meta name="robots" content="noindex">'
            '<meta name="robots" content="nofollow"></head>'),
        (4, '<head><meta name="viewport" content="width=1"></head>'),
        (5, "<head></head>"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "html"])
    got = {
        r["doc_id"]: (r["robots_content"], r["noindex"], r["nofollow_meta"])
        for r in meta_robots(df).collect()
    }
    assert got == {
        0: ("noindex , nofollow", True, True),
        1: ("none", True, True),
        2: ("all", False, False),
        3: ("noindex", True, True),
        4: (None, False, False),
        5: (None, False, False),
    }


def test_canonical_links_hand_built(spark):
    """Canonical-link extraction: first declaration wins, relative
    hrefs resolve against the page URL, rel-after-href attribute
    order accepted, non-declaring pages dropped."""
    from etl_finance_pipeline_spark.operators.corpus import (
        canonical_links,
    )

    rows = [
        (0, '<link rel="canonical" href="https://b.com/x">'
            '<link rel="canonical" href="https://c.com/y">',
         "https://a.com/d/p"),
        (1, "<link href='/clean' rel='canonical'>", "https://a.com/d/p"),
        (2, '<link rel="stylesheet" href="/s.css">', "https://a.com/d/p"),
        (3, "", "https://a.com/d/p"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "html", "url_canon"])
    got = {
        r["doc_id"]: r["link_url"]
        for r in canonical_links(df).collect()
    }
    assert got == {0: "https://b.com/x", 1: "https://a.com/clean"}


def test_sitemap_index_parse_hand_built(spark):
    """Sitemapindex parse: child refs extracted, empty locs dropped,
    hosts without an index yield no rows."""
    from etl_finance_pipeline_spark.operators.corpus import (
        sitemap_index_parse,
    )

    xml = (
        '<?xml version="1.0"?><sitemapindex>'
        "<sitemap><loc>https://a.com/sitemap-0.xml</loc></sitemap>"
        "<sitemap><loc></loc></sitemap>"
        "<sitemap><loc>https://a.com/sitemap-1.xml</loc></sitemap>"
        "</sitemapindex>"
    )
    df = spark.createDataFrame(
        [("a.com", xml), ("b.com", "<sitemapindex></sitemapindex>")],
        ["host", "sitemap_index_xml"],
    )
    got = {
        (r["host"], r["child_loc"]) for r in sitemap_index_parse(df).collect()
    }
    assert got == {
        ("a.com", "https://a.com/sitemap-0.xml"),
        ("a.com", "https://a.com/sitemap-1.xml"),
    }


def test_soft404_flag_signals(spark):
    """Soft-404 heuristic: phrase+short flags, phrase-but-long and
    short-but-clean both pass."""
    from etl_finance_pipeline_spark.operators.corpus import soft404_flag

    rows = [
        (0, "404 Not Found. Nothing here."),
        (1, "page not found " + "x" * 200),
        (2, "short clean page"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["is_soft404"] for r in soft404_flag(df).collect()}
    assert got == {0: True, 1: False, 2: False}


def test_ai_optout_and_license_hand_built(spark):
    """TDM opt-out tokens (noai implies noimageai) and rel=license
    short-code extraction, incl. unrecognized-URL and undeclared
    cases."""
    from etl_finance_pipeline_spark.operators.corpus import (
        license_links,
        meta_robots,
    )

    rows = [
        (0, '<meta name="robots" content="noai">'
            '<link rel="license" href="https://creativecommons.org/licenses/by-nc-sa/4.0/">'),
        (1, "<meta name='robots' content='noimageai'>"
            '<link rel="license" href="https://example.com/eula">'),
        (2, "<p>plain page</p>"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "html"])
    mr = {
        r["doc_id"]: (r["noai"], r["noimageai"])
        for r in meta_robots(df).collect()
    }
    assert mr == {0: (True, True), 1: (False, True), 2: (False, False)}
    lic = {
        r["doc_id"]: (r["license_url"], r["license_code"])
        for r in license_links(df).collect()
    }
    assert lic == {
        0: ("https://creativecommons.org/licenses/by-nc-sa/4.0/", "by-nc-sa"),
        1: ("https://example.com/eula", None),
        2: (None, None),
    }


def test_hreflang_links_hand_built(spark):
    """Hreflang extraction: both attribute orders, case-folded tags,
    alternates WITHOUT hreflang (feeds) dropped, non-declaring pages
    dropped."""
    from etl_finance_pipeline_spark.operators.corpus import (
        hreflang_links,
    )

    rows = [
        (0, '<link rel="alternate" hreflang="EN-us" href="https://a.com/en">'
            "<link hreflang='de' href='https://a.com/de' rel='alternate'>"
            '<link rel="alternate" type="application/rss+xml" href="/feed">'),
        (1, '<link rel="stylesheet" href="/s.css">'),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "html"])
    got = {
        (r["doc_id"], r["hreflang"]): r["href"]
        for r in hreflang_links(df).collect()
    }
    assert got == {
        (0, "en-us"): "https://a.com/en",
        (0, "de"): "https://a.com/de",
    }


def test_redirect_resolve_cycle_and_hop_limit(spark):
    """Hand-built redirect graph: a 2-cycle flagged 'cycle', a chain
    longer than max_hops flagged 'too_many_hops' with the partial
    target kept, a clean chain resolved with its hop count."""
    from etl_finance_pipeline_spark.operators.corpus import (
        redirect_resolve,
    )

    mapping = spark.createDataFrame(
        [("a", "b"), ("b", "a"),
         ("c1", "c2"), ("c2", "c3"), ("c3", "c4"), ("c4", "c5"),
         ("c5", "c6"),
         ("d", "e")],
        ["src", "dst"],
    )
    starts = spark.createDataFrame(
        [("a",), ("c1",), ("d",), ("z",)], ["url_key"]
    )
    got = {
        r["src_key"]: (r["final_key"], r["hops"], r["status"])
        for r in redirect_resolve(starts, mapping, max_hops=4).collect()
    }
    assert got == {
        "a": ("b", 1, "cycle"),
        "c1": ("c5", 4, "too_many_hops"),
        "d": ("e", 1, "ok"),
        "z": ("z", 0, "ok"),
    }


def test_html_extract_drops_boilerplate_keeps_prose(spark):
    from etl_finance_pipeline_spark.operators.corpus import (
        html_extract,
        synthesize_html,
    )

    rows = [
        (0, "alpha beta gamma."),
        (1, "delta epsilon zeta."),
        (2, "eta theta <b>iota</b> kappa."),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["x"]
        for r in html_extract(
            synthesize_html(df), out_col="x"
        ).collect()
    }
    # head/title/style/script stripped; nav, ad, pagination, share bar
    # and footer dropped by link density; inline tags stripped in kept
    # prose; the constant <h1> survives
    # variant 0 carries an entity-encoded prose block that must unescape
    assert out[0] == "Q&A section <closed> Latest post alpha beta gamma."
    assert out[1] == "Latest post delta epsilon zeta."
    assert out[2] == "Latest post eta theta iota kappa."


def test_html_extract_direct_payloads(spark):
    from etl_finance_pipeline_spark.operators.corpus import html_extract

    rows = [
        # all-link page -> nothing survives
        (0, '<body><nav><a href="/">A</a> <a href="/">B</a></nav></body>'),
        # under the density threshold: 3 link chars of 11 -> kept
        (1, "<p>abc <a href='/'>def</a>ghj</p>"),
        # above: 4 of 11 -> dropped
        (2, "<p>ab <a href='/'>defg</a>hij</p>"),
        # newline block joiner exercised by test below; here whitespace noise
        (3, "<div>  spaced   out\ttext </div>"),
        # body script + comment removed even outside <head>
        (4, "<p>keep me now</p><script>x()</script><!-- no -->"),
        # entity unescape order: &amp;lt; is an ENCODED '&lt;' -> '&lt;'
        (5, "<p>a &amp; b &lt;x&gt; &amp;lt; &nbsp; c</p>"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "html"])
    out = {r["doc_id"]: r["x"] for r in html_extract(df, out_col="x").collect()}
    assert out[0] == ""
    assert out[1] == "abc def ghj"
    assert out[2] == ""
    assert out[3] == "spaced out text"
    assert out[4] == "keep me now"
    assert out[5] == "a & b <x> &lt; c"


def test_html_extract_newline_joiner_feeds_c4(spark):
    from etl_finance_pipeline_spark.operators.corpus import (
        c4_clean,
        html_extract,
        synthesize_html,
    )

    rows = [(7, "one two three four five six seven.")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    hx = html_extract(synthesize_html(df), block_joiner="\n").select(
        "doc_id", "text"
    )
    [row] = hx.collect()
    assert row["text"] == "Latest post\none two three four five six seven."
    [c4] = c4_clean(
        hx, min_words=5, require_terminal=False, min_kept_lines=1, joiner=" "
    ).collect()
    # the 2-word h1 line dies, the 7-word prose line survives
    assert (c4["n_lines"], c4["kept_lines"], c4["c4_drop"]) == (2, 1, False)
    assert c4["text"] == "one two three four five six seven."


def test_pack_bins_ffd_known_walk(spark):
    """FFD on one shard with hand-checkable sizes: cap 10, lengths
    sorted desc = [7, 6, 4, 3, 2] -> bins [7+3], [6+4], [2]; an
    overlong doc (len 12) gets its own overfull bin."""
    from etl_finance_pipeline_spark.operators.corpus import pack_bins

    rows = [(1, 7), (2, 6), (3, 4), (4, 3), (5, 2), (6, 12)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = pack_bins(df, seq_tokens=10, num_shards=1).collect()
    got = {r["doc_id"]: (r["bin_id"], r["bin_fill"]) for r in out}
    # sorted desc: 12, 7, 6, 4, 3, 2
    # doc6 (12) -> bin0 overfull(12); doc1 (7) -> bin1; doc2 (6) -> bin2;
    # doc3 (4) -> bin2 (6+4=10); doc4 (3) -> bin1 (7+3=10); doc5 (2) -> bin0? no:
    # bin0 fill 12 > 10 already, bin1 full, bin2 full -> new bin3
    assert got[6] == (0, 12)
    assert got[1] == (1, 10) and got[4] == (1, 10)
    assert got[2] == (2, 10) and got[3] == (2, 10)
    assert got[5] == (3, 2)
    # every shard value identical (num_shards=1)
    assert {r["shard"] for r in out} == {0}


def test_pack_bins_string_ids(spark):
    """The kernel's output schema is derived from the input id dtype —
    string ids pack identically (sort ties break on the string)."""
    from etl_finance_pipeline_spark.operators.corpus import pack_bins

    rows = [("a", 6), ("b", 6), ("c", 6)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = pack_bins(df, seq_tokens=12, num_shards=1).collect()
    got = {r["doc_id"]: (r["bin_id"], r["bin_fill"]) for r in out}
    # desc ties -> id asc: a,b share bin0 (12), c opens bin1
    assert got["a"] == (0, 12) and got["b"] == (0, 12)
    assert got["c"] == (1, 6)


def test_doremi_weights_invariants(spark, tmp_path):
    """Engine-side invariants of the EG mixture update on a tiny
    corpus: weights stay a distribution (sum ~ 1 up to per-weight
    rounding), every weight >= the smoothing floor c/k, and the
    hardest source (highest excess loss) gets the largest weight."""
    import shutil

    from etl_finance_pipeline_spark.plans.training_data import (
        _DM_C,
        q_doremi_weights,
    )

    # 3 sources: s_easy repeats one common token (low surprisal),
    # s_hard uses rarer tokens (high surprisal)
    rows = [
        (1, "the the the the", "s_easy"),
        (2, "the the the cat", "s_mid"),
        (3, "qux zle vorn blik", "s_hard"),
        (4, "the the the the", "s_easy"),
    ]
    d = tmp_path / "documents.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(
        str(d)
    )
    out = {r["source"]: r for r in q_doremi_weights(spark, str(tmp_path)).collect()}
    k = len(out)
    assert k == 3
    total = sum(r["weight"] for r in out.values())
    assert abs(total - 1.0) < k * 1e-6 + 1e-9
    assert all(r["weight"] >= _DM_C / k - 1e-9 for r in out.values())
    hardest = max(out.values(), key=lambda r: r["excess_loss"])["source"]
    assert hardest == "s_hard"
    assert out["s_hard"]["weight"] > out["s_easy"]["weight"]
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_pack_bins_matches_naive_ffd_reference(spark):
    """The bin-retirement scan window (round-10 ADVICE fix: bins whose
    residual drops below the smallest remaining size leave the
    first-fit scan) must be invisible in results — compare every
    shard's placement against a naive scan-all-bins FFD on randomized
    sizes with heavy ties, capacity hits, and an overfull doc; NULL
    and negative token counts are dropped as invalid input."""
    import random

    from etl_finance_pipeline_spark.operators.corpus import pack_bins

    rng = random.Random(7)
    sizes = [1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 300]
    rows = [(i, rng.choice(sizes)) for i in range(300)]
    rows += [(1000, -5), (1001, None)]  # invalid: must be dropped
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    cap = 256
    out = pack_bins(df, seq_tokens=cap, num_shards=3).collect()
    assert {r["doc_id"] for r in out} == set(range(300))
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for rs in by_shard.values():
        walk = sorted(
            ((r["n_tokens"], r["doc_id"]) for r in rs),
            key=lambda t: (-t[0], t[1]),
        )
        fills: list[int] = []
        assign: dict[int, int] = {}
        for t, d in walk:
            for j in range(len(fills)):  # naive: scan EVERY bin
                if fills[j] + t <= cap:
                    fills[j] += t
                    assign[d] = j
                    break
            else:
                fills.append(t)
                assign[d] = len(fills) - 1
        for r in rs:
            assert r["bin_id"] == assign[r["doc_id"]]
            assert r["bin_fill"] == fills[r["bin_id"]]


def test_corpus_build_emits_shards_via_table_format(spark, tmp_path):
    """The e2e corpus build's packed assignment actually LANDS as
    training shards: write the per-doc bin frame through the
    transactional table format partitioned by shard; a one-shard read
    prunes to that shard's files (driver-side, manifest metadata) and
    round-trips its exact rows."""
    import os

    from etl_finance_pipeline_spark.operators.corpus import (
        canonical_host,
        html_extract,
        registrable_domain,
        synthesize_html,
    )
    from etl_finance_pipeline_spark.plans.training_data import (
        _URL_BLOCKLIST,
        _corpus_build_chain,
        _url_expr,
    )
    from etl_finance_pipeline_spark.sources.tables import load_table
    from etl_finance_pipeline_spark.sources.table_format import (
        read_table,
        snapshot,
        write_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001/documents.parquet")
    hx = html_extract(synthesize_html(docs)).select(
        "doc_id", "source", "lang", "text"
    )
    dkeep = ~registrable_domain(canonical_host(_url_expr())).isin(
        _URL_BLOCKLIST
    )
    packed = _corpus_build_chain(hx, dkeep, return_packed=True)
    rows = {tuple(r) for r in packed.collect()}
    assert rows  # the tiny fixture still yields survivors

    t = str(tmp_path / "shards")
    write_table(packed, t, partition_by=["shard"])
    snap = snapshot(t)
    assert snap.num_rows == len(rows)
    shard0 = {r for r in rows if r[0] == 0}
    got = read_table(spark, t, partition_filter={"shard": "0"})
    # partition pruning is driver-side: only shard=0 files planned
    assert all("shard=0" in p for p in got.inputFiles())
    assert {tuple(r) for r in got.select(*packed.columns).collect()} == shard0


def test_span_corruption_matches_python_reference(spark, tmp_path):
    """Full-fidelity reference: replicate the span-corruption
    algorithm in plain Python (portable_hash64 is md5-derivable) over
    the sf0.001 fixture and compare BOTH md5 columns per document —
    pins masking, run numbering, sentinel text, and reassembly order
    end to end."""
    import hashlib

    from etl_finance_pipeline_spark.plans.training_data import (
        _SC_RATE,
        q_span_corruption,
    )

    def h64(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    got = {
        r["doc_id"]: r
        for r in q_span_corruption(spark, "/root/testdata/sf0.001").collect()
    }
    import duckdb

    docs = duckdb.connect().execute(
        "SELECT doc_id, text FROM read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).fetchall()
    assert len(docs) == len(got)
    for doc_id, text in docs:
        toks = text.strip().lower().split()
        n = len(toks)
        cand = [h64(f"{doc_id}#sc{i}") % 100 < _SC_RATE for i in range(1, n + 1)]
        slen = [h64(f"{doc_id}#sl{i}") % 3 + 2 for i in range(1, n + 1)]
        masked = [
            any(
                cand[s - 1] and s + slen[s - 1] > i
                for s in range(max(1, i - 3), i + 1)
            )
            for i in range(1, n + 1)
        ]
        inputs, targets, k = [], [], -1
        for i in range(n):
            start = masked[i] and (i == 0 or not masked[i - 1])
            if start:
                k += 1
                inputs.append(f"<extra_id_{k}>")
                targets.append(f"<extra_id_{k}> {toks[i]}")
            elif masked[i]:
                targets.append(toks[i])
            else:
                inputs.append(toks[i])
        r = got[doc_id]
        assert r["n_tokens"] == n
        assert r["n_masked"] == sum(masked)
        assert r["n_spans"] == k + 1
        assert r["inputs_md5"] == hashlib.md5(" ".join(inputs).encode()).hexdigest()
        assert r["targets_md5"] == hashlib.md5(" ".join(targets).encode()).hexdigest()


def test_batch_materializers_conserve_tokens(spark):
    """Conservation invariants tying the two packers' MATERIALIZED
    lanes back to their layout tables at sf0.001: every clm sequence
    except each shard's last holds exactly 512 tokens and per-shard
    sequence totals equal the shard stream length; every FFD bin
    satisfies n_tokens + pad_tokens == 256 except overfull
    single-doc bins (pad 0, fill > 256)."""
    from etl_finance_pipeline_spark.plans.training_data import (
        q_clm_batches,
        q_ffd_batches,
    )

    sf = "/root/testdata/sf0.001"
    clm = q_clm_batches(spark, sf).collect()
    by_shard: dict[int, list] = {}
    for r in clm:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        last = max(r["seq_id"] for r in rs)
        for r in rs:
            if r["seq_id"] != last:
                assert r["n_tokens"] == 512, (shard, dict(r.asDict()))
            assert 1 <= r["n_docs"] <= r["n_tokens"]

    ffd = q_ffd_batches(spark, sf).collect()
    assert ffd
    for r in ffd:
        if r["n_tokens"] <= 256:
            assert r["n_tokens"] + r["pad_tokens"] == 256, dict(r.asDict())
        else:  # overfull bin: exactly one overlong doc, zero pad
            assert r["n_docs"] == 1 and r["pad_tokens"] == 0


def test_script_census_known_values(spark):
    from etl_finance_pipeline_spark.operators.text_analysis import (
        script_census,
    )

    df = spark.createDataFrame(
        [
            (1, "hello world"),                    # pure latin
            (2, "привет мир и ещё слова ok"),      # cyrillic dominates
            (3, "你好世界 hi"),                      # cjk dominates
            (4, "12345 ... !!"),                   # no script letters
            (5, "ab прив"),                        # tie broken? 2 vs 4
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in script_census(df).collect()}
    assert out[1]["dominant_script"] == "latin"
    assert out[1]["latin"] == 10 and out[1]["non_latin_ppm"] == 0
    assert out[2]["dominant_script"] == "cyrillic"
    assert out[2]["cyrillic"] == 18 and out[2]["latin"] == 2
    assert out[3]["dominant_script"] == "cjk" and out[3]["cjk"] == 4
    assert out[4]["dominant_script"] == "und"
    assert out[4]["script_letters"] == 0 and out[4]["non_latin_ppm"] == 0
    # 2 latin vs 4 cyrillic -> cyrillic; ppm = floor(4/6 * 1e6)
    assert out[5]["dominant_script"] == "cyrillic"
    assert out[5]["non_latin_ppm"] == 666666


def test_script_census_tie_prefers_earlier_range(spark):
    from etl_finance_pipeline_spark.operators.text_analysis import (
        script_census,
    )

    df = spark.createDataFrame([(1, "ab пр")], ["doc_id", "text"])
    r = script_census(df).collect()[0]
    assert r["latin"] == 2 and r["cyrillic"] == 2
    assert r["dominant_script"] == "latin"  # SCRIPT_RANGES order


def test_code_signals_flags_program_text(spark):
    from etl_finance_pipeline_spark.operators.text_analysis import (
        code_signals,
    )

    prose = "the quick brown fox jumps over the lazy dog again and again"
    code = (
        "def load(x):\n    return x * 2;\n"
        "import os\nclass T:\n    pass\n"
    )
    symbols = "x=1;y=2;{a<b};(c>d);[e]=f;"  # dense symbols, no keywords
    df = spark.createDataFrame(
        [(1, prose), (2, code), (3, symbols)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in code_signals(df).collect()}
    assert not out[1]["is_code"] and out[1]["kw_hits"] == 0
    assert out[2]["is_code"]
    assert out[2]["kw_hits"] == 4  # def/return/import/class
    assert out[2]["semis"] == 1
    assert out[3]["is_code"] and out[3]["symbol_ppm"] > 30_000


def test_ngram_novelty_exact_fraction(spark):
    from etl_finance_pipeline_spark.operators.dedup import ngram_novelty

    train = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w")], ["doc_id", "text"]
    )
    heldout = spark.createDataFrame(
        [
            (10, "a b c d"),     # shingles {a b c, b c d} all seen
            (11, "a b c q r"),   # {a b c seen, b c q, c q r novel}
            (12, "p q"),         # < 3 tokens -> no row
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r for r in ngram_novelty(train, heldout).collect()
    }
    assert set(out) == {10, 11}
    assert out[10]["n_shingles"] == 2 and out[10]["n_novel"] == 0
    assert out[10]["novelty_ppm"] == 0
    assert out[11]["n_shingles"] == 3 and out[11]["n_novel"] == 2
    assert out[11]["novelty_ppm"] == 666666


def test_best_of_n_gain_closed_form(spark):
    """Two items, ratings 1.0 and 3.0: E[max_1] = 2.0; for n=2 the
    order statistics give P(weak)=1/4, P(strong)=3/4, E[max_2]=2.5,
    gain 0.5 — exact, no tolerance."""
    from etl_finance_pipeline_spark.operators.mlprep import best_of_n_gain

    ratings = spark.createDataFrame(
        [("a", 1.0), ("b", 3.0)], ["item", "rating"]
    )
    out = {
        (r["item"], r["n"]): (r["sel_p"], r["emax"], r["bon_gain"])
        for r in best_of_n_gain(ratings, ns=(1, 2)).collect()
    }
    assert out == {
        ("a", 1): (0.5, 2.0, 0.0),
        ("b", 1): (0.5, 2.0, 0.0),
        ("a", 2): (0.25, 2.5, 0.5),
        ("b", 2): (0.75, 2.5, 0.5),
    }


def test_unicode_audit_flags(spark):
    """Each normalization defect fires exactly its own signal: NFC
    mismatch on a decomposed sequence, zero-width counting, the NFKC
    flag set, homoglyphs; clean ASCII fires nothing."""
    from etl_finance_pipeline_spark.operators.text_analysis import (
        unicode_audit,
    )

    rows = [
        (0, "plain ascii text"),
        (1, "café"),        # decomposed é -> NFC mismatch
        (2, "a​b​c﻿"),  # 3 zero-width chars
        (3, "ＡBC ﬁt ²"),  # fullwidth A, fi, superscript 2
        (4, "pаy pаl"),      # 2 Cyrillic а homoglyphs
        (5, "café"),              # precomposed é IS NFC-normal
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (
            r["nfc_mismatch"],
            r["n_zero_width"],
            r["n_nfkc_flagged"],
            r["n_confusable"],
            r["uni_suspect"],
        )
        for r in unicode_audit(df).collect()
    }
    assert out[0] == (False, 0, 0, 0, False)
    assert out[1] == (True, 0, 0, 0, True)
    assert out[2] == (False, 3, 0, 0, True)
    assert out[3] == (False, 0, 3, 0, True)
    assert out[4] == (False, 0, 0, 2, True)
    assert out[5] == (False, 0, 0, 0, False)


def test_curation_route_priority_and_fusion(spark):
    from etl_finance_pipeline_spark.operators.text_analysis import (
        curation_route,
    )

    code = "def f(x):\n    return x;\nimport os\nclass T { }"
    df = spark.createDataFrame(
        [
            (1, "plain english prose text here"),
            (2, "привет мир это текст на русском"),
            (3, code),
            (4, code + " cafÃ©"),   # mojibake + code -> quarantine
            (5, "� junk"),                # replacement char
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["route"] for r in curation_route(df).collect()}
    assert out == {
        1: "prose",
        2: "nonlatin",
        3: "code",
        4: "quarantine",  # quarantine outranks code
        5: "quarantine",
    }
    # the whole routing layer is one exchange-free projection
    plan = (
        curation_route(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_bitext_margin_mine_matches_python_reference(spark):
    import math

    from etl_finance_pipeline_spark.operators.similarity import (
        bitext_margin_mine,
    )

    src = [(i, [1.0, 0.1 * i, 0.5, -0.2 * i]) for i in range(6)]
    tgt = [(100 + j, [0.9, 0.3 * j, -0.4, 0.15 * j]) for j in range(5)]
    k = 2

    def cos_u(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return int(math.floor(d / (na * nb) * 1_000_000 + 0.5))

    pairs = {(i, j): cos_u(va, vb) for i, va in src for j, vb in tgt}
    dx = {
        i: sorted(((pairs[(i, j)], j) for j, _ in tgt),
                  key=lambda t: (-t[0], t[1]))[:k]
        for i, _ in src
    }
    dy = {
        j: sorted(((pairs[(i, j)], i) for i, _ in src),
                  key=lambda t: (-t[0], t[1]))[:k]
        for j, _ in tgt
    }
    expected = {}
    for i, _ in src:
        best = None
        for j, _ in tgt:
            sx = sum(c for c, _ in dx[i]) / len(dx[i])
            sy = sum(c for c, _ in dy[j]) / len(dy[j])
            m = int(math.floor(
                2.0 * pairs[(i, j)] * 1_000_000.0 / (sx + sy) + 0.5
            ))
            key = (-m, j)
            if best is None or key < best[0]:
                best = (key, (j, pairs[(i, j)], m))
        expected[i] = best[1]

    sdf = spark.createDataFrame(
        [(i, v) for i, v in src], "vec_id long, embedding array<double>"
    )
    tdf = spark.createDataFrame(
        [(j, v) for j, v in tgt], "vec_id long, embedding array<double>"
    )
    out = {
        r["src_id"]: (r["tgt_id"], r["cos_ppm"], r["margin_ppm"])
        for r in bitext_margin_mine(
            sdf, tdf, k=k, margin_threshold_ppm=0
        ).collect()
    }
    assert out == expected


def test_mixture_waterfill_invariants(spark):
    from etl_finance_pipeline_spark.plans.training_data import (
        _WF_BUDGET_X,
        _WF_MAX_EPOCHS,
        q_mixture_waterfill,
    )

    rows = q_mixture_waterfill(spark, "/root/testdata/sf0.001").collect()
    assert rows
    total_uniq = sum(r["unique_tokens"] for r in rows)
    budget = int(_WF_BUDGET_X * total_uniq)
    alloc = sum(r["alloc_tokens"] for r in rows)
    # conservation: never exceeds budget by more than the per-round
    # rounding slack (k/2 per round), never exceeds any cap
    assert alloc <= budget + len(rows) * 4
    for r in rows:
        assert r["alloc_tokens"] <= r["cap_tokens"]
        assert r["epochs"] <= _WF_MAX_EPOCHS
        assert r["capped"] == (r["alloc_tokens"] >= r["cap_tokens"])
    # Zipfian pressure must actually bind: some head capped, some not
    assert any(r["capped"] for r in rows)
    assert any(not r["capped"] for r in rows)
    # uncapped allocations follow the target-weight order
    unc = sorted(
        (r for r in rows if not r["capped"]), key=lambda r: r["rank"]
    )
    allocs = [r["alloc_tokens"] for r in unc]
    assert allocs == sorted(allocs, reverse=True)


def test_jl_project_matches_hand_fold(spark):
    import math

    from etl_finance_pipeline_spark.operators.similarity import (
        jl_project,
        jl_signs,
    )

    d_in, d_out = 4, 2
    signs = jl_signs(d_in, d_out)
    vec = [0.5, -1.25, 2.0, 0.125]
    df = spark.createDataFrame(
        [(1, vec), (2, [0.0] * d_in)],
        "vec_id long, embedding array<double>",
    )
    out = {
        (r["vec_id"], r["dim"]): r["value"]
        for r in jl_project(df, d_in, d_out).collect()
    }
    inv = 1.0 / math.sqrt(d_out)
    for j in range(d_out):
        acc = 0.0
        for i in range(d_in):
            acc = acc + vec[i] * signs[i][j]
        exp = math.floor(acc * inv * 1_000_000 + 0.5) / 1_000_000.0
        assert out[(1, j)] == exp
        assert out[(2, j)] == 0.0
