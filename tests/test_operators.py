"""Operator tests: text analysis, dedup, similarity, multimodal plumbing."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from plda_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat and the dog sat too", "en"),
        (1, "the cat sat on the mat and the dog sat too", "en"),     # exact dup of 0
        (2, "the cat sat on the mat and the dog stood too", "en"),   # near dup of 0
        (3, "le chat est sur le tapis et le chien est la", "fr"),
        (4, "completely different words about spark query engines", "en"),
        (5, "el gato es un animal que vive en la casa", "es"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_token_stats(spark, docs):
    rows = {r["doc_id"]: r for r in text.token_stats(docs).collect()}
    # doc 0: 11 tokens, len-1 tokens dropped? all >= 2 chars except none; 'on' kept
    assert rows[0]["n_tokens"] == 11
    assert rows[0]["n_unique"] == 8
    assert rows[4]["n_tokens"] == 7


def test_quality_score_bounds(spark, docs):
    for r in text.quality_score(docs).collect():
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["alpha_ratio"] <= 1.0
    scores = {r["doc_id"]: r["stopword_ratio"] for r in text.quality_score(docs).collect()}
    assert scores[0] > scores[3]  # English stopwords only hit the English doc


def test_quality_repetition_signals(spark):
    rows = [
        (0, "spam spam spam spam spam spam spam spam spam spam spam spam"),
        (1, "a genuinely varied sentence with many different interesting words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.quality_score(df).collect()}
    assert out[0]["dup_token_ratio"] > 0.9 and out[1]["dup_token_ratio"] == 0.0
    assert out[0]["top_bigram_ratio"] == 1.0 and out[1]["top_bigram_ratio"] < 0.2
    assert out[0]["quality_score"] < out[1]["quality_score"]  # repetition collapses the score


def test_language_id(spark, docs):
    pred = {r["doc_id"]: r["pred_lang"] for r in text.language_id(docs).collect()}
    assert pred[0] == "en"
    assert pred[3] == "fr"
    assert pred[5] == "es"


def test_fingerprint_order_invariant(spark):
    d = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha alpha")],
        "doc_id long, text string",
    )
    fps = [r["fingerprint"] for r in text.fingerprint(d).collect()]
    assert fps[0] == fps[1]  # same token set => same fingerprint


def test_lm_score_matches_brute_force(spark, sf_dir):
    """Add-k bigram LM scores must equal a driver-side computation over
    the same token streams (self-trained model)."""
    import math
    from collections import Counter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = {
        r["doc_id"]: r["t"]
        for r in docs.select("doc_id", text.tokens_col("text").alias("t")).collect()
    }
    uni, bi = Counter(), Counter()
    for t in toks.values():
        uni.update(t)
        bi.update(zip(t, t[1:]))
    V, k = len(uni), 0.5
    expect = {}
    for d, t in toks.items():
        if len(t) < 2:
            continue
        lps = [
            math.log((bi[(a, b)] + k) / (uni[a] + k * V)) for a, b in zip(t, t[1:])
        ]
        avg = sum(lps) / len(lps)
        expect[d] = (len(lps), round(avg, 6), round(math.exp(-avg), 6))
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"], r["perplexity"])
        for r in text.lm_score(docs).collect()
    }
    assert set(got) == set(expect)
    for d in expect:
        assert got[d][0] == expect[d][0]
        assert got[d][1] == pytest.approx(expect[d][1], abs=1e-5)
        assert got[d][2] == pytest.approx(expect[d][2], rel=1e-5)


def test_lm_score_external_model_oov(spark):
    """Scoring docs against a separately-trained LM must handle unseen
    unigrams/bigrams via add-k smoothing (no nulls, finite logp)."""
    train = spark.createDataFrame(
        [(0, "the cat sat on the mat")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(1, "the cat sat"), (2, "purple elephants dance wildly")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.lm_score(score, lm_docs=train).collect()}
    assert rows[1]["avg_logp"] > rows[2]["avg_logp"]  # in-domain scores higher
    assert all(np.isfinite(r["avg_logp"]) for r in rows.values())


def test_dedup_paragraphs(spark):
    d = spark.createDataFrame(
        [
            (0, "intro\n\nbody\n\nintro\n\noutro"),
            (1, "a\n\nb"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.dedup_paragraphs(d).collect()}
    assert rows[0]["text"] == "intro\n\nbody\n\noutro"
    assert rows[0]["n_paragraphs"] == 4 and rows[0]["n_dropped"] == 1
    assert rows[1]["text"] == "a\n\nb" and rows[1]["n_dropped"] == 0


def test_exact_dedup(spark, docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 2
    assert groups[0]["keep_doc_id"] == 0
    kept = dedup.exact_dedup(docs)
    assert kept.count() == 5
    assert 1 not in {r["doc_id"] for r in kept.collect()}


def test_jaccard_pairs(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             dedup.jaccard_pairs(docs, threshold=0.3, n=3).collect()}
    assert pairs[(0, 1)] == 1.0          # exact dup
    assert (0, 2) in pairs               # near dup shares most shingles
    assert all(a < b for a, b in pairs)  # canonical ordering
    assert (0, 4) not in pairs           # unrelated docs


def test_kmeans_recovers_separated_clusters(spark, sf_dir):
    """Distributed Lloyd's on well-separated synthetic blobs must
    recover them perfectly, and the fit on the real embeddings fixture
    must be bit-deterministic across runs."""
    rng = np.random.default_rng(5)
    centers = np.eye(4) * 10.0  # 4 far-apart blob centers in R^4
    X = np.concatenate([centers[i] + rng.normal(0, 0.1, (50, 4)) for i in range(4)])
    truth = np.repeat(np.arange(4), 50)
    rows = [(int(i), [float(v) for v in X[i]]) for i in range(len(X))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned = similarity.cluster_embeddings(df, k=4, seed=7)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    # perfect clustering = each learned cluster maps 1:1 to one blob
    from collections import defaultdict

    members = defaultdict(set)
    for i, c in got.items():
        members[c].add(truth[i])
    assert len(members) == 4
    assert all(len(blobs) == 1 for blobs in members.values())

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents1 = similarity.kmeans_fit(emb, k=8, seed=7)
    cents2 = similarity.kmeans_fit(emb, k=8, seed=7)
    assert np.array_equal(cents1, cents2)  # bit-deterministic


def test_kmeans_partials_match_driver_lloyd(spark):
    """One distributed iteration must equal a numpy Lloyd step on the
    same data and init (driver reduce is exact, empty clusters kept)."""
    rng = np.random.default_rng(3)
    X = rng.normal(size=(200, 8))
    rows = [(int(i), [float(x) for x in X[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # X32 is what Spark stores (float32) — the reference step must see
    # the same values the executors see.
    X32 = X.astype(np.float32).astype(np.float64)
    cents = similarity.kmeans_fit(df, k=4, max_iterations=1, seed=11, init_sample=200)
    # reproduce init exactly
    sample = X32  # orderBy(vec_id).limit(200) is the whole set, in order
    r2 = np.random.Generator(np.random.PCG64(np.random.SeedSequence(11)))
    init = sample[r2.choice(200, 4, replace=False)].copy()
    d2 = ((sample[:, None, :] - init[None, :, :]) ** 2).sum(axis=2)
    a = d2.argmin(axis=1)
    expect = init.copy()
    for c in range(4):
        if (a == c).any():
            expect[c] = sample[a == c].mean(axis=0)
    assert np.allclose(cents, expect, atol=1e-9)


@pytest.mark.parametrize("threshold", [0.2, 0.5, 0.8])
def test_jaccard_pairs_equals_brute_force(spark, sf_dir, threshold):
    """Prefix filtering (PPJoin candidate generation) must be EXACT:
    compare against an all-pairs driver-side computation over the same
    shingle sets on real documents."""
    import itertools

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sets = {
        r["doc_id"]: set(r["sh"])
        for r in dedup.shingles(docs, n=3)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh"))
        .collect()
    }
    expect = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter:
            j = round(inter / (len(sets[a]) + len(sets[b]) - inter), 6)
            if j >= threshold:
                expect[(a, b)] = j
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(
            docs, threshold=threshold, n=3, max_shingle_df=None
        ).collect()
    }
    assert got == expect


@pytest.mark.parametrize("threshold", [0.3, 0.7, 0.95])
def test_containment_pairs_equals_brute_force(spark, sf_dir, threshold):
    """The asymmetric prefix filter must be EXACT: compare against an
    all-ordered-pairs driver computation over the same shingle sets."""
    import itertools

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sets = {
        r["doc_id"]: set(r["sh"])
        for r in dedup.shingles(docs, n=3)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh"))
        .collect()
    }
    expect = {}
    for a, b in itertools.permutations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter:
            c = round(inter / len(sets[a]), 6)
            if c >= threshold:
                expect[(a, b)] = c
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in dedup.containment_pairs(
            docs, threshold=threshold, n=3, max_shingle_df=None
        ).collect()
    }
    assert got == expect


def test_containment_is_asymmetric(spark):
    """An excerpt is contained in its source; the source is NOT
    contained in the excerpt — the pair must appear in exactly one
    orientation when the threshold splits them."""
    words = " ".join(f"w{i}" for i in range(40))
    excerpt = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(0, words), (1, excerpt)], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in dedup.containment_pairs(docs, threshold=0.9, n=3).collect()
    }
    assert (1, 0) in got and got[(1, 0)] == 1.0
    assert (0, 1) not in got
    with pytest.raises(ValueError, match="threshold"):
        dedup.containment_pairs(docs, threshold=0.0)


def test_minhash_lsh_finds_dups(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in
             dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8, n=2).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs
    assert (0, 4) not in pairs


def test_simhash_near_dup(spark, docs):
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sigs[0] == sigs[1]
    ham02 = bin(sigs[0] ^ sigs[2]).count("1")
    ham04 = bin(sigs[0] ^ sigs[4]).count("1")
    assert ham02 < ham04  # near dup closer in hamming space than unrelated
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.simhash_pairs(docs, max_hamming=8).collect()}
    assert (0, 1) in pairs


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.Generator(np.random.PCG64(1))
    base = rng.standard_normal((10, 8))
    base[1] = base[0] + 0.01 * rng.standard_normal(8)  # near dup of 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(10)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark, embeddings):
    q = embeddings.where(F.col("vec_id") == 0).withColumnRenamed("vec_id", "query_id")
    res = similarity.brute_force_topk(embeddings, q, k=3).collect()
    assert len(res) == 3
    assert res[0]["vec_id"] == 1 and res[0]["rank"] == 1  # the near-dup wins
    sims = [r["sim"] for r in sorted(res, key=lambda r: r["rank"])]
    assert sims == sorted(sims, reverse=True)


def test_lsh_topk_recalls_near_dup(spark, embeddings):
    q = embeddings.where(F.col("vec_id") == 0).withColumnRenamed("vec_id", "query_id")
    res = similarity.lsh_topk(embeddings, q, dim=8, k=3, num_planes=16, bands=8).collect()
    assert any(r["vec_id"] == 1 and r["rank"] == 1 for r in res)


def test_lsh_topk_folds_each_norm_once(spark, embeddings):
    """Each side's norm is staged below its band explode, so the O(dim)
    fold runs once per vector, not once per (vector, band) row: in the
    physical plan every ``SQRT(aggregate(…))`` sits in a Generate's
    subtree and none above it."""
    q = embeddings.where(F.col("vec_id") == 0).withColumnRenamed("vec_id", "query_id")
    df = similarity.lsh_topk(embeddings, q, dim=8, k=3, num_planes=16, bands=8)
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    norms = {i for i, line in enumerate(lines) if "SQRT(aggregate(" in line}
    gens = [i for i, line in enumerate(lines) if "Generate explode" in line]
    assert len(gens) == 2 and len(norms) == 2
    for g in gens:
        below = itertools.takewhile(
            lambda i: depth(lines[i]) > depth(lines[g]), range(g + 1, len(lines))
        )
        assert len(norms & set(below)) == 1


def test_embedding_near_dup_pairs(spark, embeddings):
    pairs = dedup_pairs = similarity.embedding_near_dup_pairs(embeddings, threshold=0.99).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}


def test_multimodal_plumbing(spark, docs):
    media = multimodal.attach_fake_media(docs)
    assert media.schema.simpleString().startswith(
        "struct<media_id:bigint,payload:binary,media_type:string"
    )
    feats = multimodal.decode_image_features(media, out_dim=16).collect()
    assert len(feats) == 6
    assert all(len(r["features"]) == 16 for r in feats)
    # Determinism: same payload -> same features (docs 0 and 1 share text).
    by_id = {r["media_id"]: list(r["features"]) for r in feats}
    assert by_id[0] == by_id[1]
    # Real backend actually decodes — a non-PNG payload (these are
    # utf-8 text bytes) fails loudly instead of silently faking.
    with pytest.raises(Exception, match="not a PNG"):
        multimodal.decode_image_features(media, decode_backend="real").collect()


def test_video_frame_sampling(spark, docs):
    media = multimodal.attach_fake_media(docs)
    vids = media.where(F.col("media_type") == "video")
    if vids.count() == 0:
        pytest.skip("no fake videos in this hash draw")
    frames = multimodal.sample_video_frames(media, every_n=50).collect()
    assert all(r["frame_idx"] % 50 == 0 for r in frames)
    assert all(len(r["frame_features"]) == 16 for r in frames)


def test_salted_join_equals_plain_join(spark):
    from plda_spark.operators.joins import salted_join
    from plda_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, "/root/testdata/sf0.001", "part").select(
        "p_partkey", "p_brand"
    ).withColumnRenamed("p_partkey", "l_partkey")
    plain = li.join(part, "l_partkey")
    salted = salted_join(li, part, on="l_partkey", salt=4)
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_ivf_topk_exhaustive_equals_brute(spark, embeddings):
    """n_probe == n_cells scans every cell, so IVF must equal brute force."""
    from pyspark.sql import functions as F

    from plda_spark.operators import similarity

    qs = embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = similarity.brute_force_topk(embeddings, qs, k=3)
    ivf = similarity.ivf_topk(embeddings, qs, dim=8, k=3, n_cells=4, n_probe=4)
    b = {(r["query_id"], r["rank"]): r["vec_id"] for r in brute.collect()}
    i = {(r["query_id"], r["rank"]): r["vec_id"] for r in ivf.collect()}
    assert b == i


def test_ivf_topk_probe_subset_recall(spark, embeddings):
    from pyspark.sql import functions as F

    from plda_spark.operators import similarity

    qs = embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = similarity.brute_force_topk(embeddings, qs, k=3)
    ivf = similarity.ivf_topk(embeddings, qs, dim=8, k=3, n_cells=4, n_probe=2)
    b = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    i = {(r["query_id"], r["vec_id"]) for r in ivf.collect()}
    assert len(b & i) / len(b) >= 0.3  # partial probe keeps useful recall


def test_ivf_pq_topk_exhaustive_oversampled_equals_brute(spark, embeddings):
    """IVF-PQ at its exactness config (exhaustive probe + shortlist ≥
    corpus): the exact re-rank must recover brute-force cosine top-k —
    every stage (cells, residual encode, ADC tables, re-rank) runs."""
    qs = embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = similarity.brute_force_topk(embeddings, qs, k=3)
    ivfpq = similarity.ivf_pq_topk(
        embeddings, qs, dim=8, k=3, n_cells=4, n_probe=4, m=4, k_codes=8,
        oversample=10,
    )
    b = {(r["query_id"], r["rank"]): r["vec_id"] for r in brute.collect()}
    i = {(r["query_id"], r["rank"]): r["vec_id"] for r in ivfpq.collect()}
    assert b == i


def test_ivf_pq_topk_approximate_recall(spark, embeddings):
    """Genuinely approximate config (partial probe, tight shortlist, few
    codes): recall against brute force stays useful, and the planted
    near-dup of vector 0 survives compression as its top neighbor."""
    qs = embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = similarity.brute_force_topk(embeddings, qs, k=3)
    ivfpq = similarity.ivf_pq_topk(
        embeddings, qs, dim=8, k=3, n_cells=4, n_probe=2, m=4, k_codes=4,
        oversample=2,
    )
    b = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    i = {(r["query_id"], r["vec_id"]) for r in ivfpq.collect()}
    assert len(b & i) / len(b) >= 0.3
    top0 = {r["vec_id"]: r["rank"] for r in ivfpq.collect() if r["query_id"] == 0}
    assert top0.get(1) == 1  # near-dup of 0 found despite residual PQ


def test_ivf_pq_index_persist_prune_and_exactness(spark, embeddings, tmp_path):
    """ivf_pq_build + ivf_pq_search: the persisted index (a) reproduces
    brute-force at the exactness config, (b) reads ONLY the probed
    cells' files — the parquet PartitionFilters must name the cell
    partition column — and (c) is deterministic (same corpus+seed =>
    identical quantizer bytes)."""
    import numpy as np

    qs = embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = str(tmp_path / "idx")
    similarity.ivf_pq_build(embeddings, dim=8, path=idx, n_cells=4, m=4,
                            k_codes=8, seed=11)
    brute = similarity.brute_force_topk(embeddings, qs, k=3)
    got = similarity.ivf_pq_search(qs, idx, embeddings, k=3, n_probe=4,
                                   oversample=10)
    b = {(r["query_id"], r["rank"]): r["vec_id"] for r in brute.collect()}
    g = {(r["query_id"], r["rank"]): r["vec_id"] for r in got.collect()}
    assert b == g

    appr = similarity.ivf_pq_search(qs, idx, embeddings, k=3, n_probe=1,
                                    oversample=2)
    plan = appr._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters", 1
    )[1][:200]
    assert appr.count() > 0

    idx2 = str(tmp_path / "idx2")
    similarity.ivf_pq_build(embeddings, dim=8, path=idx2, n_cells=4, m=4,
                            k_codes=8, seed=11)
    a = np.load(f"{idx}/quantizer.npz")
    c = np.load(f"{idx2}/quantizer.npz")
    assert np.array_equal(a["centroids"], c["centroids"])
    assert np.array_equal(a["codebooks"], c["codebooks"])


def test_ivf_pq_append_equals_build_on_union(spark, embeddings, tmp_path):
    """ivf_pq_append: build on half the corpus, append the other half
    with the FROZEN quantizer — at the exactness config (exhaustive
    probe, shortlist >= corpus) search must equal a fresh build over
    the union (both reduce to brute-force cosine top-k through the
    exact re-rank), and the appended codes must land inside the
    existing cell partition layout (still partition-pruned)."""
    import numpy as np

    half_a = embeddings.where(F.col("vec_id") % 2 == 0)
    half_b = embeddings.where(F.col("vec_id") % 2 == 1)
    qs = embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    idx = str(tmp_path / "idx")
    similarity.ivf_pq_build(half_a, dim=8, path=idx, n_cells=4, m=4,
                            k_codes=8, seed=11)
    qz_before = np.load(f"{idx}/quantizer.npz")
    similarity.ivf_pq_append(half_b, idx)
    qz_after = np.load(f"{idx}/quantizer.npz")
    # append never touches the quantizer
    assert np.array_equal(qz_before["centroids"], qz_after["centroids"])
    assert np.array_equal(qz_before["codebooks"], qz_after["codebooks"])

    idx_full = str(tmp_path / "idx_full")
    similarity.ivf_pq_build(embeddings, dim=8, path=idx_full, n_cells=4,
                            m=4, k_codes=8, seed=11)
    got_inc = similarity.ivf_pq_search(qs, idx, embeddings, k=3,
                                       n_probe=4, oversample=10)
    got_full = similarity.ivf_pq_search(qs, idx_full, embeddings, k=3,
                                        n_probe=4, oversample=10)
    a = {(r["query_id"], r["rank"]): r["vec_id"] for r in got_inc.collect()}
    b = {(r["query_id"], r["rank"]): r["vec_id"] for r in got_full.collect()}
    assert a == b
    # every corpus vector is in the incremental index exactly once
    codes = spark.read.parquet(f"{idx}/codes")
    assert codes.count() == embeddings.count()
    assert codes.select("vec_id").distinct().count() == embeddings.count()
    # and a partial probe on the appended index still partition-prunes
    appr = similarity.ivf_pq_search(qs, idx, embeddings, k=3, n_probe=1,
                                    oversample=2)
    plan = appr._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters", 1
    )[1][:200]


def test_embedding_near_dup_blocked_finds_planted_pair(spark, embeddings):
    from plda_spark.operators import similarity

    pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dup_pairs_blocked(
            embeddings, dim=8, threshold=0.95, n_cells=3, n_probe=2
        ).collect()
    }
    assert (0, 1) in pairs  # the planted near-duplicate


def test_embedding_near_dup_blocked_exhaustive_equals_unblocked(spark, embeddings):
    """With n_probe == n_cells the IVF-blocked scale path must return
    exactly the O(n²) pairs — pins the gate's brute-force oracle claim."""
    from plda_spark.operators import similarity

    brute = similarity.embedding_near_dup_pairs(embeddings, threshold=0.5)
    blocked = similarity.embedding_near_dup_pairs_blocked(
        embeddings, dim=8, threshold=0.5, n_cells=3, n_probe=3
    )
    assert brute.exceptAll(blocked).count() == 0
    assert blocked.exceptAll(brute).count() == 0


def test_sampling_primitives(spark, docs):
    from plda_spark.operators.sampling import (
        hash_mod_sample,
        pack_sequences,
        train_val_test_split,
    )
    from plda_spark.operators.text import token_stats

    # Hash sampling is stable under repartitioning.
    s1 = {r["doc_id"] for r in hash_mod_sample(docs, 50).collect()}
    s2 = {r["doc_id"] for r in hash_mod_sample(docs.repartition(7), 50).collect()}
    assert s1 == s2

    # Splits are disjoint and exhaustive.
    split = train_val_test_split(docs)
    assert split.count() == docs.count()
    assert set(r["split"] for r in split.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }

    # Packing: every bin except possibly per-oversized-doc bins fits.
    stats = token_stats(docs).select("doc_id", "n_tokens")
    packed = pack_sequences(stats, max_tokens=30)
    bins = packed.groupBy("bin_id").sum("n_tokens").collect()
    per_doc_max = max(r["n_tokens"] for r in stats.collect())
    for r in bins:
        assert r["sum(n_tokens)"] <= 30 + per_doc_max  # greedy cut bound


def test_tfidf_and_collocations(spark, docs):
    from plda_spark.operators.text import collocations, tf_idf

    tfidf = tf_idf(docs)
    rows = tfidf.collect()
    assert rows and all(r["tfidf"] > 0 for r in rows)
    # Rare words score at least as high as ubiquitous ones at equal tf.
    col = collocations(docs, min_count=1)
    assert {"a", "b", "c_ab", "pmi"} <= set(col.columns)


def test_winnow_detects_overlapping_copy(spark):
    """Winnowing guarantee: two docs sharing a run of >= w+k-1 tokens
    share at least one selected hash; disjoint docs share none."""
    from plda_spark.operators.text import winnow

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (0, base + " kilo lima mike"),
        (1, "zero one " + base),           # shifted copy, big overlap
        (2, "nov osc papa queb rome sier tang unif vict whis xray yank"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in winnow(df, k=4, w=5).collect()}
    assert out[0]["n_kgrams"] == 10 and out[0]["n_winnow"] >= 1
    # overlap detection would use the selected sets; the summary row
    # pins determinism: same text prefix -> same winnow_min is NOT
    # guaranteed, but a full copy is:
    same = winnow(df.select("doc_id", "text").where(F.col("doc_id") == 0), k=4, w=5)
    again = {r["doc_id"]: r for r in same.collect()}
    assert again[0] == out[0]

    # Short doc (< k tokens) yields the empty summary, not an error.
    short = spark.createDataFrame([(9, "one two")], ["doc_id", "text"])
    r = winnow(short, k=4, w=5).collect()[0]
    assert (r["n_kgrams"], r["n_winnow"], r["winnow_min"], r["winnow_checksum"]) == (0, 0, 0, 0)


def test_connected_components(spark):
    """Chains, a triangle, an isolated pair — every node labels with the
    min doc_id reachable; pointer jumping must close long chains."""
    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),  # chain 1..7
        (10, 11), (11, 12), (10, 12),                    # triangle
        (20, 21),                                        # pair
    ]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    comp = {r["doc_id"]: r["component"]
            for r in dedup.connected_components(df).collect()}
    assert all(comp[n] == 1 for n in range(1, 8))
    assert all(comp[n] == 10 for n in (10, 11, 12))
    assert comp[20] == comp[21] == 20
    # the driver union-find (default for bounded pair graphs) and the
    # distributed rounds (forced with _DRIVER_MAX_EDGES = 0) must agree
    # row-for-row — the driver cutover's parity pin
    from plda_spark.operators import graph

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph, "_DRIVER_MAX_EDGES", 0)
        dist = {r["doc_id"]: r["component"]
                for r in dedup.connected_components(df).collect()}
    assert dist == comp


@pytest.mark.parametrize("case, most", [
    ("pagerank", 1),
    ("personalized_pagerank", 1),
    ("label_propagation", 1),
    ("kcore", 1),
    ("bfs_distances", 1),
    ("connected_components", 1),
    ("kcenter_select", 0),
    ("pagerank_driver", 0),
    ("personalized_pagerank_driver", 0),
    ("connected_components_driver", 0),
])
def test_iterative_operators_release_superseded_cuts(spark, monkeypatch, case, most):
    """An iterative operator releases every lineage cut its result no
    longer reads: after ``out.collect()`` at most the returned frame's
    own checkpoint (``most``) is still persisted.  Checked without
    forcing a GC, so a release that only drops the Python handle would
    fail.  Ids, not counts: a GC during the call may clean up RDDs that
    earlier tests left behind.  The graph operators with a driver path
    run their distributed loops (cap 0) unless the case ends in
    ``_driver``; the driver path leaves nothing persisted."""
    from plda_spark.operators import graph, sampling

    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        return set(jsc.getPersistentRDDs().keySet())

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (5, 6),
         (6, 7), (7, 8), (9, 10)],
        "src long, dst long",
    )
    calls = {
        "pagerank": lambda: graph.pagerank(e, n_iter=12),
        "personalized_pagerank": lambda: graph.personalized_pagerank(
            e, [0, 3], n_iter=12),
        "label_propagation": lambda: graph.label_propagation(e, n_iter=7),
        "kcore": lambda: graph.kcore(e, k=2, n_rounds=8),
        "bfs_distances": lambda: graph.bfs_distances(e, [0], max_hops=4),
        "connected_components": lambda: dedup.connected_components(
            e, "src", "dst"),
        "kcenter_select": lambda: sampling.kcenter_select(
            spark.createDataFrame(
                [(i, [float(i % 5), float(i // 5)]) for i in range(20)],
                "vec_id long, embedding array<double>",
            ),
            k=4,
        ),
    }
    if not case.endswith("_driver"):
        monkeypatch.setattr(graph, "_DRIVER_MAX_EDGES", 0)
    before = persisted()
    calls[case.removesuffix("_driver")]().collect()
    assert len(persisted() - before) <= most, case


def test_chunk_documents(spark):
    from plda_spark.operators.sampling import chunk_documents

    import pytest as _pt

    words = " ".join(f"tok{i:03d}" for i in range(100))
    df = spark.createDataFrame([(0, words), (1, "just three tokens")],
                               "doc_id long, text string")
    rows = chunk_documents(df, max_tokens=40, overlap=10).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 100 tokens, stride 30 -> 1 + ceil(60/30) = 3 chunks covering
    # 1-40, 31-70, 61-100 (a 4th chunk of tokens 91-100 would be fully
    # contained in chunk 2 — the redundant-tail bug).
    c0 = sorted(by_doc[0], key=lambda r: r["chunk_idx"])
    assert [r["chunk_tokens"] for r in c0] == [40, 40, 40]
    assert [r["chunk_idx"] for r in c0] == [0, 1, 2]
    # Short doc -> one whole-doc chunk.
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_tokens"] == 3
    # n mod stride in [1, overlap]: tail must carry NEW tokens or not exist
    small = spark.createDataFrame(
        [(2, " ".join(f"w{i}" for i in range(31)))], "doc_id long, text string"
    )
    tail = chunk_documents(small, max_tokens=40, overlap=10).collect()
    assert len(tail) == 1 and tail[0]["chunk_tokens"] == 31
    # Identical chunk content -> identical digest (dedup-able).
    dup = chunk_documents(df.where(F.col("doc_id") == 0), max_tokens=40, overlap=10)
    assert {r["chunk_digest"] for r in dup.collect()} == {r["chunk_digest"] for r in c0}
    with _pt.raises(ValueError):
        chunk_documents(df, max_tokens=10, overlap=10)


def test_as_of_join_matches_pandas_merge_asof(spark):
    from plda_spark.operators import joins

    # quotes (right) and trades (left) — the canonical as-of shape
    quotes = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 1.1), (1, 20, 1.2), (1, 40, 1.3),
         (2, 15, 9.0)],
        "sym long, ts long, px double",
    )
    trades = spark.createDataFrame(
        [(1, 5), (1, 10), (1, 20), (1, 35), (1, 50), (2, 14), (3, 99)],
        "sym long, ts long",
    )
    got = {
        (r["sym"], r["ts"]): r["right_px"]
        for r in joins.as_of_join(
            trades, quotes, on="sym", tiebreak="px"
        ).collect()
    }
    assert got[(1, 5)] is None          # no quote yet
    assert got[(1, 10)] == 1.0          # equal ts matches (<=)
    assert got[(1, 20)] == 1.2          # tie at ts=20 → last by tiebreak
    assert got[(1, 35)] == 1.2          # latest prior
    assert got[(1, 50)] == 1.3
    assert got[(2, 14)] is None
    assert got[(3, 99)] is None         # key absent from right

    # tolerance voids stale matches
    tol = joins.as_of_join(
        trades, quotes, on="sym", tiebreak="px", tolerance=F.lit(10)
    )
    got_tol = {(r["sym"], r["ts"]): r["right_px"] for r in tol.collect()}
    assert got_tol[(1, 50)] == 1.3      # 50-40 = 10 <= 10 kept
    assert got_tol[(1, 35)] is None     # 35-20 = 15 > 10 voided


def test_decontamination(spark):
    from plda_spark.operators.dedup import contamination, decontaminate

    bench = spark.createDataFrame(
        [(100, "what is the capital of france paris is correct")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (0, "trivia dump what is the capital of france paris and more text"),
            (1, "a clean training document about cooking pasta at home"),
            (2, "another clean one regarding linear algebra and matrices"),
        ],
        "doc_id long, text string",
    )
    hits = {r["doc_id"]: r["n_contaminated_ngrams"]
            for r in contamination(docs, bench, n=5).collect()}
    assert 0 in hits and 1 not in hits and 2 not in hits
    assert hits[0] >= 1
    clean = decontaminate(docs, bench, n=5)
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 2]
    assert clean.columns == docs.columns


def test_stratified_hash_sample(spark):
    from plda_spark.operators.sampling import hash_bucket, stratified_hash_sample

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "wiki").otherwise("crawl").alias("source"),
    )
    out = stratified_hash_sample(
        df, "source", {"wiki": 100, "crawl": 10}, key_col="doc_id"
    )
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["wiki"] == 1000                 # 100% kept
    assert 40 <= counts["crawl"] <= 200           # ~10% of 1000
    # deterministic: same rows both runs, and a row's fate is independent
    # of the other stratum's rate
    again = stratified_hash_sample(
        df, "source", {"wiki": 50, "crawl": 10}, key_col="doc_id"
    )
    crawl_a = {r["doc_id"] for r in out.where("source='crawl'").collect()}
    crawl_b = {r["doc_id"] for r in again.where("source='crawl'").collect()}
    assert crawl_a == crawl_b
    # unlisted strata fall back to default_pct
    assert stratified_hash_sample(df, "source", {"wiki": 100}).where(
        "source='crawl'"
    ).count() == 0


def test_stats_quantiles_and_frequent_items(spark):
    from plda_spark.operators import stats

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 101)] + [("b", 5.0), ("b", 15.0)],
        "g string, v double",
    )
    ex = {r["g"]: r for r in
          stats.group_quantiles(df, ["g"], "v", qs=(0.5,)).collect()}
    assert ex["a"]["q0_5"] == pytest.approx(50.5)   # interpolated median
    assert ex["b"]["q0_5"] == pytest.approx(10.0)
    ap = {r["g"]: r for r in
          stats.approx_group_quantiles(df, ["g"], "v", qs=(0.5,)).collect()}
    assert abs(ap["a"]["q0_5"] - 50.5) <= 1.0       # sketch within rank error

    ev = spark.createDataFrame(
        [("x", "u1")] * 5 + [("x", "u2")] * 3 + [("x", "u3")] * 3 + [("y", "u9")],
        "g string, u string",
    )
    top = stats.frequent_items(ev, ["g"], "u", k=2).collect()
    by_g = {}
    for r in top:
        by_g.setdefault(r["g"], []).append((r["rank"], r["value"], r["cnt"]))
    assert sorted(by_g["x"]) == [(1, "u1", 5), (2, "u2", 3)]  # tie u2<u3
    assert sorted(by_g["y"]) == [(1, "u9", 1)]


def test_correlation_matrix_matches_numpy(spark, sf_dir):
    from plda_spark.operators import stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    got = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in stats.correlation_matrix(li, cols).collect()
    }
    pdf = li.select(*[F.col(c).cast("double") for c in cols]).toPandas()
    m = np.corrcoef(pdf.to_numpy().T)
    idx = {c: i for i, c in enumerate(pdf.columns)}
    assert len(got) == 6
    for (a, b), v in got.items():
        assert a < b
        assert v == pytest.approx(m[idx[a], idx[b]], abs=1e-6)

    with pytest.raises(ValueError):
        stats.correlation_matrix(li, ["l_quantity"])


def test_operators_handle_empty_input(spark):
    """Engine hardening: every operator family must return an empty
    (not crashed) result on an empty input relation — the behavior a
    pipeline hits when an upstream filter matches nothing."""
    from plda_spark.operators import joins, sampling, stats

    empty_docs = spark.createDataFrame([], "doc_id long, text string, source string")
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")

    assert dedup.exact_duplicates(empty_docs).count() == 0
    assert dedup.jaccard_pairs(empty_docs).count() == 0
    assert dedup.minhash_lsh_pairs(empty_docs).count() == 0
    assert dedup.simhash_pairs(empty_docs).count() == 0
    assert dedup.contamination(empty_docs, empty_docs).count() == 0
    assert text.token_stats(empty_docs).count() == 0
    assert text.tf_idf(empty_docs).count() == 0
    assert text.lm_score(empty_docs).count() == 0
    assert text.dedup_paragraphs(empty_docs).count() == 0
    assert similarity.kmeans_assign(empty_emb, np.zeros((2, 4))).count() == 0
    assert sampling.stratified_hash_sample(empty_docs, "source", {"a": 50}).count() == 0
    assert sampling.pack_sequences(
        spark.createDataFrame([], "doc_id long, n_tokens long"), 128
    ).count() == 0
    assert stats.group_quantiles(
        spark.createDataFrame([], "g string, v double"), ["g"], "v"
    ).count() == 0
    assert joins.as_of_join(
        spark.createDataFrame([], "k long, ts long"),
        spark.createDataFrame([], "k long, ts long, v double"),
        on="k",
    ).count() == 0
    assert similarity.embedding_near_dup_pairs(empty_emb, threshold=0.9).count() == 0


def test_apply_filters_audit_trail(spark):
    from plda_spark.operators.curation import apply_filters

    df = spark.createDataFrame(
        [
            (0, "good doc with plenty of words here", "en"),
            (1, "short", "en"),                      # fails length only
            (2, "ceci est un texte francais assez long", "fr"),  # fails lang only
            (3, "x", "de"),                          # fails both
            (4, None, "en"),                         # NULL text → reject
        ],
        "doc_id long, text string, lang string",
    )
    survivors, audit = apply_filters(
        df,
        [
            ("min_len", F.length("text") >= 20),
            ("lang_en", F.col("lang") == "en"),
        ],
    )
    assert [r["doc_id"] for r in survivors.collect()] == [0]
    a = {r["rule"]: (r["n_rejected"], r["n_rejected_solely"]) for r in audit.collect()}
    assert a["min_len"] == (3, 2)   # docs 1,3,4 fail; 1,4 fail solely
    assert a["lang_en"] == (2, 1)   # docs 2,3 fail; 2 fails solely
    assert a["__kept__"][0] == 1

    with pytest.raises(ValueError):
        apply_filters(df, [])


def test_normalize_and_pca_project(spark, embeddings):
    from plda_spark.operators.similarity import (
        cosine,
        normalize_embeddings,
        pca_project,
    )

    normed = normalize_embeddings(embeddings)
    norms = normed.select(
        F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)).alias("n")
    ).collect()
    assert all(abs(r["n"] - 1.0) < 1e-5 for r in norms)

    dim = len(embeddings.first()["embedding"])
    # full-rank projection preserves pairwise geometry exactly
    proj = pca_project(embeddings, dim=dim, out_dim=dim)
    a = embeddings.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = embeddings.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    pa = proj.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("pa"))
    pb = proj.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("pb"))
    pairs = (
        a.join(b, F.col("ia") < F.col("ib"))
        .join(pa, "ia").join(pb, "ib")
        .select(
            (F.aggregate(F.zip_with("ea", "eb", lambda x, y: (x - y) * (x - y)),
                         F.lit(0.0), lambda acc, x: acc + x)).alias("d_orig"),
            (F.aggregate(F.zip_with("pa", "pb", lambda x, y: (x - y) * (x - y)),
                         F.lit(0.0), lambda acc, x: acc + x)).alias("d_proj"),
        )
        .limit(200).collect()
    )
    for r in pairs:
        assert r["d_proj"] == pytest.approx(r["d_orig"], rel=1e-3)

    # reduced projection: output dim right, and near-dup pairs stay closest
    half = pca_project(embeddings, dim=dim, out_dim=dim // 2)
    row = half.first()
    assert len(row["embedding"]) == dim // 2

    with pytest.raises(ValueError):
        pca_project(embeddings, dim=dim, out_dim=dim + 1)


def test_range_join_matches_theta_join(spark):
    from plda_spark.operators.joins import range_join

    import random

    rng = random.Random(5)
    pts = [(i, rng.randint(0, 1000), rng.choice("ab")) for i in range(300)]
    ivs = []
    for j in range(60):
        s = rng.randint(0, 950)
        ivs.append((j, s, s + rng.randint(1, 80), rng.choice("ab")))
    points = spark.createDataFrame(pts, "pid long, point long, k string")
    intervals = spark.createDataFrame(ivs, "iid long, start long, end long, k string")

    got = {
        (r["pid"], r["iid"])
        for r in range_join(
            points, intervals, "point", "start", "end", bin_width=64, on="k"
        ).collect()
    }
    want = {
        (r["pid"], r["iid"])
        for r in points.join(
            intervals,
            (points["k"] == intervals["k"])
            & (intervals["start"] <= points["point"])
            & (points["point"] < intervals["end"]),
        ).collect()
    }
    assert got == want and len(want) > 50

    # un-keyed variant and column collision handling
    p2 = points.drop("k")
    i2 = intervals.withColumnRenamed("k", "point")  # collides with points col
    out = range_join(p2, i2, "point", "start", "end", bin_width=32)
    assert "right_point" in out.columns
    with pytest.raises(ValueError):
        range_join(p2, i2, "point", "start", "end", bin_width=0)


def test_functions_expression_library(spark):
    import plda_spark.functions as pf

    df = spark.createDataFrame([("the quick brown fox",)], "text string")
    out = df.select(
        pf.md5_long(F.col("text")).alias("h"),
        pf.hash_bucket(F.col("text"), 100).alias("b"),
        pf.ngrams(pf.tokens_col("text"), 2).alias("g"),
    ).first()
    assert out["h"] >= 0 and 0 <= out["b"] < 100
    assert out["g"] == ["the quick", "quick brown", "brown fox"]
    emb = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0])], "a array<float>, b array<float>")
    assert emb.select(pf.cosine(F.col("a"), F.col("b")).alias("c")).first()["c"] == 0.0


def test_logreg_separates_and_matches_numpy(spark):
    """Distributed full-batch GD must (a) separate a separable synthetic
    set with high accuracy, (b) be bit-deterministic, and (c) match a
    driver-side numpy twin running the identical standardized updates."""
    from plda_spark.operators import classify

    rng = np.random.default_rng(17)
    n = 400
    X = rng.normal(size=(n, 3)) * [1.0, 5.0, 0.2] + [2.0, -1.0, 0.0]
    true_w = np.array([1.5, -0.4, 3.0])
    y = (X @ true_w + 0.25 * rng.normal(size=n) > 1.0).astype(float)
    rows = [
        (float(X[i, 0]), float(X[i, 1]), float(X[i, 2]), float(y[i]))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "f1 double, f2 double, f3 double, y double")

    w1 = classify.logreg_fit(df, ["f1", "f2", "f3"], "y", iterations=60)
    w2 = classify.logreg_fit(df, ["f1", "f2", "f3"], "y", iterations=60)
    assert np.array_equal(w1, w2)  # deterministic

    scored = classify.logreg_score(df, w1, ["f1", "f2", "f3"])
    acc = scored.where(
        ((F.col("score") > 0.5).cast("int") == F.col("y").cast("int"))
    ).count() / n
    assert acc >= 0.95

    # numpy twin: identical standardized GD (single-sum floats => allclose)
    mean, std = X.mean(axis=0), X.std(axis=0)
    Xs = (X - mean) / std
    w = np.zeros(4)
    for _ in range(60):
        p = 1.0 / (1.0 + np.exp(-(Xs @ w[1:] + w[0])))
        err = p - y
        g = np.concatenate([[err.sum()], Xs.T @ err])
        w = w - 1.0 * (g / n + np.concatenate([[0.0], 1e-6 * w[1:]]))
    expect = np.empty(4)
    expect[1:] = w[1:] / std
    expect[0] = w[0] - float((w[1:] * mean / std).sum())
    assert np.allclose(w1, expect, rtol=1e-8, atol=1e-10)


def test_logreg_quality_pipeline(spark, sf_dir):
    """End-to-end curation shape: quality features -> fit on a labeled
    subset -> score the whole corpus JVM-side."""
    from plda_spark.operators import classify

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = text.quality_score(docs).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    # teachable label: long docs (the classifier sees n_chars, so this
    # is learnable — the point is exercising the distributed plumbing)
    median = feats.agg(F.percentile("n_chars", F.lit(0.5))).collect()[0][0]
    labeled = feats.withColumn("y", (F.col("n_chars") > median).cast("double"))
    fcols = ["alpha_ratio", "stopword_ratio", "n_chars"]
    w = classify.logreg_fit(labeled, fcols, "y", iterations=40)
    scored = classify.logreg_score(labeled, w, fcols)
    acc = scored.where(
        ((F.col("score") > 0.5).cast("int") == F.col("y").cast("int"))
    ).count() / labeled.count()
    assert acc >= 0.9
    # scoring plan stays Python-free (pure codegen projection)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan or "mapInPandas" not in plan


def test_redact_pii(spark):
    rows = [
        (0, "write to alice.smith+x@mail-host.org today"),
        (1, "server at 10.0.255.7 rebooted, call +1 (415) 555-0100 now"),
        (2, "version v1.2 and price 3.50 stay untouched"),
        (3, "no pii here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.redact_pii(docs).collect()}
    assert got[0]["text"] == "write to <EMAIL> today"
    assert got[0]["n_email"] == 1 and got[0]["n_ipv4"] == 0
    assert got[1]["text"] == "server at <IPV4> rebooted, call <PHONE> now"
    assert got[1]["n_ipv4"] == 1 and got[1]["n_phone"] == 1
    # dotted version strings and decimals are NOT IPv4/phone matches
    assert got[2]["n_ipv4"] == 0 and got[2]["n_phone"] == 0
    assert got[2]["text"] == rows[2][1]
    assert got[3]["text"] == "no pii here"


def test_keep_best_prefers_order_cols_then_row(spark):
    from plda_spark.operators import dedup as dd

    rows = [
        (0, "same body", "crawl"),
        (1, "same body", "wiki"),
        (2, "same body", "wiki"),   # tie on source -> min doc_id wins
        (3, "other body", "crawl"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # prefer wiki over crawl: order by a rank expression
    pref = F.when(F.col("source") == "wiki", 0).otherwise(1)
    kept = {r["doc_id"] for r in dd.keep_best(docs, [pref]).collect()}
    assert kept == {1, 3}
    # plain ascending doc_id keeps the first copy
    kept2 = {r["doc_id"] for r in dd.keep_best(docs, ["doc_id"]).collect()}
    assert kept2 == {0, 3}


def test_keep_best_null_order_values_sort_last(spark):
    """A NULL order value must never beat a real one (SQL row_number
    NULLS LAST parity) — Spark's native struct-min would otherwise let
    the NULL-keyed copy win the group."""
    from plda_spark.operators import dedup as dd

    rows = [
        (0, "same body", None),
        (1, "same body", 5),
        (2, "same body", 9),
        (3, "null-only body", None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, rank int")
    kept = {r["doc_id"] for r in dd.keep_best(docs, ["rank"]).collect()}
    assert kept == {1, 3}  # rank=5 beats NULL; all-NULL group falls to row tiebreak


def test_keep_best_is_map_side_combined(spark):
    """The plan must be a partial/final aggregate on the digest (struct
    min plans as SortAggregate with a partial_min before the exchange) —
    no window sort of every duplicate copy."""
    from plda_spark.operators import dedup as dd
    from plda_spark.plans import plan_summary

    docs = spark.createDataFrame(
        [(0, "a", "x")], "doc_id long, text string, source string"
    )
    s = plan_summary(dd.keep_best(docs, ["doc_id"]))
    assert "Window" not in s["plan"]
    assert "partial_min" in s["plan"]  # map-side combine before the shuffle


def test_winnow_pairs_detects_embedded_copy(spark):
    """A block copied into the middle of an unrelated doc must surface
    as a pair (position-robust), and unrelated docs must not."""
    import random

    rng = random.Random(7)
    words = [f"w{i:03d}" for i in range(400)]
    block = " ".join(rng.sample(words, 40))
    base = lambda seed: " ".join(random.Random(seed).choices(words, k=120))
    rows = [
        (0, base(1) + " " + block + " " + base(2)),
        (1, base(3) + " " + block),     # shares the block with 0
        (2, base(4)),                    # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in text.winnow_pairs(docs, min_shared=3).collect()
    }
    assert (0, 1) in got and got[(0, 1)] >= 3
    assert all(p == (0, 1) for p in got), got


def test_winnow_summary_unchanged_by_refactor(spark, sf_dir):
    """winnow() over the shared staged helper must keep its checksum
    behavior (regression pin for the _winnow_staged split)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    out = text.winnow(docs).collect()
    assert len(out) == 50
    for r in out:
        assert r["n_winnow"] <= max(r["n_kgrams"], 0) or r["n_kgrams"] == 0
        assert r["winnow_checksum"] >= 0


# ---------------------------------------------------------------------------
# round-3 extensions: BM25 / profiling / rolling window / PageRank
# ---------------------------------------------------------------------------


def test_bm25_hand_computed(spark):
    import math

    from plda_spark.operators import text as tx

    rows = [
        (0, "spark engine runs the query engine"),
        (1, "query planner"),
        (2, "nothing relevant here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in tx.bm25_score(docs, ["engine", "query"]).collect()}

    # hand oracle (tokenizer: lowercase alnum runs, len>=2 — all qualify)
    dls = [6, 2, 5]
    n, avgdl = 3.0, sum(dls) / 3.0
    k1, b = 1.2, 0.75

    def score(tf, dl, df):
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        return idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * dl / avgdl))

    exp0 = score(2, 6, 1) + score(1, 6, 2)   # engine df=1, query df=2
    exp1 = score(0, 2, 1) + score(1, 2, 2)
    assert got[0]["bm25"] == pytest.approx(exp0, abs=1e-6)
    assert got[0]["n_matched"] == 2
    assert got[1]["bm25"] == pytest.approx(exp1, abs=1e-6)
    assert got[1]["n_matched"] == 1
    assert got[2]["bm25"] == 0.0 and got[2]["n_matched"] == 0


def test_profile_columns_counts_nulls_and_distincts(spark):
    from plda_spark.operators import stats

    rows = [(1.0, 10), (2.0, None), (2.0, 30), (None, 40)]
    df = spark.createDataFrame(rows, "a double, b int")
    got = {r["col_name"]: r for r in stats.profile_columns(df, ["a", "b"]).collect()}
    assert got["a"]["n_rows"] == 4 and got["a"]["n_nulls"] == 1
    assert got["a"]["n_distinct"] == 2
    assert got["a"]["min_val"] == 1.0 and got["a"]["max_val"] == 2.0
    assert got["a"]["mean_val"] == pytest.approx(5.0 / 3, abs=1e-6)
    assert got["b"]["n_nulls"] == 1 and got["b"]["n_distinct"] == 3
    assert got["b"]["mean_val"] == pytest.approx(80 / 3, abs=1e-6)

    with pytest.raises(ValueError):
        stats.profile_columns(df, [])


def test_rolling_daily_counts_window_semantics(spark):
    from plda_spark.operators import stats

    rows = [
        ("u1", "2024-01-01 10:00:00"), ("u1", "2024-01-01 11:00:00"),
        ("u1", "2024-01-05 10:00:00"),
        ("u1", "2024-01-09 10:00:00"),   # day 1 falls OUT of its 7-day window
        ("u2", "2024-01-03 10:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {
        (r["key"], r["day"]): (r["n_day"], r["n_trailing"])
        for r in stats.rolling_daily_counts(df, "user_id", "ts", days=7).collect()
    }
    assert got[("u1", "2024-01-01")] == (2, 2)
    assert got[("u1", "2024-01-05")] == (1, 3)   # includes Jan 1 (within 7 days)
    assert got[("u1", "2024-01-09")] == (1, 2)   # Jan 1 aged out, Jan 5 still in
    assert got[("u2", "2024-01-03")] == (1, 1)


def test_pagerank_matches_numpy_power_iteration(spark):
    """On the driver path (the default for a bounded edge list) and the
    distributed loop (cap 0)."""
    import numpy as np

    from plda_spark.operators import graph

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]  # node 3: no in-links
    df = spark.createDataFrame(edges, "src long, dst long")
    n, d = 4, 0.85
    out = {0: 2, 1: 1, 2: 1, 3: 1}
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        nxt = np.full(n, (1.0 - d) / n)
        for s, t in edges:
            nxt[t] += d * r[s] / out[s]
        r = nxt
    for cap in (graph._DRIVER_MAX_EDGES, 0):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(graph, "_DRIVER_MAX_EDGES", cap)
            got = {
                row["node"]: row["rank"]
                for row in graph.pagerank(df, n_iter=12, damping=0.85).collect()
            }
        for v in range(n):
            assert got[v] == pytest.approx(r[v], abs=1e-12), (cap, v)
        # node 2 has the most in-links -> highest rank; 3 has none -> lowest
        assert max(got, key=got.get) == 2 and min(got, key=got.get) == 3

    with pytest.raises(ValueError):
        graph.pagerank(df, n_iter=0)
    with pytest.raises(ValueError):
        graph.pagerank(df, damping=1.5)


def test_key_skew_report(spark):
    from plda_spark.operators import stats

    rows = [("hot",)] * 6 + [("warm",)] * 3 + [("cold",)]
    df = spark.createDataFrame(rows, "k string")
    got = {r["rank"]: r for r in stats.key_skew(df, "k", k=2).collect()}
    assert len(got) == 2
    assert got[1]["key"] == "hot" and got[1]["cnt"] == 6 and got[1]["share"] == 0.6
    assert got[2]["key"] == "warm" and got[2]["share"] == 0.3
    with pytest.raises(ValueError):
        stats.key_skew(df, "k", k=0)


def test_pagerank_random_graphs_match_numpy(spark):
    """Randomized (seeded) graphs: the power iteration, on the driver path
    and the distributed loop (cap 0), must track the dense numpy
    iteration to float precision, including dangling nodes and
    multi-component graphs."""
    from plda_spark.operators import graph

    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        n = int(rng.integers(5, 16))
        m = int(rng.integers(n, 3 * n))
        edges = list({(int(a), int(b)) for a, b in rng.integers(0, n, (m, 2)) if a != b})
        df = spark.createDataFrame(edges, "src long, dst long")
        nodes = sorted({v for e in edges for v in e})
        idx = {v: i for i, v in enumerate(nodes)}
        nn, d = len(nodes), 0.85
        out = {v: sum(1 for s, _ in edges if s == v) for v in nodes}
        r = np.full(nn, 1.0 / nn)
        for _ in range(6):
            nxt = np.full(nn, (1.0 - d) / nn)
            for s, t in edges:
                nxt[idx[t]] += d * r[idx[s]] / out[s]
            r = nxt
        for cap in (graph._DRIVER_MAX_EDGES, 0):
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(graph, "_DRIVER_MAX_EDGES", cap)
                got = {
                    row["node"]: row["rank"]
                    for row in graph.pagerank(df, n_iter=6, damping=0.85).collect()
                }
            assert set(got) == set(nodes)
            for v in nodes:
                assert got[v] == pytest.approx(r[idx[v]], abs=1e-10), (seed, cap, v)


# Edge lists on which the driver path must match the distributed loop:
# (schema, edges, ppr seeds).  NULL ids, duplicate edges, self-loops,
# dangling nodes, string ids, and seeds repeated or absent from the graph.
_PAGERANK_GRAPHS = {
    "duplicates": ("src long, dst long",
                   [(0, 1), (0, 1), (0, 2), (1, 2), (2, 0), (2, 0)], [0, 0, 1]),
    "self_loops": ("src long, dst long",
                   [(0, 0), (0, 1), (1, 1), (1, 2), (2, 0)], [2, 7]),
    "dangling": ("src long, dst long",
                 [(0, 1), (1, 2), (0, 3), (4, 0), (5, 6)], [4, 99]),
    "null_src": ("src long, dst long",
                 [(0, 1), (None, 1), (None, 2), (1, 0), (2, 1)], [1]),
    "null_dst": ("src int, dst long",
                 [(0, 1), (0, None), (1, None), (1, 0), (2, 1)], [0, 2, 2]),
    "strings": ("src string, dst string",
                [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", None)],
                ["a", "zz", "a"]),
}


@pytest.mark.parametrize("case", sorted(_PAGERANK_GRAPHS))
def test_pagerank_driver_path_matches_spark(spark, case):
    """Within the cap both PageRank operators run in numpy on the driver;
    with the cap forced to 0 they run the distributed loop.  The two give
    the same node set, the same schema, and ranks equal up to the
    summation order."""
    from plda_spark.operators import graph

    schema, edges, seeds = _PAGERANK_GRAPHS[case]
    e = spark.createDataFrame(edges, schema)
    calls = {
        "pagerank": lambda n: graph.pagerank(e, n_iter=n),
        "personalized_pagerank": lambda n: graph.personalized_pagerank(e, seeds, n_iter=n),
    }
    for name, call in calls.items():
        for n_iter in (1, 12):
            got = {}
            for cap in (graph._DRIVER_MAX_EDGES, 0):
                with pytest.MonkeyPatch.context() as mp:
                    mp.setattr(graph, "_DRIVER_MAX_EDGES", cap)
                    out = call(n_iter)
                    got[cap] = (out.schema, {r["node"]: r["rank"] for r in out.collect()})
            (s_drv, r_drv), (s_spark, r_spark) = got.values()
            assert s_drv == s_spark, (name, n_iter)
            assert set(r_drv) == set(r_spark), (name, n_iter)
            for v, rank in r_spark.items():
                assert r_drv[v] == pytest.approx(rank, rel=1e-12, abs=0), (name, n_iter, v)


def test_graph_driver_paths_run_labelled_collect_jobs(spark):
    """A warm 100-node ``pagerank`` runs at most 3 Spark jobs before it
    returns, all of them its one bounded collect, labelled
    ``graph.pagerank:collect`` in the status store; a bounded
    ``connected_components`` labels its collect
    ``dedup.connected_components:collect``.  The caller's job group and
    description come back unchanged."""
    from plda_spark.operators import graph

    from .test_train import _job_labels

    ids = spark.range(400)
    e = ids.select((F.col("id") * 7 % 100).alias("src"), (F.col("id") * 13 % 100).alias("dst"))
    pairs = ids.select(F.col("id").alias("doc_a"), (F.col("id") % 37).alias("doc_b"))
    calls = {
        "graph.pagerank": lambda: graph.pagerank(e, n_iter=3),
        "dedup.connected_components": lambda: dedup.connected_components(pairs),
    }
    sc = spark.sparkContext
    labels = {}
    try:
        for op, call in calls.items():
            call()
            sc.setJobGroup(op, "caller")
            call()
            labels[op] = _job_labels(spark, op)
            assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {r["node"] for r in graph.pagerank(e, n_iter=3).collect()} == set(range(100))
    assert 0 < len(labels["graph.pagerank"]) <= 3, labels
    for op, got in labels.items():
        assert got and set(got) == {f"{op}:collect"}, labels


def test_keep_best_matches_pandas_reference(spark):
    """Randomized (seeded) corpora with planted duplicate groups and a
    sometimes-NULL order column: keep_best must equal a pandas
    row_number(ORDER BY rank NULLS LAST, full row) reference."""
    from plda_spark.operators import dedup as dd

    rng = np.random.default_rng(42)
    rows = []
    for i in range(60):
        text = f"body {int(rng.integers(0, 12))}"       # ~5 copies per group
        rank = None if rng.random() < 0.3 else int(rng.integers(0, 4))
        rows.append((i, text, rank))
    docs = spark.createDataFrame(rows, "doc_id long, text string, rank int")
    got = sorted(r["doc_id"] for r in dd.keep_best(docs, ["rank"]).collect())

    best = {}
    for doc_id, text, rank in rows:
        key = (rank is None, rank if rank is not None else 0, doc_id, text)
        if text not in best or key < best[text][0]:
            best[text] = (key, doc_id)
    expect = sorted(doc_id for _, doc_id in best.values())
    assert got == expect


def test_semantic_dedup_transitive_clusters(spark):
    """A≈B and B≈C (but A·C below threshold) must still collapse to one
    survivor — the transitive semantics that distinguish cluster dedup
    from pair filtering."""
    from plda_spark.operators import dedup as dd

    # chain at 18° steps: adjacent cosine ~0.951 (>= 0.9), ends ~0.809
    import math

    def ang(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg)), 0.0, 0.0]

    rows = [
        (0, ang(0)),
        (1, ang(18)),
        (2, ang(36)),
        (3, [0.0, 0.0, 1.0, 0.0]),  # isolated
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = sorted(
        r["vec_id"]
        for r in dd.semantic_dedup(
            df, dim=4, threshold=0.9, n_cells=2, n_probe=2
        ).collect()
    )
    import numpy as np

    v = {i: np.array(e) / np.linalg.norm(e) for i, e in rows}
    assert v[0] @ v[1] >= 0.9 and v[1] @ v[2] >= 0.9   # chain links
    assert v[0] @ v[2] < 0.9                            # ends below threshold
    assert kept == [0, 3]


def test_pagerank_empty_edges_raises(spark):
    """The same ValueError at call time on the driver path and the
    distributed loop (a cap of -1: no edge list, not even an empty one,
    fits it)."""
    from plda_spark.operators import graph

    empty = spark.createDataFrame([], "src long, dst long")
    for cap in (graph._DRIVER_MAX_EDGES, -1):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(graph, "_DRIVER_MAX_EDGES", cap)
            with pytest.raises(ValueError, match=r"^pagerank: empty edge set \(no nodes\)$"):
                graph.pagerank(empty, n_iter=2)
            with pytest.raises(ValueError, match=r"^personalized_pagerank: empty edge set$"):
                graph.personalized_pagerank(empty, [0], n_iter=2)


def test_zscore_outliers_hand_computed(spark):
    from plda_spark.operators import stats

    vals = [10.0] * 9 + [10.0 + 1.0]  # tight cluster + one mild bump
    rows = [(i, "a", v) for i, v in enumerate(vals)]
    rows += [(100, "a", 1000.0)]                      # extreme outlier
    rows += [(200, "b", 5.0), (201, "b", 5.0)]        # zero-variance group
    rows += [(300, "c", 7.0)]                         # singleton group
    df = spark.createDataFrame(rows, "event_id long, grp string, value double")
    got = stats.zscore_outliers(df, ["grp"], "value", "event_id", 3.0).collect()
    assert [r["id"] for r in got] == [100]
    import statistics

    xs = vals + [1000.0]
    z = (1000.0 - statistics.mean(xs)) / statistics.stdev(xs)
    assert got[0]["z"] == pytest.approx(z, abs=1e-6)


def test_fill_daily_gaps_dense_grid(spark):
    from plda_spark.operators import stats

    rows = [
        ("u1", "2024-01-01 09:00:00"), ("u1", "2024-01-01 10:00:00"),
        ("u1", "2024-01-04 09:00:00"),
        ("u2", "2024-02-01 12:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {(r["key"], r["day"]): r["n_day"]
           for r in stats.fill_daily_gaps(df, "user_id", "ts").collect()}
    assert got == {
        ("u1", "2024-01-01"): 2,
        ("u1", "2024-01-02"): 0,
        ("u1", "2024-01-03"): 0,
        ("u1", "2024-01-04"): 1,
        ("u2", "2024-02-01"): 1,
    }


def test_mixture_rates_downsamples_to_target(spark):
    from plda_spark.operators import curation

    rows = [
        (0, "web", 800), (1, "web", 200),   # web: 1000 tokens (dominant)
        (2, "code", 250),                    # code: 250
        (3, "books", 250),                   # books: 250
        (4, "junk", 500),                    # not in targets -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    got = {r["source"]: r for r in curation.mixture_rates(
        df, "source", {"web": 0.5, "code": 0.25, "books": 0.25},
        token_count_col="n_tok").collect()}
    assert got["junk"]["rate"] == 0.0 and got["junk"]["target"] == 0.0
    # shares: web .5, code .125, books .125 of 2000 total
    assert got["web"]["share"] == 0.5 and got["code"]["share"] == 0.125
    # raw = target/share: web 1.0, code 2.0, books 2.0 -> max=2 -> rates .5, 1, 1
    assert got["code"]["rate"] == 1.0 and got["books"]["rate"] == 1.0
    assert got["web"]["rate"] == 0.5
    # realized mixture: web 1000*.5=500, code 250, books 250 => 50/25/25
    with pytest.raises(ValueError):
        curation.mixture_rates(df, "source", {})


def test_audio_windowing_math(spark):
    """Window counts must follow n_win = floor((total-400)/160)+1 with
    total = n_frames*160; clips shorter than one window emit nothing;
    features are the digest arithmetic at the window's salt."""
    rows = [
        (0, b"abc", "audio", 1, 1, 10, 16000),   # total 1600 -> 8 windows
        (1, b"def", "audio", 1, 1, 2, 16000),    # total 320 < 400 -> none
        (2, b"ghi", "video", 1, 1, 90, 16000),   # wrong modality -> none
        (3, b"jkl", "audio", 1, 1, 3, 16000),    # total 480 -> 1 window
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = multimodal.extract_audio_windows(media).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r["media_id"], []).append(r)
    assert sorted(by_id) == [0, 3]
    assert sorted(r["window_idx"] for r in by_id[0]) == list(range(8))
    assert [r["window_idx"] for r in by_id[3]] == [0]
    # feature check vs the digest formula
    import hashlib

    P = 2_147_483_647
    h = int(hashlib.md5(b"abc").hexdigest()[:15], 16) % P
    w3 = next(r for r in by_id[0] if r["window_idx"] == 3)
    expect = [((h + 3 * 2654435761) % P) * (2 * d + 3) % P for d in range(16)]
    assert [int(v) for v in w3["window_features"]] == expect

    with pytest.raises(ValueError):
        multimodal.extract_audio_windows(media, decode_backend="nope")


def test_fuzzy_pairs_matches_brute_force(spark):
    """SymSpell deletion-neighborhood blocking must be COMPLETE: the
    blocked plan equals the all-pairs levenshtein filter on a set built
    to cover every edit kind (substitution, insertion, deletion,
    transposition > 1, equal strings under distinct ids) at d=1 and 2."""
    from plda_spark.operators import joins

    names = [
        "alpha", "alphq",      # substitution (d1)
        "alpah",               # transposition (d2 from alpha)
        "alphax", "alph",      # insertion / deletion vs alpha (d1)
        "beta", "beta",        # exact dup under two ids (d0)
        "gamma", "delta",      # unrelated
        "", "a",               # empty-string edges
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(names)], "id bigint, s string"
    )
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    for d in (1, 2):
        got = {
            (r["id_a"], r["id_b"], r["dist"])
            for r in joins.fuzzy_pairs(df, "s", "id", max_dist=d).collect()
        }
        want = {
            (i, j, lev(a, b))
            for (i, a), (j, b) in itertools.combinations(enumerate(names), 2)
            if lev(a, b) <= d
        }
        assert got == want, f"d={d}"


def test_fuzzy_join_two_tables(spark):
    from plda_spark.operators import joins

    left = spark.createDataFrame(
        [(1, "acme corp"), (2, "zzzz")], "lid bigint, name string"
    )
    right = spark.createDataFrame(
        [(10, "acme c0rp"), (11, "acme corp"), (12, "other")],
        "rid bigint, name string",
    )
    got = joins.fuzzy_join(left, right, "name", "name", max_dist=1).collect()
    matches = {(r["lid"], r["rid"], r["dist"]) for r in got}
    assert matches == {(1, 10, 1), (1, 11, 0)}
    # right's colliding column is prefixed
    assert "right_name" in joins.fuzzy_join(left, right, "name", "name").columns


def test_fuzzy_pairs_plan_is_equi_join(spark):
    """The blocked plan must contain no cartesian/broadcast-nested-loop
    node — blocking turns the theta join into a hash equi-join."""
    from plda_spark.operators import joins

    df = spark.createDataFrame([(1, "ab"), (2, "ac")], "id bigint, s string")
    plan = joins.fuzzy_pairs(df, "s", "id")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    with pytest.raises(ValueError):
        joins.fuzzy_pairs(df, "s", "id", max_dist=0)


def test_histogram_bins_and_spine(spark):
    from plda_spark.operators import stats

    df = spark.createDataFrame(
        [(v,) for v in [0.0, 5.0, 9.99, 10.0, 25.0, 39.9, -1.0, 40.0, 100.0]],
        "x double",
    )
    got = {r["bin"]: r for r in stats.histogram(df, "x", 0.0, 40.0, 4).collect()}
    assert sorted(got) == [0, 1, 2, 3]           # empty bins present
    assert got[0]["n"] == 3 and got[1]["n"] == 1 # [0,10): 0,5,9.99; [10,20): 10
    assert got[2]["n"] == 1 and got[3]["n"] == 1 # 25; 39.9
    assert got[1]["bin_lo"] == 10.0 and got[1]["bin_hi"] == 20.0
    # -1, 40 (== hi), 100 dropped: total in-range mass is 6
    assert sum(r["n"] for r in got.values()) == 6
    with pytest.raises(ValueError):
        stats.histogram(df, "x", 0.0, 40.0, 0)
    with pytest.raises(ValueError):
        stats.histogram(df, "x", 4.0, 4.0, 2)


def test_normalize_url_rules(spark):
    from plda_spark.operators import web

    cases = {
        "HTTP://WWW.Example.COM:80/A/B#frag": "http://www.example.com/A/B",
        "https://Host.com:443/": "https://host.com",
        "https://host.com:8443/x": "https://host.com:8443/x",  # non-default kept
        "http://h.com/p?utm_source=a&q=1&utm_medium=b": "http://h.com/p?q=1",
        "http://h.com/p?utm_source=a": "http://h.com/p",
        "http://h.com/p?fbclid=xyz&gclid=2": "http://h.com/p",
        "  http://h.com  ": "http://h.com",
        "http://h.com/": "http://h.com",
        "http://h.com/deep/": "http://h.com/deep/",  # only root slash collapses
        "not a url": "not a url",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {r["url"]: r["url_norm"] for r in web.normalize_url(df).collect()}
    for raw, want in cases.items():
        assert got[raw] == want, (raw, got[raw], want)


def test_url_dedup_keeps_first_crawled(spark):
    from plda_spark.operators import web

    rows = [
        (5, "http://A.com/x?utm_source=1"),
        (3, "http://a.com/x"),
        (9, "HTTP://a.com/x#top"),
        (1, "http://b.com/only"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    got = web.url_dedup(df).collect()
    assert len(got) == 1
    assert got[0]["url_norm"] == "http://a.com/x"
    assert got[0]["n_dups"] == 3 and got[0]["keep_id"] == 3


def test_ewma_recurrence_hand_computed(spark):
    from plda_spark.operators import stats

    rows = [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 0.0), ("b", 1, 4.0)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = {(r["key"], r["ts"]): r["ewma"]
           for r in stats.ewma(df, "k", "t", "v", alpha=0.5).collect()}
    assert got[("a", 1)] == 10.0
    assert got[("a", 2)] == 15.0          # .5*20 + .5*10
    assert got[("a", 3)] == 7.5           # .5*0 + .5*15
    assert got[("b", 1)] == 4.0           # series of one
    with pytest.raises(ValueError):
        stats.ewma(df, "k", "t", "v", alpha=0.0)


def test_funnel_first_touch_ordering(spark):
    from plda_spark.operators import events as ev

    rows = [
        # u1 completes A -> B -> C in order
        (1, 1.0, "A"), (1, 2.0, "B"), (1, 3.0, "C"),
        # u2 does B before A: only A counts after its first touch
        (2, 1.0, "B"), (2, 2.0, "A"),
        # u3 same-timestamp B is NOT strictly after A
        (3, 1.0, "A"), (3, 1.0, "B"),
        # u4 never does A but does B/C
        (4, 1.0, "B"), (4, 2.0, "C"),
        # u5 A then C then B then C: B must follow A, C must follow B
        (5, 1.0, "A"), (5, 2.0, "C"), (5, 3.0, "B"), (5, 4.0, "C"),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts double, event_type string")
    prog = {r["user"]: r["steps_completed"]
            for r in ev.funnel_progress(df, ["A", "B", "C"]).collect()}
    assert prog == {1: 3, 2: 1, 3: 1, 4: 0, 5: 3}
    summary = {r["step"]: r["n_users"]
               for r in ev.funnel(df, ["A", "B", "C"]).collect()}
    assert summary == {"A": 4, "B": 2, "C": 2}
    with pytest.raises(ValueError):
        ev.funnel_progress(df, ["A", "A"])


def test_retention_cohorts_triangle(spark):
    from plda_spark.operators import events as ev
    import datetime as dt

    # two cohorts: week of 2024-01-01 (Mon) and week of 2024-01-08
    rows = [
        (1, dt.datetime(2024, 1, 2)),   # cohort w0
        (1, dt.datetime(2024, 1, 10)),  # active w1
        (1, dt.datetime(2024, 1, 16)),  # active w2
        (2, dt.datetime(2024, 1, 3)),   # cohort w0, never returns
        (3, dt.datetime(2024, 1, 9)),   # cohort w1
        (3, dt.datetime(2024, 1, 17)),  # active +1
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    got = {(r["cohort_week"], r["weeks_since"]): r["n_active"]
           for r in ev.retention_cohorts(df).collect()}
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
        ("2024-01-08", 1): 1,
    }


def test_calibrate_scores_percentiles(spark):
    from plda_spark.operators import curation

    rows = [("w", 1.0), ("w", 2.0), ("w", 3.0), ("c", 100.0), ("c", 200.0)]
    df = spark.createDataFrame(rows, "src string, score double")
    got = sorted(
        (r["src"], r["score"], r["calibrated"])
        for r in curation.calibrate_scores(df, "score", "src").collect()
    )
    assert got == [
        ("c", 100.0, 0.0), ("c", 200.0, 1.0),
        ("w", 1.0, 0.0), ("w", 2.0, 0.5), ("w", 3.0, 1.0),
    ]


def _ref_bpe(word_counts, num_merges, min_count=2):
    """Pure-Python reference of the published word-level BPE trainer
    (count adjacent pairs over the word-frequency dict, merge argmax,
    repeat) with the operator's deterministic tie-break."""
    vocab = {tuple(list(w) + ["</w>"]): n for w, n in word_counts.items()}
    merges = []
    for _ in range(num_merges):
        stats = {}
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                stats[p] = stats.get(p, 0) + n
        if not stats:
            break
        (a, b), cnt = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_count:
            break
        merges.append((a, b))
        new = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + n
        vocab = new
    return merges


def _ref_encode(text, merges):
    import re as _re

    toks = []
    for w in _re.split(r"[^a-z0-9]+", text.lower()):
        if not w:
            continue
        syms = list(w) + ["</w>"]
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        toks.extend(syms)
    return toks


def test_bpe_train_matches_reference(spark, monkeypatch):
    from collections import Counter
    import re as _re

    from plda_spark.operators import bpe

    texts = [
        "low lower lowest newer newest",
        "the new widow saw the widest low wall",
        "newer lower slower widest",
        "aaa aaaa abab low low low",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id bigint, text string")
    wc = Counter(
        w for t in texts for w in _re.split(r"[^a-z0-9]+", t.lower()) if w
    )
    monkeypatch.setattr(bpe, "_CHECKPOINT_EVERY", 3)
    # the driver cutover (default for bounded word tables) must produce
    # the sequential merge list
    assert bpe.bpe_train(df, 12) == _ref_bpe(wc, 12)
    # every later call runs the distributed sweeps
    monkeypatch.setattr(bpe, "_DRIVER_MAX_WORDS", 0)
    for n_merges in (1, 5, 12):
        got = bpe.bpe_train(df, n_merges)
        want = _ref_bpe(wc, n_merges)
        assert got == want, (n_merges, got, want)

    # batched sweeps must reproduce the sequential merge list exactly,
    # for every batch size — including the conflict-heavy case where
    # consecutive top pairs share symbols (the sweep must stop at the
    # first conflict, not skip past it)
    for m in (1, 2, 4, 16):
        monkeypatch.setattr(bpe, "_BATCH_MERGES", m)
        got = bpe.bpe_train(df, 12)
        assert got == _ref_bpe(wc, 12), (m, got)
    monkeypatch.setattr(bpe, "_CHECKPOINT_EVERY", 8)
    adv = spark.createDataFrame(
        [(0, "aaaa aaab aaba abaa baaa aabb abab")],
        "doc_id bigint, text string",
    )
    adv_wc = {"aaaa": 1, "aaab": 1, "aaba": 1, "abaa": 1, "baaa": 1,
              "aabb": 1, "abab": 1}
    for m in (1, 3, 8):
        monkeypatch.setattr(bpe, "_BATCH_MERGES", m)
        got = bpe.bpe_train(adv, 10, min_count=1)
        assert got == _ref_bpe(adv_wc, 10, min_count=1), (m, got)

    # seeded-random tie-heavy corpus (3-letter alphabet => constant
    # count collisions, the exact regime where a naive batch rule
    # diverges from the sequential algorithm)
    import random as _random

    rng = _random.Random(7)
    words = [
        "".join(rng.choice("abc") for _ in range(rng.randint(2, 6)))
        for _ in range(60)
    ]
    rnd_wc = Counter(words)
    rnd_df = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id bigint, text string"
    )
    want = _ref_bpe(rnd_wc, 20, min_count=1)
    for m in (1, 4, 16):
        monkeypatch.setattr(bpe, "_BATCH_MERGES", m)
        got = bpe.bpe_train(rnd_df, 20, min_count=1)
        assert got == want, (m, got, want)

    # symbol-collision regime: a 2-letter alphabet with long words makes
    # distinct merge paths spell the same string (a+ba vs ab+a -> "aba"),
    # the one case where applying a merge INCREASES an existing pair's
    # count — sweep-stop rule (c) must keep exact sequential parity
    rng2 = _random.Random(23)
    words2 = [
        "".join(rng2.choice("ab") for _ in range(rng2.randint(3, 10)))
        for _ in range(80)
    ]
    col_wc = Counter(words2)
    col_df = spark.createDataFrame(
        [(0, " ".join(words2))], "doc_id bigint, text string"
    )
    want2 = _ref_bpe(col_wc, 30, min_count=1)
    for m in (4, 16):
        monkeypatch.setattr(bpe, "_BATCH_MERGES", m)
        got = bpe.bpe_train(col_df, 30, min_count=1)
        assert got == want2, (m, got, want2)

    monkeypatch.undo()
    merges = bpe.bpe_train(df, 8)
    enc = {r["doc_id"]: (r["tokens"], r["n_tokens"])
           for r in bpe.bpe_encode(df, merges).collect()}
    for i, t in enumerate(texts):
        want_toks = _ref_encode(t, merges)
        assert enc[i] == (want_toks, len(want_toks)), (i, enc[i], want_toks)


def test_byte_bpe_matches_reference(spark):
    """Byte-level BPE (GPT-2 remap, case/space-preserving pretokens):
    batched sweeps reproduce the sequential reference merge list
    EXACTLY at batch sizes 1/4/16 across three merge counts, on a
    corpus with multi-byte UTF-8 (accents + CJK — each becomes 2-3
    remapped byte symbols); encode matches the reference re-apply."""
    import re as _re
    from collections import Counter

    from plda_spark.operators import bpe, byte_bpe as bb

    B2U = bb.bytes_to_unicode()
    # the remap is the published bijection: 94+12+82 printable
    # identity bytes, 68 escapes starting at U+0100
    assert len(B2U) == 256 and len(set(B2U.values())) == 256
    assert B2U[ord(" ")] == "Ġ" and B2U[ord("A")] == "A"
    assert B2U[0] == "Ā"

    def to_syms(pt):
        return [B2U[b] for b in pt.encode("utf-8")]

    def apply_merge(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    def ref_train(texts, num_merges, min_count=1):
        wc = Counter(
            pt for t in texts for pt in _re.findall(bb.PRETOKEN_RE, t)
        )
        vocab: dict = {}
        for w, n in wc.items():
            k = tuple(to_syms(w))
            vocab[k] = vocab.get(k, 0) + n
        merges = []
        for _ in range(num_merges):
            pc = Counter()
            for syms, n in vocab.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += n
            cands = sorted(
                ((c, p) for p, c in pc.items() if c >= min_count),
                key=lambda x: (-x[0], x[1]),
            )
            if not cands:
                break
            a, b = cands[0][1]
            merges.append((a, b))
            new: dict = {}
            for syms, n in vocab.items():
                k = tuple(apply_merge(list(syms), a, b))
                new[k] = new.get(k, 0) + n
            vocab = new
        return merges

    texts = [
        "The low lower lowest, newer newest!",
        "the new widow saw the éclair café 日本",
        "newer lower slower widest 123 456",
        "aaa aaaa abab low low low  spaced\tout\nlines",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    # driver-cutover path (default) must match the reference
    assert bb.byte_bpe_train(df, 10, min_count=1) == ref_train(texts, 10)
    # and so must the distributed sweeps, at every batch size
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(bpe, "_DRIVER_MAX_WORDS", 0)
        for m in (1, 4, 16):
            mp.setattr(bpe, "_BATCH_MERGES", m)
            for nm in (3, 10, 20):
                got = bb.byte_bpe_train(df, nm, min_count=1)
                assert got == ref_train(texts, nm), (m, nm, got)
    merges = bb.byte_bpe_train(df, 12, min_count=1)
    enc = {
        r["doc_id"]: (r["tokens"], r["n_tokens"])
        for r in bb.byte_bpe_encode(df, merges).collect()
    }
    for i, t in enumerate(texts):
        syms = []
        for pt in _re.findall(bb.PRETOKEN_RE, t):
            s = to_syms(pt)
            for a, b in merges:
                s = apply_merge(s, a, b)
            syms += s
        assert enc[i] == (syms, len(syms)), (i, enc[i][0][:8], syms[:8])

    # min_count respected + validation
    assert bb.byte_bpe_train(df, 5, min_count=10**6) == []
    with pytest.raises(ValueError):
        bb.byte_bpe_train(df, 0)


def test_bpe_early_stop_and_validation(spark):
    from plda_spark.operators import bpe

    df = spark.createDataFrame([(0, "x y z")], "doc_id bigint, text string")
    # every word is a single char + </w>: pairs occur once each -> with
    # min_count=2 nothing merges
    assert bpe.bpe_train(df, 10, min_count=2) == []
    # min_count=1 merges exist and terminate before num_merges
    m = bpe.bpe_train(df, 50, min_count=1)
    assert 0 < len(m) <= 3
    import pytest as _pytest
    with _pytest.raises(ValueError):
        bpe.bpe_train(df, 0)
    with _pytest.raises(ValueError):
        bpe.bpe_train(df, 1, min_count=0)


def test_gopher_repetition_hand_computed(spark):
    """Crafted docs with known repetition structure: a fully duplicated
    line pair, a dominant 2-gram, and a repeated 5-gram — each fraction
    checked against hand arithmetic."""
    rows = [
        # two identical lines + one unique: dup_line_frac = 2/3;
        # chars: 2*5 / (5+5+6)
        (0, "aaaaa\naaaaa\nbbbbbb"),
        # 'x y' repeated: tokens x y x y x -> 2-grams: 'x y','y x','x y','y x'
        # top mass = 2*len('x y')=6; total = 4*3=12 -> 0.5
        (1, "x y x y x"),
        # 12 tokens, period 5 -> 8 5-grams; 'a b c d e' (1,6),
        # 'b c d e a' (2,7), 'c d e a b' (3,8) each duplicated ->
        # 6 of 8 occurrences are duplicate mass
        (2, "a b c d e a b c d e a b"),
        (3, ""),  # empty: every fraction 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.gopher_repetition(df).collect()}
    assert got[0]["dup_line_frac"] == round(2 / 3, 4)
    assert got[0]["dup_line_char_frac"] == round(10 / 16, 4)
    assert got[1]["top_2gram_char_frac"] == 0.5
    assert got[2]["dup_5gram_char_frac"] == round(6 * 9 / (8 * 9), 4)
    r3 = got[3]
    assert all(
        r3[c] == 0.0 for c in r3.asDict() if c != "doc_id"
    )


def test_gopher_ellipsis_symbol_ratio(spark):
    """The paper's 0.1 symbol-to-word threshold applies to the ellipsis
    too (Rae et al. 2021 §A.1.1), counted as non-overlapping ``...``/
    ``…`` occurrences per word — ``....`` is ONE occurrence (str.count
    semantics), and the unicode ellipsis counts like the ASCII one."""
    rows = [
        # 10 words, two "..." -> ratio 0.2 -> fails the symbol rule
        (0, "a... b... c d e f g h i j"),
        # 10 words, "...." is one occurrence + one "…" -> ratio 0.2
        (1, "a.... b… c d e f g h i j"),
        # 20 words, one "..." -> ratio 0.05 -> passes the symbol rule
        (2, "a... " + " ".join("w%d" % i for i in range(19))),
        (3, "no ellipsis here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.gopher_filters(df).collect()}
    assert got[0]["ellipsis_symbol_ratio"] == 0.2
    assert not got[0]["ok_ellipsis_symbol"] and not got[0]["gopher_pass"]
    assert got[1]["ellipsis_symbol_ratio"] == 0.2
    assert not got[1]["ok_ellipsis_symbol"]
    assert got[2]["ellipsis_symbol_ratio"] == 0.05
    assert got[2]["ok_ellipsis_symbol"]
    assert got[3]["ellipsis_symbol_ratio"] == 0.0
    assert got[3]["ok_ellipsis_symbol"]


def test_reservoir_per_group_exact_k_and_stability(spark):
    from plda_spark.operators.sampling import reservoir_per_group

    rows = [(i, "g%d" % (i % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    got = reservoir_per_group(df, "source", k=5, key_col="doc_id").collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r["source"], set()).add(r["doc_id"])
    assert all(len(v) == 5 for v in by_g.values()) and len(by_g) == 3
    # deterministic across invocations
    again = reservoir_per_group(df, "source", k=5, key_col="doc_id").collect()
    assert {(r["doc_id"], r["sample_rank"]) for r in got} == {
        (r["doc_id"], r["sample_rank"]) for r in again
    }
    # adding rows only displaces the boundary: old members stay unless
    # a new row hash-ranks ahead of them
    bigger = spark.createDataFrame(
        rows + [(i, "g%d" % (i % 3)) for i in range(60, 90)],
        "doc_id bigint, source string",
    )
    got2 = {r["doc_id"] for r in
            reservoir_per_group(bigger, "source", k=5, key_col="doc_id").collect()}
    kept = {r["doc_id"] for r in got}
    # at least the hash-smallest survivors remain members
    assert len(kept & got2) >= 5
    # k smaller than the group never errors; k <= 0 does
    import pytest as _p
    with _p.raises(ValueError):
        reservoir_per_group(df, "source", k=0)


def test_triangles_hand_computed_and_normalized(spark):
    from plda_spark.operators import graph

    # K4 on {1,2,3,4} = 4 triangles; plus pendant 5 and a separate
    # triangle {6,7,8}; noisy input: duplicates, reversed, self-loop
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (4, 5),
        (6, 7), (7, 8), (8, 6),
        (2, 1), (3, 1), (1, 1), (6, 7),
    ]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    assert graph.triangles(df).collect()[0]["n_triangles"] == 5
    # triangle-free graph
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "src bigint, dst bigint")
    assert graph.triangles(star).collect()[0]["n_triangles"] == 0


def test_triangles_random_graph_matches_networkx_free_count(spark):
    import itertools
    import random

    from plda_spark.operators import graph

    rng = random.Random(11)
    nodes = list(range(20))
    edges = [(a, b) for a, b in itertools.combinations(nodes, 2) if rng.random() < 0.3]
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = sum(
        1 for a, b, c in itertools.combinations(nodes, 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    assert graph.triangles(df).collect()[0]["n_triangles"] == want


def test_mad_outliers_hand_computed(spark):
    from plda_spark.operators import stats

    # group g: values 1..9 plus outlier 100 -> median 5.5, MAD 2.5
    # mad_z(100) = .6745*(100-5.5)/2.5 = 25.49...; inliers all < 3.5
    rows = [("g", i, float(v)) for i, v in enumerate([1,2,3,4,5,6,7,8,9,100])]
    # constant group emits nothing (MAD = 0)
    rows += [("c", 100 + i, 7.0) for i in range(5)]
    df = spark.createDataFrame(rows, "grp string, id bigint, v double")
    got = stats.mad_outliers(df, "grp", "v", "id")
    out = got.collect()
    assert len(out) == 1 and out[0]["id"] == 9
    assert abs(out[0]["mad_z"] - 0.6745 * (100 - 5.5) / 2.5) < 1e-6
    assert out[0]["grp"] == "g" and out[0]["value"] == 100.0


def test_pq_exact_when_codebooks_are_lossless(spark):
    """Vectors built on a lattice of <= k distinct subvectors per
    subspace quantize losslessly, so ADC distance equals true squared
    L2 and pq_topk equals the exact neighbor ranking."""
    import itertools
    import numpy as np

    from plda_spark.operators import similarity as sim

    pts = [(0.0, 0.0), (4.0, 0.0), (0.0, 4.0), (4.0, 4.0)]  # per-subspace lattice
    vecs = [list(itertools.chain(*combo))
            for combo in itertools.product(pts, repeat=3)]  # dim 6, 64 vectors
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    books = sim.pq_train(df, dim=6, m=3, k=4, train_sample=64)
    # codebooks must recover the lattice exactly
    for j in range(3):
        got = {tuple(np.round(c, 6)) for c in books[j]}
        assert got == {tuple(p) for p in pts}, (j, got)
    codes = sim.pq_encode(df, books)
    q = df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = sim.pq_topk(codes, q, books, k=6).collect()
    # true L2 ranking from vector 0 (ties broken by vec_id ascending)
    v0 = np.array(vecs[0])
    d = sorted(
        (float(((np.array(v) - v0) ** 2).sum()), i)
        for i, v in enumerate(vecs) if i != 0
    )
    want = [i for _, i in d[:6]]
    got_ids = [r["vec_id"] for r in sorted(top, key=lambda r: r["rank"])]
    assert got_ids == want
    # adist equals the true squared distance (lossless codes)
    for r in top:
        assert abs(r["adist"] - ((np.array(vecs[r["vec_id"]]) - v0) ** 2).sum()) < 1e-6


def test_pq_refined_recall_on_embeddings(spark, sf_dir):
    """Two-stage ADC shortlist + exact re-rank must recover >= 80% of
    the true cosine top-10 on the synthetic embeddings (deterministic
    seeds; measured 0.88 at these settings)."""
    from plda_spark.operators import similarity as sim

    emb = sim.normalize_embeddings(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = sim.pq_train(emb, dim=64, m=16, k=32)
    codes = sim.pq_encode(emb, books)
    got = {
        (r["query_id"], r["vec_id"])
        for r in sim.pq_topk_refined(emb, codes, q, books, k=10, oversample=5).collect()
    }
    want = {
        (r["query_id"], r["vec_id"])
        for r in sim.brute_force_topk(emb, q, k=10).collect()
    }
    assert len(got & want) / len(want) >= 0.8
    import pytest as _p
    with _p.raises(ValueError):
        sim.pq_train(emb, dim=64, m=7)


def test_hll_rollup_merges_exactly_and_estimates_closely(spark, sf_dir):
    from plda_spark.operators import stats
    from plda_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    daily = stats.hll_daily_sketches(ev).cache()
    # mergeability: union of per-day sketches == one-shot sketch (same
    # algorithm, associative merge -> identical estimate, not just close)
    whole = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("e")
    ).collect()[0]["e"]
    merged = stats.hll_estimate_range(daily).collect()[0]["n_distinct"]
    assert merged == whole
    # accuracy: within 5% of the exact distinct count
    exact = ev.select("user_id").distinct().count()
    assert abs(merged - exact) / exact < 0.05
    # range query: subrange estimate equals sketching just that span
    sub = stats.hll_estimate_range(daily, "2024-01-05", "2024-01-10").collect()[0]["n_distinct"]
    span = ev.where(
        (F.to_date("ts").cast("string") >= "2024-01-05")
        & (F.to_date("ts").cast("string") <= "2024-01-10")
    )
    span_direct = span.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("e")
    ).collect()[0]["e"]
    assert sub == span_direct
    daily.unpersist()


def test_dsir_weights_favor_target_distribution(spark):
    """Docs written in the target's vocabulary must out-score docs written
    in the off-target vocabulary, and weights must be finite for tokens
    unseen in the target (Laplace smoothing)."""
    from plda_spark.operators import curation

    target_words = "alpha beta gamma delta epsilon"
    offtarget_words = "zork quux blarg wibble frotz"
    rows = [
        (0, target_words, "t"),
        (1, target_words + " alpha beta", "t"),
        (2, offtarget_words, "o"),
        (3, offtarget_words + " zork quux", "o"),
        (4, "alpha beta zork", "mixed"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, kind string")
    target = docs.where(docs.kind == "t")
    w = {
        r["doc_id"]: r["dsir_logweight"]
        for r in curation.dsir_weights(docs, target, num_buckets=64).collect()
    }
    assert len(w) == 5 and all(v == v for v in w.values())  # finite, no NaN
    assert min(w[0], w[1]) > w[4] > max(w[2], w[3])

    sel = curation.dsir_select(docs, target, quota=2, num_buckets=64)
    assert {r["doc_id"] for r in sel.select("doc_id").collect()} == {0, 1}
    assert set(sel.columns) == set(docs.columns) | {"dsir_logweight"}

    with pytest.raises(ValueError):
        curation.dsir_weights(docs, target, num_buckets=0)
    with pytest.raises(ValueError):
        curation.dsir_weights(docs, target, smoothing=0.0)


def test_dsir_weight_table_is_broadcast(spark):
    """The bucket-weight table must reach the per-doc counts via a
    broadcast join — the corpus must never be the build side."""
    from plda_spark.operators import curation

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(10)], "doc_id long, text string"
    )
    plan = curation.dsir_weights(
        docs, docs.limit(5), num_buckets=32
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dedup_spans_first_occurrence_semantics(spark):
    from plda_spark.operators import dedup

    rows = [
        (0, "aa bb cc dd"),        # spans (k=2): "aa bb", "cc dd"
        (1, "aa bb cc dd"),        # exact copy: keeps nothing
        (2, "cc dd ee ff"),        # shares "cc dd" with doc 0 -> keeps "ee ff"
        (3, "gg hh gg hh"),        # within-doc repeat: keeps first only
        (4, "!!"),                 # tokenizes to nothing -> excluded
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_spans"], r["n_kept"], r["dedup_digest"])
        for r in dedup.dedup_spans(docs, span_tokens=2).collect()
    }
    assert set(got) == {0, 1, 2, 3}
    assert got[0][:2] == (2, 2)
    assert got[1][:2] == (2, 0)
    assert got[2][:2] == (2, 1)
    assert got[3][:2] == (2, 1)
    import hashlib

    assert got[2][2] == hashlib.md5(b"ee ff").hexdigest()
    assert got[1][2] == hashlib.md5(b"").hexdigest()
    assert got[3][2] == hashlib.md5(b"gg hh").hexdigest()

    # return_text=True adds the rebuilt text itself
    wt = {
        r["doc_id"]: r["dedup_text"]
        for r in dedup.dedup_spans(docs, span_tokens=2, return_text=True).collect()
    }
    assert wt[2] == "ee ff" and wt[1] == "" and wt[3] == "gg hh"

    with pytest.raises(ValueError):
        dedup.dedup_spans(docs, span_tokens=0)


def test_asof_join_forward_and_nearest(spark):
    """Forward picks the earliest right row at-or-after; nearest picks the
    closer side with backward winning exact ties; tolerance gates both."""
    from plda_spark.operators import joins

    left = spark.createDataFrame(
        [(1, 10), (1, 25), (1, 100), (2, 5)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 8, "a"), (1, 20, "b"), (1, 30, "c"), (2, 50, "z")],
        "k long, ts long, v string",
    )

    fwd = {
        (r["k"], r["ts"]): r["right_v"]
        for r in joins.as_of_join(left, right, on="k", direction="forward").collect()
    }
    assert fwd == {(1, 10): "b", (1, 25): "c", (1, 100): None, (2, 5): "z"}

    near = {
        (r["k"], r["ts"]): r["right_v"]
        for r in joins.as_of_join(left, right, on="k", direction="nearest").collect()
    }
    # ts=25: backward b at 20 (d=5) beats forward c at 30 (d=5) on the tie
    assert near == {(1, 10): "a", (1, 25): "b", (1, 100): "c", (2, 5): "z"}

    tol = {
        (r["k"], r["ts"]): r["right_v"]
        for r in joins.as_of_join(
            left, right, on="k", direction="nearest", tolerance=F.lit(10)
        ).collect()
    }
    assert tol == {(1, 10): "a", (1, 25): "b", (1, 100): None, (2, 5): None}

    with pytest.raises(ValueError):
        joins.as_of_join(left, right, on="k", direction="sideways")


def test_cms_upper_bound_and_mergeability(spark):
    """CMS estimates are >= true counts; merging day sketches over a span
    equals sketching the span directly; sane validation errors."""
    from plda_spark.operators import stats

    rows = []
    for day, uid, n in [(1, 7, 5), (1, 8, 2), (2, 7, 3), (3, 9, 4)]:
        rows += [(f"2024-02-0{day} 00:00:0{i}", uid) for i in range(n)]
    ev = spark.createDataFrame(rows, "ts string, user_id long").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    sk = stats.cms_daily_sketches(ev, "user_id", "ts", depth=3, width=16)
    users = ev.select(F.col("user_id").alias("key")).distinct()

    est = {
        r["key"]: r["est"]
        for r in stats.cms_estimate(sk, users, width=16).collect()
    }
    true = {7: 8, 8: 2, 9: 4}
    assert all(est[k] >= v for k, v in true.items())

    # merge(day1..day2) == sketching only those days directly
    est_span = {
        r["key"]: r["est"]
        for r in stats.cms_estimate(
            sk, users, width=16, start_day="2024-02-01", end_day="2024-02-02"
        ).collect()
    }
    direct = stats.cms_daily_sketches(
        ev.where(F.to_date("ts") <= "2024-02-02"), "user_id", "ts",
        depth=3, width=16,
    )
    est_direct = {
        r["key"]: r["est"]
        for r in stats.cms_estimate(direct, users, width=16).collect()
    }
    assert est_span == est_direct
    assert est_span[7] >= 8 and est_span[9] >= 0

    # a day range with NO sketch rows still answers est=0 for every key
    est_empty = {
        r["key"]: r["est"]
        for r in stats.cms_estimate(
            sk, users, width=16, start_day="2030-01-01", end_day="2030-12-31"
        ).collect()
    }
    assert est_empty == {7: 0, 8: 0, 9: 0}

    with pytest.raises(ValueError):
        stats.cms_daily_sketches(ev, depth=0)


def test_temperature_mixture_limits(spark):
    """T=1 reproduces natural shares (rate 1 everywhere); higher T pulls
    targets toward uniform, up-weighting the small source."""
    from plda_spark.operators import curation

    rows = [(0, "big", 900), (1, "small", 100)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")

    t1 = {r["source"]: r for r in curation.temperature_mixture(
        df, "source", temperature=1.0, token_count_col="n_tok").collect()}
    assert t1["big"]["target"] == t1["big"]["share"] == 0.9
    assert t1["big"]["rate"] == 1.0 and t1["small"]["rate"] == 1.0

    t4 = {r["source"]: r for r in curation.temperature_mixture(
        df, "source", temperature=4.0, token_count_col="n_tok").collect()}
    assert t4["small"]["target"] > 0.1 and t4["big"]["target"] < 0.9
    # big source is the one downsampled to realize the flatter mixture
    assert t4["big"]["rate"] < 1.0 and t4["small"]["rate"] == 1.0

    with pytest.raises(ValueError):
        curation.temperature_mixture(df, "source", temperature=0.0)


def test_cross_dedup_drops_near_copies_keeps_novel(spark):
    from plda_spark.operators import dedup

    ref_text = "the quick brown fox jumps over the lazy dog again and again today"
    novel = "completely different words about stock market trading and price discovery"
    ref = spark.createDataFrame([(0, ref_text)], "doc_id long, text string")
    new = spark.createDataFrame(
        [
            (10, ref_text),                                  # exact copy -> dropped
            (11, ref_text.replace("today", "tomorrow")),     # near copy -> dropped
            (12, novel),                                     # novel -> kept
            (13, "hi"),                                      # bucketless -> kept
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]
        for r in dedup.cross_dedup(new, ref, num_hashes=16, bands=8).collect()
    }
    assert got == {12, 13}


def test_lm_score_kn_hand_computed(spark):
    """Interpolated KN against hand-computed probabilities on a corpus
    small enough to enumerate."""
    import math

    from plda_spark.operators import text as text_ops

    # training corpus: "aa bb", "aa bb", "aa cc" -> bigrams: (aa,bb)x2, (aa,cc)
    lm = spark.createDataFrame(
        [(0, "aa bb"), (1, "aa bb"), (2, "aa cc")], "doc_id long, text string"
    )
    # V=3 (aa,bb,cc), N_bb=2 types, ctx(aa)=3, N1+(aa,.)=2
    # Pc(bb)=(1+1)/(2+3)=0.4, Pc(cc)=0.4, Pc(unseen)=1/5=0.2
    # P(bb|aa) = (2-.75)/3 + .75*2/3*.4 = 0.41666667 + 0.2 = 0.6166667
    # P(cc|aa) = (1-.75)/3 + .2 = 0.2833333
    # unseen context ("zz ww"): P = Pc(ww) = 0.2
    score_docs = spark.createDataFrame(
        [(10, "aa bb"), (11, "aa cc"), (12, "zz ww")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in text_ops.lm_score_kn(score_docs, lm_docs=lm).collect()
    }
    assert got[10]["avg_logp"] == pytest.approx(math.log(1.25 / 3 + 0.2), abs=1e-5)
    assert got[11]["avg_logp"] == pytest.approx(math.log(0.25 / 3 + 0.2), abs=1e-5)
    assert got[12]["avg_logp"] == pytest.approx(math.log(0.2), abs=1e-5)
    # better-modeled doc scores higher
    assert got[10]["perplexity"] < got[11]["perplexity"] < got[12]["perplexity"]

    with pytest.raises(ValueError):
        text_ops.lm_score_kn(score_docs, discount=1.5)


def test_dsir_empty_target_raises(spark):
    from plda_spark.operators import curation

    docs = spark.createDataFrame([(0, "alpha beta")], "doc_id long, text string")
    with pytest.raises(ValueError, match="empty"):
        curation.dsir_weights(docs, docs.where("doc_id < 0"), num_buckets=8)


def test_normalize_url_anchored_tracking_params(spark):
    """Tracking-param stripping must match only at a ?/& boundary —
    embedded substrings and path occurrences are NOT tracking params."""
    from plda_spark.operators.web import normalize_url_col

    rows = [
        (0, "https://shop.com/a?xfbclid=A"),       # not fbclid: keep
        (1, "https://shop.com/a?my_utm_source=1"), # not utm_*: keep
        (2, "https://shop.com/gclid=x/page"),      # path text: keep
        (3, "https://shop.com/a?utm_a=1&q=2&utm_b=3"),
        (4, "https://shop.com/a?utm_a=1&utm_b=2"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {
        r["id"]: r["n"]
        for r in df.select("id", normalize_url_col(F.col("url")).alias("n")).collect()
    }
    assert got[0] == "https://shop.com/a?xfbclid=A"
    assert got[1] == "https://shop.com/a?my_utm_source=1"
    assert got[2] == "https://shop.com/gclid=x/page"
    assert got[3] == "https://shop.com/a?q=2"
    assert got[4] == "https://shop.com/a"


def test_histogram_fp_boundary_clamps_to_last_bin(spark):
    """w=(0.21-0)/3 is not exactly representable; a value just below hi
    must land in the LAST bin, not float to bin==nbins and vanish."""
    import numpy as np

    from plda_spark.operators import stats

    x = np.nextafter(0.21, 0)  # largest double < hi: passes x < hi
    df = spark.createDataFrame([(float(x),)], "v double")
    rows = {r["bin"]: r["n"] for r in stats.histogram(df, "v", 0.0, 0.21, 3).collect()}
    assert rows == {0: 0, 1: 0, 2: 1}


def test_fuzzy_join_preserves_duplicate_row_multiplicity(spark):
    """Two identical right rows must each match (inner-join semantics);
    only multi-variant collisions of the SAME row pair deduplicate."""
    from plda_spark.operators import joins

    left = spark.createDataFrame([("abc",)], "name string")
    right = spark.createDataFrame([("abd",), ("abd",)], "name string")
    got = joins.fuzzy_join(left, right, "name", "name", max_dist=1).collect()
    assert len(got) == 2
    assert all(r["dist"] == 1 and r["right_name"] == "abd" for r in got)


def test_simhash_pairs_larger_hamming_complete(spark):
    """max_hamming > 3 must still find all pairs (bands derive from the
    radius; the old fixed-4-band blocking lost distance-4+ pairs)."""
    import numpy as np

    from plda_spark.operators import dedup

    base = " ".join(f"tok{i:02d}" for i in range(30))
    # flip ~a few tokens to push hamming distance past 3 but within 8
    variant = base.replace("tok03", "aaa").replace("tok17", "bbb")
    docs = spark.createDataFrame(
        [(0, base), (1, variant)], "doc_id long, text string"
    )
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    d = int(bin(sig[0] ^ sig[1]).count("1"))
    assert d >= 1
    got = dedup.simhash_pairs(docs, max_hamming=max(d, 4)).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in got} == {(0, 1)}

    with pytest.raises(ValueError):
        dedup.simhash_pairs(docs, max_hamming=0)


def test_collocations_pmi_normalizer_is_total_bigram_count(spark):
    """T in the PMI is ALL bigram occurrences, independent of min_count
    — a filtered T would shift every score by a constant."""
    import math

    from plda_spark.operators.text import collocations

    # "xx yy" twice, plus 8 other distinct bigrams -> T = 10
    docs = spark.createDataFrame(
        [(0, "xx yy aa bb cc dd ee"), (1, "xx yy ff gg hh")],
        "doc_id long, text string",
    )
    got = {(r["a"], r["b"]): r["pmi"] for r in collocations(docs, min_count=2).collect()}
    assert set(got) == {("xx", "yy")}
    # c_ab=2, T=10, c_a=c_b=2 -> pmi = ln(2*10/4)
    assert got[("xx", "yy")] == pytest.approx(math.log(5.0), abs=1e-6)


def test_domain_filter_suffix_semantics(spark):
    """Blocklist matching is by host-label suffix: one entry covers all
    subdomains, label boundaries are respected (nottracker.net never
    matches tracker.net), and userinfo/port/case never defeat it."""
    from plda_spark.operators import web

    rows = [
        (0, "https://ads.tracker.net/x?a=1"),
        (1, "http://www.example.com/page"),
        (2, "https://deep.sub.tracker.net:443/y"),
        (3, "https://nottracker.net/z"),
        (4, "http://user:pw@Example.COM:80/q"),
        (5, "https://good.org/a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = {r["doc_id"] for r in
            web.domain_filter(df, ["tracker.net", "example.com"]).collect()}
    assert kept == {3, 5}
    allowed = {r["doc_id"] for r in
               web.domain_filter(df, ["tracker.net"], mode="allow").collect()}
    assert allowed == {0, 2}
    # blocklist as a DataFrame works identically and the list side is
    # broadcast (no shuffle of the corpus for matching)
    bl = spark.createDataFrame([("TRACKER.NET",)], "domain string")
    assert {r["doc_id"] for r in
            web.domain_filter(df, bl, mode="allow").collect()} == {0, 2}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="mode"):
        web.domain_filter(df, ["x.com"], mode="bogus")


def test_split_sentences_rule(spark):
    """Terminator runs stay with their sentence, multi-space boundaries
    split once, unterminated text is one sentence, empty text yields no
    rows, indices are per-document."""
    rows = [
        (0, "First sentence. Second one! Third?? Yes.  Spaced."),
        (1, "No terminator at all"),
        (2, "Trailing dot."),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["sent_idx"], r["sentence"])
        for r in text.split_sentences(df).collect()
    )
    assert got == [
        (0, 0, "First sentence."),
        (0, 1, "Second one!"),
        (0, 2, "Third??"),
        (0, 3, "Yes."),
        (0, 4, "Spaced."),
        (1, 0, "No terminator at all"),
        (2, 0, "Trailing dot."),
    ]


def test_dedup_sentences_first_global_occurrence(spark):
    """Every sentence keeps only its minimum-(doc_id, sent_idx)
    occurrence — later cross-doc AND within-doc copies drop, survivors
    reassemble in order, and a doc losing every sentence vanishes."""
    from plda_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [
            (0, "Unique alpha. Shared cookie banner! Unique beta."),
            (1, "Shared cookie banner! Own content here. Own content here."),
            (2, "Shared cookie banner!"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in dd.dedup_sentences(df).collect()}
    assert got == {
        0: "Unique alpha.\nShared cookie banner!\nUnique beta.",
        1: "Own content here.",
    }


def test_unicode_normalize_and_mojibake_repair(spark):
    """Golden pairs: decomposed -> NFC, ligature folding under NFKC,
    double- and triple-encoded UTF-8 restored, clean text a fixed
    point, NULL passthrough, bad form rejected."""
    from plda_spark.operators.text import (
        fix_double_encoding,
        normalize_unicode,
    )

    double = "café".encode("utf-8").decode("cp1252")
    triple = double.encode("utf-8").decode("cp1252")
    rows = [
        (0, "café decomposed"),
        (1, "ﬁne ligature"),
        (2, double),
        (3, triple),
        (4, "plain ascii"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    nfc = {r["doc_id"]: r["text"] for r in normalize_unicode(df).collect()}
    assert nfc[0] == "caf\u00e9 decomposed"  # precomposed é after NFC
    assert len(nfc[0]) == len("cafe decomposed")
    assert nfc[1] == "ﬁne ligature"  # NFC keeps compatibility chars
    nfkc = {r["doc_id"]: r["text"]
            for r in normalize_unicode(df, form="NFKC").collect()}
    assert nfkc[1] == "fine ligature"
    fixed = {r["doc_id"]: r["text"] for r in fix_double_encoding(df).collect()}
    assert fixed[2] == "café" and fixed[3] == "café"
    assert fixed[4] == "plain ascii" and fixed[5] is None
    import pytest as _pytest
    with _pytest.raises(ValueError, match="form"):
        normalize_unicode(df, form="NFZ")


def test_hist_rollup_range_quantiles(spark):
    """Merged day arrays must equal one-pass binning (lossless merge),
    quantile estimates land within one bin width of exact, the day
    filter probes sub-ranges, and validators reject bad grids."""
    from pyspark.sql import functions as F

    from plda_spark.operators import stats

    rows = [(i % 10, float(i % 1000)) for i in range(10000)]
    df = spark.createDataFrame(rows, "d int, value double").select(
        F.expr(
            "timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,d)"
        ).alias("ts"),
        "value",
    )
    roll = stats.hist_daily_sketches(df, "value", 0.0, 1000.0, 50)
    assert roll.count() == 10
    merged = roll.agg(
        F.aggregate(
            F.collect_list("bin_counts"),
            F.array_repeat(F.lit(0).cast("long"), F.lit(50)),
            lambda a, b: F.zip_with(a, b, lambda x, y: x + y),
        ).alias("bins")
    ).first()["bins"]
    assert sum(merged) == 10000 and all(c == 200 for c in merged)
    got = {
        r["q"]: r["estimate"]
        for r in stats.hist_quantile_range(
            roll, [0.1, 0.5, 0.9], 0.0, 1000.0
        ).collect()
    }
    import numpy as np

    vals = np.array([v for _, v in rows])
    for q in (0.1, 0.5, 0.9):
        assert abs(got[q] - np.quantile(vals, q)) <= 20 + 1e-6
    # sub-range probe uses only the filtered days' arrays
    sub = stats.hist_quantile_range(
        roll, [0.5], 0.0, 1000.0, "2024-01-01", "2024-01-05"
    ).first()["estimate"]
    assert abs(sub - 500.0) <= 20 + 1e-6
    with pytest.raises(ValueError):
        stats.hist_daily_sketches(df, "value", 0.0, 1000.0, 0)
    with pytest.raises(ValueError):
        stats.hist_quantile_range(roll, [], 0.0, 1000.0)
    with pytest.raises(ValueError):
        stats.hist_quantile_range(roll, [1.5], 0.0, 1000.0)


def test_weighted_sample_per_group(spark):
    """A-ES weighted sampling: heavy-weight rows dominate the kept set,
    the sample is deterministic across invocations, zero/NULL weights
    are excluded, and exactly k rows survive per group."""
    from plda_spark.operators.sampling import weighted_sample_per_group

    rows = [(i, "g", 10.0 if i < 50 else 1.0) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, wt double")
    got = weighted_sample_per_group(df, "grp", 100, "wt").collect()
    assert len(got) == 100
    heavy = sum(1 for r in got if r["doc_id"] < 50)
    # E[kept heavy] ~ 40+ of 50 at 10x weight; uniform would give ~10
    assert heavy >= 30
    again = weighted_sample_per_group(df, "grp", 100, "wt").collect()
    assert {(r["doc_id"], r["sample_rank"]) for r in got} == {
        (r["doc_id"], r["sample_rank"]) for r in again
    }
    df2 = spark.createDataFrame(
        [(0, "g", 0.0), (1, "g", None), (2, "g", 1.0)],
        "doc_id long, grp string, wt double",
    )
    assert [
        r["doc_id"]
        for r in weighted_sample_per_group(df2, "grp", 5, "wt").collect()
    ] == [2]
    with pytest.raises(ValueError):
        weighted_sample_per_group(df, "grp", 0, "wt")


def test_interval_overlap_join_matches_brute_force(spark):
    """Binned overlap join must equal the brute-force theta join
    exactly — duplicate-free via canonical-bin emission — across bin
    widths, with the optional equi-key respected."""
    import random

    from plda_spark.operators.joins import interval_overlap_join

    rng = random.Random(7)
    L = [(i, rng.randint(0, 200), 0, "k%d" % (i % 2)) for i in range(60)]
    L = [(i, s, s + rng.randint(1, 30), k) for i, s, _, k in L]
    R = [(j, rng.randint(0, 200), 0, "k%d" % (j % 2)) for j in range(50)]
    R = [(j, s, s + rng.randint(1, 30), k) for j, s, _, k in R]
    ldf = spark.createDataFrame(L, "lid long, ls long, le long, key string")
    rdf = spark.createDataFrame(R, "rid long, rs long, re long, key string")
    for w in (4, 16, 64):
        got = {
            (r["lid"], r["rid"])
            for r in interval_overlap_join(
                ldf, rdf, "ls", "le", "rs", "re", w
            ).collect()
        }
        want = {
            (i, j)
            for (i, ls, le, _) in L
            for (j, rs, re) in [(j, rs, re) for j, rs, re, _ in R]
            if ls < re and rs < le
        }
        assert got == want, f"bin_width={w}"
    keyed = {
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            ldf, rdf, "ls", "le", "rs", "re", 16, on="key"
        ).collect()
    }
    want_k = {
        (i, j)
        for (i, ls, le, lk) in L
        for (j, rs, re, rk) in R
        if lk == rk and ls < re and rs < le
    }
    assert keyed == want_k
    with pytest.raises(ValueError):
        interval_overlap_join(ldf, rdf, "ls", "le", "rs", "re", 0)


def test_leakage_safe_split_quarantines_train_leaks(spark):
    """No train row's text may appear in val/test; leaked rows are
    QUARANTINED (visible), never deleted; val/test themselves are
    untouched; rows total is conserved."""
    from plda_spark.operators.sampling import (
        leakage_safe_split,
        train_val_test_split,
    )

    rows = [(i, "text-%d" % (i % 60)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(df).collect()
    assert len(out) == 200
    by = {}
    for r in out:
        by.setdefault(r["split"], []).append(r)
    held = {r["text"] for r in by.get("val", []) + by.get("test", [])}
    assert all(r["text"] not in held for r in by["train"])
    assert all(r["text"] in held for r in by["train_leaked"])
    # val/test assignments identical to the plain split
    plain = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(df).collect()
    }
    for s_ in ("val", "test"):
        assert {r["doc_id"] for r in by[s_]} == {
            d for d, sp in plain.items() if sp == s_
        }


def test_contrastive_negatives_exact_python_replica(spark):
    """The operator's every decision derives from md5(seed:id[:slot]) —
    replicate it bit-for-bit in pure Python and compare the full output."""
    import hashlib

    from plda_spark.operators.sampling import contrastive_negatives

    ids = list(range(30))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = sorted(
        tuple(r)
        for r in contrastive_negatives(
            df, "doc_id", k=3, buckets=4, seed=7
        ).collect()
    )

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    ranked = {}
    for i in ids:
        hv = h(f"7:{i}")
        ranked.setdefault(hv % 4, []).append((hv, i))
    want = []
    for bkt, rows in ranked.items():
        rows.sort()
        sz = len(rows)
        if sz <= 1:
            continue
        for rnk, (_, anchor) in enumerate(rows):
            for slot in (1, 2, 3):
                off = 1 + h(f"7:{anchor}:{slot}") % (sz - 1)
                want.append((anchor, slot, rows[(rnk + off) % sz][1]))
    assert got == sorted(want)
    # never self, always k slots per eligible anchor
    assert all(a != n for a, _, n in got)
    per_anchor = {}
    for a, _, _n in got:
        per_anchor[a] = per_anchor.get(a, 0) + 1
    assert set(per_anchor.values()) == {3}

    # partition-invariance: same output after a repartition
    again = sorted(
        tuple(r)
        for r in contrastive_negatives(
            df.repartition(7), "doc_id", k=3, buckets=4, seed=7
        ).collect()
    )
    assert again == got

    with pytest.raises(ValueError, match="k must"):
        contrastive_negatives(df, "doc_id", k=0)


def test_kmv_merge_equals_one_pass_sketch(spark):
    """Range-merging daily KMV sketches must equal sketching the range's
    rows in one pass (the mergeability contract), and sub-k cardinality
    must be EXACT."""
    from plda_spark.operators import stats

    rows = [
        (i % 40, f"2024-01-{(i % 10) + 1:02d} 06:00:00") for i in range(400)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    k = 16
    sk = stats.kmv_daily_sketches(df, k=k)
    merged = stats._kmv_merge(
        sk.where((F.col("day") >= "2024-01-03") & (F.col("day") <= "2024-01-07")), k
    ).collect()[0]["kmin"]
    direct = stats.kmv_daily_sketches(
        df.where(
            (F.to_date("ts") >= F.lit("2024-01-03"))
            & (F.to_date("ts") <= F.lit("2024-01-07"))
        ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp")),
        k=k,
    ).collect()[0]["kmin"]
    assert list(merged) == list(direct)
    # 40 distinct keys > k=16 -> estimator path; sanity band only
    est = stats.kmv_estimate_range(sk, k=k).collect()[0]["n_distinct"]
    assert 15 <= est <= 90
    # sub-k cardinality is exact
    tiny = stats.kmv_daily_sketches(df.where(F.col("user_id") < 5), k=k)
    assert stats.kmv_estimate_range(tiny, k=k).collect()[0]["n_distinct"] == 5.0


def test_kmv_estimates_track_truth(spark):
    """With k=256 over thousands of keys the KMV estimator must land
    within ~3/sqrt(k) of the exact distinct and intersection counts."""
    from plda_spark.operators import stats

    rows = (
        # window A days 01..05: keys 0..2999; window B days 06..09:
        # keys 2000..4999 -> |A|=3000, |B|=3000, |A∩B|=1000
        [(i, f"2024-01-{d:02d} 01:00:00") for i in range(3000) for d in (1 + i % 5,)]
        + [(2000 + i, f"2024-01-{6 + i % 4:02d} 01:00:00") for i in range(3000)]
    )
    df = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    k = 256
    sk = stats.kmv_daily_sketches(df, k=k)
    tol = 3.0 / (k ** 0.5)  # ~19%
    ea = stats.kmv_estimate_range(sk, "2024-01-01", "2024-01-05", k=k).collect()[0][0]
    eb = stats.kmv_estimate_range(sk, "2024-01-06", "2024-01-09", k=k).collect()[0][0]
    ei = stats.kmv_intersect_ranges(
        sk, "2024-01-01", "2024-01-05", "2024-01-06", "2024-01-09", k=k
    ).collect()[0][0]
    assert abs(ea - 3000) / 3000 < tol
    assert abs(eb - 3000) / 3000 < tol
    assert abs(ei - 1000) / 1000 < 2 * tol  # intersection compounds both sides
    with pytest.raises(ValueError, match="k must be"):
        stats.kmv_daily_sketches(df, k=1)


def test_rake_keywords_hand_computed(spark):
    """Hand-worked RAKE example: phrases split at the 'en' stopword set
    and at punctuation; scores = sum of per-word deg/freq over the
    document."""
    doc = "deep learning models and deep learning systems for language"
    docs = spark.createDataFrame([(0, doc)], "doc_id long, text string")
    got = {
        r["phrase"]: (r["score"], r["rank"])
        for r in text.rake_keywords(docs, top_k=10).collect()
    }
    # phrases: [deep learning models], [deep learning systems], [language]
    # freq: deep 2, learning 2, models 1, systems 1, language 1
    # deg:  deep 6, learning 6, models 3, systems 3, language 1
    # scores: 3 + 3 + 3 = 9.0 (both 3-word phrases), 1.0 (language)
    assert got["deep learning models"][0] == 9.0
    assert got["deep learning systems"][0] == 9.0
    assert got["language"][0] == 1.0
    # tie on 9.0 broken by phrase text
    assert got["deep learning models"][1] == 1
    assert got["deep learning systems"][1] == 2
    with pytest.raises(ValueError, match="top_k"):
        text.rake_keywords(docs, top_k=0)


def test_rake_keywords_respects_top_k(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    got = text.rake_keywords(docs, top_k=2)
    per_doc = got.groupBy("doc_id").count().collect()
    assert all(r["count"] <= 2 for r in per_doc)
    assert got.where(F.col("rank") > 2).count() == 0


def test_lm_score_kn3_matches_brute_force(spark, sf_dir):
    """Full interpolated-KN trigram recursion vs an independent
    dict-based reference (continuation counts at order 2, add-one
    floored unigram) on real documents."""
    import math
    import re as _re
    from collections import Counter, defaultdict

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    D = 0.75
    tok = lambda s: [w for w in _re.split(r"[^a-z0-9]+", s.lower()) if len(w) >= 2]
    tri, bi = Counter(), Counter()
    vocab = set()
    for s in texts.values():
        ws = tok(s)
        vocab.update(ws)
        for i in range(len(ws) - 2):
            tri[(ws[i], ws[i + 1], ws[i + 2])] += 1
        for i in range(len(ws) - 1):
            bi[(ws[i], ws[i + 1])] += 1
    ctx_ab, n1p_ab = Counter(), Counter()
    for (a, b, c), n in tri.items():
        ctx_ab[(a, b)] += n
        n1p_ab[(a, b)] += 1
    n1bc = Counter({(b, c): 1 for (a, b, c) in tri})
    n1bc = Counter()
    for (a, b, c) in tri:
        n1bc[(b, c)] += 1
    tot_mid_b, n1p_mid_b = Counter(), Counter()
    for (b, c), n in n1bc.items():
        tot_mid_b[b] += n
        n1p_mid_b[b] += 1
    n1p_c = Counter()
    for (a, b) in bi:
        n1p_c[b] += 1
    n_bb, V = len(bi), len(vocab)

    def pc(c):
        return (n1p_c.get(c, 0) + 1) / (n_bb + V)

    def p2(b, c):
        if tot_mid_b.get(b, 0) > 0:
            return (
                max(n1bc.get((b, c), 0) - D, 0.0)
                + D * n1p_mid_b[b] * pc(c)
            ) / tot_mid_b[b]
        return pc(c)

    def p3(a, b, c):
        if ctx_ab.get((a, b), 0) > 0:
            return (
                max(tri.get((a, b, c), 0) - D, 0.0)
                + D * n1p_ab[(a, b)] * p2(b, c)
            ) / ctx_ab[(a, b)]
        return p2(b, c)

    want = {}
    for did, s in texts.items():
        ws = tok(s)
        if len(ws) < 3:
            continue
        lps = [
            math.log(p3(ws[i], ws[i + 1], ws[i + 2]))
            for i in range(len(ws) - 2)
        ]
        avg = sum(lps) / len(lps)
        want[did] = (len(lps), round(avg, 6), round(math.exp(-avg), 6))
    got = {
        r["doc_id"]: (r["n_trigrams"], r["avg_logp"], r["perplexity"])
        for r in text.lm_score_kn3(docs).collect()
    }
    assert set(got) == set(want)
    for did in want:
        assert got[did][0] == want[did][0], did
        assert abs(got[did][1] - want[did][1]) < 1e-5, did
    with pytest.raises(ValueError, match="discount"):
        text.lm_score_kn3(docs, discount=1.0)


def test_lm_score_kn3_repetition_scores_lower_perplexity(spark):
    """A degenerate repeated trigram must be far more predictable than
    natural-ish varied text under the corpus-trained trigram LM."""
    rep = " ".join(["alpha beta gamma"] * 30)
    varied = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(0, rep), (1, varied)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["perplexity"] for r in text.lm_score_kn3(docs).collect()}
    assert got[0] < got[1]


def test_mixture_drift_edges(spark):
    """Vanished group -> kl_term 0 and retention 0; NEW group in
    `after` -> null kl_term (infinite divergence surfaced, not hidden);
    sum of kl_terms over shared groups = KL(after||before)."""
    import math

    from plda_spark.operators import curation

    before = spark.createDataFrame(
        [(i, "a") for i in range(60)] + [(100 + i, "b") for i in range(40)],
        "doc_id long, source string",
    )
    after = spark.createDataFrame(
        [(i, "a") for i in range(30)] + [(200 + i, "c") for i in range(10)],
        "doc_id long, source string",
    )
    got = {r["source"]: r.asDict() for r in
           curation.mixture_drift(before, after, "source").collect()}
    assert set(got) == {"a", "b", "c"}
    assert got["b"]["n_after"] == 0 and got["b"]["kl_term"] == 0.0
    assert got["b"]["retention"] == 0.0
    assert got["c"]["kl_term"] is None and got["c"]["n_before"] == 0
    assert got["c"]["retention"] is None
    sa, sb = 30 / 40, 60 / 100
    assert abs(got["a"]["kl_term"] - round(sa * math.log(sa / sb), 6)) < 1e-9
    assert got["a"]["retention"] == 0.5


def test_sq8_topk_recall_against_brute(spark, sf_dir):
    """The refined SQ8 search must recover (nearly) the exact brute-force
    top-5; the unrefined shortlist must still rank by quantized cosine
    deterministically, and sq8_encode must bound reconstruction error by
    scale/2 per coordinate."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    codes = similarity.sq8_encode(emb)
    # reconstruction bound
    row = codes.join(emb, "vec_id").limit(20).collect()
    for r in row:
        v = np.array(r["embedding"], dtype=np.float64)
        rec = np.array(r["q8"], dtype=np.float64) * r["scale"]
        assert np.abs(rec - v).max() <= r["scale"] / 2 + 1e-12
    refined = similarity.sq8_topk(codes, qs, k=5, refine_with=emb, shortlist=20)
    brute = similarity.brute_force_topk(emb, qs, k=5)
    got = {(r["query_id"], r["vec_id"]) for r in refined.collect()}
    want = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    # int8 quantization of 64-dim unit-ish vectors: near-perfect recall
    assert len(got & want) >= int(0.9 * len(want))
    with pytest.raises(ValueError, match="k must be"):
        similarity.sq8_topk(codes, qs, k=0)


def test_ivf_pq_delete_equals_build_on_remainder(spark, embeddings, tmp_path):
    """ivf_pq_delete: at the exactness config, searching after a delete
    must equal a fresh build over the surviving corpus; the quantizer
    is untouched; deleting every member of a cell removes its partition
    without breaking later reads or appends."""
    import numpy as np

    qs = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    gone = embeddings.where(F.col("vec_id") % 3 == 0).select("vec_id")
    kept = embeddings.where(F.col("vec_id") % 3 != 0)

    idx = str(tmp_path / "idx")
    similarity.ivf_pq_build(embeddings, dim=8, path=idx, n_cells=4, m=4,
                            k_codes=8, seed=11)
    qz_before = np.load(f"{idx}/quantizer.npz")
    n_gone = gone.count()
    assert similarity.ivf_pq_delete(gone, idx) == n_gone
    qz_after = np.load(f"{idx}/quantizer.npz")
    assert np.array_equal(qz_before["centroids"], qz_after["centroids"])

    idx_kept = str(tmp_path / "idx_kept")
    similarity.ivf_pq_build(kept, dim=8, path=idx_kept, n_cells=4, m=4,
                            k_codes=8, seed=11)
    # NOTE: quantizers differ (trained on different corpora) but at the
    # exactness config both searches reduce to brute-force cosine over
    # the same survivor set through the exact re-rank.
    got = similarity.ivf_pq_search(qs, idx, embeddings, k=3,
                                   n_probe=4, oversample=1000)
    want = similarity.ivf_pq_search(qs, idx_kept, kept, k=3,
                                    n_probe=4, oversample=1000)
    as_set = lambda df: {(r["query_id"], r["vec_id"], r["sim"], r["rank"])
                         for r in df.collect()}
    assert as_set(got) == as_set(want)
    # deleting ids absent from the index is a no-op
    ghost = spark.createDataFrame([(99999,)], "vec_id long")
    assert similarity.ivf_pq_delete(ghost, idx) == 0
    # empty a WHOLE cell: reads and appends still work
    codes = spark.read.parquet(f"{idx}/codes")
    one_cell = codes.select("cell").limit(1).collect()[0]["cell"]
    members = codes.where(F.col("cell") == one_cell).select("vec_id")
    n_members = members.count()
    assert similarity.ivf_pq_delete(members, idx) == n_members
    remaining = spark.read.parquet(f"{idx}/codes")
    assert remaining.where(F.col("cell") == one_cell).count() == 0
    similarity.ivf_pq_append(embeddings.where(F.col("vec_id") % 3 == 0), idx)
    assert spark.read.parquet(f"{idx}/codes").count() == remaining.count() + n_gone


def test_ivf_pq_delete_releases_its_checkpoint(spark, embeddings, tmp_path):
    """ivf_pq_delete returns an int, so nothing may read its survivors'
    checkpoint afterwards: the persisted-RDD ids are back at their
    baseline when it returns.  Checked without forcing a GC; ids, not
    counts, since a GC during the call may clean up earlier tests' RDDs."""
    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        return set(jsc.getPersistentRDDs().keySet())

    idx = str(tmp_path / "idx")
    similarity.ivf_pq_build(embeddings, dim=8, path=idx, n_cells=4, m=4,
                            k_codes=8, seed=11)
    gone = embeddings.where(F.col("vec_id") % 3 == 0).select("vec_id")
    n_gone = gone.count()
    before = persisted()
    assert similarity.ivf_pq_delete(gone, idx) == n_gone
    assert persisted() - before == set()


def test_similarity_empty_corpus(spark, tmp_path):
    """One rule for an empty corpus: the search and pair operators return
    an empty frame of their output schema, and the trainers raise
    ``ValueError("<operator>: empty corpus")``."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    qs = spark.createDataFrame([(0, [1.0] * 8)], "query_id long, embedding array<float>")
    topk = "struct<query_id:bigint,vec_id:bigint,sim:double,rank:int>"
    for got, schema in [
        (similarity.ivf_topk(empty, qs, dim=8), topk),
        (similarity.ivf_pq_topk(empty, qs, dim=8, m=4), topk),
        (similarity.embedding_near_dup_pairs_blocked(empty, dim=8),
         "struct<id_a:bigint,id_b:bigint,sim:double>"),
    ]:
        assert got.schema.simpleString() == schema
        assert got.count() == 0
    for name, train in [
        ("pca_project", lambda: similarity.pca_project(empty, dim=8, out_dim=2)),
        ("kmeans_fit", lambda: similarity.kmeans_fit(empty, k=2)),
        ("pq_train", lambda: similarity.pq_train(empty, dim=8, m=4)),
        ("ivf_pq_build", lambda: similarity.ivf_pq_build(
            empty, dim=8, path=str(tmp_path / "idx"), m=4)),
    ]:
        with pytest.raises(ValueError, match=f"^{name}: empty corpus$"):
            train()


def test_bootstrap_ci_properties(spark):
    """Bootstrap CI: deterministic across runs, brackets the sample
    mean for well-behaved data, and width shrinks ~1/sqrt(n)."""
    from plda_spark.operators import stats

    rows = [(i, float(50 + (i * 37 % 100))) for i in range(2000)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    r1 = stats.bootstrap_ci(df, "value", "event_id", n_replicas=50).collect()[0]
    r2 = stats.bootstrap_ci(df, "value", "event_id", n_replicas=50).collect()[0]
    assert r1 == r2  # fully deterministic
    true_mean = sum(v for _, v in rows) / len(rows)
    assert r1["ci_lo"] <= true_mean <= r1["ci_hi"]
    assert r1["ci_lo"] < r1["boot_mean"] < r1["ci_hi"]
    # smaller sample -> wider interval
    small = spark.createDataFrame(rows[:100], "event_id long, value double")
    rs = stats.bootstrap_ci(small, "value", "event_id", n_replicas=50).collect()[0]
    assert (rs["ci_hi"] - rs["ci_lo"]) > (r1["ci_hi"] - r1["ci_lo"])
    with pytest.raises(ValueError, match="n_replicas"):
        stats.bootstrap_ci(df, "value", "event_id", n_replicas=1)
    with pytest.raises(ValueError, match="lo"):
        stats.bootstrap_ci(df, "value", "event_id", lo=0.9, hi=0.1)


def test_mixture_drift_null_group_is_one_row(spark):
    """A NULL group (unlabeled slice) must yield ONE row with a true
    retention, not a vanished/new pair."""
    from plda_spark.operators import curation

    before = spark.createDataFrame(
        [(0, None), (1, None), (2, "a"), (3, "a")], "doc_id long, source string"
    )
    after = spark.createDataFrame(
        [(0, None), (2, "a")], "doc_id long, source string"
    )
    rows = curation.mixture_drift(before, after, "source").collect()
    nulls = [r for r in rows if r["source"] is None]
    assert len(nulls) == 1
    assert nulls[0]["n_before"] == 2 and nulls[0]["n_after"] == 1
    assert nulls[0]["retention"] == 0.5


def test_rfm_cuts_mode_tracks_ntile(spark, sf_dir):
    """The scale-path quantile-cut scoring must broadly agree with the
    exact ntile buckets (identical for most users; divergence only at
    tie-heavy boundaries), emit every bucket, and keep 1 = best on all
    three metrics."""
    from plda_spark.operators import events as ev_ops

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = {r["user_id"]: r for r in ev_ops.rfm_scores(ev, method="ntile").collect()}
    cuts = {r["user_id"]: r for r in ev_ops.rfm_scores(ev, method="cuts").collect()}
    assert set(exact) == set(cuts)
    # cuts-mode invariant: scores are MONOTONE in the metric (ties may
    # share a bucket where ntile force-splits them — tiny tie-heavy
    # fixtures diverge per-user, the ordering never does)
    for metric, score, asc in (
        ("recency_days", "r_score", True),
        ("frequency", "f_score", False),
        ("monetary", "m_score", False),
    ):
        rows = sorted(cuts.values(), key=lambda r: r[metric], reverse=not asc)
        buckets = [r[score] for r in rows]
        assert buckets == sorted(buckets), score  # better metric -> bucket <=
        assert {b for b in buckets} <= set(range(1, 6))
        # ties always share a bucket in cuts mode
        for a_row, b_row in zip(rows, rows[1:]):
            if a_row[metric] == b_row[metric]:
                assert a_row[score] == b_row[score], score
    # direction: the most frequent user scores f=1 in BOTH modes
    top = max(exact.values(), key=lambda r: r["frequency"])["user_id"]
    assert exact[top]["f_score"] == 1 and cuts[top]["f_score"] == 1
    with pytest.raises(ValueError, match="method"):
        ev_ops.rfm_scores(ev, method="nope")
    with pytest.raises(ValueError, match="n_buckets"):
        ev_ops.rfm_scores(ev, n_buckets=1)
    # ntile mode is self-enforcing: past max_rows users it refuses
    # with a pointer to the cuts mode; cuts itself never consults it
    with pytest.raises(ValueError, match="method='cuts'"):
        ev_ops.rfm_scores(ev, method="ntile", max_rows=2)
    assert ev_ops.rfm_scores(ev, method="cuts", max_rows=2).count() > 2


def test_token_budget_waterfilling_properties(spark):
    """Water-filling invariants: planned tokens sum to min(budget,
    corpus); saturated sources are taken whole; unsaturated sources
    share one price level theta = planned/weight; budget beyond the
    corpus saturates everything."""
    from plda_spark.operators import curation

    rows = (
        [(i, "tiny", 10) for i in range(5)]          # 50 tokens
        + [(100 + i, "mid", 10) for i in range(30)]   # 300 tokens
        + [(200 + i, "big", 10) for i in range(100)]  # 1000 tokens
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    w = {"tiny": 1.0, "mid": 1.0, "big": 1.0}
    got = {r["source"]: r for r in curation.token_budget_mixture(
        docs, "source", budget_tokens=600, token_count_col="n_tok", weights=w
    ).collect()}
    # fair share 200 each: tiny saturates at 50, redistribution gives
    # mid and big 275 each -> mid saturates? 275 < 300 no -> both get 275
    assert got["tiny"]["saturated"] and got["tiny"]["planned_tokens"] == 50.0
    assert not got["mid"]["saturated"] and not got["big"]["saturated"]
    assert abs(got["mid"]["planned_tokens"] - 275.0) < 0.01
    assert abs(got["big"]["planned_tokens"] - 275.0) < 0.01
    assert abs(sum(r["planned_tokens"] for r in got.values()) - 600) < 0.05
    assert got["mid"]["rate"] == round(275.0 / 300, 6)
    # budget > corpus: everything saturates at rate 1
    full = {r["source"]: r for r in curation.token_budget_mixture(
        docs, "source", budget_tokens=5000, token_count_col="n_tok", weights=w
    ).collect()}
    assert all(r["saturated"] and r["rate"] == 1.0 for r in full.values())
    with pytest.raises(ValueError, match="budget_tokens"):
        curation.token_budget_mixture(docs, "source", 0, "n_tok")
    # missing weights fail lazily IN the plan (no eager corpus job at
    # build time), so the raise happens on materialization
    with pytest.raises(Exception, match="no weight for source"):
        curation.token_budget_mixture(
            docs, "source", 100, "n_tok", weights={"tiny": 1.0}
        ).collect()


def test_token_budget_and_rfm_edge_cases(spark):
    """Review-fix regressions: zero/missing weights fail loudly (not
    NULL rows), natural mode omits empty sources, and rfm cuts-mode
    returns an empty frame (not a TypeError) on empty input."""
    from plda_spark.operators import curation
    from plda_spark.operators import events as ev_ops

    docs = spark.createDataFrame(
        [(0, "a", 10), (1, "b", 20)], "doc_id long, source string, n_tok int"
    )
    with pytest.raises(ValueError, match="positive"):
        curation.token_budget_mixture(
            docs, "source", 10, "n_tok", weights={"a": 1.0, "b": 0.0}
        )
    with pytest.raises(Exception, match="no weight for source"):
        curation.token_budget_mixture(
            docs, "source", 10, "n_tok", weights={"a": 1.0}
        ).collect()
    sparse = spark.createDataFrame(
        [(0, "a", 10), (1, "b", 0)], "doc_id long, source string, n_tok int"
    )
    got = curation.token_budget_mixture(sparse, "source", 5, "n_tok").collect()
    assert [r["source"] for r in got] == ["a"]
    empty = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = ev_ops.rfm_scores(empty, method="cuts")
    assert out.count() == 0
    assert set(out.columns) >= {"r_score", "f_score", "m_score"}


def test_promoted_event_operators_api(spark):
    """The five round-5 inline queries are now package API
    (VERDICT r5 item 3): exercise the parameterized paths the entry
    wrappers don't touch."""
    from plda_spark.operators import events as ev_ops

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1, "view", 0.0),
            (2, "2024-01-01 10:01:00", 1, "click", 0.0),
            (3, "2024-01-01 10:02:00", 1, "purchase", 9.5),
            (4, "2024-01-01 11:00:00", 2, "view", 0.0),
            (5, "2024-01-01 11:05:00", 2, "purchase", 3.0),
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    tm = {(r["src"], r["dst"]): (r["n"], r["p"])
          for r in ev_ops.transition_matrix(ev).collect()}
    assert tm[("view", "click")] == (1, 0.5)
    assert tm[("view", "purchase")] == (1, 0.5)
    assert tm[("click", "purchase")] == (1, 1.0)

    at = {(r["model"], r["channel"]): (r["n_purchases"], r["revenue"])
          for r in ev_ops.attribution(ev).collect()}
    assert at[("first_touch", "view")] == (2, 12.5)
    assert at[("last_touch", "click")] == (1, 9.5)
    assert at[("last_touch", "view")] == (1, 3.0)
    # custom touch set: only clicks count as touches
    at2 = {(r["model"], r["channel"]): r["n_purchases"]
           for r in ev_ops.attribution(ev, touch_types=["click"]).collect()}
    assert at2 == {("first_touch", "click"): 1, ("last_touch", "click"): 1}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        ev_ops.attribution(ev, touch_types=[])
    with _pytest.raises(ValueError):
        ev_ops.forecast_backtest(ev, season_lag=0)


def test_forecast_backtest_lag_semantics(spark):
    from plda_spark.operators import events as ev_ops

    rows = [(i, f"2024-01-{d:02d} 09:00:00", 1, "view", 0.0)
            for i, d in enumerate(
                [1, 1, 2, 3, 4], start=1)]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["day"]: r for r in ev_ops.forecast_backtest(ev, season_lag=2).collect()}
    # day 3 predicted by day 1 (count 2), day 4 by day 2 (count 1)
    assert out["2024-01-03"]["predicted"] == 2
    assert out["2024-01-03"]["abs_err"] == 1
    assert out["2024-01-04"]["predicted"] == 1
    assert out["2024-01-04"]["abs_err"] == 0
    assert out["2024-01-04"]["running_mae"] == 0.5


def test_char_entropy_and_gini_promoted(spark):
    from plda_spark.operators import stats as stats_ops
    from plda_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "aaaa", "s1", "en"), (2, "abab", "s1", "en"),
         (3, "", "s2", "de"), (4, "abcd", "s2", "de")],
        "doc_id long, text string, source string, lang string",
    )
    ent = {r["doc_id"]: r for r in text_ops.char_entropy(docs).collect()}
    assert set(ent) == {1, 2, 4}  # empty text absent
    assert ent[1]["char_entropy"] == 0.0 and ent[1]["alphabet_size"] == 1
    assert ent[2]["char_entropy"] == 1.0  # two equiprobable chars
    assert ent[4]["char_entropy"] == 2.0 and ent[4]["alphabet_size"] == 4

    g = {r["dimension"]: r for r in
         stats_ops.gini_concentration(docs, ["source", "lang"]).collect()}
    # perfectly even 2+2 split -> gini 0 on both dimensions
    assert g["source"]["n_groups"] == 2 and g["source"]["gini"] == 0.0
    assert g["lang"]["gini"] == 0.0
    skew = spark.createDataFrame(
        [(i, "x", "s1" if i else "s2", "en") for i in range(10)],
        "doc_id long, text string, source string, lang string",
    )
    gs = {r["dimension"]: r["gini"]
          for r in stats_ops.gini_concentration(skew, ["source"]).collect()}
    assert gs["source"] > 0.3  # 9-vs-1 split is concentrated
    import pytest as _pytest
    with _pytest.raises(ValueError):
        stats_ops.gini_concentration(docs, [])


def test_interval_overlap_join_fractional_endpoints(spark):
    """ADVICE r5: the integer end-bin formula dropped overlapping
    fractional pairs that shared no bin (e.g. [10.2,11.4) x [11.2,12.5)
    at w=1) and built inverted sequence() ranges for sub-unit
    intervals.  Brute-force parity on continuous coordinates."""
    import itertools
    import random

    from plda_spark.operators.joins import interval_overlap_join

    rng = random.Random(7)
    lrows = [(i, round(rng.uniform(0, 20), 2)) for i in range(40)]
    lrows = [(i, s, round(s + rng.choice([0.3, 0.9, 2.7]), 2))
             for i, s in lrows]
    rrows = [(j, round(rng.uniform(0, 20), 2)) for j in range(40)]
    rrows = [(j, s, round(s + rng.choice([0.4, 1.1, 3.3]), 2))
             for j, s in rrows]
    # include the exact ADVICE example
    lrows.append((100, 10.2, 11.4))
    rrows.append((200, 11.2, 12.5))
    ldf = spark.createDataFrame(lrows, "lid long, ls double, le double")
    rdf = spark.createDataFrame(rrows, "rid long, rs double, re double")
    got = {
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            ldf, rdf, "ls", "le", "rs", "re", bin_width=1
        ).collect()
    }
    want = {
        (li, rj)
        for (li, ls, le), (rj, rs, re_) in itertools.product(lrows, rrows)
        if ls < re_ and rs < le
    }
    assert (100, 200) in want
    assert got == want


def test_hist_quantile_range_q0_and_q1(spark):
    """ADVICE r5: q=0 satisfied no bracket bin (the first nonzero bin
    has cum-n == 0, never < 0) and silently dropped its promised row.
    q=0 now lands on the lower edge of the first nonzero bin; q=1 on
    the upper edge of the last."""
    from plda_spark.operators import stats

    rows = [(0, float(v)) for v in range(100, 900)]
    df = spark.createDataFrame(rows, "d int, value double").select(
        F.expr("timestamp '2024-01-01 00:00:00'").alias("ts"), "value"
    )
    roll = stats.hist_daily_sketches(df, "value", 0.0, 1000.0, 50)
    got = {
        r["q"]: r["estimate"]
        for r in stats.hist_quantile_range(
            roll, [0.0, 0.5, 1.0], 0.0, 1000.0
        ).collect()
    }
    assert set(got) == {0.0, 0.5, 1.0}, "one row per requested quantile"
    assert got[0.0] == 100.0  # lower edge of first nonzero bin
    assert abs(got[0.5] - 500.0) <= 20 + 1e-6
    assert got[1.0] == 900.0  # upper edge of last nonzero bin


def test_unicode_cleanups_accept_string_ids(spark):
    """ADVICE r5: fix_double_encoding / normalize_unicode hardcoded a
    long id in their Arrow output schema, but crawl-facing cleanups key
    on URL strings — string ids must survive, and the id type must
    mirror the input schema (like warc.extract_html_blocks)."""
    from plda_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [("http://a.example/x", "cafÃ©"), ("http://b.example/y", None)],
        "url string, text string",
    )
    fixed = text_ops.fix_double_encoding(docs, id_col="url")
    assert dict(fixed.dtypes)["doc_id"] == "string"
    got = {r["doc_id"]: r["text"] for r in fixed.collect()}
    assert got["http://a.example/x"] == "café"
    assert got["http://b.example/y"] is None

    norm = text_ops.normalize_unicode(docs, id_col="url")
    assert dict(norm.dtypes)["doc_id"] == "string"
    assert norm.count() == 2


def test_bloom_sketch_membership_and_false_positives(spark):
    """Bloom rollup: no false negatives ever; false positives match a
    pure-Python replay of the identical md5 bit logic (tiny m forces
    them); union-merge equals build-on-union."""
    import hashlib

    from plda_spark.operators import stats

    rows = [(u, f"2024-01-{d:02d} 08:00:00") for d in (1, 2, 3)
            for u in range(d * 10, d * 10 + 5)]
    ev = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    m_bits, k = 64, 2

    def pos(key, i):
        return int(hashlib.md5(f"{i}:{key}".encode()).hexdigest()[:15], 16) % m_bits

    sk = stats.bloom_daily_sketches(ev, m_bits=m_bits, k=k)
    days = {r["day"]: r["bits"] for r in sk.collect()}
    assert set(days) == {"2024-01-01", "2024-01-02", "2024-01-03"}
    # per-day content: exactly the bits of that day's keys
    for d, users in [("2024-01-01", range(10, 15)), ("2024-01-02", range(20, 25))]:
        want = 0
        for u in users:
            for i in range(k):
                want |= 1 << pos(u, i)
        got = sum((w & 0xFFFFFFFFFFFFFFFF) << (64 * j)
                  for j, w in enumerate(days[d]))
        assert got == want, d

    probes = spark.createDataFrame(
        [(u,) for u in list(range(10, 35)) + [1000, 888, 999]], "probe long"
    )
    out = {r["probe"]: r["member"] for r in stats.bloom_member_range(
        sk, probes, start_day="2024-01-01", end_day="2024-01-02",
        m_bits=m_bits, k=k,
    ).collect()}
    active = set(range(10, 15)) | set(range(20, 25))
    range_bits = set()
    for u in active:
        for i in range(k):
            range_bits.add(pos(u, i))
    for u, member in out.items():
        expect = all(pos(u, i) in range_bits for i in range(k))
        assert member == expect, f"user {u}"
        if u in active:
            assert member, f"false negative for {u}"
    # probe 1000 was chosen because both its md5 positions collide with
    # the active set's bits at m=64 — a pinned, deterministic false
    # positive proving the filter semantics (not true membership)
    assert out[1000] is True

    # a NULL key sets no bit, and a day whose only key is NULL still
    # gets its all-zero row
    nulls = spark.createDataFrame(
        [(None, "2024-01-01 09:00:00"), (None, "2024-01-04 08:00:00")],
        "user_id long, ts string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    with_nulls = {r["day"]: r["bits"] for r in stats.bloom_daily_sketches(
        ev.unionByName(nulls), m_bits=m_bits, k=k
    ).collect()}
    assert with_nulls == {**days, "2024-01-04": [0] * (m_bits // 64)}

    with pytest.raises(ValueError):
        stats.bloom_daily_sketches(ev, m_bits=100)
    with pytest.raises(ValueError):
        stats.bloom_daily_sketches(ev, k=0)


def test_matryoshka_topk_recall_and_degenerate_prefix(spark, sf_dir):
    """matryoshka_topk: with prefix == full dim the two-stage search IS
    brute force (bit-identical); with a 16-dim prefix the re-ranked
    top-5 keeps high recall against brute force on MRL-untrained random
    embeddings (the weakest case for prefix search)."""
    from plda_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvecs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = similarity.brute_force_topk(emb, qvecs, k=5)
    full = similarity.matryoshka_topk(emb, qvecs, prefix_dim=64, k=5,
                                      shortlist=5)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, brute.collect())
    )
    # testdata embeddings are random (NOT MRL-trained), so the prefix
    # carries only 1/4 of the signal — the adversarial case; the
    # shortlist is the recall knob and must recover most of the top-5
    pfx = similarity.matryoshka_topk(emb, qvecs, prefix_dim=16, k=5,
                                     shortlist=200)
    want = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    got = {(r["query_id"], r["vec_id"]) for r in pfx.collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.6, f"prefix recall collapsed: {recall}"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        similarity.matryoshka_topk(emb, qvecs, prefix_dim=0)
    with _pytest.raises(ValueError):
        similarity.matryoshka_topk(emb, qvecs, prefix_dim=16, k=0)


def test_ngram_novelty_semantics(spark):
    """First doc gets novelty 1.0; an exact copy later gets 0; order_col
    can invert who owns the grams; short docs are absent."""
    from plda_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),      # exact copy: nothing new
            (3, "alpha beta gamma epsilon"),    # shares 2 of 2... partial
            (4, "zz"),                          # < n tokens: absent
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text_ops.ngram_novelty(docs, n=3).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["novelty"] == 1.0 and out[1]["n_ngrams"] == 2
    assert out[2]["novelty"] == 0.0 and out[2]["n_new"] == 0
    # doc 3: trigrams {alpha beta gamma, beta gamma epsilon} — 1 new
    assert out[3]["n_ngrams"] == 2 and out[3]["n_new"] == 1
    assert out[3]["novelty"] == 0.5

    # reversed order (prio = -doc_id): doc 3 owns "alpha beta gamma",
    # doc 2 owns "beta gamma delta", doc 1 owns nothing
    out2 = {r["doc_id"]: r for r in
            text_ops.ngram_novelty(docs.withColumn("prio", -F.col("doc_id")),
                                   n=3, order_col="prio").collect()}
    assert out2[3]["novelty"] == 1.0
    assert out2[2]["novelty"] == 0.5
    assert out2[1]["novelty"] == 0.0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        text_ops.ngram_novelty(docs, n=0)


def test_personalized_pagerank_concentrates_on_seed_neighborhood(spark):
    """PPR restarting at node 0 of a directed path 0->1->2->3 plus an
    isolated pair 8->9: mass decays along the path from the seed and
    the off-seed component gets exactly zero; seeds=all nodes with a
    uniform graph reduces toward the uniform variant's ordering."""
    from plda_spark.operators import graph

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (8, 9)], "src long, dst long"
    )
    r = {x["node"]: x["rank"] for x in
         graph.personalized_pagerank(e, seeds=[0], n_iter=8).collect()}
    assert r[0] > r[1] > r[2] > r[3] > 0
    assert r[8] == 0.0 and r[9] == 0.0  # unreachable from the seed
    # total mass <= 1 (dangling node 3 leaks, same as the uniform twin)
    assert sum(r.values()) <= 1.0 + 1e-9

    import pytest as _pytest
    with _pytest.raises(ValueError):
        graph.personalized_pagerank(e, seeds=[])
    with _pytest.raises(ValueError):
        graph.personalized_pagerank(e, seeds=[0], n_iter=0)
    with _pytest.raises(ValueError):
        graph.personalized_pagerank(e, seeds=[0], damping=1.5)


def test_decayed_counts_halving_semantics(spark):
    """An event exactly one half-life old contributes 0.5, two
    half-lives 0.25; ref_ts pins 'now' explicitly; validation fires."""
    from plda_spark.operators import stats

    ev = spark.createDataFrame(
        [
            (1, "2024-01-15 00:00:00", "a"),   # age 0  -> 1.0
            (2, "2024-01-08 00:00:00", "a"),   # age 7d -> 0.5
            (3, "2024-01-01 00:00:00", "b"),   # age 14d -> 0.25
        ],
        "event_id long, ts string, event_type string",
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    out = {r["event_type"]: r for r in stats.decayed_counts(
        ev, ["event_type"], half_life_days=7.0,
        ref_ts="2024-01-15 00:00:00",
    ).collect()}
    assert out["a"]["n_events"] == 2 and out["a"]["decayed_count"] == 1.5
    assert out["b"]["decayed_count"] == 0.25
    # default ref = corpus max ts (event 1) -> identical result
    out2 = {r["event_type"]: r["decayed_count"] for r in
            stats.decayed_counts(ev, ["event_type"], half_life_days=7.0).collect()}
    assert out2 == {"a": 1.5, "b": 0.25}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        stats.decayed_counts(ev, ["event_type"], half_life_days=0)


def test_neyman_allocation_and_sample(spark):
    """Neyman weights ∝ N_h·σ_h: a high-variance stratum out-draws an
    equal-size uniform one; zero-variance-everywhere degrades to
    proportional; rates saturate at 1; the materialized sample hits
    each stratum's target within hash-bucket resolution."""
    from plda_spark.operators import sampling

    rows = (
        [(i, "noisy", float((i * 37) % 1000)) for i in range(400)]
        + [(1000 + i, "flat", 500.0) for i in range(400)]
        + [(2000 + i, "tiny", float(i % 7)) for i in range(20)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars double")
    plan = {r["stratum"]: r for r in sampling.neyman_allocation(
        df, "source", "n_chars", total_n=200
    ).collect()}
    assert plan["flat"]["sigma"] == 0.0 and plan["flat"]["n_target"] == 0
    assert plan["noisy"]["weight"] > 0.9          # draws nearly all budget
    assert plan["tiny"]["rate"] <= 1.0
    assert abs(sum(p["weight"] for p in plan.values()) - 1.0) < 1e-6

    # all-flat corpus: proportional-to-size fallback
    flat = df.withColumn("n_chars", F.lit(1.0))
    fplan = {r["stratum"]: r["weight"] for r in sampling.neyman_allocation(
        flat, "source", "n_chars", total_n=100
    ).collect()}
    assert abs(fplan["noisy"] - 400 / 820) < 1e-5
    assert abs(fplan["tiny"] - 20 / 820) < 1e-5

    samp = sampling.neyman_sample(df, "source", "n_chars", total_n=200)
    got = {r["source"]: r["cnt"] for r in
           samp.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for st, p in plan.items():
        want = p["n_target"]
        have = got.get(st, 0)
        # md5-bucket draw: binomial noise around the target rate
        assert abs(have - want) <= max(6, int(0.35 * max(want, 1))), (st, have, want)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sampling.neyman_allocation(df, "source", "n_chars", total_n=0)


def test_zipf_fit_recovers_planted_slope(spark):
    """A corpus constructed with an exact power-law spectrum
    f(r) = round(1000 * r^-0.8) must fit slope ~= -0.8 with r2 ~= 1;
    validation fires."""
    from plda_spark.operators import text as text_ops

    words = []
    for r in range(1, 60):
        f = max(1, round(1000 * r ** -0.8))
        words += [f"w{r:03d}"] * f
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    row = text_ops.zipf_fit(docs, max_rank=50).first()
    assert abs(row["slope"] - (-0.8)) < 0.02
    assert row["r2"] > 0.999
    assert row["n_types"] == 59
    import pytest as _pytest
    with _pytest.raises(ValueError):
        text_ops.zipf_fit(docs, max_rank=1)


def test_embedding_drift_semantics(spark):
    """Identical distributions -> cosine 1; an orthogonal flip -> 0;
    groups on one side only -> null cosine with the present side's
    count."""
    from plda_spark.operators import curation

    before = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("a", [1.0, 0.0]),
         ("b", [0.0, 2.0]),
         ("gone", [3.0, 4.0])],
        "label string, embedding array<double>",
    )
    after = spark.createDataFrame(
        [("a", [2.0, 0.0]),                 # same direction, new scale
         ("b", [2.0, 0.0]),                 # rotated 90 degrees
         ("new", [1.0, 1.0])],
        "label string, embedding array<double>",
    )
    out = {r["group"]: r for r in
           curation.embedding_drift(before, after, "label").collect()}
    assert out["a"]["centroid_cosine"] == 1.0
    assert out["a"]["n_before"] == 2 and out["a"]["n_after"] == 1
    assert out["b"]["centroid_cosine"] == 0.0
    assert out["gone"]["centroid_cosine"] is None
    assert out["gone"]["n_after"] is None
    assert out["new"]["centroid_cosine"] is None and out["new"]["n_before"] is None


def test_inverted_index_and_phrase_search(spark):
    """Hand-checkable positional semantics: overlapping matches count
    per position, phrase slots must ALL be present, single-token
    phrases work, duplicate-token phrases self-join correctly, and
    df_cap stop-lists high-frequency tokens."""
    from plda_spark.operators import invindex

    rows = [
        (0, "table scan table scan scan"),      # "table scan" at 0 and 2
        (1, "scan table"),                      # reversed — no match
        (2, "big table scan here"),             # match at 1
        (3, "scan scan scan"),                  # "scan scan" at 0,1
        (4, "nothing relevant"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = invindex.build_inverted_index(docs)

    by_tok = {r["token"]: r for r in idx.collect()}
    assert by_tok["scan"]["df"] == 4 and by_tok["scan"]["tf_total"] == 8
    assert [p["doc_id"] for p in by_tok["scan"]["postings"]] == [0, 1, 2, 3]
    assert list(by_tok["scan"]["postings"][0]["positions"]) == [1, 3, 4]

    got = {r["doc_id"]: r for r in
           invindex.phrase_search(idx, ["table", "scan"]).collect()}
    assert set(got) == {0, 2}
    assert got[0]["n_matches"] == 2 and got[0]["first_pos"] == 0
    assert got[2]["n_matches"] == 1 and got[2]["first_pos"] == 1

    # duplicate-token phrase: overlapping occurrences each count
    dup = {r["doc_id"]: r for r in
           invindex.phrase_search(idx, ["scan", "scan"]).collect()}
    assert dup[3]["n_matches"] == 2 and dup[3]["first_pos"] == 0
    assert dup[0]["n_matches"] == 1 and dup[0]["first_pos"] == 3

    # single-token phrase == postings lookup
    one = {r["doc_id"]: r["n_matches"] for r in
           invindex.phrase_search(idx, ["table"]).collect()}
    assert one == {0: 2, 1: 1, 2: 1}

    # boolean AND vs OR
    both = {r["doc_id"]: r for r in
            invindex.term_search(idx, ["table", "scan"]).collect()}
    assert set(both) == {0, 1, 2, 3} - {3}  # doc 3 has no 'table'
    assert both[0]["tf_total"] == 5
    any_ = invindex.term_search(idx, ["table", "scan"], mode="or")
    assert {r["doc_id"] for r in any_.collect()} == {0, 1, 2, 3}

    # df_cap drops 'scan' (df 4) but keeps 'table' (df 3)
    capped = invindex.build_inverted_index(docs, df_cap=3)
    toks = {r["token"] for r in capped.collect()}
    assert "scan" not in toks and "table" in toks

    import pytest as _pytest
    with _pytest.raises(ValueError):
        invindex.phrase_search(idx, [])
    with _pytest.raises(ValueError):
        invindex.term_search(idx, ["x"], mode="xor")
    with _pytest.raises(ValueError):
        invindex.build_inverted_index(docs, df_cap=0)


def test_association_rules_semantics(spark):
    """Hand-checked a-priori rules: duplicate events collapse to one
    basket membership, infrequent items never reach pair generation,
    both rule directions come back, and lift matches the closed form
    n_both * n_users / (n_ant * n_cons)."""
    from plda_spark.operators import events as ev_ops

    rows = [  # (user, item): u1..u4
        (1, "a"), (1, "a"), (1, "b"),          # dup (1,a) collapses
        (2, "a"), (2, "b"),
        (3, "a"),
        (4, "a"), (4, "c"),                    # c: support 1 -> pruned
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    out = {(r["antecedent"], r["consequent"]): r for r in
           ev_ops.association_rules(ev, min_support=2).collect()}
    # only {a,b} is frequent as a pair; c pruned at item level
    assert set(out) == {("a", "b"), ("b", "a")}
    ab = out[("a", "b")]
    assert (ab["n_both"], ab["n_ant"], ab["n_cons"]) == (2, 4, 2)
    assert ab["support"] == 0.5          # 2 of 4 users
    assert ab["confidence"] == 0.5       # 2 of 4 a-users
    assert ab["lift"] == 1.0             # 2*4/(4*2)
    ba = out[("b", "a")]
    assert ba["confidence"] == 1.0 and ba["lift"] == 1.0

    # a power basket is dropped entirely by max_basket_items
    rows2 = rows + [(5, x) for x in ("a", "b", "d", "e", "f")]
    ev2 = spark.createDataFrame(rows2, "user_id long, event_type string")
    capped = ev_ops.association_rules(ev2, min_support=2, max_basket_items=3)
    got = {(r["antecedent"], r["consequent"]): r["n_both"] for r in capped.collect()}
    assert got == {("a", "b"): 2, ("b", "a"): 2}  # user 5 contributes nothing

    import pytest as _pytest
    with _pytest.raises(ValueError):
        ev_ops.association_rules(ev, min_support=0)
    with _pytest.raises(ValueError):
        ev_ops.association_rules(ev, max_basket_items=1)

    # the quadratic self-join is capped BY DEFAULT (500): a 501-item
    # basket silently vanishes unless the caller opts out with None
    rows3 = rows + [(6, f"i{j}") for j in range(501)]
    ev3 = spark.createDataFrame(rows3, "user_id long, event_type string")
    dflt = ev_ops.association_rules(ev3, min_support=2)
    assert {(r["antecedent"], r["consequent"]) for r in dflt.collect()} == {
        ("a", "b"), ("b", "a")
    }
    uncapped = ev_ops.association_rules(
        ev3.where("user_id <= 5"), min_support=2, max_basket_items=None
    )
    assert uncapped.count() == 2  # None still mines everything


def test_kcenter_literal_budget_cap(spark):
    """k*dim literal center coordinates are capped at 20k: the final
    greedy pass embeds every center as plan literals, and past the cap
    Catalyst analysis dominates the job — the docstring's 'seed with a
    cheaper stage' cutover is now enforced, not advisory."""
    import pytest as _pytest

    from plda_spark.operators import sampling

    vecs = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    # 30 rows, dim 64: k=5 is 320 literals -> fine
    assert sampling.kcenter_select(vecs, k=5).count() == 5
    with _pytest.raises(ValueError, match="literal"):
        sampling.kcenter_select(vecs, k=400)  # 400*64 = 25,600 > 20k


def test_frontier_schedule_semantics(spark):
    """Hand-checked politeness schedule: per-host slots spaced by the
    delay, priority-desc order within a host (URL tie-break), per-host
    budget truncation, and host extraction from messy URLs."""
    from plda_spark.operators import web

    rows = [
        ("http://A.example.com:80/p1", 5),
        ("http://a.example.com/p2", 9),     # same host (case + port)
        ("http://a.example.com/p3", 9),     # tie -> url order
        ("http://b.example.com/q", 1),
    ]
    urls = spark.createDataFrame(rows, "url string, priority long")
    out = {r["url"]: r for r in web.frontier_schedule(
        urls, priority_col="priority", per_host_delay_s=2.0
    ).collect()}
    assert out["http://a.example.com/p2"]["rank_in_host"] == 1
    assert out["http://a.example.com/p3"]["rank_in_host"] == 2
    assert out["http://A.example.com:80/p1"]["rank_in_host"] == 3
    assert out["http://A.example.com:80/p1"]["host"] == "a.example.com"
    assert out["http://A.example.com:80/p1"]["fetch_at_s"] == 4.0
    assert out["http://b.example.com/q"]["fetch_at_s"] == 0.0

    capped = web.frontier_schedule(
        urls, priority_col="priority", per_host_delay_s=2.0, max_per_host=2
    )
    assert capped.count() == 3  # host a truncated to 2, host b keeps 1

    import pytest as _pytest
    with _pytest.raises(ValueError):
        web.frontier_schedule(urls, per_host_delay_s=0)
    with _pytest.raises(ValueError):
        web.frontier_schedule(urls, max_per_host=0)


def test_kcenter_select_semantics(spark):
    """Greedy farthest-point on a hand-layout: seed = min id, each
    pick is the true farthest point from the selected set, radii are
    non-increasing, ids tie-break ascending."""
    from plda_spark.operators import sampling

    # 1-D layout embedded in 2-D, all float32-exact coordinates:
    # 0.0, 0.25, 5.0, 9.75, 10.0
    rows = [(0, [0.0, 0.0]), (1, [0.25, 0.0]), (2, [5.0, 0.0]),
            (3, [9.75, 0.0]), (4, [10.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = [(r["sel_order"], r["vec_id"], r["dist_sq"]) for r in
           sampling.kcenter_select(emb, 4).orderBy("sel_order").collect()]
    # seed 0 -> farthest is 4 (100.0) -> then 2 (25.0); after {0,4,2}
    # points 1 and 3 both sit at min-dist 0.0625 -> smaller id (1) wins
    assert got[0] == (0, 0, None)
    assert got[1] == (1, 4, 100.0)
    assert got[2] == (2, 2, 25.0)
    assert got[3] == (3, 1, 0.0625)
    radii = [g[2] for g in got[1:]]
    assert radii == sorted(radii, reverse=True)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        sampling.kcenter_select(emb, 0)
    with _pytest.raises(ValueError):
        sampling.kcenter_select(emb.where("vec_id < 0"), 2)


def test_seasonal_decompose_recovers_planted_components(spark):
    """A synthetic series = linear trend + exact weekly cycle must come
    back with near-zero residuals in the interior, NULL trend on the
    3-row edges, and a seasonal column that sums to ~0 per period."""
    import math
    from plda_spark.operators import stats

    rows = [(f"2024-01-{d:02d}", 100.0 + 2.0 * d + [0, 5, -3, 1, 4, -2, -5][d % 7])
            for d in range(1, 29)]
    daily = spark.createDataFrame(rows, "day string, y double")
    out = {r["day"]: r for r in stats.seasonal_decompose(daily).collect()}
    assert len(out) == 28
    # edges: first/last 3 days have no full centered window
    for d in (1, 2, 3, 26, 27, 28):
        assert out[f"2024-01-{d:02d}"]["trend"] is None
    # interior: linear trend is reproduced exactly by a centered MA,
    # so residuals vanish (the seasonal means absorb the cycle)
    for d in range(4, 26):
        r = out[f"2024-01-{d:02d}"]
        assert abs(r["trend"] - (100.0 + 2.0 * d)) < 1e-6, d
        assert abs(r["residual"]) < 1e-6, d
    season = {r["day"]: r["seasonal"] for r in out.values()}
    one_week = [season[f"2024-01-{d:02d}"] for d in range(8, 15)]
    assert abs(sum(one_week)) < 1e-3

    import pytest as _pytest
    with _pytest.raises(ValueError):
        stats.seasonal_decompose(daily, period=1)
    with _pytest.raises(ValueError):
        stats.seasonal_decompose(daily, trend_window=4)


def test_label_propagation_semantics(spark):
    """Two 3-cliques joined by one bridge edge: after enough rounds
    each clique converges to its minimum member label, and the
    deterministic tie-break keeps runs identical."""
    from plda_spark.operators import graph

    edges = [(1, 2), (2, 3), (1, 3),          # clique A {1,2,3}
             (10, 11), (11, 12), (10, 12),    # clique B {10,11,12}
             (3, 10)]                          # bridge
    e = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["label"] for r in
           graph.label_propagation(e, n_iter=4).collect()}
    assert set(out) == {1, 2, 3, 10, 11, 12}
    # clique A all converge to 1; clique B to its own minimum
    assert out[1] == out[2] == out[3]
    assert out[10] == out[11] == out[12]
    assert len({out[1], out[10]}) == 2  # two communities survive

    # determinism: same input twice -> identical labels
    again = {r["node"]: r["label"] for r in
             graph.label_propagation(e, n_iter=4).collect()}
    assert again == out

    import pytest as _pytest
    with _pytest.raises(ValueError):
        graph.label_propagation(e, n_iter=0)


def test_quantile_normalize_semantics(spark):
    """Two sources with shifted distributions: after normalization the
    per-source percentile structure maps onto the pooled scale — each
    source's minimum lands at the pooled minimum, maximum at the pooled
    maximum, and a mid-rank doc gets an interpolated pooled value
    between them (NOT its raw score)."""
    from plda_spark.operators import curation

    rows = [(i, "a", float(v)) for i, v in enumerate([1, 2, 3, 4, 5])] + \
           [(i + 10, "b", float(v)) for i, v in enumerate([101, 102, 103, 104, 105])]
    docs = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = {r["doc_id"]: r["normalized"] for r in
           curation.quantile_normalize(docs, "score", "source", n_cuts=10).collect()}
    # pooled min/max = 1 / 105: both sources' extremes map there
    assert out[0] == 1.0 and out[10] == 1.0
    assert out[4] == 105.0 and out[14] == 105.0
    # the two sources now agree at every rank (same within-source shape)
    for i in range(5):
        assert out[i] == out[i + 10], i
    # mid-rank maps to the pooled median (between the two clusters)
    assert 5.0 < out[2] < 101.0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        curation.quantile_normalize(docs, "score", "source", n_cuts=0)
    with _pytest.raises(ValueError):
        curation.quantile_normalize(docs, "score", "source", mode="weird")
    # approx mode runs and stays monotone within a source
    ap = {r["doc_id"]: r["normalized"] for r in curation.quantile_normalize(
        docs, "score", "source", n_cuts=10, mode="approx").collect()}
    vals = [ap[i] for i in range(5)]
    assert vals == sorted(vals)


def test_ks_test_semantics(spark):
    """Identical samples -> D=0, p=1; disjoint supports -> D=1, p~0;
    the click/purchase real-data case is pinned in the oracle gate."""
    from plda_spark.operators import stats

    rows = [("a", float(v)) for v in range(50)] + \
           [("b", float(v)) for v in range(50)] + \
           [("c", float(v + 1000)) for v in range(50)]
    df = spark.createDataFrame(rows, "g string, v double")
    same = stats.ks_test(df, "g", "v", "a", "b").first()
    assert same["d_stat"] == 0.0 and same["p_value"] == 1.0
    assert same["n_a"] == 50 and same["n_b"] == 50
    far = stats.ks_test(df, "g", "v", "a", "c").first()
    assert far["d_stat"] == 1.0 and far["p_value"] < 1e-6


def test_drift_test_cardinality_guard_and_bins(spark):
    """The exact tests REFUSE unbounded-cardinality value columns (the
    ECDF window is ONE task — on a continuous score column at scale it
    would sort the corpus in a single task) and point at the scale
    paths; bins= caps the window at k rows and matches the exact test
    where the data is already coarser than the grid."""
    import pytest as _pytest

    from plda_spark.operators import stats

    rows = [("a", float(v)) for v in range(3000)] + \
           [("b", float(v) + 0.25) for v in range(3000)]
    df = spark.createDataFrame(rows, "g string, v double")
    with _pytest.raises(ValueError, match="max_distinct"):
        stats.ks_test(df, "g", "v", "a", "b", max_distinct=1000)
    with _pytest.raises(ValueError, match="hist_ks_ranges"):
        stats.mannwhitney_u(df, "g", "v", "a", "b", max_distinct=1000)
    # bins mode runs where exact mode refused; a +0.25 shift inside a
    # 0..3000 range is invisible at 32 equal-width bins
    binned = stats.ks_test(
        df, "g", "v", "a", "b", bins=32, max_distinct=1000
    ).first()
    assert binned["n_a"] == 3000 and binned["n_b"] == 3000
    assert binned["d_stat"] <= 0.05

    far = spark.createDataFrame(
        [("a", float(v)) for v in range(200)]
        + [("c", float(v + 10_000)) for v in range(200)],
        "g string, v double",
    )
    fb = stats.ks_test(far, "g", "v", "a", "c", bins=16).first()
    assert fb["d_stat"] == 1.0 and fb["p_value"] < 1e-6
    mw = stats.mannwhitney_u(far, "g", "v", "a", "c", bins=16).first()
    assert mw["p_value"] < 1e-6 and mw["n_a"] == 200

    # degenerate single-value support: width 0 must not divide-by-zero
    one = spark.createDataFrame(
        [("a", 1.0), ("b", 1.0)], "g string, v double"
    )
    r = stats.ks_test(one, "g", "v", "a", "b", bins=8).first()
    assert r["d_stat"] == 0.0 and r["p_value"] == 1.0
    with _pytest.raises(ValueError, match="bins"):
        stats.ks_test(one, "g", "v", "a", "b", bins=0)


@pytest.mark.parametrize(
    "test_fn", ["ks_test", "mannwhitney_u", "cvm_two_sample", "ad_two_sample"]
)
def test_raw_drift_tests_drop_nulls_and_refuse_empty_groups(spark, test_fn):
    """The four raw two-sample tests share one cell builder: a NULL
    value is not data (n counts only non-NULL rows and the readout
    equals the NULL-free input's), and a group with no non-NULL value
    raises the one "empty group" ValueError, in bins mode too."""
    from plda_spark.operators import stats

    fn = getattr(stats, test_fn)
    with_nulls = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", None),
         ("b", 2.0), ("b", 3.0), ("b", None)],
        "g string, v double",
    )
    got = fn(with_nulls, "g", "v", "a", "b").first()
    assert got["n_a"] == 2 and got["n_b"] == 2
    assert got == fn(with_nulls.where("v IS NOT NULL"), "g", "v", "a", "b").first()

    only_null_b = spark.createDataFrame(
        [("a", 1.0), ("b", None)], "g string, v double"
    )
    modes = [{}, {"bins": 4}] if test_fn in ("ks_test", "mannwhitney_u") else [{}]
    for kw in modes:
        with pytest.raises(ValueError, match="empty group"):
            fn(with_nulls, "g", "v", "a", "zzz", **kw)
        with pytest.raises(ValueError, match="empty group"):
            fn(only_null_b, "g", "v", "a", "b", **kw)


def test_welch_shift_and_bh_semantics(spark):
    """welch_ttest matches the closed-form Welch t and Satterthwaite
    dof (hand-computed via numpy); the one-vs-rest screen agrees with
    the two-group case by symmetry; BH q-values match the step-up
    definition on a textbook p-vector."""
    import math

    import numpy as np

    from plda_spark.operators import stats

    a = [1.0, 2, 3, 4, 5, 6, 7, 8, 100]
    b = [2.0, 2, 3, 3, 4, 4, 5, 5]
    df = spark.createDataFrame(
        [("a", float(x)) for x in a] + [("b", float(x)) for x in b],
        "g string, v double",
    )
    r = stats.welch_ttest(df, "g", "v", "a", "b").first()
    va, vb = np.var(a, ddof=1), np.var(b, ddof=1)
    se2 = va / len(a) + vb / len(b)
    t = (np.mean(a) - np.mean(b)) / math.sqrt(se2)
    dof = se2**2 / (
        (va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1)
    )
    assert r["t_stat"] == round(t, 6) and r["dof"] == round(dof, 4)
    assert r["n_a"] == 9 and r["n_b"] == 8
    assert 0.0 < r["p_value"] < 1.0

    # with exactly two groups, one-vs-rest IS the two-sample test:
    # both rows carry the same |z| and p
    shift = {s["group"]: s for s in
             stats.group_mean_shift_tests(df, "g", "v").collect()}
    assert shift["a"]["z"] == shift["b"]["z"] == r["t_stat"]
    assert shift["a"]["p_value"] == r["p_value"]

    tests = spark.createDataFrame(
        [("t1", 0.001), ("t2", 0.008), ("t3", 0.039), ("t4", 0.041),
         ("t5", 0.20)],
        "test string, p double",
    )
    out = {x["test"]: x for x in
           stats.bh_fdr(tests, "test", "p", alpha=0.05).collect()}
    # q_i = min_{j>=i} p_j*m/j: t3's raw 0.065 is pulled down by t4's
    # 0.05125; t1/t2 reject at alpha=0.05, t3/t4 just miss
    assert out["t1"]["q_value"] == 0.005 and out["t1"]["reject"]
    assert out["t2"]["q_value"] == 0.02 and out["t2"]["reject"]
    assert out["t3"]["q_value"] == 0.05125 and not out["t3"]["reject"]
    assert out["t4"]["q_value"] == 0.05125 and not out["t4"]["reject"]
    assert out["t5"]["q_value"] == 0.2 and out["t5"]["m"] == 5

    import pytest as _pytest
    with _pytest.raises(ValueError):
        stats.bh_fdr(tests, "test", "p", alpha=0.0)



def test_welch_ttest_skips_null_values(spark):
    """A NULL value is not an observation: group a = {1, 3, NULL} has
    n 2 and mean 2, as in every two-group moment test; the t-test on
    it equals the one on the same data without the NULL row."""
    from plda_spark.operators import stats

    rows = [("a", 1.0), ("a", 3.0), ("b", 2.0), ("b", 5.0), ("b", 6.0)]
    schema = "g string, v double"
    with_null = spark.createDataFrame(rows + [("a", None)], schema)
    r = stats.welch_ttest(with_null, "g", "v", "a", "b").first()
    assert (r["n_a"], r["n_b"], r["mean_a"]) == (2, 3, 2.0)
    without = spark.createDataFrame(rows, schema)
    assert r == stats.welch_ttest(without, "g", "v", "a", "b").first()

def test_benford_and_weighted_quantiles_semantics(spark):
    """Powers of two famously follow Benford: the audit recovers the
    digit mix with the missing-digit-exact MAD/chi2 identities (7 and
    9 never lead 2^k for k<40).  Weighted quantiles: one whale weight
    drags every quartile onto its value; zero-width groups behave."""
    from plda_spark.operators import stats

    bf = spark.createDataFrame([(float(2**k),) for k in range(40)],
                               "v double")
    rows = {r["digit"]: r for r in
            stats.benford_audit(bf, "v").collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 6, 8}  # 7, 9 absent
    assert rows[1]["n"] == 12 and rows[2]["n"] == 8
    assert rows[1]["obs_p"] == 0.3 and rows[1]["exp_p"] == 0.30103
    # table-level stats identical on every row, missing digits included
    assert rows[1]["mad"] == rows[8]["mad"] == 0.028826
    assert rows[1]["chi2"] == rows[8]["chi2"] == 7.220595

    wq = spark.createDataFrame(
        [("x", 1.0, 1.0), ("x", 2.0, 1.0), ("x", 3.0, 98.0),
         ("y", 5.0, 1.0)],
        "g string, v double, w double",
    )
    out = {r["group"]: r for r in
           stats.weighted_quantiles(wq, "g", "v", "w").collect()}
    assert (out["x"]["q0_25"], out["x"]["q0_5"], out["x"]["q0_75"]) == (
        3.0, 3.0, 3.0)  # 98% of the weight sits on v=3
    assert out["x"]["total_weight"] == 100.0
    assert out["y"]["q0_5"] == 5.0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        stats.weighted_quantiles(wq, "g", "v", "w", qs=())
    with _pytest.raises(ValueError):
        stats.weighted_quantiles(wq, "g", "v", "w", qs=(0.0,))
    with _pytest.raises(Exception, match="negative weight"):
        stats.weighted_quantiles(
            spark.createDataFrame([("x", 1.0, -1.0)],
                                  "g string, v double, w double"),
            "g", "v", "w",
        ).collect()


def test_markov_attribution_semantics(spark):
    """Hand-solved 3-user chain: P(START)={a:.5, b:.25, CONV:.25},
    P(a)={b:.5, NULL:.5}, P(b)={CONV:1} -> p_base=.75; removing a
    drops it to .5 (removal 1/3), removing b to .25 (removal 2/3);
    attributions 1/3 and 2/3.  Touches at/after the conversion
    timestamp never credit; converters with no touches route
    START->CONV; no-conversion corpora credit nothing."""
    import pytest as _pytest
    from pyspark.sql import functions as SF

    from plda_spark.operators import events as ev_ops

    rows = [
        (1, "2024-01-01 00:00", 1, "a", 0.0),
        (2, "2024-01-01 00:01", 1, "b", 0.0),
        (3, "2024-01-01 00:02", 1, "purchase", 10.0),
        (4, "2024-01-01 00:00", 2, "a", 0.0),
        (5, "2024-01-01 00:00", 3, "b", 0.0),
        (6, "2024-01-01 00:01", 3, "purchase", 5.0),
        (7, "2024-01-01 00:00", 4, "purchase", 1.0),
        # a touch AT the conversion instant and one after: neither credits
        (8, "2024-01-01 00:02", 1, "a", 0.0),
        (9, "2024-01-01 00:03", 1, "a", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).withColumn("ts", SF.to_timestamp("ts"))
    out = {r["channel"]: r for r in ev_ops.markov_attribution(df).collect()}
    assert set(out) == {"a", "b"}
    assert out["a"]["p_base"] == out["b"]["p_base"] == 0.75
    assert out["a"]["p_removed"] == 0.5 and out["b"]["p_removed"] == 0.25
    assert out["a"]["removal_effect"] == 0.333333
    assert out["b"]["removal_effect"] == 0.666667
    assert out["a"]["attribution"] == 0.333333
    assert out["b"]["attribution"] == 0.666667

    # no conversions anywhere: p_base 0, zero credit, no division blowup
    nc = ev_ops.markov_attribution(
        df.where("event_type <> 'purchase'")
    ).collect()
    assert {r["channel"] for r in nc} == {"a", "b"}
    assert all(r["p_base"] == 0.0 and r["attribution"] == 0.0 for r in nc)

    # conversions only: no channels, empty frame with the full schema
    empty = ev_ops.markov_attribution(df.where("event_type = 'purchase'"))
    assert empty.count() == 0 and len(empty.columns) == 5

    with _pytest.raises(ValueError):
        ev_ops.markov_attribution(df, n_iter=0)
    with _pytest.raises(ValueError, match="max_channels"):
        ev_ops.markov_attribution(df, max_channels=1)

    # high-cardinality misuse (unique id as the channel column) must
    # raise at the approx_count_distinct PRE-check — "distinct
    # channels" is the pre-check's message; the post-collect guard
    # says "channels > max_channels" without "distinct" — so the
    # unbounded transition table is never built, let alone collected
    wide = spark.range(2000).selectExpr(
        "cast(id % 50 as string) as user_id",
        "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id) as ts",
        "id as event_id",
        "concat('url_', id) as event_type",
    )
    with _pytest.raises(ValueError, match="distinct channels"):
        ev_ops.markov_attribution(wide, max_channels=100)


def test_link_prediction_semantics(spark):
    """Hand-checked path graph 1-2-3 + 2-4 + 3-4: the only distance-2
    non-adjacent pairs are (1,3) and (1,4), both through center 2
    (deg 3): cn=1, jaccard=1/(1+2-1)=0.5, aa=1/ln(3).  Adjacent pairs
    never surface; the degree cap silences hub centers; top_k cuts on
    the (cn desc, u, v) total order."""
    import math

    import pytest as _pytest

    from plda_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    out = {(r["u"], r["v"]): r for r in
           graph.link_prediction(edges).collect()}
    assert set(out) == {(1, 3), (1, 4)}
    r = out[(1, 3)]
    assert r["cn"] == 1 and r["jaccard"] == 0.5
    assert r["adamic_adar"] == round(1 / math.log(3), 6)
    # cap at 2 removes node 2 (deg 3) as a center: only center 3 and 4
    # (deg 2) wedges remain, and their pairs (2,4)/(2,3) are adjacent
    capped = graph.link_prediction(edges, max_degree=2).collect()
    assert capped == []
    assert len(graph.link_prediction(edges, top_k=1).collect()) == 1
    with _pytest.raises(ValueError):
        graph.link_prediction(edges, max_degree=1)
    with _pytest.raises(ValueError):
        graph.link_prediction(edges, top_k=0)


def test_privacy_semantics(spark):
    """k-anonymity: class sizes + violation flags match hand counts,
    NULL QI forms its own class, suppression keeps exactly the
    >=k classes; dp_noisy_counts is deterministic per (group, seed),
    changes with the seed, and clamps at zero."""
    import pytest as _pytest

    from plda_spark.operators import privacy

    rows = [("a", "x")] * 6 + [("a", "y")] * 2 + [("b", "x")] * 3 + [
        (None, "x")]
    df = spark.createDataFrame(rows, "q1 string, q2 string")
    audit = {(r["q1"], r["q2"]): (r["n"], r["violates"]) for r in
             privacy.k_anonymity_audit(df, ["q1", "q2"], k=3).collect()}
    assert audit == {
        ("a", "x"): (6, False), ("a", "y"): (2, True),
        ("b", "x"): (3, False), (None, "x"): (1, True),
    }
    kept = privacy.k_suppress(df, ["q1", "q2"], k=3)
    assert kept.count() == 9 and kept.columns == ["q1", "q2"]

    d1 = {r["q1"]: r["noisy_n"] for r in
          privacy.dp_noisy_counts(df, ["q1"], seed=7).collect()}
    d2 = {r["q1"]: r["noisy_n"] for r in
          privacy.dp_noisy_counts(df, ["q1"], seed=7).collect()}
    d3 = {r["q1"]: r["noisy_n"] for r in
          privacy.dp_noisy_counts(df, ["q1"], seed=8).collect()}
    assert d1 == d2  # same seed -> same release (replayable)
    assert d1 != d3  # the seed actually feeds the draw
    assert all(v >= 0 for v in d1.values())  # clamp_nonneg default
    # tighter epsilon -> larger noise scale for the same draw
    loose = {r["q1"]: abs(r["noisy_n"] - r["n"]) for r in
             privacy.dp_noisy_counts(df, ["q1"], epsilon=1.0, seed=7,
                                     clamp_nonneg=False).collect()}
    tight = {r["q1"]: abs(r["noisy_n"] - r["n"]) for r in
             privacy.dp_noisy_counts(df, ["q1"], epsilon=0.1, seed=7,
                                     clamp_nonneg=False).collect()}
    assert all(tight[g] >= loose[g] for g in loose)

    with _pytest.raises(ValueError):
        privacy.k_anonymity_audit(df, [], k=3)
    with _pytest.raises(ValueError):
        privacy.k_suppress(df, ["q1"], k=1)
    with _pytest.raises(ValueError):
        privacy.dp_noisy_counts(df, ["q1"], epsilon=0.0)


def test_top_paths_semantics(spark):
    """Hand fixture: user 1 does a,b,c,b,c (paths abc, bcb, cbc);
    user 2 does a,b,c (abc) — abc counts twice and sequences never
    cross users; top_k cuts on (n desc, path asc); short streams
    contribute nothing."""
    import pytest as _pytest
    from pyspark.sql import functions as SF

    from plda_spark.operators import events as ev_ops

    rows = [(i, f"2024-01-01 00:0{i}", 1, t, 0.0)
            for i, t in enumerate(["a", "b", "c", "b", "c"])]
    rows += [(10 + i, f"2024-01-01 00:0{i}", 2, t, 0.0)
             for i, t in enumerate(["a", "b", "c"])]
    rows += [(20, "2024-01-01 00:00", 3, "z", 0.0)]  # too short
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).withColumn("ts", SF.to_timestamp("ts"))
    out = {r["path"]: r["n"] for r in ev_ops.top_paths(df).collect()}
    assert out == {"a > b > c": 2, "b > c > b": 1, "c > b > c": 1}
    top1 = ev_ops.top_paths(df, top_k=1).collect()
    assert [(r["path"], r["n"]) for r in top1] == [("a > b > c", 2)]
    pairs = {r["path"]: r["n"] for r in
             ev_ops.top_paths(df, length=2).collect()}
    assert pairs["b > c"] == 3 and "z" not in " ".join(pairs)
    with _pytest.raises(ValueError):
        ev_ops.top_paths(df, length=1)


def test_mutual_information_semantics(spark):
    """Perfect dependence: MI = ln(3), NMI = 1; independence: both 0;
    a constant column (zero entropy) reports NMI 0; a mixed table
    matches the Counter-based hand computation exactly."""
    import math
    from collections import Counter

    from plda_spark.operators import stats

    dep = spark.createDataFrame(
        [("x", "p")] * 10 + [("y", "q")] * 10 + [("z", "r")] * 10,
        "a string, b string",
    )
    r = stats.mutual_information(dep, "a", "b").first()
    assert r["nmi"] == 1.0 and r["mi"] == round(math.log(3), 6)
    assert r["n"] == 30 and r["n_a"] == r["n_b"] == 3
    ind = spark.createDataFrame(
        [("x", "p")] * 5 + [("x", "q")] * 5 + [("y", "p")] * 5
        + [("y", "q")] * 5,
        "a string, b string",
    )
    r2 = stats.mutual_information(ind, "a", "b").first()
    assert r2["mi"] == 0.0 and r2["nmi"] == 0.0
    const = spark.createDataFrame(
        [("x", "p")] * 5 + [("x", "q")] * 5, "a string, b string"
    )
    assert stats.mutual_information(const, "a", "b").first()["nmi"] == 0.0

    rows = [("x", "p")] * 6 + [("x", "q")] * 2 + [("y", "p")] * 1 + [
        ("y", "q")] * 7
    r4 = stats.mutual_information(
        spark.createDataFrame(rows, "a string, b string"), "a", "b"
    ).first()
    n = len(rows)
    ca, cb, cab = (Counter(a for a, _ in rows), Counter(b for _, b in rows),
                   Counter(rows))
    mi = sum(c / n * math.log(c * n / (ca[a] * cb[b]))
             for (a, b), c in cab.items())
    ha = -sum(c / n * math.log(c / n) for c in ca.values())
    hb = -sum(c / n * math.log(c / n) for c in cb.values())
    assert r4["mi"] == round(mi, 6)
    assert r4["nmi"] == round(mi / math.sqrt(ha * hb), 6)


def test_ltv_cohorts_semantics(spark):
    """Hand-checked triangle: two users cohorted in week 0 spend 10
    (wk0) and 30 (wk1) -> cum LTV per user 5 then 20; a week-1 cohort
    of one spends 7 -> its own offset-0 row; non-purchase events never
    contribute revenue but DO set cohorts."""
    from pyspark.sql import functions as SF

    from plda_spark.operators import events as ev_ops

    rows = [
        # users 1,2 first active Mon 2024-01-01 week; user 3 next week
        (1, "2024-01-01 10:00", 1, "view", 0.0),
        (2, "2024-01-02 10:00", 2, "purchase", 10.0),
        (3, "2024-01-09 10:00", 1, "purchase", 30.0),   # week offset 1
        (4, "2024-01-08 10:00", 3, "purchase", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).withColumn("ts", SF.to_timestamp("ts"))
    out = {(r["cohort_week"], r["weeks_since"]): r for r in
           ev_ops.ltv_cohorts(df).collect()}
    a0 = out[("2024-01-01", 0)]
    assert a0["cohort_users"] == 2 and a0["revenue"] == 10.0
    assert a0["cum_ltv_per_user"] == 5.0
    a1 = out[("2024-01-01", 1)]
    assert a1["revenue"] == 30.0 and a1["cum_ltv_per_user"] == 20.0
    b0 = out[("2024-01-08", 0)]
    assert b0["cohort_users"] == 1 and b0["cum_ltv_per_user"] == 7.0
    assert len(out) == 3


def test_spearman_matches_pandas_average_ranks(spark):
    """The pair-count formulation must equal pandas' average-rank
    Pearson exactly (ties included); perfectly monotone data gives 1,
    a constant column 0, and the cardinality guard trips."""
    import numpy as np
    import pandas as pd
    import pytest as _pytest

    from plda_spark.operators import stats

    rows = [(float(i), float((i * 7) % 13) + (0.5 if i % 2 else 0.0))
            for i in range(40)] + [(5.0, 3.0), (5.0, 3.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    r = stats.spearman_corr(df, "x", "y").first()
    pdf = pd.DataFrame(rows, columns=["x", "y"])
    ref = float(np.corrcoef(pdf["x"].rank(method="average"),
                            pdf["y"].rank(method="average"))[0, 1])
    assert r["rho"] == round(ref, 6) and r["n"] == 42
    mono = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(10)], "x double, y double"
    )
    assert stats.spearman_corr(mono, "x", "y").first()["rho"] == 1.0
    const = spark.createDataFrame(
        [(float(i), 2.0) for i in range(10)], "x double, y double"
    )
    assert stats.spearman_corr(const, "x", "y").first()["rho"] == 0.0
    with _pytest.raises(ValueError, match="max_distinct"):
        stats.spearman_corr(df, "x", "y", max_distinct=3)


def test_acf_daily_matches_numpy(spark):
    """ACF on a 28-day weekly sinusoid matches numpy's estimator at
    every lag (spike at lag 7); on a gapped series the calendar
    pairing DROPS pairs touching the missing day (lag1: 27−2, lag2:
    26−2) instead of sliding the alignment."""
    import math

    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as SF

    from plda_spark.operators import stats

    rows = [(f"2024-01-{d:02d} 00:00", 10.0 + 5.0 * math.sin(
        2 * math.pi * d / 7)) for d in range(1, 29)]
    df = spark.createDataFrame(rows, "ts string, v double").withColumn(
        "ts", SF.to_timestamp("ts")
    )
    out = {r["lag"]: (r["n_pairs"], r["acf"]) for r in
           stats.acf_daily(df, "ts", "v", max_lag=7).collect()}
    x = np.array([v for _, v in rows])
    m, ss = x.mean(), ((x - x.mean()) ** 2).sum()
    for lag in range(1, 8):
        ref = ((x[lag:] - m) * (x[:-lag] - m)).sum() / ss
        assert out[lag] == (28 - lag, round(float(ref), 6))
    assert out[7][1] > 0.7 > abs(out[1][1])  # weekly spike dominates

    gapped = {r["lag"]: r["n_pairs"] for r in stats.acf_daily(
        df.where("to_date(ts) <> '2024-01-05'"), "ts", "v", max_lag=2
    ).collect()}
    assert gapped == {1: 25, 2: 24}
    flat = stats.acf_daily(df.withColumn("v", SF.lit(2.0)), "ts", "v",
                           max_lag=2).collect()
    assert all(r["acf"] == 0.0 for r in flat)  # zero variance
    with _pytest.raises(ValueError):
        stats.acf_daily(df, "ts", "v", max_lag=0)


def test_curriculum_order_semantics(spark):
    """Quartile phases split 8 scores 2/2/2/2 with boundary ties going
    to the lower phase; positions are a per-phase md5 permutation
    (contiguous 1..n, deterministic across runs); descending flips the
    difficulty direction."""
    import pytest as _pytest

    from plda_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 9)], "doc_id long, s double"
    )
    out = sampling.curriculum_order(docs, "s", n_phases=4,
                                    id_col="doc_id").collect()
    by_phase = {}
    for r in out:
        by_phase.setdefault(r["phase"], []).append(r)
    # cuts at 2.75/4.5/6.25: phases {1,2},{3,4},{5,6},{7,8}
    assert {p: sorted(x["doc_id"] for x in rows)
            for p, rows in by_phase.items()} == {
        1: [1, 2], 2: [3, 4], 3: [5, 6], 4: [7, 8]}
    for rows in by_phase.values():
        assert sorted(x["position"] for x in rows) == [1, 2]
    again = sampling.curriculum_order(docs, "s", n_phases=4).collect()
    assert sorted(map(str, again)) == sorted(map(str, out))  # replayable
    desc = sampling.curriculum_order(docs, "s", n_phases=4,
                                     ascending=False).collect()
    assert {r["doc_id"] for r in desc if r["phase"] == 1} == {7, 8}
    with _pytest.raises(ValueError):
        sampling.curriculum_order(docs, "s", n_phases=1)


def test_cusum_matches_sequential_recursion(spark):
    """The closed-form prefix-sum − running-min formulation must equal
    the textbook per-day recursion S⁺=max(0,S⁺+z−k) / S⁻=max(0,S⁻−z−k)
    computed sequentially in Python, row for row, on a series with a
    mid-stream level shift (both sides reset at least once)."""
    import statistics

    import pytest as _pytest
    from pyspark.sql import functions as SF

    from plda_spark.operators import stats

    rows = [(f"2024-01-{d:02d} 00:00", 10.0 + 0.1 * (d % 3))
            for d in range(1, 11)] + \
           [(f"2024-01-{d:02d} 00:00", 14.0 + 0.1 * (d % 3))
            for d in range(11, 21)]
    df = spark.createDataFrame(rows, "ts string, v double").withColumn(
        "ts", SF.to_timestamp("ts")
    )
    out = stats.cusum_changepoints(df, "ts", "v", k=0.5, h=3.0).orderBy(
        "day"
    ).collect()
    vals = [v for _, v in rows]
    m, s = sum(vals) / len(vals), statistics.stdev(vals)
    sp = sn = 0.0
    for r, v in zip(out, vals):
        z = (v - m) / s
        sp, sn = max(0.0, sp + z - 0.5), max(0.0, sn - z - 0.5)
        assert (r["s_pos"], r["s_neg"]) == (round(sp, 6), round(sn, 6))
    assert any(r["alarm"] for r in out)  # the level shift fires
    flat = stats.cusum_changepoints(
        df.withColumn("v", SF.lit(5.0)), "ts", "v"
    ).collect()
    assert all(r["z"] == 0.0 and not r["alarm"] for r in flat)  # std=0
    with _pytest.raises(ValueError):
        stats.cusum_changepoints(df, "ts", "v", h=0.0)
    with _pytest.raises(ValueError):
        stats.cusum_changepoints(df, "ts", "v", k=-1.0)


def test_hist_psi_ranges_matches_direct_psi(spark):
    """The rollup-only PSI must equal the direct psi() total on data
    whose values land exactly on the shared grid (no discretization
    gap), and the min_share guard trips."""
    import pytest as _pytest
    from pyspark.sql import functions as SF

    from plda_spark.operators import stats

    rows = []
    # range A days 1-2: values cluster low; range B days 20-21: high
    for d, vals in [(1, [10.0] * 8 + [50.0] * 2),
                    (2, [10.0] * 7 + [50.0] * 3),
                    (20, [10.0] * 2 + [50.0] * 8),
                    (21, [10.0] * 3 + [50.0] * 7)]:
        rows += [(f"2024-01-{d:02d} 00:00", v) for v in vals]
    df = spark.createDataFrame(rows, "ts string, value double").withColumn(
        "ts", SF.to_timestamp("ts")
    )
    sk = stats.hist_daily_sketches(df, "value", lo=0.0, hi=100.0, nbins=10)
    got = stats.hist_psi_ranges(
        sk, ("2024-01-01", "2024-01-02"), ("2024-01-20", "2024-01-21")
    ).first()
    assert got["n_a"] == 20 and got["n_b"] == 20
    # direct psi on a group-labeled frame with the SAME 10-bin grid
    lab = df.withColumn(
        "g",
        SF.when(SF.to_date("ts") <= "2024-01-02", "a").otherwise("b"),
    )
    # values 10 and 50 fall in fixed bins regardless of pooled min/max
    # only when the grids match; compute the expected total by hand:
    # shares a = (.75, .25), b = (.25, .75) on the two occupied bins
    import math
    exp = 2 * (0.75 - 0.25) * math.log(0.75 / 0.25)
    assert got["psi"] == round(exp, 6)
    with _pytest.raises(ValueError):
        stats.hist_psi_ranges(sk, ("a", "b"), ("c", "d"), min_share=0.7)

    # one EMPTY range: the zero-filled grid + min_share clamp wins —
    # psi is finite and large ("everything moved"), never NULL
    one_empty = stats.hist_psi_ranges(
        sk, ("2024-01-01", "2024-01-02"), ("2030-01-01", "2030-01-02")
    ).first()
    assert one_empty["n_a"] == 20 and one_empty["n_b"] == 0
    assert one_empty["psi"] is not None and one_empty["psi"] > 1.0
    # BOTH ranges empty: no grid to borrow — documented NULL
    both_empty = stats.hist_psi_ranges(
        sk, ("2030-01-01", "2030-01-02"), ("2031-01-01", "2031-01-02")
    ).first()
    assert both_empty["psi"] is None


def test_mmr_rerank_semantics(spark):
    """Hand fixture: doc 2 is a near-duplicate of the seed with almost
    its relevance — pure relevance ranks it second, MMR at λ=0.5 skips
    it for the orthogonal docs 3 and 4; λ=1 reduces to relevance
    order; the literal budget and empty-frame guards trip."""
    import numpy as np
    import pytest as _pytest

    from plda_spark.operators import similarity as sim

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 1.00),
        (2, [0.999, 0.01, 0.0, 0.0], 0.99),
        (3, [0.0, 1.0, 0.0, 0.0], 0.80),
        (4, [0.0, 0.0, 1.0, 0.0], 0.10),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, score double"
    )
    out = sim.mmr_rerank(df, k=3, lam=0.5).collect()
    assert [r["vec_id"] for r in out] == [1, 3, 4]
    assert out[0]["mmr"] is None and out[0]["score"] == 1.0

    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    assert out[1]["mmr"] == round(0.5 * 0.80 - 0.5 * cos(rows[2][1],
                                                         rows[0][1]), 6)
    assert out[2]["mmr"] == round(
        0.5 * 0.10
        - 0.5 * max(cos(rows[3][1], rows[0][1]), cos(rows[3][1], rows[2][1])),
        6,
    )
    pure = [r["vec_id"] for r in sim.mmr_rerank(df, k=4, lam=1.0).collect()]
    assert pure == [1, 2, 3, 4]
    # k beyond the candidate count stops early instead of raising
    assert len(sim.mmr_rerank(df, k=10, lam=0.5).collect()) == 4
    with _pytest.raises(ValueError):
        sim.mmr_rerank(df, k=0)
    with _pytest.raises(ValueError):
        sim.mmr_rerank(df, k=3, lam=1.5)
    with _pytest.raises(ValueError, match="literal"):
        sim.mmr_rerank(df, k=10_000)
    with _pytest.raises(ValueError, match="empty"):
        sim.mmr_rerank(df.where("vec_id > 99"), k=2)


def test_kaplan_meier_and_hits_semantics(spark):
    """KM hand fixture: churns at t=2 (2 of 4 at risk -> S=.5) and t=5
    (1 of 2 -> S=.25); censored users never appear as events.  HITS on
    1->3, 2->3, 3->4: three iterations give hubs 8/17, 8/17, 1/17 and
    authorities 8/9, 1/9 (hand-iterated with L1 normalization)."""
    import pytest as _pytest
    from pyspark.sql import functions as SF

    from plda_spark.operators import events as ev_ops
    from plda_spark.operators import graph

    rows = []
    for u, days in [(1, [1, 3]), (2, [2, 4]), (3, [1, 6]), (4, [1, 28]),
                    (5, [31])]:
        rows += [(u, f"2024-01-{d:02d} 12:00") for d in days]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", SF.to_timestamp("ts")
    )
    km = {r["t"]: r for r in
          ev_ops.kaplan_meier(df, censor_window_days=7).collect()}
    assert set(km) == {2, 5}
    assert (km[2]["n_risk"], km[2]["n_events"], km[2]["survival"]) == (
        4, 2, 0.5)
    assert (km[5]["n_risk"], km[5]["n_events"], km[5]["survival"]) == (
        2, 1, 0.25)
    with _pytest.raises(ValueError):
        ev_ops.kaplan_meier(df, censor_window_days=-1)

    e = spark.createDataFrame([(1, 3), (2, 3), (3, 4)], "src long, dst long")
    h = {r["node"]: (r["hub"], r["authority"]) for r in
         graph.hits(e, n_iter=3).collect()}
    assert h[1] == (round(8 / 17, 6), 0.0)
    assert h[2] == (round(8 / 17, 6), 0.0)
    assert h[3] == (round(1 / 17, 6), round(8 / 9, 6))
    assert h[4] == (0.0, round(1 / 9, 6))
    with _pytest.raises(ValueError):
        graph.hits(e, n_iter=0)


def test_l_diversity_and_vocab_richness_semantics(spark):
    """l-diversity: a class with one sensitive value violates l=2 even
    at n=3 (the homogeneity attack); NULL counts as observable.
    Richness: hand spectrum aa bb aa cc dd dd -> N=6 V=4 f1=2 f2=2,
    chao1=5; f2=0 falls back to the bias-corrected form."""
    import pytest as _pytest
    from pyspark.sql import functions as SF

    from plda_spark.operators import privacy
    from plda_spark.operators import text as text_ops

    d2 = spark.createDataFrame(
        [("a", "x", "s1")] * 3 + [("a", "y", "s1")] * 2 + [("a", "y", None)],
        "q1 string, q2 string, s string",
    )
    ld = {(r["q1"], r["q2"]): (r["n"], r["n_sensitive"], r["violates"])
          for r in privacy.l_diversity_audit(d2, ["q1", "q2"], "s",
                                             l=2).collect()}
    assert ld[("a", "x")] == (3, 1, True)
    assert ld[("a", "y")] == (3, 2, False)  # s1 + NULL = 2 observable
    with _pytest.raises(ValueError):
        privacy.l_diversity_audit(d2, ["q1"], "s", l=1)

    docs = spark.createDataFrame(
        [(1, "aa bb aa cc dd dd", "w")],
        "doc_id long, text string, source string",
    )
    vr = text_ops.vocab_richness(docs).first()
    assert (vr["n_tokens"], vr["n_types"], vr["f1"], vr["f2"]) == (6, 4, 2, 2)
    assert vr["chao1"] == 5.0 and vr["ttr"] == round(4 / 6, 6)
    assert vr["gt_coverage"] == round(1 - 2 / 6, 6)
    vr2 = text_ops.vocab_richness(
        docs.withColumn("text", SF.lit("aa bb cc"))
    ).first()
    assert vr2["f2"] == 0 and vr2["chao1"] == 6.0  # 3 + 3*2/(2*1)
    grouped = text_ops.vocab_richness(docs, group_col="source").first()
    assert grouped["group"] == "w" and grouped["n_types"] == 4


def test_rrf_vocab_jackknife_semantics(spark):
    """RRF: hand-checked rank fusion across two systems (doc in both
    lists gets 1/62 + 1/61; single-system docs get one term); vocab
    coverage: occurrence-weighted OOV rates match hand counts;
    jackknife: SE matches the delete-one formula computed in numpy."""
    import pytest as _pytest

    from plda_spark.operators import invindex, stats
    from plda_spark.operators import text as text_ops

    rk = spark.createDataFrame(
        [("s1", 10, 0.9), ("s1", 11, 0.8), ("s1", 12, 0.7),
         ("s2", 11, 5.0), ("s2", 12, 4.0), ("s2", 13, 3.0)],
        "system string, doc_id long, score double",
    )
    out = {r["doc_id"]: r for r in
           invindex.rrf_fuse(rk, k=60, top_n=10).collect()}
    assert out[11]["rrf"] == round(1 / 62 + 1 / 61, 6)
    assert out[11]["n_systems"] == 2
    assert out[10]["rrf"] == round(1 / 61, 6) and out[10]["n_systems"] == 1
    # per-query fusion keeps queries separate
    rk2 = rk.withColumn("q", rk["doc_id"] % 2)
    per_q = invindex.rrf_fuse(rk2, query_col="q", top_n=1).collect()
    assert len(per_q) == 2 and {r["q"] for r in per_q} == {0, 1}
    with _pytest.raises(ValueError):
        invindex.rrf_fuse(rk, k=0)
    with _pytest.raises(ValueError):
        invindex.rrf_fuse(rk, top_n=0)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma", "web"), (2, "alpha alpha zork", "web"),
         (3, "beta beta beta", "book")],
        "doc_id long, text string, source string",
    )
    vocab = spark.createDataFrame([("alpha",), ("beta",)], "word string")
    cv = {r["group"]: r for r in
          text_ops.vocab_coverage(docs, vocab).collect()}
    assert cv["web"]["n_tokens"] == 6 and cv["web"]["n_oov"] == 2
    assert cv["web"]["oov_rate"] == round(2 / 6, 6)
    assert cv["book"]["n_oov"] == 0 and cv["book"]["coverage"] == 1.0

    data = [("d1", 10.0, 2.0), ("d2", 20.0, 5.0), ("d3", 5.0, 1.0),
            ("d4", 8.0, 4.0)]
    df = spark.createDataFrame(data, "g string, n double, d double")
    r = stats.jackknife_ratio(df, "g", "n", "d").first()
    N, D = 43.0, 12.0
    reps = [(N - n) / (D - d) for _, n, d in data]
    G = len(reps)
    m = sum(reps) / G
    se = ((G - 1) / G * sum((x - m) ** 2 for x in reps)) ** 0.5
    assert r["ratio"] == round(N / D, 6) and r["jack_se"] == round(se, 6)
    assert r["ci_lo"] == round(N / D - 1.959964 * se, 6)
    assert r["n_groups"] == 4
    # a group whose deletion empties the denominator is excluded
    df2 = spark.createDataFrame(
        [("a", 1.0, 5.0), ("b", 2.0, 0.0)], "g string, n double, d double"
    )
    r2 = stats.jackknife_ratio(df2, "g", "n", "d").first()
    assert r2["n_groups"] == 1 and r2["jack_se"] == 0.0


def test_psi_kruskal_trend_semantics(spark):
    """PSI matches a numpy recomputation bin-for-bin on two shifted
    uniforms; Kruskal-Wallis H matches the hand tie-corrected formula;
    Theil-Sen on an exact-linear daily series recovers the slope with
    a significant Mann-Kendall p."""
    import collections

    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as SF

    from plda_spark.operators import stats

    a = list(np.linspace(0, 10, 101))
    b = list(np.linspace(2, 12, 101))
    df = spark.createDataFrame(
        [("a", float(x)) for x in a] + [("b", float(x)) for x in b],
        "g string, v double",
    )
    rows = stats.psi(df, "g", "v", "a", "b", bins=5).collect()
    lo, hi, w = 0.0, 12.0, 12.0 / 5
    ca, cb = np.zeros(5), np.zeros(5)
    for x in a:
        ca[min(int((x - lo) / w), 4)] += 1
    for x in b:
        cb[min(int((x - lo) / w), 4)] += 1
    pa = np.maximum(ca / ca.sum(), 1e-4)
    pb = np.maximum(cb / cb.sum(), 1e-4)
    assert len(rows) == 5
    assert rows[0]["psi"] == round(float(((pa - pb) * np.log(pa / pb)).sum()), 6)
    got = {r["bin"]: (r["p_a"], r["p_b"]) for r in rows}
    for i in range(5):
        assert got[i] == (round(float(pa[i]), 6), round(float(pb[i]), 6))
    with _pytest.raises(ValueError):
        stats.psi(df, "g", "v", "a", "b", bins=1)
    # an entirely-absent group degrades to the clamp, never a NaN
    import math as _math
    absent = stats.psi(df, "g", "v", "a", "zzz", bins=4).collect()
    assert absent and all(not _math.isnan(r["psi"]) for r in absent)

    g1, g2, g3 = [1.0, 2, 3, 4, 5], [2.0, 3, 4, 5, 6], [10.0, 11, 12, 13, 14]
    df2 = spark.createDataFrame(
        [("g1", float(x)) for x in g1] + [("g2", float(x)) for x in g2]
        + [("g3", float(x)) for x in g3],
        "g string, v double",
    )
    r = stats.kruskal_wallis(df2, "g", "v").first()
    allv = g1 + g2 + g3
    n = len(allv)
    rk, start = {}, 1
    for val in sorted(set(allv)):
        t = allv.count(val)
        rk[val] = start + (t - 1) / 2.0
        start += t
    H = 12 / (n * (n + 1)) * sum(
        sum(rk[x] for x in g) ** 2 / len(g) for g in (g1, g2, g3)
    ) - 3 * (n + 1)
    tm = sum(t**3 - t for t in collections.Counter(allv).values())
    assert r["h_stat"] == round(H / (1 - tm / (n**3 - n)), 6)
    assert r["k"] == 3 and r["n"] == 15 and r["dof"] == 2
    assert r["p_value"] < 0.01  # strongly separated third group
    with _pytest.raises(ValueError, match="max_distinct"):
        stats.kruskal_wallis(df2, "g", "v", max_distinct=2)

    # NULL values are dropped (like spearman_corr/psi) — identical H
    # to the NULL-free frame, not a phantom rank group
    with_nulls = df2.unionByName(
        spark.createDataFrame(
            [("g1", None), ("g3", None)], "g string, v double"
        )
    )
    rn = stats.kruskal_wallis(with_nulls, "g", "v").first()
    assert rn["h_stat"] == r["h_stat"] and rn["n"] == 15

    daily = spark.createDataFrame(
        [(f"2024-01-{d:02d} 00:00", float(d) * 2.0) for d in range(1, 11)],
        "ts string, v double",
    ).withColumn("ts", SF.to_timestamp("ts"))
    t = stats.trend_tests(daily, "ts", "v").first()
    assert t["n_days"] == 10 and t["sen_slope"] == 2.0
    assert t["mk_s"] == 45.0 and t["p_value"] < 0.001
    flat = stats.trend_tests(
        daily.withColumn("v", SF.lit(3.0)), "ts", "v"
    ).first()
    assert flat["sen_slope"] == 0.0 and flat["p_value"] == 1.0


def test_chi2_and_winsorize_semantics(spark):
    """chi2: a perfectly dependent 2x2 table gives V=1; an independent
    one gives chi2=0.  winsorize: values outside the band clip to the
    exact percentile edges, inside pass through; pooled mode works."""
    from plda_spark.operators import curation, stats

    dep = spark.createDataFrame(
        [("x", "p")] * 10 + [("y", "q")] * 10, "a string, b string")
    r = stats.chi2_independence(dep, "a", "b").first()
    assert r["cramers_v"] == 1.0 and r["dof"] == 1 and r["n"] == 20
    ind = spark.createDataFrame(
        [("x", "p")] * 5 + [("x", "q")] * 5 + [("y", "p")] * 5 + [("y", "q")] * 5,
        "a string, b string")
    r2 = stats.chi2_independence(ind, "a", "b").first()
    assert r2["chi2"] == 0.0 and r2["cramers_v"] == 0.0

    vals = [float(v) for v in range(1, 101)] + [10_000.0]   # one whale
    docs = spark.createDataFrame(
        [(i, "s", v) for i, v in enumerate(vals)], "id long, src string, v double")
    out = {r["id"]: r["winsorized"] for r in
           curation.winsorize(docs, "v", group_col="src", lo=0.0, hi=0.99).collect()}
    top = max(out.values())
    assert top < 10_000.0 and out[100] == top  # whale clipped to p99
    assert out[0] == 1.0 and out[49] == 50.0   # interior untouched

    import pytest as _pytest
    with _pytest.raises(ValueError):
        curation.winsorize(docs, "v", lo=0.5, hi=0.5)
    with _pytest.raises(ValueError):
        curation.winsorize(docs, "v", mode="weird")


def test_attribution_position_semantics(spark):
    """Hand-checked U-shape: 1 touch -> 100%, 2 -> 50/50, 4 -> 40% to
    the ends and 10% to each middle; conversions with no prior touch
    drop; later touches never credit."""
    from plda_spark.operators import events as ev_ops

    rows = [
        # user 1: c v c v -> purchase(100): credits c:.4+.1, v:.1+.4
        (1, "2024-01-01 00:00", 1, "click", 0.0),
        (2, "2024-01-01 00:01", 1, "view", 0.0),
        (3, "2024-01-01 00:02", 1, "click", 0.0),
        (4, "2024-01-01 00:03", 1, "view", 0.0),
        (5, "2024-01-01 00:04", 1, "purchase", 100.0),
        # user 2: single view -> purchase(10): view gets 10
        (6, "2024-01-02 00:00", 2, "view", 0.0),
        (7, "2024-01-02 00:01", 2, "purchase", 10.0),
        # user 3: purchase with NO prior touch -> dropped entirely
        (8, "2024-01-03 00:00", 3, "purchase", 999.0),
        (9, "2024-01-03 00:01", 3, "click", 0.0),   # after: no credit
        # user 4: two touches -> 50/50 of 20
        (10, "2024-01-04 00:00", 4, "click", 0.0),
        (11, "2024-01-04 00:01", 4, "view", 0.0),
        (12, "2024-01-04 00:02", 4, "purchase", 20.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "user_id",
                 "event_type", "value")
    got = {r["channel"]: (r["n_credits"], r["revenue"]) for r in
           ev_ops.attribution_position(ev).collect()}
    # click: .4*100 + .1*100 + .5*20 = 60; view: .1*100+.4*100+10+.5*20 = 70
    assert got["click"] == (3, 60.0)
    assert got["view"] == (4, 70.0)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        ev_ops.attribution_position(ev, touch_types=[])
    with _pytest.raises(ValueError):
        ev_ops.attribution_position(ev, first_w=0.6, last_w=0.5)


def test_calibration_and_lift_reports(spark):
    """A perfectly calibrated score has zero gaps (ECE 0); a perfect
    ranker's top decile captures all positives (max lift), and
    cum_gain ends at 1."""
    from plda_spark.operators import classify

    # scores exactly equal to empirical rates within each bin
    rows = ([(i, 0.25, 1 if i < 25 else 0) for i in range(100)] +
            [(i + 100, 0.75, 1 if i < 75 else 0) for i in range(100)])
    df = spark.createDataFrame(rows, "id long, score double, label int")
    cal = {r["bin"]: r for r in
           classify.calibration_report(df, "score", "label", n_bins=4).collect()}
    assert set(cal) == {1, 3}
    assert cal[1]["gap"] == 0.0 and cal[3]["gap"] == 0.0
    assert cal[1]["weight"] == 0.5

    # perfect ranker: label = 1 iff score in top 20%
    rows2 = [(i, float(i), 1 if i >= 80 else 0) for i in range(100)]
    df2 = spark.createDataFrame(rows2, "id long, score double, label int")
    lift = {r["bucket"]: r for r in
            classify.lift_report(df2, "score", "label", n_buckets=5,
                                 tie_cols=["id"]).collect()}
    assert lift[1]["lift"] == 5.0 and lift[1]["cum_gain"] == 1.0
    assert lift[5]["n_pos"] == 0.0 and lift[5]["cum_gain"] == 1.0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        classify.calibration_report(df, "score", "label", n_bins=0)
    with _pytest.raises(ValueError):
        classify.lift_report(df, "score", "label", n_buckets=0)


def test_review_fixes_round6(spark):
    """Regression pins for the round-6 self-review findings: kcenter
    string ids + k>distinct early stop, chi2 single-category guard,
    forecast gap alignment."""
    from plda_spark.operators import events as ev_ops
    from plda_spark.operators import sampling, stats

    # kcenter: string ids work; k beyond distinct vectors stops early
    emb = spark.createDataFrame(
        [("a", [0.0, 0.0]), ("b", [1.0, 0.0]), ("c", [1.0, 0.0])],
        "vec_id string, embedding array<float>")
    out = sampling.kcenter_select(emb, 5).collect()
    ids = [r["vec_id"] for r in out]
    assert ids == ["a", "b"]              # c duplicates b -> radius 0 stop
    assert len(ids) == len(set(ids))

    # chi2: one-category column -> dof 0, V defined as 0, no crash
    one = spark.createDataFrame([("x", "p"), ("x", "q")], "a string, b string")
    r = stats.chi2_independence(one, "a", "b").first()
    assert r["dof"] == 0 and r["cramers_v"] == 0.0

    # forecast: a missing calendar day must NOT slide predictions onto
    # the wrong weekday — day 9 is absent; day 15's predictor is day 8
    days = [f"2024-01-{d:02d}" for d in range(1, 16) if d != 9]
    rows = [(i, f"{d} 00:00:00") for i, d in enumerate(days)]
    ev = spark.createDataFrame(rows, "event_id long, ts string").selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) ts")
    fc = {r["day"]: r["predicted"] for r in ev_ops.forecast_backtest(ev).collect()}
    assert "2024-01-16" not in fc and "2024-01-09" not in fc
    assert fc["2024-01-15"] == 1          # matched to Jan 8 by DATE
    assert "2024-01-08" in fc             # Jan 1 exists
    # Jan 16 absent from the series at all; Jan 9+7=16 not in actuals


def test_mannwhitney_semantics(spark):
    """Identical groups -> z=0, p=1 region; a clean location shift ->
    tiny p; all-tied values hit the degenerate-variance guard."""
    from plda_spark.operators import stats

    rows = [("a", float(v)) for v in range(60)] + \
           [("b", float(v)) for v in range(60)] + \
           [("c", float(v + 500)) for v in range(60)] + \
           [("d", 7.0)] * 30 + [("e", 7.0)] * 30
    df = spark.createDataFrame(rows, "g string, v double")
    same = stats.mannwhitney_u(df, "g", "v", "a", "b").first()
    assert same["z"] == 0.0 and same["p_value"] >= 0.99
    shift = stats.mannwhitney_u(df, "g", "v", "a", "c").first()
    assert shift["u_stat"] == 0.0 and shift["p_value"] < 1e-6
    tied = stats.mannwhitney_u(df, "g", "v", "d", "e").first()
    assert tied["z"] == 0.0  # zero variance guard, no crash


def test_effective_sample_size_semantics(spark):
    """Uniform weights -> ESS = n (ratio 1); one dominant weight ->
    ESS -> ~1; grouped and pooled modes agree with the closed form."""
    from plda_spark.operators import curation

    rows = [("u", 2.0)] * 50 + [("d", 1e-6)] * 99 + [("d", 1000.0)]
    df = spark.createDataFrame(rows, "g string, w double")
    out = {r["g"]: r for r in
           curation.effective_sample_size(df, "w", group_col="g").collect()}
    assert out["u"]["n"] == 50 and out["u"]["ess"] == 50.0
    assert out["u"]["ess_ratio"] == 1.0
    assert out["d"]["n"] == 100 and out["d"]["ess"] < 1.01  # one whale
    pooled = curation.effective_sample_size(df, "w").first()
    assert pooled["n"] == 150
    import numpy as np
    w = np.array([2.0] * 50 + [1e-6] * 99 + [1000.0])
    assert pooled["ess"] == round(float(w.sum() ** 2 / (w * w).sum()), 4)


def test_sessionize_semantics(spark):
    """Hand-built two-user log with a 30-min gap rule: u1 has two
    sessions (events at 0/10/25 min, then 90/95), u2 one single-event
    session; exact-microsecond durations, value sums, type counts."""
    from plda_spark.operators import events as ev_ops
    import pytest as _pytest

    rows = [
        (1, "2024-01-01 00:00:00", 1, "click", 1.0),
        (2, "2024-01-01 00:10:00", 1, "view", 2.0),
        (3, "2024-01-01 00:25:00", 1, "click", 3.0),
        (4, "2024-01-01 01:30:00", 1, "purchase", 10.0),
        (5, "2024-01-01 01:35:00", 1, "click", 4.0),
        (6, "2024-01-01 05:00:00", 2, "view", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "user_id",
                 "event_type", "value")
    out = {(r["user_id"], r["session_seq"]): r
           for r in ev_ops.sessionize(df).collect()}
    assert set(out) == {(1, 1), (1, 2), (2, 1)}
    s11 = out[(1, 1)]
    assert s11["n_events"] == 3 and s11["n_types"] == 2
    assert s11["duration_us"] == 25 * 60 * 1_000_000
    assert s11["session_value"] == 6.0
    s12 = out[(1, 2)]
    assert s12["n_events"] == 2 and s12["duration_us"] == 5 * 60 * 1_000_000
    assert s12["session_value"] == 14.0
    s21 = out[(2, 1)]
    assert s21["n_events"] == 1 and s21["duration_us"] == 0
    # a gap of EXACTLY gap_minutes stays in-session (<= comparison)
    eq = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1, "a", 0.0),
         (2, "2024-01-01 00:30:00", 1, "a", 0.0)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "user_id",
                 "event_type", "value")
    assert ev_ops.sessionize(eq).count() == 1
    with _pytest.raises(ValueError, match="gap_minutes"):
        ev_ops.sessionize(df, gap_minutes=0)


def test_conformal_intervals_semantics(spark):
    """Hand-built 10-day series, lag-1 persistence forecast: 9 scored
    days, calib = first 5, test = last 4; k = ceil(0.8*6) = 5 -> q is
    the max calibration residual; coverage flags checked by hand."""
    import pytest as _pytest
    from plda_spark.operators import stats

    vals = [10.0, 12.0, 11.0, 15.0, 14.0, 14.5, 20.0, 21.0, 19.0, 19.5]
    rows = [(f"2024-03-{d+1:02d} 12:00:00", v) for d, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "ts string, value double").selectExpr(
        "cast(ts as timestamp) ts", "value"
    )
    out = {r["day"]: r for r in stats.conformal_intervals(
        df, "ts", "value", alpha=0.2, season_lag_days=1, calib_frac=0.5
    ).collect()}
    # scored days: 03-02..03-10 (9); n_cal = ceil(4.5) = 5 -> calib
    # residuals |12-10|,|11-12|,|15-11|,|14-15|,|14.5-14| = 2,1,4,1,.5
    # k = min(ceil(0.8*6), 5) = 5 -> q = 4.0
    assert set(out) == {f"2024-03-{d:02d}" for d in (7, 8, 9, 10)}
    r7 = out["2024-03-07"]  # pred = 14.5, v = 20.0 -> NOT covered
    assert r7["pred"] == 14.5 and r7["lo"] == 10.5 and r7["hi"] == 18.5
    assert not r7["covered"]
    r8 = out["2024-03-08"]  # pred = 20.0, v = 21.0 -> covered
    assert r8["covered"] and r8["lo"] == 16.0 and r8["hi"] == 24.0
    # a single scored day cannot split -> empty, schema intact
    tiny = spark.createDataFrame(
        [("2024-03-01 00:00:00", 1.0), ("2024-03-02 00:00:00", 2.0)],
        "ts string, value double",
    ).selectExpr("cast(ts as timestamp) ts", "value")
    e = stats.conformal_intervals(tiny, "ts", "value", season_lag_days=1)
    assert e.count() == 0 and len(e.columns) == 6
    for bad in (dict(alpha=0.0), dict(alpha=1.0), dict(season_lag_days=0),
                dict(calib_frac=1.0)):
        with _pytest.raises(ValueError):
            stats.conformal_intervals(df, "ts", "value", **bad)


def test_rand_response_semantics(spark):
    """k-ary randomized response: the md5 draws replay exactly (same
    seed => identical release), the debiased estimates sum to n by the
    estimator identity, and a hand-computed row matches the mechanism."""
    import hashlib
    import pytest as _pytest
    from plda_spark.operators import privacy

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, cat string")
    out = privacy.rand_response_estimate(df, "cat", "id", p=0.75, seed=7)
    got = {r["category"]: r for r in out.collect()}
    assert set(got) == {"a", "b", "c"}
    assert sum(r["n_true"] for r in got.values()) == 300
    assert sum(r["n_obs"] for r in got.values()) == 300
    # estimator identity: sum(n_est) == n exactly (up to rounding)
    assert abs(sum(r["n_est"] for r in got.values()) - 300) < 0.01
    # determinism: same seed replays bit-for-bit
    again = {r["category"]: r for r in privacy.rand_response_estimate(
        df, "cat", "id", p=0.75, seed=7).collect()}
    assert got == again
    # hand-replay the mechanism for every row -> n_obs must match
    cats = ["a", "b", "c"]
    obs = {c: 0 for c in cats}
    for i, true in rows:
        uk = int(hashlib.md5(f"{i}:7:keep".encode()).hexdigest()[:15], 16) / float(1 << 60)
        up = int(hashlib.md5(f"{i}:7:pick".encode()).hexdigest()[:15], 16) / float(1 << 60)
        obs[true if uk < 0.75 else cats[min(int(up * 3), 2)]] += 1
    assert {c: got[c]["n_obs"] for c in cats} == obs
    # debias formula on the hand-replayed counts
    for c in cats:
        est = (obs[c] - 300 * 0.25 / 3) / 0.75
        assert got[c]["n_est"] == round(est, 4)
    with _pytest.raises(ValueError, match="p must be"):
        privacy.rand_response_estimate(df, "cat", "id", p=1.0)
    wide = spark.range(3000).selectExpr("id", "concat('u', id) as cat")
    with _pytest.raises(ValueError, match="max_categories"):
        privacy.rand_response_estimate(wide, "cat", "id", max_categories=100)


def test_balanced_sample_semantics(spark):
    """Imbalanced 3-class frame (60/25/15): default cut balances every
    class to the minority size (15 each); an explicit per_class caps at
    min(cap, class size); the selection replays the md5 order exactly."""
    import hashlib
    import pytest as _pytest
    from plda_spark.operators import sampling

    rows = [(i, "a" if i < 60 else ("b" if i < 85 else "c"))
            for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, cls string")
    out = sampling.balanced_sample(df, "cls").collect()
    from collections import Counter
    assert Counter(r["cls"] for r in out) == {"a": 15, "b": 15, "c": 15}
    assert all(1 <= r["position"] <= 15 for r in out)
    # the kept 'a' rows are EXACTLY the 15 smallest md5(doc_id) of class a
    a_ids = [i for i, c in rows if c == "a"]
    expect = set(sorted(a_ids, key=lambda i: (hashlib.md5(
        str(i).encode()).hexdigest(), i))[:15])
    assert {r["doc_id"] for r in out if r["cls"] == "a"} == expect
    # explicit cap: class c has only 15 rows, so per_class=20 keeps 15
    capped = sampling.balanced_sample(df, "cls", per_class=20).collect()
    assert Counter(r["cls"] for r in capped) == {"a": 20, "b": 20, "c": 15}
    # original columns pass through
    assert set(capped[0].asDict()) == {"doc_id", "cls", "position"}
    with _pytest.raises(ValueError, match="per_class"):
        sampling.balanced_sample(df, "cls", per_class=0)


def test_nb_eval_semantics(spark):
    """Cleanly separable two-class corpus: every in-vocab test doc
    classifies to its own class; a zero-vocab test doc falls back to
    the training prior argmax; counts partition the md5 test half."""
    import hashlib
    from plda_spark.operators.classify import nb_eval

    def is_train(i):
        return int(hashlib.md5(f"{i}:0".encode()).hexdigest()[:15], 16) % 2 == 0

    rows = []
    for i in range(40):
        lab = "aa" if i < 26 else "bb"  # aa is the majority class
        txt = "apple banana apple" if lab == "aa" else "zebra yak zebra"
        rows.append((i, txt, lab))
    # one OOV test doc (tokens unseen in training) in the minority class
    oov_id = next(i for i in range(100, 200) if not is_train(i))
    rows.append((oov_id, "qqq www", "bb"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = nb_eval(df, "text", "lang", "doc_id").collect()
    got = {(r["actual"], r["predicted"]): r["n_docs"] for r in out}
    n_test_aa = sum(1 for i in range(26) if not is_train(i))
    n_test_bb = sum(1 for i in range(26, 40) if not is_train(i))
    # separable vocab: every regular test doc predicts its own class
    assert got[("aa", "aa")] == n_test_aa
    assert got.get(("bb", "bb"), 0) == n_test_bb
    # the OOV doc scores prior-only on both classes -> majority class
    assert got[("bb", "aa")] == 1
    assert sum(got.values()) == n_test_aa + n_test_bb + 1
    # deterministic: identical rerun
    again = {(r["actual"], r["predicted"]): r["n_docs"]
             for r in nb_eval(df, "text", "lang", "doc_id").collect()}
    assert got == again


def test_funnel_latency_semantics(spark):
    """Hand-built funnel: u1 completes view->click->purchase with known
    gaps (60s, 300s), u2 only view->click (120s), u3 views twice but
    never clicks; first-touch semantics (u1's later faster click is
    ignored); exact percentile_cont quantiles over the tiny samples."""
    import pytest as _pytest
    from plda_spark.operators import events as ev_ops

    rows = [
        (1, "2024-01-01 00:00:00", 1, "view"),
        (2, "2024-01-01 00:01:00", 1, "click"),      # +60s
        (3, "2023-12-31 23:59:00", 1, "click"),      # BEFORE view: ignored
        (4, "2024-01-01 00:06:00", 1, "purchase"),   # +300s after click
        (5, "2024-01-01 00:00:00", 2, "view"),
        (6, "2024-01-01 00:02:00", 2, "click"),      # +120s
        (7, "2024-01-01 05:00:00", 3, "view"),
        (8, "2024-01-01 05:10:00", 3, "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "user_id",
                 "event_type")
    out = {r["step_idx"]: r for r in ev_ops.funnel_latency(
        df, ["view", "click", "purchase"]).collect()}
    t0 = out[0]  # view -> click: latencies [60, 120]
    assert (t0["from_step"], t0["to_step"]) == ("view", "click")
    assert t0["n_users"] == 2
    assert t0["median_sec"] == 90.0           # percentile_cont midpoint
    assert t0["p90_sec"] == round(60 + 0.9 * 2 * 30, 6) == 114.0
    t1 = out[1]  # click -> purchase: [300]
    assert t1["n_users"] == 1 and t1["median_sec"] == 300.0
    assert t1["p90_sec"] == 300.0
    with _pytest.raises(ValueError, match="steps"):
        ev_ops.funnel_latency(df, ["view"])
    # a funnel nobody finishes still emits the transition row (0 users)
    none = {r["step_idx"]: r for r in ev_ops.funnel_latency(
        df, ["purchase", "view"]).collect()}
    assert none[0]["n_users"] == 0 and none[0]["median_sec"] is None


def test_interleave_by_weight_semantics(spark):
    """Stride scheduling: group A at weight 2.0 appears twice as often
    as B (weight 1.0) in any key-ordered prefix; keys replay the md5
    in-group order; a group missing from weights raises in-plan."""
    import pytest as _pytest
    from plda_spark.operators import sampling

    rows = [(i, "A" if i < 40 else "B") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = sampling.interleave_by_weight(
        df, "src", {"A": 2.0, "B": 1.0}, id_col="doc_id"
    ).collect()
    assert len(out) == 60
    # key formula: position / weight, deterministic
    for r in out:
        w = 2.0 if r["src"] == "A" else 1.0
        assert r["interleave_key"] == round(r["position"] / w, 6)
    # proportionality: in the first 30 by key, A:B approx 2:1 (stride
    # guarantees within-one-of-exact interleave for rational weights)
    first = sorted(out, key=lambda r: (r["interleave_key"], r["doc_id"]))[:30]
    n_a = sum(1 for r in first if r["src"] == "A")
    assert 19 <= n_a <= 21, n_a
    # weight scaling leaves the ORDER invariant
    scaled = sampling.interleave_by_weight(
        df, "src", {"A": 4.0, "B": 2.0}, id_col="doc_id"
    ).collect()
    o1 = [r["doc_id"] for r in sorted(out, key=lambda r: (r["interleave_key"], r["doc_id"]))]
    o2 = [r["doc_id"] for r in sorted(scaled, key=lambda r: (r["interleave_key"], r["doc_id"]))]
    assert o1 == o2
    with _pytest.raises(ValueError, match="weight"):
        sampling.interleave_by_weight(df, "src", {"A": 0.0, "B": 1.0})
    with _pytest.raises(Exception, match="no weight for group"):
        sampling.interleave_by_weight(df, "src", {"A": 1.0}).collect()


def test_kmv_rolling_active_semantics(spark):
    """Small-cardinality frame (every sketch holds < k hashes): the
    rolling estimates are EXACT distinct counts, window_days=1 equals
    the per-day count, and the trailing window unions correctly across
    a calendar gap."""
    import pytest as _pytest
    from pyspark.sql import functions as SF
    from plda_spark.operators import stats

    rows = []
    # day 1: users 1-3; day 2: users 2-4; day 5 (gap): users 10-11
    for d, us in [(1, [1, 2, 3]), (2, [2, 3, 4]), (5, [10, 11])]:
        rows += [(f"2024-02-{d:02d} 10:00", u) for u in us]
    df = spark.createDataFrame(rows, "ts string, user_id long").withColumn(
        "ts", SF.to_timestamp("ts")
    )
    sk = stats.kmv_daily_sketches(df, "user_id", "ts", k=64)
    dau = {r["day"]: r["n_active"]
           for r in stats.kmv_rolling_active(sk, 1, 64).collect()}
    assert dau == {"2024-02-01": 3.0, "2024-02-02": 3.0, "2024-02-05": 2.0}
    w3 = {r["day"]: r["n_active"]
          for r in stats.kmv_rolling_active(sk, 3, 64).collect()}
    # day 2's trailing-3 window = days 1-2 union = {1,2,3,4}
    assert w3["2024-02-02"] == 4.0
    # day 5's trailing-3 window reaches only the gap -> its own users
    assert w3["2024-02-05"] == 2.0
    with _pytest.raises(ValueError, match="window_days"):
        stats.kmv_rolling_active(sk, 0)


def test_silhouette_simplified_semantics(spark):
    """Hand-computed 1-D example: centroids at 0 and 10; points at
    1, -1 (cluster 0) and 9 (cluster 1); s = (b-a)/max(a,b) with a/b
    exact; a point exactly ON its centroid scores s=1 via b>0."""
    import pytest as _pytest
    import numpy as np
    from plda_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [1.0]), (2, [-1.0]), (3, [9.0]), (4, [0.0])],
        "vec_id long, embedding array<float>",
    )
    cents = np.array([[0.0], [10.0]])
    out = {r["cluster"]: r for r in similarity.silhouette_simplified(
        df, cents).collect()}
    # cluster 0: points 1, -1, 0 -> s = (9-1)/9, (11-1)/11, (10-0)/10=1
    exp0 = (8 / 9 + 10 / 11 + 1.0) / 3
    assert out[0]["n"] == 3 and out[0]["mean_silhouette"] == round(exp0, 6)
    # cluster 1: point 9 -> a=1, b=9 -> s = 8/9
    assert out[1]["n"] == 1
    assert out[1]["mean_silhouette"] == round(8 / 9, 6)
    with _pytest.raises(ValueError, match="centroids"):
        similarity.silhouette_simplified(df, np.array([[0.0]]))


def test_sessionize_matches_minimal_batch_twin(spark, sf_dir):
    """events.sessionize and streaming.windows.sessionize_batch must
    produce IDENTICAL session boundaries on the real events table
    (same > gap rule; ts ties cannot open a session either way, so the
    id tie-break cannot move a boundary)."""
    from plda_spark.operators import events as ev_ops
    from plda_spark.streaming import windows as w_ops

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rich = {(r["user_id"], r["start_ts"], r["end_ts"], r["n_events"])
            for r in ev_ops.sessionize(ev).collect()}
    mini = {(r["user_id"], r["session_start"], r["session_end"],
             r["n_events"]) for r in w_ops.sessionize_batch(ev).collect()}
    assert rich == mini and len(rich) > 0


def test_point_in_time_features_semantics(spark):
    """Half-open window (ts-7d, ts): an event exactly 7 days earlier is
    EXCLUDED, one at 7d-1us included conceptually (tested at day
    granularity), the anchor's own instant and same-ts peers excluded."""
    import pytest as _pytest
    from plda_spark.operators import events as ev_ops

    rows = [
        (1, "2024-01-01 12:00:00", 1, "view", 1.0),     # exactly 7d before 5
        (2, "2024-01-03 12:00:00", 1, "view", 2.0),     # inside
        (3, "2024-01-08 11:59:59", 1, "click", 4.0),    # inside
        (4, "2024-01-08 12:00:00", 1, "view", 8.0),     # same ts as anchor: out
        (5, "2024-01-08 12:00:00", 1, "purchase", 99.0),  # anchor
        (6, "2024-01-08 12:00:00", 2, "purchase", 1.0),   # lone anchor
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "user_id",
                 "event_type", "value")
    out = {r["event_id"]: r for r in ev_ops.point_in_time_features(
        df, anchor_type="purchase").collect()}
    a = out[5]
    # events 2 and 3 in-window; 1 is exactly 7d (excluded); 4 same-ts
    assert a["n_prev"] == 2 and a["value_prev"] == 6.0
    lone = out[6]
    assert lone["n_prev"] == 0 and lone["value_prev"] == 0.0
    # no anchor filter: every row gets features
    assert ev_ops.point_in_time_features(df).count() == 6
    with _pytest.raises(ValueError, match="window_days"):
        ev_ops.point_in_time_features(df, window_days=0)


def test_anova_and_levene_semantics(spark):
    """anova_f matches the closed-form one-way F (hand-computed via
    numpy) with the right dofs; a single group degenerates to F=0,
    p=1; NULL values are ignored.  levene_bf reproduces the
    Brown-Forsythe statistic (ANOVA on |x - group median|) computed
    independently, and equal-spread groups don't fire."""
    import numpy as np

    from plda_spark.operators import stats

    ga = [1.0, 2, 3, 4, 5]
    gb = [2.0, 4, 6, 8, 10, 12]
    gc = [10.0, 11, 12, 13]
    rows = (
        [("a", float(x)) for x in ga]
        + [("b", float(x)) for x in gb]
        + [("c", float(x)) for x in gc]
        + [("a", None), ("c", None)]  # NULLs must not count
    )
    df = spark.createDataFrame(rows, "g string, v double")
    r = stats.anova_f(df, "g", "v").first()

    def f_oneway(groups):
        k = len(groups)
        n = sum(len(g) for g in groups)
        gm = np.concatenate(groups).mean()
        ssb = sum(len(g) * (np.mean(g) - gm) ** 2 for g in groups)
        ssw = sum(((np.asarray(g) - np.mean(g)) ** 2).sum() for g in groups)
        return (ssb / (k - 1)) / (ssw / (n - k)), k, n

    fv, k, n = f_oneway([ga, gb, gc])
    assert r["k"] == k and r["n"] == n
    assert r["df1"] == k - 1 and r["df2"] == n - k
    assert r["f_stat"] == round(fv, 6)
    assert 0.0 < r["p_value"] < 0.05  # group c sits far above a/b

    # one group: between-variance undefined -> F 0, p 1
    one = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, v double")
    r1 = stats.anova_f(one, "g", "v").first()
    assert r1["f_stat"] == 0.0 and r1["p_value"] == 1.0

    # Brown-Forsythe: same-median-spread groups at different locations
    # is exactly what it must NOT fire on; a wide third group fires.
    calm = spark.createDataFrame(
        [("a", float(x)) for x in [1, 2, 3]]
        + [("b", float(x + 100) ) for x in [1, 2, 3]],
        "g string, v double",
    )
    rc = stats.levene_bf(calm, "g", "v").first()
    assert rc["f_stat"] == 0.0 or rc["p_value"] > 0.9

    wide = [("a", float(x)) for x in [10, 11, 12, 13, 14]] + [
        ("b", float(x)) for x in [0, 50, 100, 150, 200]
    ]
    dfw = spark.createDataFrame(wide, "g string, v double")
    rw = stats.levene_bf(dfw, "g", "v").first()
    dev_a = np.abs(np.array([10, 11, 12, 13, 14.0]) - 12)
    dev_b = np.abs(np.array([0, 50, 100, 150, 200.0]) - 100)
    fv2, _, _ = f_oneway([dev_a, dev_b])
    assert rw["f_stat"] == round(fv2, 6)
    assert rw["p_value"] < 0.05


def test_paired_and_two_proportion_semantics(spark):
    """paired_ttest pairs per-key means, drops unmatched keys, and
    reproduces the numpy paired t; constant differences degenerate to
    t=0/p=1.  two_proportion_ztest matches the pooled-SE z and Wald
    CI closed forms; equal rates give z=0, p=1."""
    import math

    import numpy as np

    from plda_spark.operators import stats

    rows = []
    diffs = []
    for i, d in enumerate([1.0, -2.0, 3.0, 0.5, 2.5]):
        rows += [(f"k{i}", "x", 10.0 + d), (f"k{i}", "y", 10.0)]
        diffs.append(d)
    rows += [("lonely", "x", 99.0)]  # no y partner -> dropped
    df = spark.createDataFrame(rows, "k string, g string, v double")
    r = stats.paired_ttest(df, "k", "g", "v", "x", "y").first()
    d = np.array(diffs)
    t = d.mean() / (d.std(ddof=1) / math.sqrt(len(d)))
    assert r["n_pairs"] == 5
    assert r["mean_diff"] == round(d.mean(), 6)
    assert r["t_stat"] == round(t, 6)
    assert 0.0 < r["p_value"] <= 1.0

    const = spark.createDataFrame(
        [("k1", "x", 2.0), ("k1", "y", 1.0), ("k2", "x", 3.0),
         ("k2", "y", 2.0)],
        "k string, g string, v double",
    )
    rc = stats.paired_ttest(const, "k", "g", "v", "x", "y").first()
    assert rc["t_stat"] == 0.0 and rc["p_value"] == 1.0  # zero variance

    conv = spark.createDataFrame(
        [("A", 1)] * 30 + [("A", 0)] * 70 + [("B", 1)] * 20 + [("B", 0)] * 80,
        "variant string, s int",
    )
    rz = stats.two_proportion_ztest(conv, "variant", "s", "A", "B").first()
    pa, pb, na, nb = 0.3, 0.2, 100, 100
    pp = (30 + 20) / 200
    z = (pa - pb) / math.sqrt(pp * (1 - pp) * (1 / na + 1 / nb))
    se1 = math.sqrt(pa * (1 - pa) / na + pb * (1 - pb) / nb)
    assert rz["n_a"] == 100 and rz["conv_a"] == 30
    assert rz["rate_a"] == 0.3 and rz["rate_b"] == 0.2
    assert rz["lift"] == round(pa - pb, 6)
    assert rz["z_stat"] == round(z, 6)
    assert rz["ci_lo"] == round(pa - pb - 1.959963984540054 * se1, 6)
    assert rz["ci_hi"] == round(pa - pb + 1.959963984540054 * se1, 6)
    assert 0.0 < rz["p_value"] < 1.0

    flat = spark.createDataFrame(
        [("A", 1), ("A", 0), ("B", 1), ("B", 0)], "variant string, s int"
    )
    rf = stats.two_proportion_ztest(flat, "variant", "s", "A", "B").first()
    assert rf["z_stat"] == 0.0 and rf["p_value"] == 1.0 and rf["lift"] == 0.0


def test_ols2_and_pca2_semantics(spark):
    """ols2 recovers planted coefficients exactly on noiseless data
    (r2=1, rmse=0), matches numpy lstsq on noisy data, and refuses a
    collinear solve with NULL coefficients.  pca2_summary reproduces
    numpy eigh on the 2x2 sample covariance with the sign-fixed
    leading eigenvector; a degenerate 1-row input yields NULL eigen."""
    import numpy as np

    from plda_spark.operators import stats

    rng = np.random.RandomState(7)
    x1 = rng.uniform(0, 10, 40)
    x2 = rng.uniform(-5, 5, 40)
    y_exact = 3.0 + 2.0 * x1 - 0.5 * x2
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, y_exact)],
        "x1 double, x2 double, y double",
    )
    r = stats.ols2(df, "x1", "x2", "y").first()
    assert r["b0"] == 3.0 and r["b1"] == 2.0 and r["b2"] == -0.5
    assert r["r2"] == 1.0 and r["rmse"] == 0.0 and r["n"] == 40

    y_noisy = y_exact + rng.normal(0, 1, 40)
    dfn = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, y_noisy)],
        "x1 double, x2 double, y double",
    )
    rn = stats.ols2(dfn, "x1", "x2", "y").first()
    X = np.column_stack([np.ones(40), x1, x2])
    beta, *_ = np.linalg.lstsq(X, y_noisy, rcond=None)
    sse = ((y_noisy - X @ beta) ** 2).sum()
    sst = ((y_noisy - y_noisy.mean()) ** 2).sum()
    assert rn["b0"] == round(beta[0], 6) and rn["b1"] == round(beta[1], 6)
    assert rn["b2"] == round(beta[2], 6)
    assert rn["r2"] == round(1 - sse / sst, 6)
    assert rn["rmse"] == round(float(np.sqrt(sse / 40)), 6)

    # x2 = 2*x1: singular Gram -> NULL coefficients, not garbage
    col = spark.createDataFrame(
        [(float(a), float(2 * a), float(a)) for a in x1],
        "x1 double, x2 double, y double",
    )
    rc = stats.ols2(col, "x1", "x2", "y").first()
    assert rc["b1"] is None and rc["b2"] is None and rc["r2"] is None

    pts = rng.multivariate_normal([1.0, -2.0], [[4.0, 1.5], [1.5, 1.0]], 200)
    dfp = spark.createDataFrame(
        [(float(a), float(b)) for a, b in pts], "x double, y double"
    )
    rp = stats.pca2_summary(dfp, "x", "y").first()
    C = np.cov(pts, rowvar=False, ddof=1)
    w, v = np.linalg.eigh(C)
    lead = v[:, 1] if v[0, 1] > 0 or (v[0, 1] == 0 and v[1, 1] > 0) else -v[:, 1]
    assert rp["var_x"] == round(C[0, 0], 6) and rp["cov_xy"] == round(C[0, 1], 6)
    assert rp["lambda1"] == round(w[1], 6) and rp["lambda2"] == round(w[0], 6)
    assert rp["evr1"] == round(w[1] / w.sum(), 6)
    assert rp["pc1_x"] == round(lead[0], 6) and rp["pc1_y"] == round(lead[1], 6)
    assert rp["pc1_x"] >= 0

    one = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
    ro = stats.pca2_summary(one, "x", "y").first()
    assert ro["lambda1"] is None and ro["n"] == 1

    # b = 0 with axis-aligned spread: eigenvector is a coordinate axis
    ax = spark.createDataFrame(
        [(0.0, 0.0), (2.0, 0.0), (4.0, 0.0)], "x double, y double"
    )
    ra = stats.pca2_summary(ax, "x", "y").first()
    assert ra["pc1_x"] == 1.0 and ra["pc1_y"] == 0.0 and ra["evr1"] == 1.0


def test_item_item_cf_semantics(spark):
    """Cosine neighbors on a hand-built basket set: counts and cosines
    match the closed form, ranks order by (cosine DESC, neighbor ASC),
    min_support prunes rare items before pairing, duplicate (user,
    item) rows dedup, and the guards raise."""
    import math

    import pytest as _pytest

    from plda_spark.operators import events as ev_ops

    rows = (
        [("u1", "a"), ("u1", "b"), ("u1", "c"),
         ("u2", "a"), ("u2", "b"),
         ("u3", "a"), ("u3", "b"), ("u3", "b"),  # dup (u3, b) collapses
         ("u4", "a"), ("u4", "c"),
         ("u5", "rare"), ("u5", "a")]
    )
    df = spark.createDataFrame(rows, "user string, item string")
    out = ev_ops.item_item_cf(
        df, user_col="user", item_col="item", k=2, min_support=2
    )
    got = {(r["item"], r["neighbor"]): r for r in out.collect()}
    # supports: a=5, b=3, c=2 (rare pruned at min_support=2? rare has 1)
    # pairs: (a,b)=3, (a,c)=2, (b,c)=1
    assert ("a", "rare") not in got and ("rare", "a") not in got
    ab = got[("a", "b")]
    assert ab["n_both"] == 3 and ab["n_item"] == 5 and ab["n_neighbor"] == 3
    assert ab["cosine"] == round(3 / math.sqrt(5 * 3), 6)
    assert ab["rank"] == 1  # ab cosine .7746 > ac .6325
    assert got[("a", "c")]["rank"] == 2
    assert got[("b", "a")]["rank"] == 1
    # k=2 cap holds per item
    from collections import Counter
    per_item = Counter(i for i, _ in got)
    assert all(v <= 2 for v in per_item.values())

    with _pytest.raises(ValueError):
        ev_ops.item_item_cf(df, user_col="user", item_col="item", k=0)
    with _pytest.raises(ValueError):
        ev_ops.item_item_cf(df, user_col="user", item_col="item", min_support=0)
    with _pytest.raises(ValueError):
        ev_ops.item_item_cf(
            df, user_col="user", item_col="item", max_basket_items=1
        )


def test_kcore_semantics(spark):
    """kcore peels a pendant chain in cascading rounds (each round
    exposes the next link, so n_rounds must cover the cascade), keeps
    exactly the K4 clique as the 3-core, reports within-core degrees,
    treats edges as undirected (direction/duplicates collapse), and
    raises on bad parameters."""
    import pytest as _pytest

    from plda_spark.operators import graph

    # K4 clique {0,1,2,3} + chain 3-4-5-6 (pendant cascade)
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 4), (4, 5), (5, 6)]
    # direction + duplicate noise: reversed and repeated edges
    edges = k4 + chain + [(b, a) for a, b in k4[:3]] + [(0, 1), (0, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")

    core2 = {
        r["node"]: r["degree"]
        for r in graph.kcore(df, k=2, n_rounds=8).collect()
    }
    # chain nodes 4,5,6 peel over three cascading rounds; K4 stays
    assert set(core2) == {0, 1, 2, 3}
    assert core2 == {0: 3, 1: 3, 2: 3, 3: 3}

    core3 = {
        r["node"]: r["degree"]
        for r in graph.kcore(df, k=3, n_rounds=8).collect()
    }
    assert core3 == {0: 3, 1: 3, 2: 3, 3: 3}

    assert graph.kcore(df, k=4, n_rounds=8).count() == 0

    # under-budget rounds stop mid-cascade: round 1 peels node 6, and
    # the final degree>=k filter drops the newly-exposed 5, but 4 (which
    # still holds edges to 3 and 5 in the surviving frame) needs another
    # round — a converged run (n_rounds >= cascade) equals the fixpoint
    one = {r["node"] for r in graph.kcore(df, k=2, n_rounds=1).collect()}
    assert 4 in one and 5 not in one and 6 not in one
    full = {r["node"] for r in graph.kcore(df, k=2, n_rounds=12).collect()}
    assert full == set(core2)

    with _pytest.raises(ValueError):
        graph.kcore(df, k=0)
    with _pytest.raises(ValueError):
        graph.kcore(df, k=2, n_rounds=0)


def test_logreg2_and_kendall_semantics(spark):
    """logreg2 reproduces an independently-coded numpy IRLS with the
    identical 7-decimal per-round resync (bitwise-equal coefficients),
    validates 0/1 labels, and raises on a singular (collinear) system.
    kendall_tau hits +/-1 on perfect monotone data, matches the brute
    O(n^2) concordance count on noisy data, and enforces max_cells."""
    import numpy as np
    import pytest as _pytest

    from plda_spark.operators import stats

    rng = np.random.RandomState(11)
    x1 = rng.uniform(-2, 2, 300)
    x2 = rng.uniform(-1, 1, 300)
    p = 1 / (1 + np.exp(-(0.5 + 1.2 * x1 - 0.8 * x2)))
    y = (rng.uniform(size=300) < p).astype(float)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, y)],
        "x1 double, x2 double, y double",
    )
    r = stats.logreg2(df, "x1", "x2", "y", n_iter=5).first()

    b = np.zeros(3)
    for _ in range(5):
        eta = b[0] + b[1] * x1 + b[2] * x2
        mu = np.clip(1 / (1 + np.exp(-eta)), 1e-6, 1 - 1e-6)
        w = mu * (1 - mu)
        z = eta + (y - mu) / w
        A = np.array([
            [w.sum(), (w * x1).sum(), (w * x2).sum()],
            [(w * x1).sum(), (w * x1 * x1).sum(), (w * x1 * x2).sum()],
            [(w * x2).sum(), (w * x1 * x2).sum(), (w * x2 * x2).sum()],
        ])
        c = np.array([(w * z).sum(), (w * x1 * z).sum(), (w * x2 * z).sum()])
        b = np.round(np.linalg.solve(A, c), 7)
    assert (r["b0"], r["b1"], r["b2"]) == (b[0], b[1], b[2])
    eta = b[0] + b[1] * x1 + b[2] * x2
    mu = np.clip(1 / (1 + np.exp(-eta)), 1e-6, 1 - 1e-6)
    assert r["log_lik"] == round(float((y * np.log(mu) + (1 - y) * np.log(1 - mu)).sum()), 6)
    assert r["n"] == 300
    # signs recover the planted model
    assert r["b1"] > 0 and r["b2"] < 0

    with _pytest.raises(ValueError, match="outside"):
        bad = spark.createDataFrame(
            [(1.0, 1.0, 2.0)], "x1 double, x2 double, y double"
        )
        stats.logreg2(bad, "x1", "x2", "y")
    with _pytest.raises(ValueError, match="singular"):
        col = spark.createDataFrame(
            [(float(a), float(3 * a), float(t)) for a, t in zip(x1, y)],
            "x1 double, x2 double, y double",
        )
        stats.logreg2(col, "x1", "x2", "y")
    with _pytest.raises(ValueError):
        stats.logreg2(df, "x1", "x2", "y", n_iter=0)

    mono = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(10)], "x double, y double"
    )
    rm = stats.kendall_tau(mono, "x", "y").first()
    assert rm["tau_b"] == 1.0 and rm["p_value"] < 0.01
    rev = spark.createDataFrame(
        [(float(i), float(-i)) for i in range(10)], "x double, y double"
    )
    assert stats.kendall_tau(rev, "x", "y").first()["tau_b"] == -1.0

    xs = rng.randint(0, 6, 200).astype(float)
    ys = (xs + rng.randint(0, 4, 200)).astype(float)
    dfk = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(xs, ys)], "x double, y double"
    )
    rk = stats.kendall_tau(dfk, "x", "y").first()
    dx = np.sign(xs[:, None] - xs[None, :])
    dy = np.sign(ys[:, None] - ys[None, :])
    iu = np.triu_indices(200, 1)
    C = int(((dx * dy)[iu] > 0).sum())
    D = int(((dx * dy)[iu] < 0).sum())
    assert rk["concordant"] == C and rk["discordant"] == D
    n0 = 200 * 199 / 2
    n1 = sum(t * (t - 1) / 2 for t in np.bincount(xs.astype(int)))
    n2 = sum(t * (t - 1) / 2 for t in np.bincount(ys.astype(int)))
    assert rk["tau_b"] == round((C - D) / np.sqrt((n0 - n1) * (n0 - n2)), 6)

    with _pytest.raises(ValueError, match="max_cells"):
        stats.kendall_tau(dfk, "x", "y", max_cells=3)


def test_cochran_armitage_and_power_semantics(spark):
    """cochran_armitage matches the closed-form T/Var0 on hand data,
    detects a planted monotone dose-response, and stays flat on
    constant rates.  ab_power_mde reproduces the Fleiss MDE identity
    and rejects off-grid alpha/power."""
    import math

    import numpy as np
    import pytest as _pytest

    from plda_spark.operators import stats

    rows = []
    for dose, rate, n in [(0.0, 0.1, 50), (1.0, 0.3, 50), (2.0, 0.5, 50)]:
        k = int(rate * n)
        rows += [(dose, 1)] * k + [(dose, 0)] * (n - k)
    df = spark.createDataFrame(rows, "s double, y int")
    r = stats.cochran_armitage(df, "s", "y").first()
    s = np.array([x[0] for x in rows], dtype=float)
    y = np.array([x[1] for x in rows], dtype=float)
    N, R = len(s), y.sum()
    T = (y * s).sum() - R * s.sum() / N
    p = R / N
    V = p * (1 - p) * ((s * s).sum() - s.sum() ** 2 / N)
    assert r["t_stat"] == round(T, 6)
    assert r["z_stat"] == round(T / math.sqrt(V), 6)
    assert r["p_value"] < 0.001 and r["k"] == 3 and r["n"] == 150
    assert r["n_success"] == int(R)

    flat = spark.createDataFrame(
        [(float(d), int(i % 2)) for d in range(3) for i in range(40)],
        "s double, y int",
    )
    rf = stats.cochran_armitage(flat, "s", "y").first()
    assert rf["z_stat"] == 0.0 and rf["p_value"] == 1.0

    conv = spark.createDataFrame(
        [("A", 1)] * 20 + [("A", 0)] * 80 + [("B", 1)] * 30 + [("B", 0)] * 70,
        "variant string, c int",
    )
    rp = stats.ab_power_mde(conv, "variant", "c", "A", "B").first()
    pp = 50 / 200
    se = math.sqrt(pp * (1 - pp) * (1 / 100 + 1 / 100))
    zs = 1.959963984540054 + 0.8416212335729143
    assert rp["pooled_rate"] == 0.25 and rp["se"] == round(se, 6)
    assert rp["mde_abs"] == round(zs * se, 6)
    assert rp["mde_rel"] == round(zs * se / pp, 6)
    # power=0.9 must use the bigger z
    rp9 = stats.ab_power_mde(
        conv, "variant", "c", "A", "B", power=0.9
    ).first()
    assert rp9["mde_abs"] > rp["mde_abs"]

    with _pytest.raises(ValueError, match="alpha"):
        stats.ab_power_mde(conv, "variant", "c", "A", "B", alpha=0.07)
    with _pytest.raises(ValueError, match="power"):
        stats.ab_power_mde(conv, "variant", "c", "A", "B", power=0.5)


def test_asof_nearest_prefers_closer_and_breaks_ties_backward(spark):
    """direction='nearest': closer side wins, exact ties go backward,
    a missing side falls back to the other, and the result matches the
    brute-force per-row minimum."""
    from plda_spark.operators import joins

    left = spark.createDataFrame(
        [(1, "k", 10), (2, "k", 14), (3, "k", 3), (4, "x", 7)],
        "lid int, k string, ts long",
    )
    right = spark.createDataFrame(
        [("k", 8, "r8"), ("k", 12, "r12"), ("k", 20, "r20")],
        "k string, ts long, tag string",
    )
    out = {
        r["lid"]: r
        for r in joins.as_of_join(
            left, right, on="k", direction="nearest"
        ).collect()
    }
    assert out[1]["right_tag"] == "r8"     # |10-8|=2 < |12-10|=2 → tie: backward
    assert out[2]["right_tag"] == "r12"    # |14-12|=2 < |20-14|=6
    assert out[3]["right_tag"] == "r8"     # no backward → forward
    assert out[4]["right_tag"] is None     # key x has no right rows


def test_textrank_semantics(spark):
    """textrank_sentences: a fully-connected sentence pair settles at
    the symmetric fixpoint 1.0, an isolated sentence at 1-d, a hub
    sentence sharing words with every other ranks first, ranks
    tie-break by position, and the guards raise."""
    import pytest as _pytest

    from plda_spark.operators import text

    docs = spark.createDataFrame(
        [
            # doc 1: hub sentence shares a word with both others, which
            # share nothing with each other
            (1, "alpha beta. alpha gamma delta. beta epsilon zeta."),
            # doc 2: two identical-token sentences (symmetric graph)
            (2, "red green blue. red green blue."),
            # doc 3: one isolated sentence after an empty-token one
            (3, "solo words here."),
        ],
        "doc_id long, text string",
    )
    out = text.textrank_sentences(docs, n_iter=3, top_k=3)
    rows = {(r["doc_id"], r["sent_idx"]): r for r in out.collect()}

    assert rows[(2, 0)]["score"] == 1.0 and rows[(2, 1)]["score"] == 1.0
    assert rows[(2, 0)]["rank"] == 1  # tie -> position order
    assert rows[(3, 0)]["score"] == round(1.0 - 0.85, 6)
    hub = rows[(1, 0)]
    assert hub["rank"] == 1
    assert hub["score"] > rows[(1, 1)]["score"]
    assert hub["n_tok"] == 2

    with _pytest.raises(ValueError):
        text.textrank_sentences(docs, n_iter=0)
    with _pytest.raises(ValueError):
        text.textrank_sentences(docs, top_k=0)
    with _pytest.raises(ValueError):
        text.textrank_sentences(docs, damping=1.5)


def test_by_fdr_uplift_and_powerlaw_semantics(spark):
    """by_fdr deflates BH by the harmonic c(m) (hand-checked on a
    textbook p-vector; BY never rejects more than BH).  uplift_by_
    segment finds a planted segment-local lift and BH-corrects it;
    degenerate one-variant segments stay total with p=1.
    degree_powerlaw recovers a planted alpha on Zipf-ish degrees."""
    import math

    import numpy as np
    import pytest as _pytest

    from plda_spark.operators import graph, stats

    tests = spark.createDataFrame(
        [("t1", 0.001), ("t2", 0.008), ("t3", 0.039), ("t4", 0.041),
         ("t5", 0.20)],
        "test string, p double",
    )
    cm = sum(1.0 / i for i in range(1, 6))  # 2.2833...
    out = {x["test"]: x for x in
           stats.by_fdr(tests, "test", "p", alpha=0.05).collect()}
    assert out["t1"]["c_m"] == round(cm, 6)
    # q1 = min_j>=1 p_j*5*cm/j ; BH's 0.005 scaled by cm
    assert out["t1"]["q_value"] == round(0.001 * 5 * cm / 1, 6)
    assert out["t1"]["reject"]
    assert not out["t3"]["reject"]  # BH already missed; BY must too
    bh = {x["test"]: x for x in
          stats.bh_fdr(tests, "test", "p", alpha=0.05).collect()}
    for t in bh:
        assert out[t]["q_value"] >= bh[t]["q_value"]
    with _pytest.raises(ValueError):
        stats.by_fdr(tests, "test", "p", alpha=0.0)

    rows = []
    # segment "hot": A converts 80%, B 20%; segment "cold": both 50%
    for i in range(50):
        rows.append(("hot", "A", 1 if i < 40 else 0))
        rows.append(("hot", "B", 1 if i < 10 else 0))
        rows.append(("cold", "A", i % 2))
        rows.append(("cold", "B", (i + 1) % 2))
    # degenerate: only variant A present
    rows += [("lonely", "A", 1)] * 5
    df = spark.createDataFrame(rows, "segment string, variant string, c int")
    up = {r["segment"]: r for r in
          stats.uplift_by_segment(
              df, "segment", "variant", "c", "A", "B"
          ).collect()}
    assert up["hot"]["reject"] and up["hot"]["lift"] == 0.6
    assert not up["cold"]["reject"]
    assert up["lonely"]["p_value"] == 1.0 and up["lonely"]["z_stat"] == 0.0
    assert up["hot"]["q_value"] >= up["hot"]["p_value"]

    # planted continuous power law alpha=2.5 via inverse-CDF degrees
    rng = np.random.RandomState(3)
    u = rng.uniform(size=2000)
    degs = np.floor(10 * u ** (-1 / 1.5)).astype(int)  # alpha ~ 2.5, dmin 10
    edges = []
    nid = 0
    # star construction: node i gets degree d_i by linking to fresh leaves
    # (leaves have degree 1 and fall below dmin)
    for i, d in enumerate(degs[:300]):
        d = min(int(d), 200)
        for _ in range(d):
            nid += 1
            edges.append((1000000 + i, 2000000 + nid))
    dfe = spark.createDataFrame(edges, "src long, dst long")
    r = graph.degree_powerlaw(dfe, dmin=10).first()
    ds = np.array([min(int(d), 200) for d in degs[:300]], dtype=float)
    tail = ds[ds >= 10]
    alpha = 1 + len(tail) / np.log(tail / 9.5).sum()
    assert r["alpha"] == round(alpha, 6)
    assert r["n_tail"] == len(tail)
    assert 2.0 < r["alpha"] < 3.2
    with _pytest.raises(ValueError):
        graph.degree_powerlaw(dfe, dmin=0)


def test_knn_and_modularity_semantics(spark):
    """knn_classify is perfect on well-separated planted clusters,
    breaks vote ties toward the smaller label, and raises on k<1.
    modularity reproduces the hand-computed Newman Q for two disjoint
    triangles under the true partition (0.5) and scores the same graph
    near zero under a deliberately wrong partition."""
    import pytest as _pytest

    from plda_spark.operators import graph, similarity

    def vec(base, eps):
        return [float(base[0] + eps), float(base[1] + eps), 0.0]

    train_rows = []
    for i in range(10):
        train_rows.append((100 + i, vec([1, 0], 0.01 * i), 0))
        train_rows.append((200 + i, vec([0, 1], 0.01 * i), 1))
    test_rows = [(1, [1.0, 0.05, 0.0], 0), (2, [0.05, 1.0, 0.0], 1)]
    schema = "vec_id long, embedding array<double>, label int"
    train = spark.createDataFrame(train_rows, schema)
    test = spark.createDataFrame(test_rows, schema)
    out = {r["query_id"]: r for r in
           similarity.knn_classify(train, test, k=5).collect()}
    assert out[1]["predicted"] == 0 and out[1]["correct"]
    assert out[2]["predicted"] == 1 and out[2]["correct"]
    assert out[1]["n_votes"] == 5

    # 2-2 vote split with k=4 and symmetric neighbors: label 0 wins
    mix_train = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0], 0), (11, [1.0, 0.001, 0.0], 0),
         (12, [1.0, -0.001, 0.0], 1), (13, [1.0, 0.002, 0.0], 1)],
        schema,
    )
    tie = spark.createDataFrame([(1, [1.0, 0.0, 0.0], 9)], schema)
    rt = similarity.knn_classify(mix_train, tie, k=4).first()
    assert rt["predicted"] == 0 and not rt["correct"]

    with _pytest.raises(ValueError):
        similarity.knn_classify(train, test, k=0)

    tri = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)]
    e = spark.createDataFrame(tri, "src long, dst long")
    right = spark.createDataFrame(
        [(n, n // 10) for n in [0, 1, 2, 10, 11, 12]], "node long, label long"
    )
    rq = graph.modularity(e, right).first()
    # two communities, each with 3 of 6 edges and deg_c = 6 of 12:
    # Q = 2*(3/6 - (6/12)^2) = 0.5
    assert rq["modularity"] == 0.5
    assert rq["n_communities"] == 2 and rq["m_edges"] == 6

    wrong = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 0), (10, 1), (11, 0), (12, 1)],
        "node long, label long",
    )
    rw = graph.modularity(e, wrong).first()
    assert rw["modularity"] < 0.1


def test_dp_quantile_and_pareto_semantics(spark):
    """dp_quantile: exact_value is the interpolation-free lower
    quantile; at huge epsilon the mechanism concentrates on the
    utility-argmax (= the exact candidate); guards raise.
    pareto_front_2d keeps exactly the non-dominated set, keeps
    duplicate frontier points, and enforces max_distinct."""
    import pytest as _pytest

    from plda_spark.operators import curation, privacy

    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    r = privacy.dp_quantile(df, "v", q=0.5, epsilon=1000.0, seed=1).first()
    assert r["exact_value"] == 5.0
    # epsilon=1000 concentrates ~all weight on the argmax candidate
    assert r["released_value"] == 5.0
    assert r["n"] == 9 and r["n_candidates"] == 9

    # deterministic: same seed same release; different seed may differ
    r2 = privacy.dp_quantile(df, "v", q=0.5, epsilon=1000.0, seed=1).first()
    assert r2["released_value"] == r["released_value"]

    with _pytest.raises(ValueError):
        privacy.dp_quantile(df, "v", q=0.0)
    with _pytest.raises(ValueError):
        privacy.dp_quantile(df, "v", epsilon=0.0)
    with _pytest.raises(ValueError, match="max_distinct"):
        privacy.dp_quantile(df, "v", max_distinct=2)

    pts = [
        (1, 10.0, 1.0),   # frontier (max x)
        (2, 8.0, 5.0),    # frontier
        (3, 8.0, 4.0),    # dominated by 2 (same x, lower y)
        (4, 5.0, 5.0),    # dominated by 2 (lower x, same y)
        (5, 3.0, 9.0),    # frontier
        (6, 3.0, 9.0),    # duplicate frontier point — survives too
        (7, 1.0, 1.0),    # dominated by everyone
    ]
    dfp = spark.createDataFrame(pts, "doc_id long, x double, y double")
    got = sorted(
        r["doc_id"]
        for r in curation.pareto_front_2d(dfp, "x", "y", id_col="doc_id")
        .collect()
    )
    assert got == [1, 2, 5, 6]
    with _pytest.raises(ValueError, match="max_distinct"):
        curation.pareto_front_2d(dfp, "x", "y", max_distinct=2)


def test_assortativity_clustering_reciprocity_semantics(spark):
    """assortativity: a star is perfectly disassortative (-1), a
    regular graph has zero degree variance (NULL).  clustering: the
    triangle-plus-pendant graph has known wedge/triangle/coefficient
    values.  reciprocity: dedup + self-loop drop, pair counted from
    both sides."""
    from plda_spark.operators import graph

    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    r = graph.assortativity(star).first()
    assert r["m_edges"] == 3
    assert r["assortativity"] == -1.0

    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    r = graph.assortativity(tri).first()
    assert r["m_edges"] == 3
    assert r["assortativity"] is None  # zero degree variance

    # triangle {1,2,3} plus pendant 3-4: T=1, W=5, transitivity=0.6,
    # avg_local = (1 + 1 + 1/3)/3 (degree-1 node 4 excluded)
    g = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 3)], "src long, dst long"
    )
    c = graph.clustering_coefficients(g).first()
    assert c["n_nodes"] == 4
    assert c["n_wedges"] == 5
    assert c["n_triangles"] == 1
    assert c["transitivity"] == 0.6
    assert abs(c["avg_local"] - round((1 + 1 + 1 / 3) / 3, 6)) < 1e-9

    # wedge-free graph: both coefficients NULL, not a divide error
    lone = spark.createDataFrame([(7, 8)], "src long, dst long")
    c0 = graph.clustering_coefficients(lone).first()
    assert c0["n_wedges"] == 0 and c0["n_triangles"] == 0
    assert c0["transitivity"] is None and c0["avg_local"] is None

    d = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 4), (4, 3), (5, 5), (1, 2)],
        "src long, dst long",
    )
    rr = graph.reciprocity(d).first()
    assert rr["m_directed"] == 5
    assert rr["m_reciprocated"] == 4
    assert rr["reciprocity"] == 0.8


def test_roc_auc_and_kappa_semantics(spark):
    """AUC: perfect separation = 1, reversed = 0, all-tied = 0.5 and
    the tie correction is exact; one-class data gives NULL, not a
    divide error; the max_distinct guard fires.  Kappa: perfect
    agreement = 1, the classic skewed-marginal case matches the
    hand-computed value, constant raters give NULL."""
    import pytest as _pytest

    from plda_spark.operators import classify, stats

    perfect = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], "s double, y int"
    )
    r = classify.roc_auc_report(perfect, "s", "y").first()
    assert r["auc"] == 1.0 and r["n_pos"] == 2 and r["n_neg"] == 2

    reversed_ = spark.createDataFrame(
        [(0.1, 1), (0.2, 1), (0.8, 0), (0.9, 0)], "s double, y int"
    )
    assert classify.roc_auc_report(reversed_, "s", "y").first()["auc"] == 0.0

    tied = spark.createDataFrame(
        [(0.5, 1), (0.5, 1), (0.5, 0), (0.5, 0)], "s double, y int"
    )
    t = classify.roc_auc_report(tied, "s", "y").first()
    assert t["auc"] == 0.5
    # Brier on all-0.5 predictions is exactly 0.25
    assert t["brier"] == 0.25

    one_class = spark.createDataFrame(
        [(0.4, 1), (0.6, 1)], "s double, y int"
    )
    assert classify.roc_auc_report(one_class, "s", "y").first()["auc"] is None

    wide = spark.createDataFrame(
        [(float(i), i % 2) for i in range(500)], "s double, y int"
    )
    with _pytest.raises(ValueError, match="max_distinct"):
        classify.roc_auc_report(wide, "s", "y", max_distinct=100)
    # bins= mode accepts the same column
    b = classify.roc_auc_report(wide, "s", "y", bins=10, max_distinct=100)
    assert b.first()["n"] == 500

    agree = spark.createDataFrame(
        [("x", "x"), ("y", "y"), ("z", "z")], "a string, b string"
    )
    assert stats.cohens_kappa(agree, "a", "b").first()["kappa"] == 1.0

    # classic 2x2: po=0.6, marginals a=(0.5,0.5), b=(0.7,0.3)
    # pe = 0.35+0.15 = 0.5 -> kappa = 0.2
    rows = (
        [("p", "p")] * 4 + [("p", "n")] * 1
        + [("n", "p")] * 3 + [("n", "n")] * 2
    )
    k = stats.cohens_kappa(
        spark.createDataFrame(rows, "a string, b string"), "a", "b"
    ).first()
    assert k["n"] == 10 and k["po"] == 0.6 and k["pe"] == 0.5
    assert abs(k["kappa"] - 0.2) < 1e-9

    const = spark.createDataFrame(
        [("x", "x"), ("x", "x")], "a string, b string"
    )
    assert stats.cohens_kappa(const, "a", "b").first()["kappa"] is None


def test_rank_eval_and_brown_semantics(spark):
    """rank_eval: hand-computed nDCG/MRR/AP on a tiny run with graded
    qrels; a query with no relevant docs gives NULLs; run docs missing
    from qrels count rel 0; misses hurt AP's denominator.  brown:
    first point equals the series start (level = x1, trend 0), a
    perfectly linear series converges toward its slope, and the
    max_days guard fires."""
    import math

    import pytest as _pytest

    from plda_spark.operators import invindex, stats

    run = spark.createDataFrame(
        [
            ("q1", "d1", 3.0),  # rank 1, rel 2
            ("q1", "d2", 2.0),  # rank 2, rel 0 (not in qrels)
            ("q1", "d3", 1.0),  # rank 3, rel 1
            ("q2", "d1", 9.0),  # rank 1, rel 0
        ],
        "query_id string, doc_id string, score double",
    )
    qrels = spark.createDataFrame(
        [
            ("q1", "d1", 2.0),
            ("q1", "d3", 1.0),
            ("q1", "d9", 1.0),  # relevant but never retrieved
        ],
        "query_id string, doc_id string, rel double",
    )
    out = {
        r["query_id"]: r
        for r in invindex.rank_eval(run, qrels, k=2).collect()
    }
    q1 = out["q1"]
    # DCG@2 = (2^2-1)/log2(2) + 0 = 3; ideal@2 = 3/1 + 1/log2(3)
    idcg = 3.0 + 1.0 / math.log2(3.0)
    assert q1["ndcg_at_k"] == round(3.0 / idcg, 6)
    assert q1["mrr"] == 1.0
    # AP = (P@1 + P@3)/n_rel = (1/1 + 2/3)/3 — d9 inflates the denom
    assert abs(q1["ap"] - (1.0 + 2.0 / 3.0) / 3.0) < 1e-6
    assert q1["n_rel"] == 3 and q1["n_ranked"] == 3
    q2 = out["q2"]
    assert (
        q2["ndcg_at_k"] is None
        and q2["mrr"] is None
        and q2["ap"] is None
        and q2["n_rel"] == 0
    )
    with _pytest.raises(ValueError):
        invindex.rank_eval(run, qrels, k=0)

    days = [(f"2024-01-{d:02d} 12:00:00", float(10 * d)) for d in range(1, 11)]
    df = spark.createDataFrame(days, "ts string, v double").select(
        F.to_timestamp("ts").alias("ts"), F.col("v")
    )
    b = {r["day"]: r for r in stats.brown_smoothing(df, "ts", "v", alpha=0.5).collect()}
    first = b["2024-01-01"]
    assert first["level"] == first["x"] == 10.0 and first["trend"] == 0.0
    # recursion check at t=2: s1 = .5*20 + .5*10 = 15, s2 = .5*15+.5*10
    second = b["2024-01-02"]
    assert second["s1"] == 15.0 and second["s2"] == 12.5
    assert second["level"] == 17.5 and second["trend"] == 2.5
    # on a linear ramp the trend estimate approaches the slope (10)
    last = b["2024-01-10"]
    assert 8.0 < last["trend"] <= 10.0
    # one-step forecast = level + trend (each rounded independently
    # from the unrounded values, so allow one ulp of the rounding)
    assert abs(last["forecast_next"] - (last["level"] + last["trend"])) < 2e-6
    with _pytest.raises(ValueError, match="max_days"):
        stats.brown_smoothing(df, "ts", "v", max_days=5)
    with _pytest.raises(ValueError):
        stats.brown_smoothing(df, "ts", "v", alpha=1.5)


def test_stump_srm_and_combine_semantics(spark):
    """decision_stump: a perfectly separable feature finds the exact
    threshold with gini_split 0 and pure leaves; a constant feature
    yields NULL threshold; the max_distinct guard fires.  ab_srm_check:
    a balanced split passes, a grossly imbalanced one is flagged,
    zero-traffic arms count, unknown arms raise.  combine_pvalues:
    all-p=1 gives fisher_p 1; a tiny p drives the joint verdict down;
    k>max_tests raises; Stouffer matches the closed form."""
    import math

    import pytest as _pytest

    from plda_spark.operators import classify, stats

    sep = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 0), (10.0, 1), (11.0, 1)],
        "x double, y int",
    )
    r = classify.decision_stump(sep, "x", "y").first()
    assert r["threshold"] == 3.0
    assert r["gini_split"] == 0.0
    assert r["left_pos_rate"] == 0.0 and r["right_pos_rate"] == 1.0
    assert r["gain"] == r["gini_parent"]

    const = spark.createDataFrame([(5.0, 0), (5.0, 1)], "x double, y int")
    rc = classify.decision_stump(const, "x", "y").first()
    assert rc["threshold"] is None and rc["n"] == 2

    wide = spark.createDataFrame(
        [(float(i), i % 2) for i in range(400)], "x double, y int"
    )
    with _pytest.raises(ValueError, match="max_distinct"):
        classify.decision_stump(wide, "x", "y", max_distinct=50)

    bal = spark.createDataFrame(
        [("A",)] * 500 + [("B",)] * 500, "variant string"
    )
    rb = stats.ab_srm_check(bal, "variant", {"A": 1, "B": 1}).first()
    assert rb["srm_suspected"] is False and rb["chi2"] == 0.0

    skew = spark.createDataFrame(
        [("A",)] * 900 + [("B",)] * 100, "variant string"
    )
    rs = stats.ab_srm_check(skew, "variant", {"A": 1, "B": 1}).first()
    assert rs["srm_suspected"] is True and rs["p_value"] < 0.001

    # a designed arm with zero traffic is exactly the pathology
    rz = stats.ab_srm_check(bal, "variant", {"A": 1, "B": 1, "C": 1}).first()
    assert rz["k"] == 3 and rz["srm_suspected"] is True

    with _pytest.raises(ValueError, match="unknown arms"):
        stats.ab_srm_check(bal, "variant", {"A": 1})
    with _pytest.raises(ValueError):
        stats.ab_srm_check(bal, "variant", {})

    ones = spark.createDataFrame(
        [("t1", 1.0, 0.0), ("t2", 1.0, 0.0)], "test string, p_value double, z double"
    )
    c1 = stats.combine_pvalues(ones, "p_value", z_col="z").first()
    assert c1["fisher_x2"] == 0.0 and c1["fisher_p"] == 1.0
    assert c1["stouffer_z"] == 0.0 and c1["stouffer_p"] == 1.0

    mixed = spark.createDataFrame(
        [("t1", 1e-8, 5.73), ("t2", 0.5, 0.67), ("t3", 0.9, 0.13)],
        "test string, p_value double, z double",
    )
    cm = stats.combine_pvalues(mixed, "p_value", z_col="z").first()
    x = -2 * (math.log(1e-8) + math.log(0.5) + math.log(0.9))
    assert abs(cm["fisher_x2"] - x) < 1e-4
    # exact even-dof series with k=3
    ser = sum((x / 2) ** i / math.factorial(i) for i in range(3))
    assert abs(cm["fisher_p"] - math.exp(-x / 2) * ser) < 1e-6
    assert cm["fisher_p"] < 0.001
    assert abs(cm["stouffer_z"] - (5.73 + 0.67 + 0.13) / math.sqrt(3)) < 1e-6

    # no z column: Stouffer pair NULL
    cn = stats.combine_pvalues(mixed, "p_value").first()
    assert cn["stouffer_z"] is None and cn["stouffer_p"] is None

    many = spark.createDataFrame(
        [(f"t{i}", 0.5) for i in range(25)], "test string, p_value double"
    )
    with _pytest.raises(ValueError, match="max_tests"):
        stats.combine_pvalues(many, "p_value")


def test_tost_xi_and_capture_semantics(spark):
    """TOST: identical groups with a generous margin are equivalent;
    a mean gap larger than the margin is NOT, even when huge samples
    make the difference 'significant'.  xi: a monotone series gives
    xi near 1, and n_days<2 gives NULL.  capture_recapture: the
    textbook Lincoln/Chapman numbers, and zero overlap leaves lincoln
    NULL but chapman defined."""
    import pytest as _pytest

    from plda_spark.operators import stats

    same = spark.createDataFrame(
        [("a", float(v)) for v in range(100)]
        + [("b", float(v)) for v in range(100)],
        "g string, v double",
    )
    r = stats.tost_equivalence(same, "g", "v", "a", "b", margin=10.0).first()
    assert r["equivalent"] is True and r["diff"] == 0.0

    apart = spark.createDataFrame(
        [("a", float(v)) for v in range(100)]
        + [("b", float(v) + 50.0) for v in range(100)],
        "g string, v double",
    )
    r2 = stats.tost_equivalence(apart, "g", "v", "a", "b", margin=10.0).first()
    assert r2["equivalent"] is False and r2["p_tost"] > 0.99

    with _pytest.raises(ValueError):
        stats.tost_equivalence(same, "g", "v", "a", "b", margin=0.0)

    mono = spark.createDataFrame(
        [(f"2024-01-{d:02d} 00:00:00", float(d)) for d in range(1, 21)],
        "ts string, v double",
    ).select(F.to_timestamp("ts").alias("ts"), "v")
    x = stats.xi_correlation_daily(mono, "ts", "v").first()
    # perfect monotone: sum|jumps| = n-1, xi = 1 - 3(n-1)/(n^2-1) = 1 - 3/(n+1)
    assert x["n_days"] == 20 and abs(x["xi"] - (1 - 3.0 / 21)) < 1e-6

    one = mono.limit(1)
    assert stats.xi_correlation_daily(one, "ts", "v").first()["xi"] is None

    a = spark.createDataFrame([(i,) for i in range(10)], "id long")
    b = spark.createDataFrame([(i,) for i in range(5, 20)], "id long")
    c = stats.capture_recapture(a, b, "id").first()
    assert c["n_a"] == 10 and c["n_b"] == 15 and c["n_both"] == 5
    assert c["lincoln_n"] == 30.0
    assert abs(c["chapman_n"] - (11 * 16 / 6.0 - 1)) < 1e-6

    disjoint = spark.createDataFrame([(100,), (101,)], "id long")
    d = stats.capture_recapture(a, disjoint, "id").first()
    assert d["lincoln_n"] is None and d["chapman_n"] is not None


def test_bfs_and_dataset_card_semantics(spark):
    """bfs: path graph distances are hop counts, unreached nodes are
    absent, isolated seeds keep distance 0, max_hops truncates;
    dataset_card: known duplicate rate / token totals / top shares on
    a hand-built corpus."""
    import pytest as _pytest

    from plda_spark.operators import curation, graph

    # path 1-2-3-4-5, seed 1
    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {
        r["node"]: r["dist"]
        for r in graph.bfs_distances(path, [1], max_hops=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2}  # 4,5 beyond the budget: absent

    # seed 99 is isolated: present at distance 0
    got2 = {
        r["node"]: r["dist"]
        for r in graph.bfs_distances(path, [99, 3], max_hops=1).collect()
    }
    assert got2 == {99: 0, 3: 0, 2: 1, 4: 1}
    with _pytest.raises(ValueError):
        graph.bfs_distances(path, [], max_hops=1)

    docs = spark.createDataFrame(
        [
            (1, "aa bb cc", "en", "web"),
            (2, "aa bb cc", "en", "web"),   # exact dup of 1
            (3, "dd ee", "fr", "wiki"),
            (4, "ff gg hh ii", "en", "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    c = curation.dataset_card(docs).first()
    assert c["n_docs"] == 4 and c["n_distinct_texts"] == 3
    assert c["exact_dup_rate"] == 0.25
    assert c["total_tokens"] == 3 + 3 + 2 + 4
    assert c["n_langs"] == 2 and c["top_lang"] == "en"
    assert c["top_lang_share"] == 0.75
    assert c["n_sources"] == 2 and c["top_source"] == "web"


def test_max_coverage_semantics(spark):
    """Greedy coverage picks the doc with the most uncovered units
    each round, stops when everything left is redundant, and the
    guards fire.  Hand-built corpus: doc 1 covers {aa,bb,cc}, doc 2
    {cc,dd}, doc 3 {aa,bb} (subset of 1 -> redundant after 1 and 2)."""
    import pytest as _pytest

    from plda_spark.operators import sampling

    docs = spark.createDataFrame(
        [
            (1, "aa bb cc"),
            (2, "cc dd"),
            (3, "aa bb"),
        ],
        "doc_id long, text string",
    )
    rows = sampling.max_coverage_select(docs, k=3, vocab_size=100).collect()
    assert [(r["sel_order"], r["doc_id"], r["gain"]) for r in rows] == [
        (1, 1, 3),
        (2, 2, 1),
    ]  # doc 3 adds nothing: early stop
    assert rows[-1]["covered_total"] == 4
    assert rows[-1]["coverage_frac"] == 1.0

    # bigram mode: doc 2's single token yields no bigrams
    rows2 = sampling.max_coverage_select(
        docs, k=2, vocab_size=100, ngram=2
    ).collect()
    assert rows2[0]["doc_id"] == 1 and rows2[0]["gain"] == 2  # "aa bb","bb cc"

    with _pytest.raises(ValueError, match="max_k"):
        sampling.max_coverage_select(docs, k=51)
    with _pytest.raises(ValueError, match="vocab_size"):
        sampling.max_coverage_select(docs, k=2, vocab_size=5000)
    with _pytest.raises(ValueError, match="ngram"):
        sampling.max_coverage_select(docs, k=2, ngram=0)


def test_ljung_box_and_retention_fit_semantics(spark):
    """ljung_box: a constant-ish alternating series has strong negative
    lag-1 autocorrelation -> tiny p; guards fire.  retention_decay_fit:
    a hand-built exact-halving cohort recovers slope ln(0.5), halflife
    1 period, r2 = 1; a non-decaying cohort gives NULL halflife."""
    import math

    import pytest as _pytest

    from plda_spark.operators import events as ev_ops
    from plda_spark.operators import stats

    alt = spark.createDataFrame(
        [(f"2024-01-{d:02d} 00:00:00", float(d % 2)) for d in range(1, 31)],
        "ts string, v double",
    ).select(F.to_timestamp("ts").alias("ts"), "v")
    r = stats.ljung_box(alt, "ts", "v", lags=3).first()
    assert r["n_days"] == 30 and r["dof"] == 3
    assert r["p_value"] < 0.01  # alternation = strong autocorrelation
    with _pytest.raises(ValueError, match="days"):
        stats.ljung_box(alt.limit(2), "ts", "v", lags=3)
    with _pytest.raises(ValueError):
        stats.ljung_box(alt, "ts", "v", lags=0)

    # cohort of 8, halving weekly: periods 0..3 active users 8,4,2,1
    rows = []
    for u in range(8):
        rows.append((u, "2024-01-01 00:00:00"))
    for u in range(4):
        rows.append((u, "2024-01-08 00:00:00"))
    for u in range(2):
        rows.append((u, "2024-01-15 00:00:00"))
    rows.append((0, "2024-01-22 00:00:00"))
    ev = spark.createDataFrame(
        rows, "user_id long, ts string"
    ).select("user_id", F.to_timestamp("ts").alias("ts"))
    f = ev_ops.retention_decay_fit(ev, period_days=7, max_periods=4).first()
    assert f["n_users"] == 8 and f["n_periods"] == 4
    assert abs(f["slope"] - math.log(0.5)) < 1e-6
    assert abs(f["halflife_periods"] - 1.0) < 1e-6
    assert f["r2"] == 1.0 and f["intercept"] == 0.0

    flat = spark.createDataFrame(
        [(u, f"2024-01-{d:02d} 00:00:00") for u in range(3)
         for d in (1, 8, 15)],
        "user_id long, ts string",
    ).select("user_id", F.to_timestamp("ts").alias("ts"))
    f2 = ev_ops.retention_decay_fit(flat, period_days=7).first()
    assert f2["halflife_periods"] is None  # slope 0: nothing decays


def test_mcnemar_and_runs_semantics(spark):
    """McNemar: textbook discordant counts and the
    continuity-corrected chi2; identical classifiers -> NULL chi2.
    Runs test: a strictly alternating series has the maximum run
    count and a large positive z; a monotone series has one sign ->
    NULL z; zero changes are dropped."""
    import pytest as _pytest

    from plda_spark.operators import stats

    # 20 pairs: 10 both right, 2 both wrong, 6 a-only, 2 b-only
    rows = [(1, 1)] * 10 + [(0, 0)] * 2 + [(1, 0)] * 6 + [(0, 1)] * 2
    df = spark.createDataFrame(rows, "a int, b int")
    m = stats.mcnemar_test(df, "a", "b").first()
    assert (m["both_right"], m["both_wrong"], m["a_only"], m["b_only"]) == (
        10, 2, 6, 2,
    )
    assert m["chi2"] == round((abs(6 - 2) - 1) ** 2 / 8.0, 6)
    raw = stats.mcnemar_test(df, "a", "b", continuity=False).first()
    assert raw["chi2"] == 2.0

    same = spark.createDataFrame([(1, 1), (0, 0)], "a int, b int")
    s0 = stats.mcnemar_test(same, "a", "b").first()
    assert s0["chi2"] is None and s0["p_value"] is None

    alt = spark.createDataFrame(
        [(f"2024-01-{d:02d} 00:00:00", 10.0 + (d % 2)) for d in range(1, 22)],
        "ts string, v double",
    ).select(F.to_timestamp("ts").alias("ts"), "v")
    r = stats.runs_test_daily(alt, "ts", "v").first()
    assert r["n_changes"] == 20 and r["n_runs"] == 20  # pure alternation
    assert r["z"] > 3  # way more runs than chance

    mono = spark.createDataFrame(
        [(f"2024-01-{d:02d} 00:00:00", float(d)) for d in range(1, 11)],
        "ts string, v double",
    ).select(F.to_timestamp("ts").alias("ts"), "v")
    rm = stats.runs_test_daily(mono, "ts", "v").first()
    assert rm["n_runs"] == 1 and rm["z"] is None and rm["p_value"] is None


def test_granger_daily_semantics(spark):
    """A series where value_t is literally driven by count_{t-1}
    (and NOT by its own lag) must flag the count as predictive; pure
    AR(1) value with constant counts must NOT (NULL stats on the
    collinear/constant design)."""
    rows = []
    import random as _r
    counts = [10, 30, 20, 50, 40, 60, 15, 35, 25, 45, 55, 65,
              12, 32, 22, 52, 42, 62, 18, 38]
    # value_t = 2 * count_{t-1}: build events so daily sum(value)
    # follows yesterday's count exactly
    for d in range(1, 21):
        c = counts[d - 1]
        target = 2.0 * counts[d - 2] if d > 1 else 100.0
        for i in range(c):
            rows.append(
                (f"2024-01-{d:02d} 00:00:00", target / c)
            )
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    from plda_spark.operators import stats

    g = stats.granger_daily(df, "ts", "value").first()
    assert g["n_pairs"] == 19
    assert g["predictive"] is True and g["p_value"] < 0.01
    assert abs(g["b_lag_count"] - 2.0) < 0.2

    const = spark.createDataFrame(
        [(f"2024-01-{d:02d} 00:00:00", 5.0) for d in range(1, 11)],
        "ts string, value double",
    ).select(F.to_timestamp("ts").alias("ts"), "value")
    gc = stats.granger_daily(const, "ts", "value").first()
    # constant value AND constant count: degenerate design -> NULLs
    assert gc["b_lag_count"] is None and gc["f_stat"] is None


def test_pacf_and_burstiness_semantics(spark):
    """pacf: an AR(1)-like geometric acf has pacf cutting off after
    lag 1 (phi22 ~ 0 by the DL identity when r2 = r1^2); burstiness:
    a bursty term (all occurrences piled in one doc) has high VMR and
    adaptation 1, a scattered term has VMR <= 1 and adaptation 0."""
    from plda_spark.operators import stats, text

    # construct a daily series with acf decaying ~geometrically by
    # checking the DL identity on whatever acf comes out
    rows = []
    v = 100.0
    seq = [100.0]
    for d in range(2, 41):
        v = 0.6 * v + 40.0 + (7.0 if d % 5 == 0 else -3.0)
        seq.append(v)
    data = [
        (f"2024-{1 + (d - 1) // 28:02d}-{1 + (d - 1) % 28:02d} 00:00:00", x)
        for d, x in enumerate(seq, start=1)
    ]
    df = spark.createDataFrame(data, "ts string, v double").select(
        F.to_timestamp("ts").alias("ts"), "v"
    )
    got = {r["lag"]: r for r in stats.pacf_daily(df, "ts", "v").collect()}
    assert got[1]["pacf"] == got[1]["acf"]  # phi11 = r1 identity
    r1, r2 = got[1]["acf"], got[2]["acf"]
    expect_p22 = (r2 - r1 * r1) / (1 - r1 * r1)
    assert abs(got[2]["pacf"] - expect_p22) < 1e-5

    docs = spark.createDataFrame(
        [
            (1, "bursty bursty bursty bursty filler"),
            (2, "filler spread"),
            (3, "filler spread"),
            (4, "filler spread"),
        ],
        "doc_id long, text string",
    )
    b = {r["term"]: r for r in text.term_burstiness(docs, top_k=10).collect()}
    # bursty: tf over 4 docs = [4,0,0,0]: mean 1, E[tf2] 4, var 3, vmr 3
    assert b["bursty"]["vmr"] == 3.0 and b["bursty"]["adaptation"] == 1.0
    # filler: [1,1,1,1]: var 0, vmr 0, never repeats
    assert b["filler"]["vmr"] == 0.0 and b["filler"]["adaptation"] == 0.0
    assert b["filler"]["doc_freq"] == 4


def test_effect_size_and_mean_mde_semantics(spark):
    """effect_size: a one-SD mean gap gives d ~ 1 and the textbook J
    correction; identical groups give d = 0; constant values give
    NULL d.  mean_mde: the sizing identity reproduces by hand, and
    the z-grid guard fires."""
    import math

    import pytest as _pytest

    from plda_spark.operators import stats

    # group a: mean 10, sd 2; group b: mean 8, sd 2 -> d = 1.0
    a_vals = [8.0, 12.0, 10.0, 10.0, 8.0, 12.0, 10.0, 10.0]
    b_vals = [6.0, 10.0, 8.0, 8.0, 6.0, 10.0, 8.0, 8.0]
    rows = [("a", v) for v in a_vals] + [("b", v) for v in b_vals]
    df = spark.createDataFrame(rows, "g string, v double")
    r = stats.effect_size(df, "g", "v", "a", "b").first()
    import statistics

    sp = math.sqrt(
        (sum((x - 10) ** 2 for x in a_vals) + sum((x - 8) ** 2 for x in b_vals))
        / (len(a_vals) + len(b_vals) - 2)
    )
    assert abs(r["cohens_d"] - 2.0 / sp) < 1e-6
    dof = len(a_vals) + len(b_vals) - 2
    assert abs(r["hedges_g"] - r["cohens_d"] * (1 - 3 / (4 * dof - 1))) < 1e-5
    assert r["d_ci_lo"] < r["cohens_d"] < r["d_ci_hi"]

    same = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 1.0), ("b", 3.0)], "g string, v double"
    )
    assert stats.effect_size(same, "g", "v", "a", "b").first()["cohens_d"] == 0.0

    const = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 5.0)], "g string, v double"
    )
    assert stats.effect_size(const, "g", "v", "a", "b").first()["cohens_d"] is None

    m = stats.mean_power_mde(df, "g", "v", "a", "b").first()
    va = statistics.variance(a_vals)
    vb = statistics.variance(b_vals)
    se = math.sqrt(va / 8 + vb / 8)
    assert abs(m["se"] - se) < 1e-6
    assert abs(m["mde_abs"] - (1.959963984540054 + 0.8416212335729143) * se) < 1e-5
    with _pytest.raises(ValueError, match="alpha"):
        stats.mean_power_mde(df, "g", "v", "a", "b", alpha=0.03)


def test_cuped_semantics(spark):
    """CUPED with a covariate that explains most of the metric
    variance: theta recovers the generating slope, the variance
    reduction is large, and a true treatment effect hidden by
    covariate noise becomes significant; a constant covariate
    degrades to the plain z-test with theta 0."""
    rows = []
    # y = 2*x + effect(variant) ; x varies a lot, effect is +1 for A
    xs = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0]
    for i, x in enumerate(xs):
        rows.append((i, x, 2 * x + 1.0 + 0.1 * (i % 3), "A"))
    for i, x in enumerate(xs):
        rows.append((100 + i, x, 2 * x + 0.1 * (i % 3), "B"))
    df = spark.createDataFrame(rows, "u long, x double, y double, v string")
    from plda_spark.operators import stats

    r = stats.cuped_ztest(df, "u", "y", "x", "v", "A", "B").first()
    # the small i%3 noise term correlates slightly with x, so theta
    # lands near-but-not-exactly on the generating slope
    assert abs(r["theta"] - 2.0) < 1e-2
    assert r["var_reduction"] > 0.99
    assert abs(r["diff"] - 1.0) < 1e-2
    assert r["p_value"] < 0.01  # the plain test would drown in x noise

    const = spark.createDataFrame(
        [(1, 5.0, 10.0, "A"), (2, 5.0, 12.0, "A"),
         (3, 5.0, 9.0, "B"), (4, 5.0, 11.0, "B")],
        "u long, x double, y double, v string",
    )
    rc = stats.cuped_ztest(const, "u", "y", "x", "v", "A", "B").first()
    assert rc["theta"] == 0.0  # degrades to the plain z-test
    assert rc["var_reduction"] == 0.0


def test_msprt_and_yule_semantics(spark):
    """mSPRT: under H0 (identical groups) lambda < 1 so the
    always-valid p clamps to 1; a huge standardized difference drives
    p toward 0; tau guard fires.  Yule's K: a maximally repetitive
    text (one token repeated) approaches 10^4; an all-distinct text
    gives K = 0."""
    import pytest as _pytest

    from plda_spark.operators import stats, text

    same = spark.createDataFrame(
        [("a", float(v)) for v in range(50)]
        + [("b", float(v)) for v in range(50)],
        "g string, v double",
    )
    r = stats.msprt_always_valid(same, "g", "v", "a", "b", tau=5.0).first()
    assert r["p_always_valid"] == 1.0 and r["reject_05"] is False

    apart = spark.createDataFrame(
        [("a", float(v)) for v in range(50)]
        + [("b", float(v) + 500.0) for v in range(50)],
        "g string, v double",
    )
    r2 = stats.msprt_always_valid(apart, "g", "v", "a", "b", tau=5.0).first()
    assert r2["p_always_valid"] < 0.001 and r2["reject_05"] is True
    with _pytest.raises(ValueError):
        stats.msprt_always_valid(same, "g", "v", "a", "b", tau=0.0)

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam", "tpl"),
            (2, "alpha beta gamma delta epsilon", "var"),
        ],
        "doc_id long, text string, source string",
    )
    k = {r["group"]: r for r in text.yule_k(docs).collect()}
    # tpl: N=6 one type: K = 1e4*(36-6)/36 = 8333.33
    assert abs(k["tpl"]["yule_k"] - 1e4 * 30 / 36) < 1e-3
    # var: all distinct: sum tf^2 = N -> K = 0
    assert k["var"]["yule_k"] == 0.0
    corpus = text.yule_k(docs, group_col=None).first()
    assert corpus["group"] == "corpus" and corpus["n_tokens"] == 11


def test_theil_decomposition_semantics(spark):
    """The decomposition identity T = T_between + T_within holds
    exactly; equal values give T = 0; two groups with equal internal
    values but different means give pure between-inequality."""
    from plda_spark.operators import curation

    flat = spark.createDataFrame(
        [("a", 5.0)] * 4 + [("b", 5.0)] * 4, "g string, x double"
    )
    r = curation.theil_decomposition(flat, "g", "x").first()
    assert r["theil_total"] == 0.0 and r["theil_between"] == 0.0

    between_only = spark.createDataFrame(
        [("a", 10.0)] * 4 + [("b", 20.0)] * 4, "g string, x double"
    )
    rows = curation.theil_decomposition(between_only, "g", "x").collect()
    r2 = rows[0]
    assert r2["theil_within"] == 0.0
    assert r2["theil_between"] > 0
    assert abs(r2["theil_total"] - r2["theil_between"]) < 2e-6

    mixed = spark.createDataFrame(
        [("a", 1.0), ("a", 9.0), ("b", 5.0), ("b", 5.0)],
        "g string, x double",
    )
    r3 = curation.theil_decomposition(mixed, "g", "x").first()
    assert (
        abs(r3["theil_total"] - (r3["theil_between"] + r3["theil_within"]))
        < 2e-6
    )


def test_knn_classify_test_side_cap(spark):
    """knn_classify refuses an unbounded eval set BEFORE executing the
    broadcast crossJoin (the round-9 max_test_rows guard), still works
    under the cap, and validates the cap itself."""
    import pytest as _pytest

    from plda_spark.operators import similarity

    rows = [(i, [float(i % 2), 1.0 - (i % 2)], f"c{i % 2}") for i in range(40)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    train = emb.where(F.col("vec_id") % 4 != 0)
    test = emb.where(F.col("vec_id") % 4 == 0)
    with _pytest.raises(ValueError, match="max_test_rows"):
        similarity.knn_classify(train, test, k=3, max_test_rows=5)
    with _pytest.raises(ValueError, match="max_test_rows"):
        similarity.knn_classify(train, test, k=3, max_test_rows=0)
    out = similarity.knn_classify(train, test, k=3, max_test_rows=100)
    got = {r["query_id"]: r for r in out.collect()}
    assert len(got) == 10
    assert all(r["correct"] for r in got.values())


def test_silhouette_literal_budget_guard(spark):
    """silhouette_simplified self-enforces the k*dim <= 20000 literal
    budget (the mmr_rerank contract) instead of trusting the caller."""
    import pytest as _pytest

    from plda_spark.operators import similarity

    df = spark.createDataFrame(
        [(0, [0.0] * 128)], "vec_id long, embedding array<float>"
    )
    too_big = np.zeros((200, 128))  # 25,600 literals
    with _pytest.raises(ValueError, match="literal"):
        similarity.silhouette_simplified(df, too_big)
    ok = similarity.silhouette_simplified(df, np.eye(2, 128)).first()
    assert ok["n"] == 1


def test_ab_srm_check_error_path_is_bounded(spark):
    """A high-cardinality column passed as variant_col (the classic
    caller bug) raises with a bounded example list -- at most 20
    variants quoted, never the full distinct set."""
    import pytest as _pytest

    from plda_spark.operators import stats

    many = spark.range(0, 5000).select(
        F.concat(F.lit("u"), F.col("id")).alias("variant")
    )
    with _pytest.raises(ValueError, match="first 20 shown"):
        stats.ab_srm_check(many, "variant", {"A": 1, "B": 1})


def test_granger_daily_collinear_design_is_null(spark):
    """value identically 1 per event makes daily sum(value) == daily
    count -> the two lag regressors are collinear (det = 0); the fit
    must propagate NULL through f_stat/p_value/predictive, not floor
    SSE_u at epsilon and report an astronomical F (round-9 fix)."""
    from plda_spark.operators import stats

    counts = [10, 30, 20, 50, 40, 60, 15, 35, 25, 45]
    rows = []
    for d in range(1, 11):
        for _ in range(counts[d - 1]):
            rows.append((f"2024-01-{d:02d} 00:00:00", 1.0))
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    g = stats.granger_daily(df, "ts", "value").first()
    assert g["b_lag_value"] is None and g["b_lag_count"] is None
    assert g["f_stat"] is None and g["p_value"] is None
    assert g["predictive"] is None


def test_retention_decay_fit_right_censoring(spark):
    """A late-joining half of the cohort (observable only in period 0)
    must not dilute later-period denominators: with censoring-aware
    denominators the early half's perfect weekly halving is recovered
    exactly (slope ln 0.5, halflife 1, r2 1)."""
    import math

    from plda_spark.operators import events as ev_ops

    rows = []
    # early cohort: 4 users first seen 01-01; 2 return in p1, 1 in p2
    for u in range(4):
        rows.append((u, "2024-01-01 00:00:00"))
    for u in range(2):
        rows.append((u, "2024-01-08 00:00:00"))
    rows.append((0, "2024-01-15 00:00:00"))
    # late cohort: 4 users first seen on the last day (0 observable
    # full periods beyond p0)
    for u in range(10, 14):
        rows.append((u, "2024-01-15 00:00:00"))
    ev = spark.createDataFrame(
        rows, "user_id long, ts string"
    ).select("user_id", F.to_timestamp("ts").alias("ts"))
    f = ev_ops.retention_decay_fit(ev, period_days=7, max_periods=4).first()
    # p0: 8/8, p1: 2/4 (only the early cohort observable), p2: 1/4
    assert f["n_users"] == 8 and f["n_periods"] == 3
    assert abs(f["slope"] - math.log(0.5)) < 1e-6
    assert abs(f["halflife_periods"] - 1.0) < 1e-6
    assert f["r2"] == 1.0 and f["intercept"] == 0.0


def test_rank_eval_dedups_duplicate_qrels(spark):
    """Duplicate (query, doc) qrels rows (merged TREC assessment
    rounds) must not fan out the run join: metrics equal the deduped
    (max grade per pair) qrels exactly."""
    from plda_spark.operators import invindex

    run = spark.createDataFrame(
        [("q1", "d1", 3.0), ("q1", "d2", 2.0), ("q1", "d3", 1.0)],
        "query_id string, doc_id string, score double",
    )
    clean = spark.createDataFrame(
        [("q1", "d1", 2.0), ("q1", "d3", 1.0)],
        "query_id string, doc_id string, rel double",
    )
    dup = spark.createDataFrame(
        [("q1", "d1", 2.0), ("q1", "d1", 1.0), ("q1", "d1", 2.0),
         ("q1", "d3", 1.0), ("q1", "d3", 1.0)],
        "query_id string, doc_id string, rel double",
    )
    want = invindex.rank_eval(run, clean, k=2).first()
    got = invindex.rank_eval(run, dup, k=2).first()
    assert got.asDict() == want.asDict()
    assert got["n_rel"] == 2 and got["n_ranked"] == 3


def test_dataset_card_null_text_reported(spark):
    """NULL-text docs surface as n_null_text and count as ONE distinct
    text value instead of silently inflating exact_dup_rate."""
    from plda_spark.operators import curation

    docs = spark.createDataFrame(
        [
            (1, "aa bb", "en", "web"),
            (2, "aa bb", "en", "web"),
            (3, None, "en", "web"),
            (4, None, "fr", "wiki"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    c = curation.dataset_card(docs).first()
    assert c["n_docs"] == 4 and c["n_null_text"] == 2
    # distinct texts: {"aa bb", NULL-sentinel} = 2
    assert c["n_distinct_texts"] == 2
    assert c["exact_dup_rate"] == 0.5
    assert c["total_tokens"] == 4


def test_holm_bonferroni_semantics(spark):
    """Textbook Holm step-down: raw adjusted = p*(m-rank+1), running
    max keeps monotonicity, clamp at 1; alpha validation fires."""
    import pytest as _pytest

    from plda_spark.operators import stats

    tests = spark.createDataFrame(
        [("t1", 0.01), ("t2", 0.02), ("t3", 0.04), ("t4", 0.9)],
        "test string, p double",
    )
    got = {
        r["test"]: r
        for r in stats.holm_bonferroni(tests, "test", "p").collect()
    }
    # raw: 0.01*4=0.04, 0.02*3=0.06, 0.04*2=0.08, 0.9*1=0.9
    assert got["t1"]["p_adj"] == 0.04 and got["t1"]["reject"]
    assert got["t2"]["p_adj"] == 0.06 and not got["t2"]["reject"]
    assert got["t3"]["p_adj"] == 0.08
    assert got["t4"]["p_adj"] == 0.9
    assert got["t1"]["rank"] == 1 and got["t4"]["m"] == 4
    # running max: a later small raw value cannot undercut an earlier one
    mono = spark.createDataFrame(
        [("a", 0.03), ("b", 0.031)], "test string, p double"
    )
    gm = {r["test"]: r["p_adj"]
          for r in stats.holm_bonferroni(mono, "test", "p").collect()}
    assert gm["a"] == 0.06 and gm["b"] == 0.06  # max(0.031*1, 0.06)
    with _pytest.raises(ValueError):
        stats.holm_bonferroni(tests, "test", "p", alpha=0.0)


def test_bayes_ab_beta_semantics(spark):
    """Beta(1,1) posteriors on hand counts: exact posterior means, the
    normal-approx P(B>A) lands in the analytically-bracketed range,
    identical arms give ~0.5, and prior validation fires."""
    import pytest as _pytest

    from plda_spark.operators import stats

    rows = [("A", 1)] * 2 + [("A", 0)] * 8 + [("B", 1)] * 5 + [("B", 0)] * 5
    df = spark.createDataFrame(rows, "variant string, converted int")
    r = stats.bayes_ab_beta(df, "variant", "converted", "A", "B").first()
    assert r["n_a"] == 10 and r["n_b"] == 10
    assert r["conv_a"] == 2 and r["conv_b"] == 5
    assert r["rate_a"] == 0.25 and r["rate_b"] == 0.5  # Beta(3,9), Beta(6,6)
    assert r["abs_lift"] == 0.25
    # z = 0.25/sqrt(27/1872 + 36/1872) = 1.3627 -> Phi ~ 0.9135
    assert 0.90 < r["prob_b_beats_a"] < 0.93
    same = spark.createDataFrame(
        [("A", 1), ("A", 0), ("B", 1), ("B", 0)],
        "variant string, converted int",
    )
    rs = stats.bayes_ab_beta(same, "variant", "converted", "A", "B").first()
    assert abs(rs["prob_b_beats_a"] - 0.5) < 1e-3
    with _pytest.raises(ValueError):
        stats.bayes_ab_beta(df, "variant", "converted", "A", "B",
                            prior_alpha=0.0)


def test_page_hinkley_semantics(spark):
    """A 1.0->2.0 level shift at day 11: hand-computed PH crosses
    lam=1.0 on day 12 (PH_11 = 10/11 < 1, PH_12 = 10/11 + 11/12 > 1);
    a flat series never alarms; lam validation fires."""
    import pytest as _pytest

    from plda_spark.operators import stats

    rows = [
        (f"2024-01-{d:02d} 00:00:00", 1.0 if d <= 10 else 2.0)
        for d in range(1, 21)
    ]
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    r = stats.page_hinkley(df, "ts", "value", delta=0.0, lam=1.0).first()
    assert r["n_days"] == 20 and r["drifted"] is True
    assert str(r["alarm_day"]) == "2024-01-12"
    assert str(r["ph_max_day"]) == "2024-01-20"  # monotone climb after shift
    assert r["ph_max"] > 4.0

    flat = spark.createDataFrame(
        [(f"2024-01-{d:02d} 00:00:00", 3.0) for d in range(1, 11)],
        "ts string, value double",
    ).select(F.to_timestamp("ts").alias("ts"), "value")
    rf = stats.page_hinkley(flat, "ts", "value", lam=1.0).first()
    assert rf["drifted"] is False and rf["alarm_day"] is None
    assert rf["ph_max"] == 0.0
    with _pytest.raises(ValueError):
        stats.page_hinkley(df, "ts", "value", lam=0.0)


def test_anova_posthoc_semantics(spark):
    """Two separated groups + one twin: the separated pairs reject
    after Holm, the twin pair does not; guards fire."""
    import pytest as _pytest

    from plda_spark.operators import stats

    rows = (
        [("a", 0.0), ("a", 2.0)] * 10
        + [("b", 10.0), ("b", 12.0)] * 10
        + [("c", 10.0), ("c", 12.0)] * 10
    )
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        (r["group_a"], r["group_b"]): r
        for r in stats.anova_posthoc(df, "g", "v").collect()
    }
    assert len(got) == 3
    assert got[("a", "b")]["reject"] and got[("a", "c")]["reject"]
    assert not got[("b", "c")]["reject"]
    assert got[("b", "c")]["z"] == 0.0
    assert got[("a", "b")]["mean_a"] == 1.0
    assert got[("a", "b")]["mean_b"] == 11.0
    assert got[("a", "b")]["p_adj"] <= got[("a", "b")]["p_value"] * 3 + 1e-9
    with _pytest.raises(ValueError, match="max_groups"):
        stats.anova_posthoc(df, "g", "v", max_groups=2)
    one = spark.createDataFrame([("a", 1.0)], "g string, v double")
    with _pytest.raises(ValueError, match=">= 2 groups"):
        stats.anova_posthoc(one, "g", "v")


def test_bass_diffusion_fit_semantics(spark):
    """The closed-form fit equals numpy's least squares on the same
    daily adoption series, and the (m, p, q) inversion follows Bass's
    identities; a two-day series (n <= 3) degenerates to NULLs."""
    import numpy as np

    from plda_spark.operators import events as ev_ops

    nt = [40, 30, 15, 10, 5]
    rows = []
    uid = 0
    for d, n in enumerate(nt, start=1):
        for _ in range(n):
            rows.append((uid, f"2024-01-{d:02d} 00:00:00"))
            uid += 1
    ev = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.to_timestamp("ts").alias("ts")
    )
    r = ev_ops.bass_diffusion_fit(ev).first()
    assert r["n_days"] == 5 and r["adopters"] == 100

    ntf = np.array(nt, dtype=float)
    N = np.concatenate([[0.0], np.cumsum(ntf)[:-1]])
    A = np.stack([np.ones_like(N), N, N * N], 1)
    (a, b, c), *_ = np.linalg.lstsq(A, ntf, rcond=None)
    m = (-b - np.sqrt(b * b - 4 * a * c)) / (2 * c)
    assert abs(r["m"] - m) < 1e-3
    assert abs(r["p"] - a / m) < 1e-5
    assert abs(r["q"] - (-c * m)) < 1e-5
    assert abs(r["peak_day"] - np.log((-c * m) / (a / m)) / (a / m - c * m)) < 1e-3

    tiny = ev.where(F.to_date("ts") <= "2024-01-03")
    rt = ev_ops.bass_diffusion_fit(tiny).first()
    assert rt["m"] is None and rt["p"] is None and rt["peak_day"] is None


def test_source_token_jsd_semantics(spark):
    """Hand-computed JSD: mirrored 2/3-1/3 unigram mixes give
    0.081704 bits; disjoint vocabularies give exactly 1.0; identical
    sources give 0.0; the group guards fire."""
    import pytest as _pytest

    from plda_spark.operators import text

    docs = spark.createDataFrame(
        [
            (1, "aa aa bb", "s1"),
            (2, "aa bb bb", "s2"),
            (3, "cc dd", "s3"),
            (4, "aa aa bb", "s4"),  # identical mix to s1
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r["source_a"], r["source_b"]): r
        for r in text.source_token_jsd(docs).collect()
    }
    assert len(got) == 6
    assert got[("s1", "s2")]["jsd"] == 0.081704
    assert got[("s1", "s3")]["jsd"] == 1.0  # disjoint vocabularies
    assert got[("s1", "s4")]["jsd"] == 0.0  # identical mixes
    assert got[("s1", "s2")]["tokens_a"] == 3
    assert got[("s1", "s2")]["jsd_distance"] == round(0.081704 ** 0.5, 6)
    with _pytest.raises(ValueError, match="max_groups"):
        text.source_token_jsd(docs, max_groups=3)
    one = docs.where(F.col("source") == "s1")
    with _pytest.raises(ValueError, match=">= 2 groups"):
        text.source_token_jsd(one)


def test_g_test_semantics(spark):
    """Hand-computed 2x2 G statistic; independent columns give G ~ 0;
    empty-cell tables stay finite (observed-cells-only sum is exact)."""
    import math

    from plda_spark.operators import stats

    # 2x2: [[30, 10], [10, 30]] -> strong association
    rows = (
        [("x", "u")] * 30 + [("x", "v")] * 10
        + [("y", "u")] * 10 + [("y", "v")] * 30
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = stats.g_test(df, "a", "b").first()
    assert r["n"] == 80 and r["dof"] == 1
    # G = 2*sum o*ln(o/e), e = 20 everywhere
    want = 2 * (30 * math.log(1.5) * 2 + 10 * math.log(0.5) * 2)
    assert abs(r["g_stat"] - round(want, 6)) < 1e-6
    assert r["p_value"] < 0.001

    indep = spark.createDataFrame(
        [("x", "u")] * 20 + [("x", "v")] * 20
        + [("y", "u")] * 20 + [("y", "v")] * 20,
        "a string, b string",
    )
    ri = stats.g_test(indep, "a", "b").first()
    assert ri["g_stat"] == 0.0 and ri["p_value"] >= 0.5


def test_storey_qvalues_semantics(spark):
    """pi0 is the fraction of p-values above lambda, scaled up; q
    equals pi0 * BH q; a saturated-alternative family floors pi0 at
    1/m; lambda validation fires."""
    import pytest as _pytest

    from plda_spark.operators import stats

    tests = spark.createDataFrame(
        [("t1", 0.001), ("t2", 0.01), ("t3", 0.6), ("t4", 0.8)],
        "test string, p double",
    )
    got = {
        r["test"]: r
        for r in stats.storey_qvalues(tests, "test", "p").collect()
    }
    # 2 of 4 above 0.5 -> pi0 = 2/(0.5*4) = 1.0
    assert got["t1"]["pi0"] == 1.0
    assert got["t1"]["q_value"] == round(0.001 * 4 / 1, 6)

    low = spark.createDataFrame(
        [("a", 0.01), ("b", 0.02), ("c", 0.03), ("d", 0.04)],
        "test string, p double",
    )
    gl = {r["test"]: r for r in
          stats.storey_qvalues(low, "test", "p").collect()}
    assert gl["a"]["pi0"] == 0.25  # floor 1/m, not 0
    # q = pi0 * BH q: a -> 0.25 * min(0.01*4/1, ...) = 0.25*0.04
    assert gl["a"]["q_value"] == 0.01
    assert gl["a"]["reject"]
    with _pytest.raises(ValueError):
        stats.storey_qvalues(tests, "test", "p", lambda_=1.0)


def test_pr_auc_semantics(spark):
    """A perfect scorer has AP = 1; a constant scorer has AP equal to
    prevalence (one threshold, precision = baseline); the sklearn
    step definition reproduces a hand-computed mixed case."""
    from plda_spark.operators import classify

    perfect = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], "score double, label int"
    )
    rp = classify.pr_auc_report(perfect, "score", "label").first()
    assert rp["pr_auc"] == 1.0 and rp["baseline"] == 0.5

    const = spark.createDataFrame(
        [(0.5, 1), (0.5, 0), (0.5, 0), (0.5, 0)], "score double, label int"
    )
    rc = classify.pr_auc_report(const, "score", "label").first()
    assert rc["pr_auc"] == 0.25 and rc["baseline"] == 0.25

    # scores desc: (0.9,1) (0.8,0) (0.7,1): thresholds ->
    # t1: dR=1/2, P=1; t3: dR=1/2, P=2/3 -> AP = 1/2 + 1/3
    mixed = spark.createDataFrame(
        [(0.9, 1), (0.8, 0), (0.7, 1)], "score double, label int"
    )
    rm = classify.pr_auc_report(mixed, "score", "label").first()
    assert abs(rm["pr_auc"] - (0.5 + 1 / 3)) < 1e-6


def test_classification_report_semantics(spark):
    """Hand-computed per-class P/R/F1 with a class that is predicted
    but never true (NULL recall... precision defined, f1 via the
    zero-division=0 convention) and the macro/accuracy rollups."""
    from plda_spark.operators import classify

    rows = [
        ("a", "a"), ("a", "a"), ("a", "b"),
        ("b", "b"), ("b", "c"),
    ]
    df = spark.createDataFrame(rows, "y string, yhat string")
    got = {
        r["label"]: r
        for r in classify.classification_report(df, "y", "yhat").collect()
    }
    assert set(got) == {"a", "b", "c"}
    assert got["a"]["precision"] == 1.0 and got["a"]["recall"] == round(2 / 3, 6)
    assert got["a"]["f1"] == 0.8
    assert got["b"]["n_true"] == 2 and got["b"]["n_pred"] == 2
    assert got["b"]["precision"] == 0.5 and got["b"]["recall"] == 0.5
    # class c: predicted once, never true -> precision 0, recall NULL,
    # f1 0 by the zero-division convention
    assert got["c"]["n_true"] == 0 and got["c"]["precision"] == 0.0
    assert got["c"]["recall"] is None and got["c"]["f1"] == 0.0
    assert got["a"]["accuracy"] == 0.6  # 3 of 5 on the diagonal
    mac = round((0.8 + 0.5 + 0.0) / 3, 6)
    assert got["a"]["macro_f1"] == mac


def test_seasonality_strength_semantics(spark):
    """A pure weekly sawtooth has seasonal strength ~1 and trend
    strength ~0; a pure linear ramp has trend ~1 and seasonal ~0."""
    from plda_spark.operators import stats

    saw = spark.createDataFrame(
        [(f"2024-01-{d:02d}", float((d - 1) % 7)) for d in range(1, 29)],
        "day string, y double",
    )
    r = stats.seasonality_strength(saw, ts_col="day", value_col="y").first()
    assert r["n_days"] == 28
    assert r["seasonal_strength"] > 0.99
    assert r["trend_strength"] < 0.3

    ramp = spark.createDataFrame(
        [(f"2024-01-{d:02d}", float(d)) for d in range(1, 29)],
        "day string, y double",
    )
    r2 = stats.seasonality_strength(ramp, ts_col="day", value_col="y").first()
    assert r2["trend_strength"] > 0.99
    assert r2["seasonal_strength"] < 0.3


def test_hurst_exponent_semantics(spark):
    """A strongly trending (persistent) series gives H near 1; block
    sizes that don't fit are dropped; the guard fires."""
    import pytest as _pytest

    from plda_spark.operators import stats

    rows = [
        (f"2024-0{1 + (d - 1) // 28}-{1 + (d - 1) % 28:02d} 00:00:00",
         float(d))
        for d in range(1, 46)
    ]
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    r = stats.hurst_exponent(df, "ts", "value", block_sizes=(5, 10, 15)).first()
    assert r["n_days"] == 45 and r["n_scales"] == 3
    assert r["hurst"] > 0.9  # linear ramp = maximal persistence
    assert r["r2"] > 0.95
    with _pytest.raises(ValueError, match="block sizes"):
        stats.hurst_exponent(df, "ts", "value", block_sizes=(5,))


def test_gpd_tail_fit_semantics(spark):
    """Exceedances of an exact uniform grid: PWM closed forms are
    hand-computable (uniform tail => xi = -1 ... bounded); the
    max_distinct guard fires."""
    import pytest as _pytest

    from plda_spark.operators import stats

    # exceedances y = 1..10 once each over threshold 0
    df = spark.createDataFrame(
        [(float(v),) for v in range(1, 11)], "value double"
    )
    r = stats.gpd_tail_fit(df, "value", threshold=0.0).first()
    assert r["n_exceed"] == 10
    assert r["b0"] == 5.5  # mean exceedance
    # b1 = sum (n-i)*y_i / (n(n-1)) = 165/90
    b0, b1 = 5.5, 165.0 / 90.0
    xi = 2 - b0 / (b0 - 2 * b1)
    sg = 2 * b0 * b1 / (b0 - 2 * b1)
    assert abs(r["xi"] - xi) < 1e-6 and abs(r["sigma"] - sg) < 1e-6
    with _pytest.raises(ValueError, match="max_distinct"):
        stats.gpd_tail_fit(df, "value", threshold=0.0, max_distinct=5)


def test_wilson_ci_by_group_semantics(spark):
    """Wilson interval matches the textbook closed form, stays inside
    [0, 1] at the boundaries, and contains the point estimate."""
    import math

    from plda_spark.operators import stats

    df = spark.createDataFrame(
        [("a", 1)] * 8 + [("a", 0)] * 2 + [("b", 1)] * 10 + [("c", 0)] * 5,
        "g string, hit int",
    )
    got = {r["group"]: r for r in
           stats.wilson_ci_by_group(df, "g", "hit").collect()}
    z = 1.959964
    p, n = 0.8, 10.0
    den = 1 + z * z / n
    center = (p + z * z / (2 * n)) / den
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / den
    assert got["a"]["rate"] == 0.8
    assert abs(got["a"]["ci_low"] - (center - half)) < 1e-6
    assert abs(got["a"]["ci_high"] - (center + half)) < 1e-6
    # all-success group: upper bound clamps to 1, lower stays < 1
    assert got["b"]["rate"] == 1.0 and got["b"]["ci_high"] == 1.0
    assert got["b"]["ci_low"] < 1.0
    assert got["c"]["rate"] == 0.0 and got["c"]["ci_low"] == 0.0


def test_kmeans_fit_semantics(spark):
    """Two well-separated planted blobs: 2-round Lloyd from lowest-id
    seeds recovers the split exactly (each cluster gets its blob, wcss
    equals the hand-computed within-blob spread); guards fire."""
    import pytest as _pytest

    from plda_spark.operators import similarity

    rows = []
    for i in range(10):
        rows.append((i * 2, [0.0 + (i % 2) * 0.1, 0.0]))       # blob A
        rows.append((i * 2 + 1, [10.0 + (i % 2) * 0.1, 10.0]))  # blob B
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["cluster"]: r for r in
           similarity.kmeans_fit_exact(emb, k=2, rounds=2).collect()}
    assert len(got) == 2
    assert got[0]["n"] == 10 and got[1]["n"] == 10
    # within each blob: 5 points at x, 5 at x+0.1; centroid mean x+0.05
    # -> wcss per blob = 20 * 0.05^2 ... per cluster 10 * 0.0025 = 0.025
    assert abs(got[0]["wcss"] - 0.025) < 1e-4
    assert abs(got[1]["wcss"] - 0.025) < 1e-4
    with _pytest.raises(ValueError, match="k must be"):
        similarity.kmeans_fit_exact(emb, k=1)
    with _pytest.raises(ValueError, match="vectors < k"):
        similarity.kmeans_fit_exact(emb.limit(1), k=2)


def test_dominant_period_semantics(spark):
    """A clean 3-day cycle in daily means yields best_lag == 3 (the
    fundamental beats lag 6/9 only via the lowest-lag tie-break when
    exactly periodic) and clears the Bartlett bound."""
    from plda_spark.operators import stats

    rows = []
    for d in range(1, 31):
        rows.append((f"2024-01-{d:02d} 00:00:00", float((d - 1) % 3 * 10)))
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    r = stats.dominant_period(df, "ts", "value", max_lag=10).first()
    assert r["n_days"] == 30
    assert r["best_lag"] == 3
    assert r["significant"] is True
    assert r["best_acf"] >= 0.9


def test_interevent_burstiness_semantics(spark):
    """A metronome user has B = -1 (sd 0) with memory NULL (zero
    variance); an alternating short/long-gap user has positive memory
    ... negative actually (short follows long): check sign and the
    exact Goh-Barabasi identity on hand gaps."""
    import math

    from plda_spark.operators import events as ev_ops

    # user 1: events every 60 s (metronome) -> gaps all 60
    rows = [(1, f"2024-01-01 00:{m:02d}:00") for m in range(10)]
    ev = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.to_timestamp("ts").alias("ts")
    )
    r = ev_ops.interevent_burstiness(ev).first()
    assert r["n_gaps"] == 9 and r["mean_s"] == 60.0 and r["sd_s"] == 0.0
    assert r["burstiness"] == -1.0
    assert r["memory"] is None  # zero variance in the pair series

    # alternating 10 s / 100 s gaps: B from the exact sample moments,
    # memory strongly negative (long follows short)
    t, rows2 = 0, [(2, "2024-01-01 00:00:00")]
    for i in range(8):
        t += 10 if i % 2 == 0 else 100
        rows2.append((2, f"2024-01-01 00:{t // 60:02d}:{t % 60:02d}"))
    ev2 = spark.createDataFrame(rows2, "user_id long, ts string").select(
        "user_id", F.to_timestamp("ts").alias("ts")
    )
    r2 = ev_ops.interevent_burstiness(ev2).first()
    gaps = [10, 100] * 4
    mu = sum(gaps) / len(gaps)
    sd = math.sqrt(sum((g - mu) ** 2 for g in gaps) / (len(gaps) - 1))
    assert abs(r2["burstiness"] - (sd - mu) / (sd + mu)) < 1e-6
    assert r2["memory"] < -0.9


def test_degree_centralization_semantics(spark):
    """A perfect star is exactly 1; a cycle (regular graph) is exactly
    0; self-loops and duplicate edges are ignored."""
    from plda_spark.operators import graph

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(0, 1), (2, 0)],  # dups + reverse
        "src long, dst long",
    )
    r = graph.degree_centralization(star).first()
    assert r["n_nodes"] == 6 and r["n_edges"] == 5
    assert r["max_degree"] == 5 and r["centralization"] == 1.0

    cycle = spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)] + [(3, 3)],
        "src long, dst long",
    )
    rc = graph.degree_centralization(cycle).first()
    assert rc["centralization"] == 0.0 and rc["max_degree"] == 2


def test_anova_posthoc_pipe_group_names_no_collision(spark):
    """Group names containing '|' must not collide in the Holm re-join:
    ('a|b','c') and ('a','b|c') are DIFFERENT pairs whose bare concat
    keys both read 'a|b|c' — the length-prefixed key keeps every one of
    the C(4,2) pairs exactly once, with no fan-out duplicates."""
    from plda_spark.operators import stats

    rows = []
    for g in ("a", "a|b", "b|c", "c"):
        for i in range(12):
            rows.append((g, float(i % 3)))
    df = spark.createDataFrame(rows, "g string, v double")
    out = stats.anova_posthoc(df, "g", "v").collect()
    pairs = [(r["group_a"], r["group_b"]) for r in out]
    assert len(pairs) == 6
    assert len(set(pairs)) == 6
    assert ("a", "b|c") in pairs and ("a|b", "c") in pairs
    # identical distributions: nothing rejects, p_adj stays sane
    assert all(not r["reject"] and 0.0 <= r["p_adj"] <= 1.0 for r in out)


def test_dominant_period_degenerate_series_returns_one_row(spark):
    """A one-day series gives acf_daily nothing to emit — the readout
    must still be the documented ONE row (NULL best_lag/best_acf), not
    an empty frame that breaks .first() callers."""
    from plda_spark.operators import stats

    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1.0), ("2024-01-01 06:00:00", 3.0)],
        "ts string, value double",
    ).select(F.to_timestamp("ts").alias("ts"), "value")
    out = stats.dominant_period(df, "ts", "value").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_days"] == 1
    assert r["best_lag"] is None and r["best_acf"] is None
    assert r["significant"] is None
    # empty input: still one row, with a NULL (not div-by-zero) bound
    empty = df.where(F.lit(False))
    r0 = stats.dominant_period(empty, "ts", "value").collect()
    assert len(r0) == 1 and r0[0]["n_days"] == 0
    assert r0[0]["acf_threshold"] is None


def test_kmeans_fit_exact_ragged_vectors_raise(spark):
    """A cluster whose vectors are all shorter than the first seed's
    dim (or an all-NULL dimension) must raise a named ValueError, not a
    bare KeyError/TypeError from the driver centroid rebuild."""
    emb = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [10.0, 10.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ragged or NULL"):
        similarity.kmeans_fit_exact(emb, k=2, rounds=1)
    emb_null = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, None]), (2, [10.0, None]),
         (3, [0.1, 0.1])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ragged or NULL"):
        similarity.kmeans_fit_exact(emb_null, k=2, rounds=1)


def test_kmeans_fit_exact_wcss_partition_invariant(spark):
    """The decimal wcss accumulation is order-invariant: 1 partition
    and 32 partitions must produce BIT-IDENTICAL (cluster, n, wcss)
    rows — the hash-gate property the raw double sum could flake on."""
    rows = []
    for i in range(64):
        base = 0.0 if i % 2 == 0 else 7.0
        rows.append((i, [base + (i % 7) * 0.123456789,
                         base - (i % 5) * 0.987654321]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    one = sorted(
        similarity.kmeans_fit_exact(emb.repartition(1), k=2, rounds=2)
        .collect()
    )
    many = sorted(
        similarity.kmeans_fit_exact(emb.repartition(32), k=2, rounds=2)
        .collect()
    )
    assert one == many
    assert all(r["wcss"] is not None for r in one)



def test_mood_median_semantics(spark):
    """Hand-computed Mood's median: two clearly shifted groups give a
    large chi2 with dof 1 and p < 0.01; identical groups give chi2 0
    and p ~= 1; the grand median follows the LOWER weighted-median
    convention; the distinct-value guard fires."""
    from plda_spark.operators import stats

    rows = [("a", float(x)) for x in range(1, 11)] + [
        ("b", float(x)) for x in range(11, 21)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = stats.mood_median_test(df, "g", "v").first()
    assert r["k"] == 2 and r["n"] == 20 and r["dof"] == 1
    # lower weighted median of 1..20 -> 10; above = 10 (all of b)
    assert r["grand_median"] == 10.0 and r["n_above"] == 10
    # a: 0 above vs e=5; b: 10 above vs e=5 -> chi2 = 4*(25/5) = 20
    assert abs(r["chi2"] - 20.0) < 1e-9
    assert r["p_value"] < 0.01

    same = spark.createDataFrame(
        [("a", float(x % 5)) for x in range(50)]
        + [("b", float(x % 5)) for x in range(50)],
        "g string, v double",
    )
    r2 = stats.mood_median_test(same, "g", "v").first()
    assert r2["chi2"] == 0.0 and r2["p_value"] >= 0.5

    with pytest.raises(ValueError, match="max_distinct"):
        stats.mood_median_test(df, "g", "v", max_distinct=5)


def test_cvm_two_sample_semantics(spark):
    """Exact tie-weighted ECDF sum on a tiny hand case, a clear shift
    rejects, identical samples give T = 0, and the guard fires."""
    from plda_spark.operators import stats

    # A = {1, 2}, B = {2, 3}: distinct v 1,2,3 with t_v 1,2,1
    # F_a = .5, 1, 1 ; F_b = 0, .5, 1 -> sum = 1*.25 + 2*.25 + 0 = .75
    # T = (2*2/16) * .75 = 0.1875
    tiny = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)],
        "g string, v double",
    )
    r = stats.cvm_two_sample(tiny, "g", "v", "a", "b").first()
    assert r["n_a"] == 2 and r["n_b"] == 2
    assert abs(r["t_stat"] - 0.1875) < 1e-9
    assert r["reject"] is False

    shift = spark.createDataFrame(
        [("a", float(x % 20)) for x in range(200)]
        + [("b", float(x % 20) + 6.0) for x in range(200)],
        "g string, v double",
    )
    r2 = stats.cvm_two_sample(shift, "g", "v", "a", "b").first()
    assert r2["t_stat"] > 0.461 and r2["reject"] is True

    same = spark.createDataFrame(
        [("a", float(x % 7)) for x in range(100)]
        + [("b", float(x % 7)) for x in range(100)],
        "g string, v double",
    )
    r3 = stats.cvm_two_sample(same, "g", "v", "a", "b").first()
    assert r3["t_stat"] == 0.0 and r3["reject"] is False

    with pytest.raises(ValueError, match="max_distinct"):
        stats.cvm_two_sample(shift, "g", "v", "a", "b", max_distinct=3)

    # an empty group raises loudly instead of a silent NULL readout
    with pytest.raises(ValueError, match="empty group"):
        stats.cvm_two_sample(tiny, "g", "v", "a", "zzz")
    only_null_b = spark.createDataFrame(
        [("a", 1.0), ("b", None)], "g string, v double"
    )
    with pytest.raises(ValueError, match="empty group"):
        stats.cvm_two_sample(only_null_b, "g", "v", "a", "b")


def test_gev_block_maxima_semantics(spark):
    """PWM GEV fit: (1) a numpy replay of the exact same closed form
    matches bit-close on arbitrary data; (2) Gumbel-grid maxima
    (known mu=10, sigma=2) recover shape ~= 0 and the parameters;
    (3) fewer than 3 blocks gives NULLs; (4) the guard fires."""
    import math

    from plda_spark.operators import stats

    def fit_numpy(xs, T=20):
        xs = sorted(xs)
        n = len(xs)
        b0 = sum(xs) / n
        b1 = sum(i * x for i, x in enumerate(xs)) / (n * (n - 1))
        b2 = sum(i * (i - 1) * x for i, x in enumerate(xs)) / (
            n * (n - 1) * (n - 2)
        )
        c = (2 * b1 - b0) / (3 * b2 - b0) - math.log(2) / math.log(3)
        k = 7.8590 * c + 2.9554 * c * c
        if abs(k) < 1e-6:
            sigma = (2 * b1 - b0) / math.log(2)
            mu = b0 - 0.5772156649015329 * sigma
            shape = 0.0
        else:
            g = math.gamma(1 + k)
            sigma = (2 * b1 - b0) * k / (g * (1 - 2 ** (-k)))
            mu = b0 + sigma * (g - 1) / k
            shape = -k
        y = -math.log(1 - 1 / T)
        if shape == 0.0:
            rl = mu - sigma * math.log(y)
        else:
            rl = mu + sigma * (y ** (-shape) - 1) / shape
        return shape, sigma, mu, rl

    # one event per day -> daily max == the value
    def run(xs):
        rows = [
            (f"2024-{(d // 28) + 1:02d}-{(d % 28) + 1:02d} 00:00:00", x)
            for d, x in enumerate(xs)
        ]
        df = spark.createDataFrame(rows, "ts string, value double").select(
            F.to_timestamp("ts").alias("ts"), "value"
        )
        return stats.gev_block_maxima_fit(df, "ts", "value").first()

    # Gumbel inverse-CDF grid: mu=10, sigma=2
    grid = [(i + 0.5) / 60 for i in range(60)]
    xs = [10.0 - 2.0 * math.log(-math.log(u)) for u in grid]
    r = run(xs)
    assert r["n_blocks"] == 60
    assert abs(r["shape"]) < 0.08
    assert abs(r["scale"] - 2.0) < 0.15
    assert abs(r["location"] - 10.0) < 0.15
    s, sg, m, rl = fit_numpy(xs)
    assert abs(r["shape"] - s) < 2e-5   # A&S gamma poly vs math.gamma
    assert abs(r["scale"] - sg) < 2e-4
    assert abs(r["location"] - m) < 2e-4
    assert abs(r["return_level"] - rl) < 2e-3

    # heavy-tailed (Frechet-ish) synthetic: shape comes out positive
    xs2 = [1.0 / (1.0 - u) ** 0.4 for u in grid]
    r2 = run(xs2)
    s2, *_ = fit_numpy(xs2)
    assert r2["shape"] > 0.1 and abs(r2["shape"] - s2) < 2e-5

    r3 = run([5.0, 6.0])
    assert r3["n_blocks"] == 2 and r3["shape"] is None
    assert r3["return_level"] is None

    # constant maxima series: 3*b2 - b0 = 0 exactly, the guarded c is
    # NULL, so everything downstream is NULL even at n >= 3 (the
    # documented degenerate-spread case; the oracle SQL mirrors the
    # guard so both engines agree on NULL rather than NaN)
    r4 = run([7.0] * 10)
    assert r4["n_blocks"] == 10
    assert r4["shape"] is None and r4["scale"] is None
    assert r4["location"] is None and r4["return_level"] is None

    import pytest as _pytest

    with _pytest.raises(ValueError, match="return_period"):
        stats.gev_block_maxima_fit(
            spark.createDataFrame([], "ts timestamp, value double"),
            "ts", "value", return_period=1,
        )


def test_heaps_fit_semantics(spark):
    """A pure-python replay of the bucketed Heaps curve (same md5
    buckets, same tokens, same closed-form OLS) matches bit-close;
    totals equal corpus totals; the guard fires."""
    import hashlib
    import math

    docs = []
    words = [f"w{i}" for i in range(40)]
    for d in range(60):
        # each doc reuses a sliding window of the vocab so later
        # buckets add few new types (a saturating, Heaps-ish corpus)
        toks = [words[(d + j) % 40] for j in range(10)] + ["common", "the"]
        docs.append((d, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    B = 8
    got = text.heaps_fit(df, buckets=B).first()

    def bucket(key):
        return int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16) % B

    first_bucket, mass = {}, {b: 0 for b in range(B)}
    for d, txt in docs:
        b = bucket(d)
        for tok in txt.split():
            if len(tok) < 2:
                continue
            mass[b] += 1
            first_bucket[tok] = min(first_bucket.get(tok, B), b)
    xs, ys = [], []
    cum_n = cum_v = 0
    for b in range(B):
        if mass[b] == 0:
            continue
        cum_n += mass[b]
        cum_v += sum(1 for t, fb in first_bucket.items() if fb == b)
        xs.append(math.log(cum_n))
        ys.append(math.log(cum_v))
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    k = math.exp((sy - beta * sx) / n)
    assert got["n_tokens"] == cum_n and got["n_types"] == cum_v
    assert abs(got["beta"] - beta) < 1e-6
    assert abs(got["k_coef"] - k) < 1e-4
    assert 0.0 <= got["r2"] <= 1.0

    with pytest.raises(ValueError, match="buckets"):
        text.heaps_fit(df, buckets=2)

    # zero-mass buckets (docs with no countable tokens) are DROPPED
    # from the curve, not counted as NULL log(0) points in the OLS n:
    # a bucket holding ONLY token-free docs must leave the fit
    # bit-identical to the corpus without that bucket
    with_mass = [i for i in range(400) if bucket(i) != 0][:30]
    no_mass = [i for i in range(400) if bucket(i) == 0][:5]
    base = [(i, f"alpha{i % 7} beta gamma{i % 3} delta") for i in with_mass]
    empties = [(i, "x . !") for i in no_mass]  # all tokens < MIN_LEN
    ga = text.heaps_fit(
        spark.createDataFrame(base, "doc_id long, text string"), buckets=B
    ).first()
    gb = text.heaps_fit(
        spark.createDataFrame(base + empties, "doc_id long, text string"),
        buckets=B,
    ).first()
    assert gb["n_tokens"] == ga["n_tokens"]
    assert gb["n_types"] == ga["n_types"]
    assert gb["beta"] == ga["beta"] and gb["r2"] == ga["r2"]
    assert gb["beta"] is not None


def test_matthews_corrcoef_semantics(spark):
    """Binary MCC equals the hand formula (TP·TN − FP·FN)/√(...);
    perfect prediction gives 1, inverted gives -1, majority-class
    spam gives ~0/NULL; multiclass matches a numpy Gorodkin replay."""
    import math

    from plda_spark.operators import classify

    def mk(pairs):
        return spark.createDataFrame(pairs, "y string, p string")

    # TP=40 TN=30 FP=10 FN=20 (positive='1')
    pairs = (
        [("1", "1")] * 40 + [("0", "0")] * 30
        + [("0", "1")] * 10 + [("1", "0")] * 20
    )
    r = classify.matthews_corrcoef(mk(pairs), "y", "p").first()
    # (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN))
    want = (40 * 30 - 10 * 20) / math.sqrt(50 * 60 * 40 * 50)
    assert r["n"] == 100 and r["k_classes"] == 2
    assert abs(r["mcc"] - want) < 1e-6

    perfect = [("a", "a")] * 5 + [("b", "b")] * 7 + [("c", "c")] * 3
    assert classify.matthews_corrcoef(mk(perfect), "y", "p").first()["mcc"] == 1.0

    inverted = [("1", "0")] * 6 + [("0", "1")] * 6
    assert (
        classify.matthews_corrcoef(mk(inverted), "y", "p").first()["mcc"]
        == -1.0
    )

    # degenerate: predictor always says '1' -> undefined (NULL)
    lazy = [("1", "1")] * 9 + [("0", "1")] * 1
    assert classify.matthews_corrcoef(mk(lazy), "y", "p").first()["mcc"] is None

    # multiclass Gorodkin replay
    import numpy as np

    rng = [("a", "a")] * 8 + [("a", "b")] * 2 + [("b", "b")] * 5 + [
        ("b", "c")
    ] * 3 + [("c", "c")] * 4 + [("c", "a")] * 1
    C = np.zeros((3, 3))
    idx = {"a": 0, "b": 1, "c": 2}
    for t, p in rng:
        C[idx[t], idx[p]] += 1
    s = C.sum()
    c = np.trace(C)
    t_k = C.sum(axis=1)
    p_k = C.sum(axis=0)
    want_rk = (c * s - (t_k * p_k).sum()) / math.sqrt(
        (s * s - (p_k**2).sum()) * (s * s - (t_k**2).sum())
    )
    rk = classify.matthews_corrcoef(mk(rng), "y", "p").first()
    assert rk["k_classes"] == 3
    assert abs(rk["mcc"] - want_rk) < 1e-6


def test_script_mix_semantics(spark):
    """Known script compositions: pure-English groups read latin 1.0;
    a Cyrillic group reads cyrillic-dominant; a half-Greek doc flags
    as mixed; zero-letter docs give NULL shares; guards fire."""
    docs = spark.createDataFrame(
        [
            (0, "en", "hello world this is plain english text ok"),
            (1, "en", "another purely english document right here"),
            (2, "ru", "привет мир это русский текст для проверки"),
            (3, "mix", "alpha beta gamma " + "αβγδεζηθικλμνξο" * 2),
            (4, "num", "1234 5678 90 12"),
        ],
        "doc_id long, source string, text string",
    )
    out = {r["group"]: r for r in text.script_mix(docs, min_letters=10).collect()}
    assert out["en"]["latin_share"] == 1.0
    assert out["en"]["dominant_script"] == "latin"
    assert out["en"]["mixed_doc_share"] == 0.0
    assert out["ru"]["cyrillic_share"] == 1.0
    assert out["ru"]["dominant_script"] == "cyrillic"
    mix = out["mix"]
    assert mix["greek_share"] is not None and mix["greek_share"] > 0.5
    assert mix["dominant_script"] == "greek"
    assert mix["mixed_doc_share"] == 1.0
    num = out["num"]
    assert num["latin_share"] is None and num["dominant_script"] is None
    assert num["mixed_doc_share"] == 0.0

    with pytest.raises(ValueError, match="purity_threshold"):
        text.script_mix(docs, purity_threshold=1.5)


def test_hist_cvm_ranges_semantics(spark):
    """Hand-computed binned CvM over two date ranges: the merged
    arrays, binned ECDFs, and T match the cell-based cvm_two_sample on
    the identical already-binned values; disjoint ranges with equal
    histograms give T = 0."""
    from plda_spark.operators import stats

    rows = []
    # range A days: values all in bin 0 and 1; range B shifted up
    for d in (1, 2):
        rows += [(f"2024-01-0{d} 00:00:00", 1.0)] * 6
        rows += [(f"2024-01-0{d} 00:00:00", 11.0)] * 4
    for d in (8, 9):
        rows += [(f"2024-01-0{d} 00:00:00", 11.0)] * 5
        rows += [(f"2024-01-0{d} 00:00:00", 21.0)] * 5
    ev = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    sk = stats.hist_daily_sketches(ev, "value", lo=0.0, hi=40.0, nbins=4)
    got = stats.hist_cvm_ranges(
        sk, ("2024-01-01", "2024-01-02"), ("2024-01-08", "2024-01-09")
    ).first()
    # same data quantized to bin ids through the cell-based test
    binned = ev.select(
        F.when(F.to_date("ts") <= "2024-01-02", "a").otherwise("b").alias("g"),
        F.floor(F.col("value") / 10.0).cast("double").alias("v"),
    )
    want = stats.cvm_two_sample(binned, "g", "v", "a", "b").first()
    assert got["n_a"] == want["n_a"] and got["n_b"] == want["n_b"]
    assert abs(got["t_stat"] - want["t_stat"]) < 1e-9
    assert got["reject"] == want["reject"]

    same = stats.hist_cvm_ranges(
        sk, ("2024-01-01", "2024-01-01"), ("2024-01-02", "2024-01-02")
    ).first()
    assert same["t_stat"] == 0.0 and same["reject"] is False


def test_ad_two_sample_semantics(spark):
    """Exact tie-weighted AD on a hand case (A = {1,2}, B = {2,3}
    gives A² = 1 — verified against the Scholz-Stephens k = 2 discrete
    formula by hand); a numpy replay of that published formula matches
    bit-close on tied data; a TAIL-only spread with matched center
    rejects; identical samples give 0; both guards fire."""
    from plda_spark.operators import stats

    tiny = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)],
        "g string, v double",
    )
    r = stats.ad_two_sample(tiny, "g", "v", "a", "b").first()
    assert r["n_a"] == 2 and r["n_b"] == 2
    assert abs(r["a2_stat"] - 1.0) < 1e-9
    assert r["critical_05"] == 2.492 and r["reject"] is False

    # numpy replay of scipy's _anderson_ksamp_right (Scholz-Stephens
    # 1987, right-continuous/no-midrank version) on heavily tied data
    import numpy as np

    def replay(xs, ys):
        Z = np.sort(np.concatenate([xs, ys]))
        N = len(Z)
        Zstar = np.unique(Z)[:-1]
        lj = np.searchsorted(Z, Zstar, "right") - np.searchsorted(
            Z, Zstar, "left"
        )
        Bj = lj.cumsum()
        A2 = 0.0
        for s, ni in ((np.sort(xs), len(xs)), (np.sort(ys), len(ys))):
            Mij = s.searchsorted(Zstar, side="right")
            A2 += (
                lj / N * (N * Mij - Bj * ni) ** 2 / (Bj * (N - Bj))
            ).sum() / ni
        return A2

    rng = np.random.RandomState(7)
    xs = np.round(rng.normal(0, 1, 300), 1)
    ys = np.round(rng.normal(0.05, 1.6, 250), 1)
    rows = [("a", float(x)) for x in xs] + [("b", float(y)) for y in ys]
    df2 = spark.createDataFrame(rows, "g string, v double")
    r2 = stats.ad_two_sample(df2, "g", "v", "a", "b").first()
    assert abs(r2["a2_stat"] - replay(xs, ys)) < 1e-5
    assert r2["reject"] is True

    same = spark.createDataFrame(
        [("a", float(x % 9)) for x in range(90)]
        + [("b", float(x % 9)) for x in range(90)],
        "g string, v double",
    )
    r3 = stats.ad_two_sample(same, "g", "v", "a", "b").first()
    assert r3["a2_stat"] == 0.0 and r3["reject"] is False

    with pytest.raises(ValueError, match="max_distinct"):
        stats.ad_two_sample(df2, "g", "v", "a", "b", max_distinct=3)
    with pytest.raises(ValueError, match="empty group"):
        stats.ad_two_sample(tiny, "g", "v", "a", "zzz")


def test_hist_ad_ranges_semantics(spark):
    """The binned AD over two date ranges matches the cell-based
    ad_two_sample on the identical already-binned values (the
    hist_cvm_ranges parity design); equal histograms give 0."""
    from plda_spark.operators import stats

    rows = []
    for d in (1, 2):
        rows += [(f"2024-01-0{d} 00:00:00", 1.0)] * 6
        rows += [(f"2024-01-0{d} 00:00:00", 11.0)] * 4
    for d in (8, 9):
        rows += [(f"2024-01-0{d} 00:00:00", 11.0)] * 5
        rows += [(f"2024-01-0{d} 00:00:00", 21.0)] * 5
    ev = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    sk = stats.hist_daily_sketches(ev, "value", lo=0.0, hi=40.0, nbins=4)
    got = stats.hist_ad_ranges(
        sk, ("2024-01-01", "2024-01-02"), ("2024-01-08", "2024-01-09")
    ).first()
    binned = ev.select(
        F.when(F.to_date("ts") <= "2024-01-02", "a").otherwise("b").alias("g"),
        F.floor(F.col("value") / 10.0).cast("double").alias("v"),
    )
    want = stats.ad_two_sample(binned, "g", "v", "a", "b").first()
    assert got["n_a"] == want["n_a"] and got["n_b"] == want["n_b"]
    assert abs(got["a2_stat"] - want["a2_stat"]) < 1e-9
    assert got["reject"] == want["reject"]

    same = stats.hist_ad_ranges(
        sk, ("2024-01-01", "2024-01-01"), ("2024-01-02", "2024-01-02")
    ).first()
    assert same["a2_stat"] == 0.0 and same["reject"] is False


@pytest.mark.parametrize(
    "fn, stat, verdict",
    [
        ("hist_ks_ranges", "d_stat", "p_value"),
        ("hist_cvm_ranges", "t_stat", "reject"),
        ("hist_ad_ranges", "a2_stat", "reject"),
    ],
)
def test_hist_drift_ranges_empty_range_is_null(spark, fn, stat, verdict):
    """A day range matching no rollup rows is no evidence of drift:
    the statistic and its verdict are NULL on either side, never a
    maximally significant p = 0.  (PSI's documented min_share clamp
    for this case is pinned by test_hist_psi_ranges_matches_direct_psi.)"""
    from plda_spark.operators import stats

    rows = [("2024-01-01 00:00:00", 1.0)] * 6 + [("2024-01-02 00:00:00", 11.0)] * 4
    ev = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    sk = stats.hist_daily_sketches(ev, "value", lo=0.0, hi=40.0, nbins=4)
    full, empty = ("2024-01-01", "2024-01-02"), ("2030-01-01", "2030-01-02")
    for ra, rb in [(full, empty), (empty, full)]:
        r = getattr(stats, fn)(sk, ra, rb).first()
        assert r[stat] is None and r[verdict] is None, r


def test_friedman_daily_semantics(spark):
    """A consistent within-day ordering across blocks maxes the rank
    sums (Q = hand formula, small p); per-day random-ish but
    level-shifted days still test only the RELATIVE order; incomplete
    days are dropped; ties correct the denominator; guards fire."""
    from plda_spark.operators import stats

    def mk(rows):
        return spark.createDataFrame(
            rows, "ts string, g string, value double"
        ).select(F.to_timestamp("ts").alias("ts"), "g", "value")

    # 6 complete days, always a < b < c within the day, plus a huge
    # day-level shift that must NOT matter
    rows = []
    for d in range(1, 7):
        base = 1000.0 * d
        rows += [
            (f"2024-01-{d:02d} 00:00:00", "a", base + 1.0),
            (f"2024-01-{d:02d} 00:00:00", "b", base + 2.0),
            (f"2024-01-{d:02d} 00:00:00", "c", base + 3.0),
        ]
    # one incomplete day (only two groups) -> dropped
    rows += [
        ("2024-01-07 00:00:00", "a", 5.0),
        ("2024-01-07 00:00:00", "b", 6.0),
    ]
    r = stats.friedman_daily(mk(rows), "ts", "g", "value").first()
    assert r["k"] == 3 and r["n_blocks"] == 6 and r["dof"] == 2
    # perfect ordering: R = (6, 12, 18); Q = 12/(6*3*4)*(36+144+324)
    #                   - 3*6*4 = 84 - 72 = 12
    assert abs(r["q_stat"] - 12.0) < 1e-9
    assert r["p_value"] < 0.01
    # perfect concordance: W = Q/(n(k-1)) = 12/(6*2) = 1.0
    assert r["kendall_w"] == 1.0

    # all-tied days: Q undefined by ties -> correction <= 0 -> Q = 0
    tied = []
    for d in range(1, 5):
        for g in ("a", "b"):
            tied.append((f"2024-02-{d:02d} 00:00:00", g, 7.0))
    rt = stats.friedman_daily(mk(tied), "ts", "g", "value").first()
    assert rt["q_stat"] == 0.0 and rt["kendall_w"] == 0.0

    with pytest.raises(ValueError, match="max_groups"):
        stats.friedman_daily(mk(rows), "ts", "g", "value", max_groups=2)


def test_kpss_level_semantics(spark):
    """A pure-python replay of the exact KPSS arithmetic matches
    bit-close; a stationary oscillation accepts the null while a
    random-walk-like cumulative series rejects it; bandwidth follows
    the published rule."""
    import math

    from plda_spark.operators import stats

    def kpss_numpy(xs):
        n = len(xs)
        m = sum(xs) / n
        e = [x - m for x in xs]
        s, ss = 0.0, 0.0
        for v in e:
            s += v
            ss += s * s
        L = int(math.floor(4.0 * (n / 100.0) ** 0.25))
        g0 = sum(v * v for v in e) / n
        lrv = g0
        for lag in range(1, L + 1):
            gl = sum(e[t] * e[t - lag] for t in range(lag, n)) / n
            lrv += 2.0 * (1.0 - lag / (L + 1.0)) * gl
        return (ss / (n * n)) / lrv, L

    def run(xs):
        rows = [
            (f"2024-{(d // 28) + 1:02d}-{(d % 28) + 1:02d} 00:00:00", x)
            for d, x in enumerate(xs)
        ]
        df = spark.createDataFrame(rows, "ts string, value double").select(
            F.to_timestamp("ts").alias("ts"), "value"
        )
        return stats.kpss_level_daily(df, "ts", "value").first()

    # stationary: deterministic oscillation around a level
    xs = [10.0 + math.sin(0.7 * i) for i in range(80)]
    r = run(xs)
    want, L = kpss_numpy(xs)
    assert r["n_days"] == 80 and r["bandwidth"] == L
    assert abs(r["eta"] - want) < 1e-6
    assert r["reject_stationarity"] is False

    # random-walk-like: cumulative sum of a fixed drift + wiggle
    acc, xs2 = 0.0, []
    for i in range(80):
        acc += 1.0 + 0.3 * math.sin(1.3 * i)
        xs2.append(acc)
    r2 = run(xs2)
    want2, _ = kpss_numpy(xs2)
    assert abs(r2["eta"] - want2) < 1e-6
    assert r2["eta"] > 0.463 and r2["reject_stationarity"] is True

    # degenerate: two days -> NULL eta
    r3 = run([1.0, 2.0])
    assert r3["n_days"] == 2 and r3["eta"] is None


def test_partial_correlation_semantics(spark):
    """x and y driven entirely by a common z: raw r_xy is high but
    partial_r collapses toward 0; a direct x->y link survives the
    control; a numpy replay of the identical recursion matches; the
    collinear and tiny-n guards yield NULLs."""
    import math
    import numpy as np

    from plda_spark.operators import stats

    def replay(xs, ys, zs):
        def r(a, b):
            n = len(a)
            sa, sb = sum(a), sum(b)
            num = n * sum(u * v for u, v in zip(a, b)) - sa * sb
            d2 = (n * sum(u * u for u in a) - sa * sa) * (
                n * sum(v * v for v in b) - sb * sb
            )
            return num / math.sqrt(d2)

        rxy, rxz, ryz = r(xs, ys), r(xs, zs), r(ys, zs)
        return (rxy - rxz * ryz) / math.sqrt(
            (1 - rxz**2) * (1 - ryz**2)
        )

    rng = np.random.default_rng(11)
    zs = rng.normal(0, 1, 300)
    noise1 = rng.normal(0, 0.3, 300)
    noise2 = rng.normal(0, 0.3, 300)
    # confounded: x and y both follow z
    xs = 2 * zs + noise1
    ys = -3 * zs + noise2
    rows = [(float(a), float(b), float(c)) for a, b, c in zip(xs, ys, zs)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    got = stats.partial_correlation(df, "x", "y", "z").first()
    assert got["n"] == 300
    assert abs(got["r_xy"]) > 0.9  # raw correlation looks strong
    assert abs(got["partial_r"]) < 0.2  # the control removes it
    assert abs(got["partial_r"] - replay(xs, ys, zs)) < 1e-6

    # direct link: y = x + small noise, z independent-ish
    ys2 = xs + rng.normal(0, 0.1, 300)
    rows2 = [(float(a), float(b), float(c)) for a, b, c in zip(xs, ys2, zs)]
    got2 = stats.partial_correlation(
        spark.createDataFrame(rows2, "x double, y double, z double"),
        "x", "y", "z",
    ).first()
    assert got2["partial_r"] > 0.5 and got2["p_value"] < 0.01

    # collinear control: z == x -> r_xz = 1 -> NULL partial
    rows3 = [(float(a), float(b), float(a)) for a, b in zip(xs, ys)]
    got3 = stats.partial_correlation(
        spark.createDataFrame(rows3, "x double, y double, z double"),
        "x", "y", "z",
    ).first()
    assert got3["partial_r"] is None

    # n <= 4: NULL z/p
    got4 = stats.partial_correlation(
        spark.createDataFrame(rows[:4], "x double, y double, z double"),
        "x", "y", "z",
    ).first()
    assert got4["z"] is None and got4["p_value"] is None


def test_qdigest_sketch_matches_reference(spark):
    """The level-synchronous q-digest compress (Shrivastava et al.
    2004) is a deterministic pure function of the day's multiset: the
    Spark rollup must match a pure-Python replay NODE FOR NODE, on
    uniform, point-mass, and bimodal days; mass is conserved
    exactly."""
    import math
    import random
    from collections import Counter

    from plda_spark.operators import stats

    DEPTH, K, LO, HI = 10, 32, 0.0, 100.0
    NL = 2 ** DEPTH
    W = (HI - LO) / NL

    def ref_sketch(values):
        leaves = Counter(
            NL + min(int((v - LO) / W), NL - 1) for v in values
        )
        n = sum(leaves.values())
        t = math.floor(n / K)
        cur = dict(leaves)
        for lvl in range(DEPTH, 0, -1):
            lo_id, hi_id = 2 ** lvl, 2 ** (lvl + 1)
            fams, nxt = {}, {}
            for i, c in cur.items():
                if lo_id <= i < hi_id:
                    fams.setdefault(i // 2, [0, 0])[0] += c
                elif lo_id // 2 <= i < hi_id // 2:
                    fams.setdefault(i, [0, 0])[1] += c
                else:
                    nxt[i] = nxt.get(i, 0) + c
            for fam, (cc, pc) in fams.items():
                if cc + pc <= t:
                    nxt[fam] = nxt.get(fam, 0) + cc + pc
                else:
                    for i, c in cur.items():
                        if (
                            lo_id <= i < hi_id and i // 2 == fam
                        ) or i == fam:
                            nxt[i] = nxt.get(i, 0) + c
            cur = nxt
        return {i: c for i, c in cur.items() if c > 0}, n

    rng = random.Random(11)
    day_vals = {
        "2024-01-01": [rng.uniform(0, 30) for _ in range(500)]
        + [99.0] * 20,
        "2024-01-02": [50.0] * 300
        + [rng.uniform(80, 100) for _ in range(100)],
        "2024-01-03": [rng.gauss(70, 5) for _ in range(400)],
    }
    rows = [
        (d + " 12:00:00", float(v))
        for d, vs in day_vals.items()
        for v in vs
        if 0 <= v < 100
    ]
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    sk = stats.qdigest_daily_sketches(
        df, "value", LO, HI, depth=DEPTH, k=K
    )
    got = {
        r["day"]: (
            {nd["id"]: nd["cnt"] for nd in r["nodes"]}, r["n"]
        )
        for r in sk.collect()
    }
    for d, vs in day_vals.items():
        vs2 = [v for v in vs if 0 <= v < 100]
        want_nodes, want_n = ref_sketch(vs2)
        assert got[d][1] == want_n == sum(got[d][0].values())
        assert got[d][0] == want_nodes, d
        # the size bound that makes it a SKETCH: O(3k) nodes per day
        assert len(got[d][0]) <= 3 * K

    with pytest.raises(ValueError, match="depth"):
        stats.qdigest_daily_sketches(df, "value", LO, HI, depth=1)
    with pytest.raises(ValueError, match="k must"):
        stats.qdigest_daily_sketches(df, "value", LO, HI, k=1)
    with pytest.raises(ValueError, match="quantiles"):
        stats.qdigest_quantile_range(sk, [1.5], LO, HI, depth=DEPTH)


def test_qdigest_quantile_rank_error_bound(spark):
    """The published rank bound, asserted: every range-quantile
    estimate's TRUE rank window (one leaf width of value slack) must
    contain the target rank within depth·N/k — on adversarial shapes
    (heavy point mass, skew, tail spike) and for a merged multi-day
    range where the per-day bounds add."""
    import math
    import random

    from plda_spark.operators import stats

    DEPTH, K, LO, HI = 12, 128, 0.0, 100.0
    W = (HI - LO) / 2 ** DEPTH
    rng = random.Random(5)
    day_vals = {
        "2024-01-01": [12.5] * 2000
        + [rng.uniform(0, 100) for _ in range(500)],
        "2024-01-02": [rng.expovariate(0.1) for _ in range(2000)],
        "2024-01-03": [99.9] * 50
        + [rng.gauss(40, 2) for _ in range(1500)],
    }
    rows = [
        (d + " 00:00:00", float(v))
        for d, vs in day_vals.items()
        for v in vs
        if 0 <= v < 100
    ]
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.to_timestamp("ts").alias("ts"), "value"
    )
    sk = stats.qdigest_daily_sketches(
        df, "value", LO, HI, depth=DEPTH, k=K
    ).localCheckpoint()
    qs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]
    for days in [("2024-01-01", "2024-01-01"), ("2024-01-01", "2024-01-03")]:
        allv = sorted(
            v
            for d, vs in day_vals.items()
            if days[0] <= d <= days[1]
            for v in vs
            if 0 <= v < 100
        )
        n = len(allv)
        bound = DEPTH * n / K
        est = {
            r["q"]: (r["est"], r["n"])
            for r in stats.qdigest_quantile_range(
                sk, qs, LO, HI, depth=DEPTH,
                start_day=days[0], end_day=days[1],
            ).collect()
        }
        for q in qs:
            e, got_n = est[q]
            assert got_n == n
            target = max(math.ceil(q * n), 1)
            rank_lo = sum(1 for v in allv if v < e - W)
            rank_hi = sum(1 for v in allv if v <= e)
            assert rank_lo - bound <= target <= rank_hi + bound, (
                days, q, e, target, rank_lo, rank_hi, bound
            )


def test_dedup_longest_spans_collapses_blocks(spark):
    """The doubling digest ladder reports a duplicated 2k-token block
    as ONE maximal removed region (not two k-token chunk decisions), a
    whole-document copy as one max-size region, and keeps the chunk
    set identical to dedup_spans; guards fire."""
    from plda_spark.operators import dedup

    k = 4
    w = lambda n, p: " ".join(f"{p}{i:02d}" for i in range(n))  # noqa: E731
    doc0 = w(16, "aa")                     # chunks 0..3
    block = " ".join(doc0.split()[0:8])    # 2k tokens = level-1 span 0
    doc5 = block + " " + w(8, "zz")
    doc9 = doc0                            # whole-doc copy (4k tokens)
    df = spark.createDataFrame(
        [(0, doc0), (5, doc5), (9, doc9)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in dedup.dedup_longest_spans(
            df, span_tokens=k, max_doublings=3
        ).collect()
    }
    # 2k-token quote: ONE region of 8 tokens — the verdict's test case
    assert out[5]["n_removed_regions"] == 1
    assert out[5]["max_region_tokens"] == 2 * k
    assert out[5]["n_kept"] == 2
    # whole-doc copy: ONE region of all 16 tokens
    assert out[9]["n_removed_regions"] == 1
    assert out[9]["max_region_tokens"] == 16
    assert out[9]["n_kept"] == 0
    assert out[0]["n_removed_regions"] == 0 and out[0]["n_kept"] == 4

    # kept chunk set identical to dedup_spans (provable subset
    # property: every chunk of a higher-level loser is a level-0
    # loser)
    ds = {
        r["doc_id"]: r["n_kept"]
        for r in dedup.dedup_spans(df, span_tokens=k).collect()
    }
    assert {d: out[d]["n_kept"] for d in out} == ds

    # a non-aligned duplicate degrades to chunk decisions (documented
    # aligned-model caveat), never a false whole-block region
    doc7 = "xx00 " + block + " " + w(7, "yy")  # block shifted by 1
    df2 = spark.createDataFrame(
        [(0, doc0), (7, doc7)], "doc_id long, text string"
    )
    out2 = {
        r["doc_id"]: r
        for r in dedup.dedup_longest_spans(
            df2, span_tokens=k, max_doublings=3
        ).collect()
    }
    assert out2[7]["max_region_tokens"] <= k

    with pytest.raises(ValueError, match="span_tokens"):
        dedup.dedup_longest_spans(df, span_tokens=0)
    with pytest.raises(ValueError, match="max_doublings"):
        dedup.dedup_longest_spans(df, max_doublings=0)
