"""Similarity-search operators: exactness of the brute-force baseline, and
recall sanity of the approximate paths (LSH, IVF) against it."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_estate_project1_etl_spark.operators.similarity import (
    brute_force_topk,
    brute_force_topk_pandas,
    ivf_topk,
    lsh_topk,
)
from real_estate_project1_etl_spark.sources.parquet import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _pairs(df):
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


def test_pandas_matmul_matches_expression_path(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    exact = _pairs(brute_force_topk(emb, q, k=5, round_to=6))
    fast = _pairs(brute_force_topk_pandas(emb, q.toPandas(), k=5))
    assert exact == fast


def test_ivf_recall_against_exact(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    exact = _pairs(brute_force_topk(emb, q, k=5, round_to=6))
    approx = _pairs(ivf_topk(emb, q, k=5, n_lists=8, n_probe=4))
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f} below sanity floor"


def test_multiprobe_recall_at_least_single_probe(spark, sf_dir):
    from real_estate_project1_etl_spark.operators.similarity import lsh_topk_multiprobe

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    exact = _pairs(brute_force_topk(emb, q, k=5, round_to=6))
    single = _pairs(lsh_topk(emb, q, dim=64, k=5, n_planes=4))
    multi = _pairs(lsh_topk_multiprobe(emb, q, dim=64, k=5, n_planes=4, n_flip=2))
    r_single = len(exact & single) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    # measured on sf0.001: single ~0.02, flip1 ~0.44, flip2 ~0.92
    assert r_multi >= r_single, f"multiprobe recall {r_multi:.2f} < single {r_single:.2f}"
    assert r_multi >= 0.6, f"multiprobe recall {r_multi:.2f} below sanity floor"


def test_lsh_returns_subset_quality(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    out = lsh_topk(emb, q, dim=64, k=5)
    rows = out.collect()
    assert rows, "LSH returned nothing"
    assert all(r["rank"] <= 5 for r in rows)


def test_semantic_dedup_drops_planted_dups(spark):
    from real_estate_project1_etl_spark.operators.dedup import semantic_dedup

    # two tight groups of 3 near-identical vectors + 4 well-separated
    # singletons; only the lowest id of each group must survive
    rows = []
    base = {
        0: [1.0, 0.0, 0.0, 0.0],
        100: [0.0, 1.0, 0.0, 0.0],
    }
    for gid, (lead, v) in enumerate(base.items()):
        for k in range(3):
            perturbed = [x + 0.001 * k * (i + 1) for i, x in enumerate(v)]
            rows.append((lead + k, perturbed, gid))
    rows += [
        (200, [0.0, 0.0, 1.0, 0.0], 2),
        (201, [0.0, 0.0, 0.0, 1.0], 3),
        (202, [0.7, 0.0, -0.7, 0.1], 4),
        (203, [0.0, 0.7, 0.0, -0.7], 5),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(emb, n_clusters=4, threshold=0.98).collect()
    )
    assert kept == [0, 100, 200, 201, 202, 203]


def test_semantic_dedup_strategies_agree(spark):
    # the three physical pair-join strategies (broadcast assignment,
    # plain shuffle, salted shuffle) must keep byte-identical row sets —
    # the strategy gate is performance-only (round-11 verdict item 6)
    from real_estate_project1_etl_spark.operators.dedup import semantic_dedup

    rows = []
    for g in range(4):
        v = [float(g == j) for j in range(4)]
        for k in range(4):
            rows.append(
                (g * 10 + k, [x + 0.002 * k * (i + 1) for i, x in enumerate(v)], g)
            )
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    kw = dict(n_clusters=4, threshold=0.98)
    broadcast = sorted(r["vec_id"] for r in semantic_dedup(emb, **kw).collect())
    shuffle = sorted(
        r["vec_id"]
        for r in semantic_dedup(emb, broadcast_max_rows=0, **kw).collect()
    )
    salted = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            emb, broadcast_max_rows=0, pair_salt=5, **kw
        ).collect()
    )
    assert broadcast == shuffle == salted == [0, 10, 20, 30]


def test_semantic_dedup_keeps_all_when_threshold_high(spark):
    from real_estate_project1_etl_spark.operators.dedup import semantic_dedup

    rows = [(i, [float(i == j) for j in range(4)], i) for i in range(4)]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    assert semantic_dedup(emb, n_clusters=2, threshold=0.999).count() == 4


def test_connected_components_chain_and_islands(spark):
    from real_estate_project1_etl_spark.operators.graph import (
        component_sizes,
        connected_components,
    )

    # a 5-chain (needs multiple propagation rounds), a triangle, a pair
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (12, 10), (20, 21)],
        "src bigint, dst bigint",
    )
    labels = connected_components(edges, max_iter=10)
    got = {r["id"]: r["comp"] for r in labels.collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }
    sizes = {r["comp"]: r["size"] for r in component_sizes(labels).collect()}
    assert sizes == {1: 5, 10: 3, 20: 2}


def test_tune_lsh_bands_s_curve_properties():
    # pure math, no Spark: the chosen banding must (a) divide num_hashes,
    # (b) keep recall at the threshold > 1/2, (c) be the TIGHTEST such
    # filter (next-wider banding overshoots the threshold midpoint), and
    # the S-curve itself must be monotone in j
    from real_estate_project1_etl_spark.operators.dedup import (
        lsh_candidate_probability,
        tune_lsh_bands,
    )

    for num_hashes in (16, 32, 64, 128):
        for t in (0.3, 0.5, 0.7, 0.8, 0.9):
            b, r = tune_lsh_bands(num_hashes, t)
            assert b * r == num_hashes
            assert lsh_candidate_probability(t, b, r) > 0.5, (num_hashes, t, b)
            if b > 1:
                # the midpoint rule: this banding's midpoint <= t
                assert (1.0 / b) ** (1.0 / r) <= t + 1e-12
            # next-narrower banding (fewer bands, more rows) would have a
            # midpoint above t -> recall at t below ~1/2: we are tightest
            wider = [
                bb for bb in range(1, b)
                if num_hashes % bb == 0
                and (1.0 / bb) ** (bb / num_hashes) <= t
            ]
            assert not wider, (num_hashes, t, b, wider)
    # known values: 32 hashes at 0.9 -> (4, 8); at 0.5 -> (16, 2)
    assert tune_lsh_bands(32, 0.9) == (4, 8)
    assert tune_lsh_bands(32, 0.5) == (16, 2)
    # very low threshold: fall back to widest banding (r=1, max recall)
    assert tune_lsh_bands(32, 0.02) == (32, 1)
    # monotone S-curve
    b, r = tune_lsh_bands(32, 0.8)
    probs = [lsh_candidate_probability(j / 20, b, r) for j in range(21)]
    assert probs == sorted(probs)
    assert probs[0] == 0.0 and probs[-1] == 1.0


def test_tuned_bands_cut_candidate_volume_not_recall(spark):
    # end-to-end: same corpus, same signatures — the tuned banding for a
    # high threshold must emit FEWER candidate pairs than the widest
    # banding while keeping every verified pair (recall preserved because
    # verification is exact; only candidate volume changes)
    from real_estate_project1_etl_spark.operators.dedup import (
        minhash_pairs_from_signatures,
        minhash_signature_table,
        tune_lsh_bands,
    )

    docs = []
    for i in range(40):
        base = f"the quick brown fox {i} jumps over the lazy dog number {i}"
        docs.append((2 * i, base))
        docs.append((2 * i + 1, base + " extra"))  # near-dup partner
    df = spark.createDataFrame(docs, "id long, text string")
    sig = minhash_signature_table(df, "text", "id", num_hashes=32).cache()

    b_tuned, _ = tune_lsh_bands(32, 0.6)
    tuned = minhash_pairs_from_signatures(
        sig, 32, bands=b_tuned, jaccard_threshold=0.6
    )
    widest = minhash_pairs_from_signatures(
        sig, 32, bands=32, jaccard_threshold=0.6
    )
    t_pairs = {(r.id_a, r.id_b) for r in tuned.collect()}
    w_pairs = {(r.id_a, r.id_b) for r in widest.collect()}
    sig.unpersist()
    # exact verify makes both precise; tuned must not lose true pairs
    assert t_pairs, "planted near-dups must be found"
    assert t_pairs == w_pairs


def test_connected_components_doubling_is_log_rounds(spark):
    # round-3 verdict item 7: one-hop label propagation needs O(diameter)
    # rounds (a shuffle + a convergence-probe job EACH) — a 64-chain took
    # 65 rounds. The pointer-doubling default must converge on a
    # diameter-d chain in <= ceil(log2 d)+1 rounds (measured: exactly
    # that at d in {8, 64, 256}), with identical labels.
    import math

    from real_estate_project1_etl_spark.operators.graph import (
        connected_components,
    )

    d = 64
    # shifted ids so the min label isn't trivially at the chain's end used
    # for the round count; chain 100-101-...-164
    edges = spark.createDataFrame(
        [(100 + i, 100 + i + 1) for i in range(d)], "src long, dst long"
    )
    st: dict = {}
    labels = connected_components(edges, algorithm="doubling", _stats=st)
    assert st["rounds"] <= math.ceil(math.log2(d)) + 1, st
    assert st["doubling_from_round"] == 1, st
    got = {r["id"]: r["comp"] for r in labels.collect()}
    assert got == {100 + i: 100 for i in range(d + 1)}

    # the "auto" DEFAULT (round-4 verdict item 3) still converges the
    # deep chain in O(log d): a few cheap label probe rounds, then
    # doubling takes over
    st_auto: dict = {}
    labels_auto = connected_components(edges, _stats=st_auto)
    assert st_auto["doubling_from_round"] == 4, st_auto  # after 3 probes
    assert st_auto["rounds"] <= 3 + math.ceil(math.log2(d)) + 2, st_auto
    got_auto = {r["id"]: r["comp"] for r in labels_auto.collect()}
    assert got_auto == got

    # both algorithms agree on a mixed graph (chain + triangle + island)
    mixed = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (12, 10), (20, 21)],
        "src bigint, dst bigint",
    )
    a = {
        (r["id"], r["comp"])
        for r in connected_components(mixed, algorithm="doubling").collect()
    }
    b = {
        (r["id"], r["comp"])
        for r in connected_components(mixed, algorithm="label").collect()
    }
    assert a == b


def test_int8_quantization_roundtrip_preserves_cosine(spark, sf_dir):
    import numpy as np

    from real_estate_project1_etl_spark.functions.vectors import (
        cosine_similarity,
        dequantize_int8,
        quantize_int8,
    )

    emb = _emb(spark, sf_dir).limit(50)
    rt = emb.select(
        "vec_id",
        F.col("embedding").alias("orig"),
        dequantize_int8(quantize_int8(F.col("embedding"))).alias("back"),
    ).withColumn("cos", cosine_similarity(F.col("orig"), F.col("back")))
    rows = rt.collect()
    assert rows
    for r in rows:
        # int8 grid keeps direction: cosine to the original stays ~1
        assert r["cos"] > 0.995, (r["vec_id"], r["cos"])
        back = np.array(r["back"])
        orig = np.array(r["orig"])
        scale = np.abs(orig).max() / 127.0
        assert np.all(np.abs(back - orig) <= scale * 0.5 + 1e-12)


def test_int8_quantization_zero_vector(spark):
    from real_estate_project1_etl_spark.functions.vectors import (
        dequantize_int8,
        quantize_int8,
    )

    df = spark.createDataFrame([(0, [0.0, 0.0, 0.0])], "id bigint, v array<double>")
    r = df.select(dequantize_int8(quantize_int8("v")).alias("back")).collect()[0]
    assert r["back"] == [0.0, 0.0, 0.0]


def test_quantized_rerank_recall_near_exact(spark, sf_dir):
    from real_estate_project1_etl_spark.operators.similarity import (
        quantized_rerank_topk,
    )

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    exact = _pairs(brute_force_topk(emb, q, k=5, round_to=6))
    approx = _pairs(quantized_rerank_topk(emb, q, k=5, candidate_factor=4))
    recall = len(exact & approx) / len(exact)
    # int8 coarse + 4x candidates recovers nearly all exact neighbors
    assert recall >= 0.9, f"quantized-rerank recall {recall:.2f}"


def test_random_projection_separates_dup_pairs_from_random(spark):
    # the downstream contract: near-dup pairs must STAY high-cosine after
    # projection and random pairs must stay low — i.e. a threshold-based
    # near-dup detector survives the 64->16 cut.  Planted geometry: each
    # base vector pairs with a noisy copy (cos ~0.95) and with an unrelated
    # vector (cos ~0).
    import random as _random

    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.functions.vectors import cosine_similarity
    from real_estate_project1_etl_spark.operators.similarity import random_projection

    rng = _random.Random(11)
    rows = []
    for i in range(100):
        base = [rng.gauss(0, 1) for _ in range(64)]
        noisy = [x + rng.gauss(0, 0.2) for x in base]
        other = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((i, base, noisy, other))
    df = spark.createDataFrame(
        rows, "id long, base array<double>, noisy array<double>, other array<double>"
    )
    out = df.select(
        cosine_similarity(
            random_projection("base", 64, 16), random_projection("noisy", 64, 16)
        ).alias("dup_sim"),
        cosine_similarity(
            random_projection("base", 64, 16), random_projection("other", 64, 16)
        ).alias("rand_sim"),
    ).collect()
    mean_dup = sum(r.dup_sim for r in out) / len(out)
    mean_rand = sum(r.rand_sim for r in out) / len(out)
    assert mean_dup > 0.85, mean_dup          # dups stay near-dups
    assert abs(mean_rand) < 0.15, mean_rand   # randoms stay unrelated
    # pairwise margin: every dup pair beats every-random-mean by a gap
    assert min(r.dup_sim for r in out) > mean_rand + 0.3


def test_random_projection_dim_and_determinism(spark):
    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.similarity import random_projection

    df = spark.createDataFrame(
        [(1, [float(i) for i in range(64)])], "id long, v array<double>"
    )
    p1 = df.select(random_projection("v", 64, 16).alias("p")).first().p
    p2 = df.select(random_projection("v", 64, 16).alias("p")).first().p
    p3 = df.select(random_projection("v", 64, 16, seed=8).alias("p")).first().p
    assert len(p1) == 16
    assert p1 == p2          # seeded -> bit-reproducible
    assert p1 != p3          # different seed -> different planes


def test_projected_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.similarity import (
        brute_force_topk,
        projected_lsh_topk,
    )
    from real_estate_project1_etl_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in projected_lsh_topk(emb, q, dim=64, proj_dim=16, k=5).collect()
    }
    # single-probe sign-LSH recall on the near-orthogonal synthetics is
    # known-low (pitfalls log); the ladder's claim is that the JL tier
    # does NOT degrade bucket quality vs hashing the full 64-d vectors
    from real_estate_project1_etl_spark.operators.similarity import lsh_topk

    plain = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(emb, q, dim=64, k=5, n_planes=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    recall_plain = len(exact & plain) / len(exact)
    assert recall >= 0.1, recall
    assert recall >= recall_plain - 0.1, (recall, recall_plain)
    # sanity: self-matches excluded, ranks are 1..5 per query
    for r_ in projected_lsh_topk(emb, q, dim=64, proj_dim=16, k=5).collect():
        assert r_.query_id != r_.neighbor_id
        assert 1 <= r_.rank <= 5


def test_leakage_safe_split_no_pair_straddles(spark, sf_dir):
    # the whole point of the operator: no near-dup pair may have one side
    # in train and the other in test
    import __spark_entry__ as entry_mod
    from real_estate_project1_etl_spark.operators.dedup import (
        minhash_near_duplicates,
    )
    from real_estate_project1_etl_spark.sources.parquet import load_table

    split = {
        r.doc_id: r.split
        for r in entry_mod.queries()["leakage_safe_split"](spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, "text", "doc_id").collect()
    assert pairs, "expected planted near-dup pairs in testdata"
    for p in pairs:
        assert split[p.id_a] == split[p.id_b], (p.id_a, p.id_b)
    # both splits are non-empty (the hash actually divides the corpus)
    assert {"train", "test"} == set(split.values())


def test_connected_components_auto_skips_doubling_on_shallow_graphs(spark):
    # round-4 verdict item 3: near-dup clusters are diameter <= 2; the
    # auto default must converge them inside the label probe rounds and
    # never pay the doubling join's second exchange
    from real_estate_project1_etl_spark.operators.graph import (
        connected_components,
    )

    # stars + triangles + pairs: all diameter <= 2
    edges = [(100 * c, 100 * c + i) for c in range(1, 6) for i in range(1, 5)]
    edges += [(900, 901), (901, 902), (902, 900), (950, 951)]
    df = spark.createDataFrame(edges, "src long, dst long")
    st: dict = {}
    labels = connected_components(df, _stats=st)
    got = {r["id"]: r["comp"] for r in labels.collect()}
    assert st["doubling_from_round"] is None, st   # never escalated
    assert st["rounds"] <= 3, st
    for c in range(1, 6):
        for i in range(1, 5):
            assert got[100 * c + i] == 100 * c
    assert got[900] == got[901] == got[902] == 900
    assert got[950] == got[951] == 950


def test_minhash_bands_default_to_tuner_choice(spark):
    # round-4 verdict item 7: bands=None (the default) must derive the
    # banding from tune_lsh_bands for the target threshold — the
    # documented examples: 32 hashes at 0.9 -> (b=4, r=8); at 0.6 ->
    # (b=8, r=4); at 0.4 -> (b=16, r=2)
    from real_estate_project1_etl_spark.operators.dedup import (
        minhash_near_duplicates,
    )

    docs = spark.createDataFrame(
        [(i, f"some shared text base number {i} with words") for i in range(8)],
        "id long, text string",
    )
    for threshold, want in ((0.9, (4, 8)), (0.6, (8, 4)), (0.4, (16, 2))):
        st: dict = {}
        minhash_near_duplicates(
            docs, "text", "id", jaccard_threshold=threshold, _stats=st
        ).count()
        assert (st["bands"], st["rows_per_band"]) == want, (threshold, st)
    # explicit bands still wins over the tuner
    st2: dict = {}
    minhash_near_duplicates(
        docs, "text", "id", bands=32, jaccard_threshold=0.9, _stats=st2
    ).count()
    assert st2["bands"] == 32


def test_canonical_by_quality_keeps_best_copy(spark):
    from real_estate_project1_etl_spark.operators.dedup import (
        canonical_by_quality,
    )

    docs = spark.createDataFrame(
        [
            (1, 100),  # cluster A: 1-2-3, doc 2 is longest
            (2, 500),
            (3, 500),  # ties with 2 on quality -> lower id 2 wins
            (7, 50),   # singleton
            (8, 10),   # cluster B: 8-9, doc 9 longer
            (9, 20),
        ],
        "doc_id long, n_chars long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (8, 8), (9, 8)], "id long, comp long"
    )
    out = {
        r["doc_id"]: r
        for r in canonical_by_quality(docs, labels, "n_chars").collect()
    }
    assert out[1]["canonical_id"] == 2 and not out[1]["keep"]
    assert out[2]["keep"] and out[2]["cluster_size"] == 3
    assert out[3]["canonical_id"] == 2 and not out[3]["keep"]
    assert out[7]["keep"] and out[7]["canonical_id"] == 7
    assert out[7]["cluster_size"] == 1
    assert out[8]["canonical_id"] == 9 and not out[8]["keep"]
    assert out[9]["keep"] and out[9]["cluster_size"] == 2
    # exactly one keeper per cluster
    keepers = [r for r in out.values() if r["keep"]]
    assert len(keepers) == 3


def test_ngram_novelty_separates_duplicates_from_unique(spark):
    from real_estate_project1_etl_spark.operators.dedup import (
        ngram_novelty_scores,
    )

    dup = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, dup),
            (2, dup),  # exact twin -> zero novelty
            (3, "completely unrelated words about spark shuffle exchanges"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_novelty_scores(docs, n=3).collect()}
    assert out[1]["novelty"] == 0.0 and out[2]["novelty"] == 0.0
    assert out[3]["novelty"] == 1.0
    assert out[3]["n_shared"] == 0 and out[1]["n_shared"] == out[1]["n_grams"]


def test_soft_dedup_weights_planted_clusters(spark):
    # pluggable-evidence soft dedup: any pair table in, every doc out
    # with weight = scale div cluster_size; singletons keep full weight
    from real_estate_project1_etl_spark.operators.dedup import (
        soft_dedup_weights,
    )

    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    # clusters: {0,1,2} (chain), {3,4}; 5 and 6 singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: (r["cluster_size"], r["weight_scaled"])
        for r in soft_dedup_weights(docs, pairs).collect()
    }
    assert got == {
        0: (3, 333333), 1: (3, 333333), 2: (3, 333333),
        3: (2, 500000), 4: (2, 500000),
        5: (1, 1000000), 6: (1, 1000000),
    }
    # expected total corpus weight = one effective copy per cluster
    total = sum(w for _, w in got.values())
    assert total == 333333 * 3 + 500000 * 2 + 1000000 * 2

    # round-10 ADVICE: an exhausted (unconverged) closure must raise —
    # split clusters would silently over-weight their members.  A
    # 6-vertex chain with max_iter=1 and plain label propagation cannot
    # converge in one round.
    import pytest as _pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="without converging"):
        soft_dedup_weights(docs, chain, max_iter=1)


def test_pq_topk_recall_rerank_and_determinism(spark):
    # product quantization on PLANTED clusters (20 centers x 5 noisy
    # copies): quantization error << inter-cluster distance, so both
    # ADC and the exact-rerank tier must retrieve cluster mates.
    # (On i.i.d.-noise embeddings ADC recall is intrinsically poor —
    # neighbor distances concentrate below the quantization error; the
    # operator arithmetic itself is pinned against a python model
    # below and in the oracle query.) L2-ADC ranks like cosine only on
    # UNIT vectors (||a-b||^2 = 2-2cos) — the operator contract.
    import random

    from real_estate_project1_etl_spark.functions.vectors import normalize
    from real_estate_project1_etl_spark.operators.similarity import (
        brute_force_topk,
        fit_pq_codebooks,
        pq_encode,
        pq_topk,
    )

    rng = random.Random(5)
    rows, vid = [], 0
    for _c in range(20):
        base = [rng.gauss(0, 1) for _ in range(64)]
        for _j in range(5):
            rows.append((vid, [x + rng.gauss(0, 0.05) for x in base]))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).select(
        "vec_id", normalize(F.col("embedding")).alias("embedding")
    ).localCheckpoint()
    queries = emb.filter(F.col("vec_id") % 5 == 0).limit(10)
    cb = fit_pq_codebooks(emb, m_subspaces=4, n_codes=16)
    assert cb.count() == 4 * 16

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=4).collect()
    }
    adc = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(emb, queries, cb, k=4).collect()
    }
    rer = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(emb, queries, cb, k=4, rerank_k=20).collect()
    }
    recall_adc = len(exact & adc) / len(exact)
    recall_rer = len(exact & rer) / len(exact)
    assert recall_adc >= 0.9, recall_adc
    assert recall_rer >= recall_adc

    # encoding is a pure function of content (repartition-stable) and
    # matches a python model exactly
    import math

    cbrows = {
        (r["subspace"], r["code"]): r["centroid"] for r in cb.collect()
    }
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }

    def l2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def py_encode(v):
        return [
            min(range(16), key=lambda c: (l2(v[s * 16:(s + 1) * 16],
                                             cbrows[(s, c)]), c))
            for s in range(4)
        ]

    codes_a = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, cb).collect()}
    codes_b = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(emb.repartition(7), cb).collect()
    }
    assert codes_a == codes_b
    assert all(codes_a[v] == py_encode(vecs[v]) for v in vecs)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rerank_k"):
        pq_topk(emb, queries, cb, k=5, rerank_k=3)
    with _pytest.raises(ValueError, match="divisible"):
        fit_pq_codebooks(emb, m_subspaces=7)

    # caller-supplied codebook contract (round-10 ADVICE): a ragged or
    # non-contiguous codebook must raise, not silently read wrong LUT
    # entries (the lookup indexes a flattened m x n_codes array)
    ragged = cb.filter(~((F.col("subspace") == 2) & (F.col("code") == 5)))
    with _pytest.raises(ValueError, match="0..n-1"):
        pq_topk(emb, queries, ragged, k=4)
    shifted = cb.withColumn(
        "code",
        F.when(F.col("subspace") == 1, F.col("code") + 1).otherwise(
            F.col("code")
        ),
    )
    with _pytest.raises(ValueError, match="0..n-1"):
        pq_encode(emb, shifted)
    gap_sub = cb.withColumn(
        "subspace",
        F.when(F.col("subspace") == 3, F.lit(7)).otherwise(F.col("subspace")),
    )
    with _pytest.raises(ValueError, match="0..m-1"):
        pq_encode(emb, gap_sub)


def test_ivfpq_topk_planted_clusters(spark):
    # IVF-PQ end to end on planted clusters: coarse cells prune the
    # scan, residual PQ scores within probed cells, rerank recovers
    # exact order. With cluster noise << inter-cluster distance the
    # pipeline must retrieve cluster mates.
    import random

    from real_estate_project1_etl_spark.functions.vectors import normalize
    from real_estate_project1_etl_spark.operators.similarity import (
        brute_force_topk,
        fit_ivf_centroids,
        fit_pq_codebooks,
        ivfpq_topk,
    )

    rng = random.Random(9)
    rows, vid = [], 0
    for _c in range(20):
        base = [rng.gauss(0, 1) for _ in range(64)]
        for _j in range(5):
            rows.append((vid, [x + rng.gauss(0, 0.05) for x in base]))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).select(
        "vec_id", normalize(F.col("embedding")).alias("embedding")
    ).localCheckpoint()
    queries = emb.filter(F.col("vec_id") % 5 == 0).limit(10)
    cents = fit_ivf_centroids(emb, n_lists=8)
    cb = fit_pq_codebooks(emb, m_subspaces=4, n_codes=16)

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=4).collect()
    }
    adc = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(emb, queries, cents, cb, k=4, n_probe=3).collect()
    }
    rer = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(
            emb, queries, cents, cb, k=4, n_probe=3, rerank_k=20
        ).collect()
    }
    recall_adc = len(exact & adc) / len(exact)
    recall_rer = len(exact & rer) / len(exact)
    assert recall_adc >= 0.8, recall_adc
    assert recall_rer >= recall_adc
    # deterministic across partitionings
    again = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(
            emb.repartition(7), queries, cents, cb, k=4, n_probe=3
        ).collect()
    }
    assert again == adc
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rerank_k"):
        ivfpq_topk(emb, queries, cents, cb, k=5, rerank_k=2)


def test_pq_and_ivfpq_pre_encoded_paths_match(spark):
    # the ingest-time index paths (codes= / encoded=) must produce
    # byte-identical results to the per-call encode
    import random

    from real_estate_project1_etl_spark.functions.vectors import normalize
    from real_estate_project1_etl_spark.operators.similarity import (
        fit_ivf_centroids,
        fit_pq_codebooks,
        ivfpq_encode,
        ivfpq_topk,
        pq_encode,
        pq_topk,
    )

    rng = random.Random(13)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(120)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).select("vec_id", normalize(F.col("embedding")).alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 5)
    cb = fit_pq_codebooks(emb, m_subspaces=4, n_codes=8)
    cents = fit_ivf_centroids(emb, n_lists=4)

    codes = pq_encode(emb, cb).localCheckpoint()
    a = sorted(map(tuple, pq_topk(emb, queries, cb, k=3).collect()))
    b = sorted(map(tuple, pq_topk(emb, queries, cb, k=3, codes=codes).collect()))
    assert a == b

    enc = ivfpq_encode(emb, cents, cb).localCheckpoint()
    c = sorted(map(tuple, ivfpq_topk(emb, queries, cents, cb, k=3, n_probe=2).collect()))
    d = sorted(map(tuple, ivfpq_topk(
        emb, queries, cents, cb, k=3, n_probe=2, encoded=enc
    ).collect()))
    assert c == d


def test_ivfpq_balance_cells_hot_cluster(spark):
    # round-10 verdict item 6: a planted HOT cluster (80% of the corpus
    # in one IVF cell) is a straggler key at cluster scale.
    # ivfpq_balance_cells salts the hot cell into hash sub-cells; the
    # results must be IDENTICAL to the unbalanced index (lossless — the
    # probe side fans out over every sub-cell) while per-(list_id,
    # sub_id) candidate volume is bounded.
    import random

    import pytest as _pytest

    from real_estate_project1_etl_spark.functions.vectors import normalize
    from real_estate_project1_etl_spark.operators.similarity import (
        fit_pq_codebooks,
        ivfpq_balance_cells,
        ivfpq_encode,
        ivfpq_topk,
    )

    rng = random.Random(17)
    hot = [rng.gauss(0, 1) for _ in range(32)]
    cold = [[rng.gauss(0, 1) for _ in range(32)] for _ in range(3)]
    rows = []
    for i in range(500):
        base = hot if i < 400 else cold[i % 3]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in base]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).select(
        "vec_id", normalize(F.col("embedding")).alias("embedding")
    ).localCheckpoint()
    # 4 planted centers as the IVF table -> cell 0 holds ~400 vectors
    cents = spark.createDataFrame(
        [(i, normalize_py(c)) for i, c in enumerate([hot] + cold)],
        "list_id int, centroid array<double>",
    )
    cb = fit_pq_codebooks(emb, m_subspaces=4, n_codes=8)
    queries = emb.filter(F.col("vec_id") % 100 == 1)

    enc = ivfpq_encode(emb, cents, cb).localCheckpoint()
    bal = ivfpq_balance_cells(enc, max_cell_size=64).localCheckpoint()

    # bounded per-key volume: the hot cell split into ceil(pop/64)
    # sub-cells; hash salting is approximately even, so no key may
    # carry more than 2x the cap (w.h.p. under xxhash64)
    per_key = {
        (r["list_id"], r["sub_id"]): r["n"]
        for r in bal.groupBy("list_id", "sub_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    hot_pop = sum(n for (lid, _), n in per_key.items() if lid == 0)
    assert hot_pop >= 350  # the cluster really is hot
    assert len([k for k in per_key if k[0] == 0]) == -(-hot_pop // 64)
    assert max(per_key.values()) <= 128

    # lossless: identical results vs the unbalanced index
    plain = sorted(map(tuple, ivfpq_topk(
        emb, queries, cents, cb, k=4, n_probe=2, encoded=enc
    ).collect()))
    salted = sorted(map(tuple, ivfpq_topk(
        emb, queries, cents, cb, k=4, n_probe=2, encoded=bal
    ).collect()))
    assert plain == salted
    # and with rerank
    plain_r = sorted(map(tuple, ivfpq_topk(
        emb, queries, cents, cb, k=4, n_probe=2, rerank_k=10, encoded=enc
    ).collect()))
    salted_r = sorted(map(tuple, ivfpq_topk(
        emb, queries, cents, cb, k=4, n_probe=2, rerank_k=10, encoded=bal
    ).collect()))
    assert plain_r == salted_r

    with _pytest.raises(ValueError, match="max_cell_size"):
        ivfpq_balance_cells(enc, max_cell_size=0)


def normalize_py(v):
    s = sum(x * x for x in v) ** 0.5
    return [x / s for x in v]


def test_topk_recall_hand_computed(spark):
    from real_estate_project1_etl_spark.operators.similarity import topk_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (2, 22), (3, 30)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        # q1: 2/3 hit; q2: 0/3; q3 missing from approx entirely
        [(1, 10), (1, 12), (1, 99), (2, 98), (2, 97), (2, 96)],
        "query_id long, neighbor_id long",
    )
    got = {
        r["query_id"]: (r["n_exact"], r["n_hits"], r["recall_ppm"])
        for r in topk_recall(exact, approx).collect()
    }
    assert got == {
        1: (3, 2, 666666),
        2: (3, 0, 0),
        3: (1, 0, 0),
    }


def test_topk_recall_mrr_with_ranked_approx(spark):
    from real_estate_project1_etl_spark.operators.similarity import topk_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (3, 30)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        # q1: first true neighbor at approx rank 2; q2: at rank 1;
        # q3: no hits -> NULL rank and NULL mrr
        [(1, 99, 1), (1, 11, 2), (2, 20, 1), (3, 98, 1)],
        "query_id long, neighbor_id long, rank long",
    )
    got = {
        r["query_id"]: (
            r["n_hits"], r["recall_ppm"], r["first_hit_rank"], r["mrr_ppm"]
        )
        for r in topk_recall(exact, approx).collect()
    }
    assert got == {
        1: (1, 500000, 2, 500000),
        2: (1, 1000000, 1, 1000000),
        3: (0, 0, None, None),
    }


def test_topk_recall_rejects_string_rank(spark):
    import pytest

    from real_estate_project1_etl_spark.operators.similarity import topk_recall

    exact = spark.createDataFrame(
        [(1, 10)], "query_id long, neighbor_id long"
    )
    approx = spark.createDataFrame(
        [(1, 10, "2")], "query_id long, neighbor_id long, rank string"
    )
    with pytest.raises(TypeError, match="rank"):
        topk_recall(exact, approx)


def test_kcore_hand_computed_cascade(spark):
    import pytest

    from real_estate_project1_etl_spark.operators.graph import kcore

    # triangle {1,2,3} with a chain 3-4-5-6 hanging off it: the 2-core
    # is exactly the triangle, and the chain peels one node per round
    # (6 first, then 5, then 4) — a genuine multi-round cascade
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)],
        "a long, b long",
    )
    st = {}
    got = {
        r["id"]: r["core_deg"] for r in kcore(edges, 2, _stats=st).collect()
    }
    assert got == {1: 2, 2: 2, 3: 2}
    assert st["converged"] and st["rounds"] == 3

    # a path has no 2-core: peels to empty
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a long, b long")
    assert kcore(path, 2).count() == 0

    # k=1 keeps every non-isolated node at its full degree
    got1 = {r["id"]: r["core_deg"] for r in kcore(path, 1).collect()}
    assert got1 == {1: 1, 2: 2, 3: 2, 4: 1}

    with pytest.raises(ValueError, match="k must be"):
        kcore(path, 0)


def test_kcore_max_iter_superset(spark):
    from real_estate_project1_etl_spark.operators.graph import kcore

    # chain 1-2-3-4-5: k=2 needs multiple peel rounds; max_iter=1 stops
    # early -> result is a SUPERSET of the (empty) 2-core, flagged
    # unconverged
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "a long, b long"
    )
    st = {}
    early = kcore(chain, 2, max_iter=1, _stats=st)
    assert not st["converged"]
    assert early.count() >= 0  # superset, never raises
    st2 = {}
    assert kcore(chain, 2, _stats=st2).count() == 0
    assert st2["converged"]


def test_fuzz_kcore_matches_python_model(spark):
    import random

    from real_estate_project1_etl_spark.operators.graph import kcore

    def py_kcore(pairs, k):
        adj = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for n in [n for n, nb in adj.items() if len(nb) < k]:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
        return {n: len(nb) for n, nb in adj.items()}

    rng = random.Random(1223)
    for trial in range(2):
        # kept small: the peel loop is driver-action-bound (one action
        # per round), and sparse random graphs cascade ~1 node/round
        n_nodes = rng.randint(5, 12)
        n_edges = rng.randint(4, 22)
        pairs = set()
        while len(pairs) < n_edges:
            a, b = rng.randint(0, n_nodes), rng.randint(0, n_nodes)
            if a != b:
                pairs.add((min(a, b), max(a, b)))
        k = rng.randint(2, 3)
        df = spark.createDataFrame(sorted(pairs), "a long, b long")
        got = {r["id"]: r["core_deg"] for r in kcore(df, k).collect()}
        want = py_kcore(pairs, k)
        assert got == want, (trial, k, sorted(pairs), got, want)
