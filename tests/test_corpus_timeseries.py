"""Unit tests for the corpus-statistics, time-series, and graph-centrality
operators (round 2c): semantics on planted inputs, determinism under
repartitioning, and scale-shape invariants the oracle diff can't see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_estate_project1_etl_spark.operators.corpus import (
    bigram_pmi,
    bm25_topk,
    remove_induced_stopwords,
)
from real_estate_project1_etl_spark.operators.graph import (
    copurchase_edges,
    pagerank_fixed,
)
from real_estate_project1_etl_spark.operators.timeseries import (
    event_transitions,
    hourly_gap_fill_ffill,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


# --------------------------------------------------------------------- corpus


def test_induced_stopwords_removed_and_empty_docs_kept(spark):
    # "the" occurs in 3/4 docs (75% > 60%) -> removed; "rare" stays.
    docs = _docs(
        spark,
        ["the rare word", "the other thing", "the thing again", "unrelated text"],
    )
    out = {
        r["doc_id"]: r
        for r in remove_induced_stopwords(docs, threshold_pct=60).collect()
    }
    assert len(out) == 4
    assert "the" not in out[0]["kept_text"].split()
    assert "rare" in out[0]["kept_text"].split()
    # a doc made entirely of stopwords keeps its row with empty text
    all_stop = _docs(spark, ["the", "the", "the", "x"])
    rows = {
        r["doc_id"]: r
        for r in remove_induced_stopwords(all_stop, threshold_pct=60).collect()
    }
    assert rows[0]["kept_text"] == "" and rows[0]["n_kept"] == 0


def test_induced_stopwords_preserve_token_order(spark):
    docs = _docs(spark, ["zz a yy a xx", "a b", "a c", "a d"])
    out = remove_induced_stopwords(docs, threshold_pct=90).collect()
    r0 = [r for r in out if r["doc_id"] == 0][0]
    # "a" appears in 4/4 docs -> removed; the rest keep original order
    assert r0["kept_text"] == "zz yy xx"


def test_bm25_prefers_more_matching_terms(spark):
    filler = "filler " * 30
    docs = _docs(
        spark,
        [
            filler + "spark join window stream",  # all 4 query terms
            filler + "spark join",  # 2 terms
            filler + "spark",  # 1 term
            filler.strip(),  # 0 terms -> no row
        ],
    )
    out = bm25_topk(docs, ["spark", "join", "window", "stream"], k=10).collect()
    ranks = {r["doc_id"]: r["rank"] for r in out}
    assert set(ranks) == {0, 1, 2}  # non-matching doc absent
    assert ranks[0] == 1 and ranks[1] == 2 and ranks[2] == 3
    scores = {r["doc_id"]: r["score_scaled"] for r in out}
    assert scores[0] > scores[1] > scores[2] > 0


def test_bm25_length_normalization(spark):
    # same tf, much longer doc -> lower score (the b*dl/avgdl penalty)
    docs = _docs(
        spark,
        ["spark " + "pad " * 5, "spark " + "pad " * 200, "x", "y"],
    )
    out = {r["doc_id"]: r["score_scaled"] for r in bm25_topk(docs, ["spark"], k=10).collect()}
    assert out[0] > out[1]


def test_bigram_pmi_planted_collocation_beats_chance(spark):
    # "new york" always adjacent; "alpha"/"beta" frequent but independent
    corpus = []
    for i in range(20):
        corpus.append(f"alpha x{i} beta new york alpha y{i} beta")
    docs = _docs(spark, corpus)
    out = {(r["w1"], r["w2"]): r["pmi_scaled"] for r in bigram_pmi(docs, min_count=5).collect()}
    assert ("new", "york") in out
    # chance-level pair (if present at min_count) must score below the
    # deterministic collocation
    for pair, v in out.items():
        if pair != ("new", "york"):
            assert out[("new", "york")] >= v


def test_bigram_pmi_deterministic_under_repartition(spark):
    docs = _docs(spark, [f"a b c d e f g h a b w{i}" for i in range(10)])
    a = sorted(map(tuple, bigram_pmi(docs, 2).collect()))
    b = sorted(map(tuple, bigram_pmi(docs.repartition(7), 2).collect()))
    assert a == b


# ---------------------------------------------------------------- timeseries


def test_hourly_gap_fill_fills_forward(spark):
    ev = spark.createDataFrame(
        [
            (1, 7, "2024-01-01 00:10:00", 10.0),
            (2, 7, "2024-01-01 00:20:00", 5.0),
            (3, 7, "2024-01-01 03:05:00", 2.0),  # 2-hour gap before this
        ],
        "event_id long, user_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = sorted(
        hourly_gap_fill_ffill(ev).collect(), key=lambda r: r["hour"]
    )
    assert [r["hour"][11:13] for r in rows] == ["00", "01", "02", "03"]
    assert [r["filled_value"] for r in rows] == [15.0, 15.0, 15.0, 2.0]
    assert [r["is_observed"] for r in rows] == [True, False, False, True]


def test_hourly_gap_fill_spine_is_per_key(spark):
    # key 1 spans 1 hour, key 2 spans 3 — no global-calendar blowup
    ev = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 00:00:00", 1.0),
            (2, 2, "2024-01-01 00:00:00", 1.0),
            (3, 2, "2024-01-01 02:00:00", 1.0),
        ],
        "event_id long, user_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = hourly_gap_fill_ffill(ev)
    assert out.filter(F.col("user_id") == 1).count() == 1
    assert out.filter(F.col("user_id") == 2).count() == 3


def test_event_transitions_counts(spark):
    ev = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 00:00:01", "view"),
            (2, 1, "2024-01-01 00:00:02", "click"),
            (3, 1, "2024-01-01 00:00:03", "view"),
            (4, 2, "2024-01-01 00:00:01", "view"),
            (5, 2, "2024-01-01 00:00:02", "click"),
        ],
        "event_id long, user_id long, ts string, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in event_transitions(ev).collect()
    }
    assert out == {("view", "click"): 2, ("click", "view"): 1}


def test_event_transitions_tiebreak_on_event_id(spark):
    # equal timestamps: order must follow event_id, not partition luck
    ev = spark.createDataFrame(
        [
            (10, 1, "2024-01-01 00:00:00", "a"),
            (11, 1, "2024-01-01 00:00:00", "b"),
            (12, 1, "2024-01-01 00:00:00", "c"),
        ],
        "event_id long, user_id long, ts string, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (r["from_type"], r["to_type"]) for r in event_transitions(ev).collect()
    }
    assert out == {("a", "b"), ("b", "c")}


# --------------------------------------------------------------------- graph


def test_pagerank_star_hub_dominates(spark):
    # star: 0 at the center of 1..6 — hub must outrank every leaf
    edges = spark.createDataFrame([(0, i) for i in range(1, 7)], "a long, b long")
    pr = {r["id"]: r["pr_scaled"] for r in pagerank_fixed(edges, iters=3).collect()}
    assert all(pr[0] > pr[i] for i in range(1, 7))
    # leaves are symmetric -> identical scores
    assert len({pr[i] for i in range(1, 7)}) == 1
    # floor-division mass loss only: total <= scale, within N ulps per iter
    assert 0 < sum(pr.values()) <= 10**9


def test_pagerank_deterministic_under_repartition(spark):
    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 20) for i in range(40)], "a long, b long"
    ).filter(F.col("a") != F.col("b"))
    a = sorted(map(tuple, pagerank_fixed(edges, iters=3).collect()))
    b = sorted(map(tuple, pagerank_fixed(edges.repartition(11), iters=3).collect()))
    assert a == b


def test_copurchase_edges_within_order_only(spark):
    li = spark.createDataFrame(
        [(1, 100), (1, 200), (1, 100), (2, 200), (2, 300), (3, 400)],
        "l_orderkey long, l_partkey long",
    )
    edges = {(r["a"], r["b"]) for r in copurchase_edges(li).collect()}
    # dup (1,100) collapses; orders never cross; singleton order 3 emits none
    assert edges == {(100, 200), (200, 300)}


# ------------------------------------------------------- basket / graph 2


def test_association_rules_hand_computed(spark):
    from real_estate_project1_etl_spark.operators.basket import association_rules

    # 4 orders: {1,2} x3, {1,3} x1  -> pair (1,2) qualifies (c=3)
    rows = [(10, 1), (10, 2), (11, 1), (11, 2), (12, 1), (12, 2), (13, 1), (13, 3)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = {
        (r["antecedent"], r["consequent"]): r
        for r in association_rules(li, min_pair_orders=2).collect()
    }
    assert set(out) == {(1, 2), (2, 1)}
    r12 = out[(1, 2)]
    # support = 3/4, conf(1->2) = 3/4, lift = (3*4)/(4*3) = 1.0
    assert r12["support_scaled"] == 750000
    assert r12["confidence_scaled"] == 750000
    assert r12["lift_scaled"] == 1000000
    # conf(2->1) = 3/3 = 1.0
    assert out[(2, 1)]["confidence_scaled"] == 1000000


def test_triangle_participation_counts(spark):
    from real_estate_project1_etl_spark.operators.graph import triangle_participation

    # triangle 1-2-3 plus pendant 3-4 (no triangle for 4)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "a long, b long"
    )
    out = {r["id"]: r["n_tri"] for r in triangle_participation(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1}
    # two triangles sharing edge 1-2: vertex 1 and 2 in both
    edges2 = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (2, 4), (1, 4)], "a long, b long"
    )
    out2 = {r["id"]: r["n_tri"] for r in triangle_participation(edges2).collect()}
    assert out2 == {1: 2, 2: 2, 3: 1, 4: 1}


def test_nhop_min_distance_chain_and_cap(spark):
    from real_estate_project1_etl_spark.operators.graph import nhop_min_distance

    # chain 0-1-2-3-4-5: from seed {0}, 3 hops reaches up to vertex 3
    edges = spark.createDataFrame([(i, i + 1) for i in range(5)], "a long, b long")
    seeds = spark.createDataFrame([(0,)], "id long")
    out = {r["id"]: r["dist"] for r in nhop_min_distance(edges, seeds, hops=3).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 3}
    # a shortcut edge lowers the distance (min over paths, not first-found)
    edges2 = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(0, 3)], "a long, b long"
    )
    out2 = {r["id"]: r["dist"] for r in nhop_min_distance(edges2, seeds, hops=3).collect()}
    assert out2[3] == 1 and out2[4] == 2 and out2[5] == 3


def test_triangle_hub_skew_bounded(spark):
    from real_estate_project1_etl_spark.operators.graph import triangle_participation

    # planted hub with the LOWEST id: an id-ordered enumeration would
    # generate all (neighbor choose 2) wedges from the hub (~2M here,
    # quadratic in hub degree); degree-ordering points every hub edge
    # INTO the hub, so hub out-degree ~ 0 and the work stays linear.
    n_leaves = 2000
    hub = [(0, i) for i in range(1, n_leaves + 1)]
    ring = [(i, i + 1) for i in range(1, n_leaves)]  # leaf ring -> triangles
    edges = spark.createDataFrame(hub + ring, "a long, b long")
    out = {r["id"]: r["n_tri"] for r in triangle_participation(edges).collect()}
    # each ring edge (i, i+1) closes a triangle with the hub
    assert out[0] == n_leaves - 1
    assert out[1] == 1 and out[2] == 2 and out[n_leaves] == 1
    assert sum(out.values()) == 3 * (n_leaves - 1)


def test_bigram_coverage_discriminates_fluent_from_gibberish(spark):
    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.corpus import bigram_coverage

    # corpus: many docs share the phrase inventory; one doc is unique noise
    common = "the quick brown fox jumps over the lazy dog"
    rows = [(i, common) for i in range(10)]
    rows.append((99, "zxq wvu tsr qpo nml kji"))
    rows.append((100, ""))  # degenerate: no bigrams
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in bigram_coverage(df, min_count=3).collect()}
    assert out[0].coverage == 1.0          # every bigram appears 10x
    assert out[99].coverage == 0.0         # unique bigrams never common
    assert out[100].n_bigrams == 0 and out[100].coverage == 0.0
    # n_bigrams is occurrences: len(words)-1
    assert out[0].n_bigrams == len(common.split()) - 1


def test_remove_frequent_lines_preserves_order(spark):
    from real_estate_project1_etl_spark.operators.corpus import (
        remove_frequent_lines,
    )

    rows = [
        (i, "\n".join(
            (["cookie banner"] if i % 2 == 0 else [])
            + [f"body {i} alpha", f"body {i} beta"]
            + ["footer rights"]
        ))
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = remove_frequent_lines(df, min_df=3).orderBy("doc_id").collect()
    r0 = out[0]
    # both frequent lines removed, body order preserved
    assert r0["clean_text"] == "body 0 alpha\nbody 0 beta"
    assert r0["n_kept"] == 2 and r0["n_removed"] == 2
    # odd docs never had the banner
    assert out[1]["n_removed"] == 1


def test_remove_frequent_lines_all_boilerplate_doc_kept_empty(spark):
    from real_estate_project1_etl_spark.operators.corpus import (
        remove_frequent_lines,
    )

    df = spark.createDataFrame(
        [(i, "same line") for i in range(4)] + [(9, "unique content")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_frequent_lines(df, min_df=3).collect()
    }
    assert out[0]["clean_text"] == "" and out[0]["n_kept"] == 0
    assert out[9]["clean_text"] == "unique content" and out[9]["n_removed"] == 0
    # no frequent set at a higher threshold -> everything survives
    out2 = {
        r["doc_id"]: r["clean_text"]
        for r in remove_frequent_lines(df, min_df=99).collect()
    }
    assert out2[0] == "same line"


def test_remove_frequent_lines_inline_plan_never_shuffles_text(spark):
    # the 100 TB contract of the default strategy: the document text
    # reaches no Exchange — only 60-bit line digests shuffle (df agg),
    # and the rewrite happens in the scan stage via a higher-order
    # function after a single-row broadcast of the frequent set.
    from real_estate_project1_etl_spark.operators.corpus import (
        remove_frequent_lines,
    )

    df = spark.createDataFrame(
        [(i, f"common line\nbody {i}") for i in range(6)],
        "doc_id long, text string",
    )
    out = remove_frequent_lines(df, min_df=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re as _re

    for m in _re.finditer(r"Exchange [^\n]*", plan):
        assert "text" not in m.group(0), m.group(0)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_bigram_lm_scores_hand_computed(spark):
    # corpus: "a b a b" + "a b c" + "x" (no bigrams) + "" (empty)
    # unigrams: a:3 b:3 c:1 x:1 ('' from the empty doc adds '' once)
    from real_estate_project1_etl_spark.operators.corpus import (
        bigram_lm_scores,
    )

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c"), (2, "x"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    # vocabulary: a,b,c,x,'' -> V=5; counts: a=3,b=3,c=1,x=1,''=1
    # bigram counts: (a,b)=3, (b,a)=1, (b,c)=1
    V, S = 5, 1_000_000
    p_ab = (3 + 1) * S // (3 + V)   # c12=3, c1(a)=3
    p_ba = (1 + 1) * S // (3 + V)   # c12=1, c1(b)=3
    p_bc = (1 + 1) * S // (3 + V)
    d0 = (2 * p_ab + 1 * p_ba) // 3      # bigrams: ab, ba, ab
    d1 = (p_ab + p_bc) // 2
    assert out[0]["n_bigrams"] == 3 and out[0]["lm_score"] == d0
    assert out[1]["n_bigrams"] == 2 and out[1]["lm_score"] == d1
    assert out[2]["n_bigrams"] == 0 and out[2]["lm_score"] is None
    assert out[3]["n_bigrams"] == 0 and out[3]["lm_score"] is None
    # the gibberish-flags-low property: a shuffled/unseen-pair doc scores
    # below a fluent one under the same model
    assert d0 > 0 and d1 > 0 and d0 > d1


def test_trigram_lm_beats_bigram_on_bigram_preserving_shuffle(spark):
    # round-9 verdict item 6: the adversarial case a bigram gate provably
    # cannot catch — a word order with the IDENTICAL bigram multiset but
    # scrambled trigrams (Eulerian reorder around hub word 'a'). The
    # bigram gate must score fluent and adversarial docs EXACTLY equal;
    # the trigram backoff gate must separate them.
    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.corpus import (
        bigram_lm_scores,
        trigram_lm_scores,
    )

    fluent = "a b a c a d a e"       # bigrams: ab ba ac ca ad da ae
    adversarial = "a b a d a c a e"  # same multiset, different trigrams
    rows = [(i, fluent) for i in range(50)]
    rows += [(100, adversarial), (101, adversarial)]
    rows.append((200, "a b"))  # < 3 words: n_trigrams 0, NULL score
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    bscores = {
        r["doc_id"]: r["lm_score"]
        for r in bigram_lm_scores(docs).collect()
    }
    assert bscores[0] == bscores[100]  # bigram gate is blind to this

    tscores = {
        r["doc_id"]: (r["lm3_score"], r["n_trigrams"])
        for r in trigram_lm_scores(docs, min_count3=3).collect()
    }
    assert tscores[200] == (None, 0)
    fluent_score = tscores[0][0]
    adv_score = tscores[100][0]
    # pruning (count 2 < min_count3=3) forces the adversarial-only
    # trigrams through the 0.4-weighted bigram backoff; the 3 shared
    # trigrams (aba/aca/ada) still score ~1.0, so the doc mean lands
    # near (3*1.0 + 3*0.1)/6 ~ 0.55 vs fluent ~0.98 — assert the margin
    assert adv_score < fluent_score * 7 // 10, (fluent_score, adv_score)
    assert tscores[100] == tscores[101]  # deterministic


def test_trigram_lm_validates_cutoffs(spark):
    import pytest as _pytest

    from real_estate_project1_etl_spark.operators.corpus import (
        trigram_lm_scores,
    )

    docs = spark.createDataFrame([(0, "x y z")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        trigram_lm_scores(docs, min_count3=0)
    with _pytest.raises(ValueError):
        trigram_lm_scores(docs, min_count2=0)


def test_fuzz_bigram_coverage_matches_python_model(spark):
    # round-11 hash-keyed rewrite: differential check vs a true-string
    # python model on random corpora incl. empty/one-word/messy docs
    import random
    import re as _re
    from collections import Counter

    from real_estate_project1_etl_spark.operators.corpus import bigram_coverage

    rng = random.Random(2311)
    vocab = ["aa", "b", "ccc", "dd", "e"]
    texts = [(0, ""), (1, "solo"), (2, "  aa   b  ")]
    for i in range(3, 28):
        texts.append(
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25))))
        )

    def bigrams(t):
        w = _re.sub(r"\s+", " ", t).strip().lower().split(" ")
        return [f"{a} {b}" for a, b in zip(w, w[1:])]

    cnt: Counter = Counter()
    for _, t in texts:
        cnt.update(bigrams(t))
    want = {}
    for i, t in texts:
        bgs = bigrams(t)
        cov = sum(1 for g in bgs if cnt[g] >= 3)
        want[i] = (len(bgs), cov, cov / len(bgs) if bgs else 0.0)

    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["n_covered"], r["coverage"])
        for r in bigram_coverage(df, min_count=3).collect()
    }
    assert got == want, {d: (got[d], want[d]) for d in want if got[d] != want[d]}


# ------------------------------------------------------ label propagation


def _lpa_model(edges, iters=3):
    # python mirror: sync LPA, neighbor votes + self-vote, min-label ties
    from collections import defaultdict

    und = set()
    for a, b in edges:
        und.add((a, b))
        und.add((b, a))
    verts = {a for a, _ in und}
    lab = {v: v for v in verts}
    for _ in range(iters):
        votes = defaultdict(lambda: defaultdict(int))
        for a, b in und:
            votes[b][lab[a]] += 1
        for v in verts:
            votes[v][lab[v]] += 1
        lab = {
            v: min(
                (l for l in votes[v]),
                key=lambda l: (-votes[v][l], l),
            )
            for v in verts
        }
    return lab


def test_lpa_two_cliques_with_bridge(spark):
    from real_estate_project1_etl_spark.operators.graph import (
        label_propagation_fixed,
    )

    clique1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    clique2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = clique1 + clique2 + [(4, 10)]  # one bridge
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    got = {
        r.id: (r.community, r.community_size)
        for r in label_propagation_fixed(df, iters=3).collect()
    }
    # each clique collapses to its own min-id community
    assert {got[v][0] for v in (1, 2, 3)} == {1}
    assert {got[v][0] for v in (11, 12, 13)} == {10}
    want = _lpa_model(edges)
    assert {v: c for v, (c, _) in got.items()} == want


def test_lpa_python_model_parity_random_graph(spark):
    import random

    from real_estate_project1_etl_spark.operators.graph import (
        label_propagation_fixed,
    )

    rng = random.Random(7)
    edges = list(
        {
            tuple(sorted(rng.sample(range(40), 2)))
            for _ in range(120)
        }
    )
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    got = {
        r.id: r.community
        for r in label_propagation_fixed(df, iters=3).collect()
    }
    assert got == _lpa_model(edges)


def test_lpa_deterministic_under_repartition(spark):
    from real_estate_project1_etl_spark.operators.graph import (
        label_propagation_fixed,
    )

    edges = [(i, (i * 3 + 1) % 30) for i in range(30) if i != (i * 3 + 1) % 30]
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    a = sorted(map(tuple, label_propagation_fixed(df, iters=3).collect()))
    b = sorted(
        map(
            tuple,
            label_propagation_fixed(df.repartition(13), iters=3).collect(),
        )
    )
    assert a == b


# ----------------------------------------------------------------- SCD2


def test_scd2_runs_and_tiling(spark):
    from datetime import datetime

    from real_estate_project1_etl_spark.operators.snapshots import (
        scd2_history,
    )

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        (1, "A", t(0), 10),
        (1, "A", t(1), 11),
        (1, "B", t(2), 12),
        (1, "A", t(3), 13),  # A again -> NEW version, not merged
        (2, "X", t(0), 20),
    ]
    df = spark.createDataFrame(
        rows, "k int, attr string, ts timestamp, eid int"
    )
    got = sorted(
        (r.k, r.version, r.attr, r.valid_from, r.valid_to,
         r.n_events, r.is_current)
        for r in scd2_history(df, "k", "attr", "ts", "eid").collect()
    )
    assert got == [
        (1, 1, "A", t(0), t(2), 2, False),
        (1, 2, "B", t(2), t(3), 1, False),
        (1, 3, "A", t(3), None, 1, True),
        (2, 1, "X", t(0), None, 1, True),
    ]
    # half-open tiling: each version's valid_to == next's valid_from
    k1 = [g for g in got if g[0] == 1]
    for prev, nxt in zip(k1, k1[1:]):
        assert prev[4] == nxt[3]


def test_scd2_equal_ts_uses_tiebreak_and_null_attr_opens_run(spark):
    from datetime import datetime

    from real_estate_project1_etl_spark.operators.snapshots import (
        scd2_history,
    )

    t0 = datetime(2024, 1, 1)
    rows = [(1, None, t0, 1), (1, None, t0, 2), (1, "B", t0, 3)]
    df = spark.createDataFrame(
        rows, "k int, attr string, ts timestamp, eid int"
    )
    got = sorted(
        (r.version, r.attr, r.n_events)
        for r in scd2_history(df, "k", "attr", "ts", "eid").collect()
    )
    # first run: the two NULL attrs (row 1 opens it; NULL==NULL merges),
    # second run: B — ordered by the eid tiebreak at one timestamp
    assert got == [(1, None, 2), (2, "B", 1)]


# ------------------------------------------------------------- TextRank


def test_word_cooccurrence_edges_window2(spark):
    from real_estate_project1_etl_spark.operators.graph import (
        word_cooccurrence_edges,
    )

    df = spark.createDataFrame(
        [("a b c b",), ("x  y",)], "text string"
    )
    got = {
        (r.a, r.b) for r in word_cooccurrence_edges(df, "text").collect()
    }
    # d=1: (a,b) (b,c) (b,c) ; d=2: (a,c) (b,b self-dropped) ; doc2: (x,y)
    assert got == {("a", "b"), ("b", "c"), ("a", "c"), ("x", "y")}


def test_textrank_hub_word_ranks_first(spark):
    from real_estate_project1_etl_spark.operators.graph import (
        pagerank_fixed,
        word_cooccurrence_edges,
    )

    # "hub" co-occurs with every filler word; fillers only with hub
    docs = [(f"hub w{i}",) for i in range(12)]
    df = spark.createDataFrame(docs, "text string")
    pr = {
        r.id: r.pr_scaled
        for r in pagerank_fixed(
            word_cooccurrence_edges(df, "text"), iters=3
        ).collect()
    }
    assert max(pr, key=pr.get) == "hub"


# ----------------------------------------------------------- Kaplan-Meier


def test_km_life_table_textbook_example(spark):
    # classic toy: durations (event=1 unless censored)
    # subjects: 3(d) 5(c) 7(d) 7(d) 9(c) 11(d)
    from real_estate_project1_etl_spark.operators.timeseries import (
        km_life_table,
    )

    rows = [(3, 1), (5, 0), (7, 1), (7, 1), (9, 0), (11, 1)]
    df = spark.createDataFrame(rows, "t_days int, d int")
    got = {
        r.t: (r.n_risk, r.d_events, r.censored, r.hazard_ppm)
        for r in km_life_table(df, "t_days", "d").collect()
    }
    assert got == {
        3: (6, 1, 0, 1000000 // 6),
        5: (5, 0, 1, 0),
        7: (4, 2, 0, 500000),
        9: (2, 0, 1, 0),
        11: (1, 1, 0, 1000000),
    }


def test_km_at_risk_counts_invariant(spark):
    # n_risk at the smallest duration equals the cohort size, and
    # n_risk(t) - (d+c)(t) == n_risk(next t) — the life-table identity
    from real_estate_project1_etl_spark.operators.timeseries import (
        km_life_table,
    )

    rows = [((i * 7) % 13, (i % 3) > 0) for i in range(60)]
    df = spark.createDataFrame(
        [(t, int(d)) for t, d in rows], "t_days int, d int"
    )
    lt = sorted(
        (r.t, r.n_risk, r.d_events, r.censored)
        for r in km_life_table(df, "t_days", "d").collect()
    )
    assert lt[0][1] == 60
    for (t0, n0, d0, c0), (t1, n1, _, _) in zip(lt, lt[1:]):
        assert n0 - d0 - c0 == n1
