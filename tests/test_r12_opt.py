"""Optimization-round regression pins: every rewrite here must be
result-identical to the shape it replaced — these tests hold the
equivalence arguments to executable account."""

import math

import pytest
from pyspark.sql import functions as F

from parkour_spark.operators.dedup import jaccard_verify


def _naive_jaccard_pairs(docs, cands, threshold, ngram_n=1):
    """Pure-Python replica of jaccard_verify's contract (pre-rewrite
    shape: size(intersect)/size(union), filter raw, round 4)."""
    import itertools

    feats = {}
    for i, text in docs:
        toks = [t for t in text.lower().split() if t]
        if ngram_n <= 1:
            fs = list(dict.fromkeys(toks))
        else:
            fs = list(
                dict.fromkeys(
                    " ".join(toks[j : j + ngram_n])
                    for j in range(max(len(toks) - ngram_n + 1, 1))
                )
            )
        feats[i] = set(fs)
    out = []
    for a, b in cands:
        inter = len(feats[a] & feats[b])
        union = len(feats[a] | feats[b])
        jac = inter / union
        if jac >= threshold:
            out.append((a, b, round(jac, 4)))
    return sorted(out)


def test_guarded_jaccard_matches_naive_replica(spark):
    """The length-pruned |A|+|B|−|A∩B| rewrite (r12 optimization) must
    keep jaccard_verify row- and score-identical, including pairs at
    the exact threshold boundary (J = 4/5 with t = 0.8) and pairs the
    length prune fires on (size ratio < t)."""
    docs = [
        # J = 4/5 exactly (sizes 5 and 4 sharing 4): the threshold
        # boundary AND the length-prune boundary (min/max = 4/5 = t),
        # which the rounded-division argument must keep
        (1, "a b c d e"),
        (2, "a b c d"),
        # length-pruned pair: 2 vs 10 tokens (ratio 0.2 < 0.8)
        (3, "a b"),
        (4, "a b g h i j k l m n"),
        # identical pair (J = 1)
        (5, "x y z"),
        (6, "x y z"),
        # just-under pair: 3 of 5 (0.6)
        (7, "p q r s t"),
        (8, "p q r u v"),
    ]
    cands = [(1, 2), (3, 4), (5, 6), (7, 8)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    cand_df = spark.createDataFrame(cands, "id_a int, id_b int")
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_verify(
            cand_df, df, threshold=0.8, ngram_n=1
        ).collect()
    )
    want = _naive_jaccard_pairs(docs, cands, 0.8, ngram_n=1)
    assert got == want
    # the boundary pair must be IN (J exactly 0.8) and the pruned /
    # sub-threshold pairs OUT
    assert (1, 2, 0.8) in got
    assert all(p[0] not in (3, 7) for p in got)
    spark.catalog.clearCache()


def test_cc_union_round_identity(spark):
    """The fused union+aggregate CC round (r12) must keep the
    least(own, min(neighbors)) semantics: isolated nodes stay their own
    component, empty edge sets converge in one observed round (the
    count-on-empty-frame path), string ids propagate, and out-of-node
    edge endpoints stay excluded (the one-time membership semi-join)."""
    from parkour_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("z",)], "id string")
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("c", "ghost")], "id_a string, id_b string"
    )
    got = {
        (r["n"], r["component"])
        for r in connected_components(nodes, edges).collect()
    }
    # ghost is not a node: its edge may not add it to the output, and
    # c still reaches a through b
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("z", "z")}
    empty = spark.createDataFrame([], "id_a string, id_b string")
    got2 = {
        (r["n"], r["component"])
        for r in connected_components(nodes, empty).collect()
    }
    assert got2 == {(n, n) for n in ("a", "b", "c", "z")}


def test_lpa_argmax_matches_window_semantics(spark):
    """The min(struct(-cnt, lbl)) argmax (r12) must reproduce the
    former (count DESC, label ASC) row_number choice, including the
    all-ties case where the smallest label wins."""
    from parkour_spark.operators.graph import label_propagation

    # triangle {1,2,3} + pendant 4 on 3, isolated 9: after round 1
    # every triangle member sees votes {self} ∪ neighbors — all counts
    # 1 ⇒ smallest label wins everywhere
    nodes = spark.createDataFrame([(1,), (2,), (3,), (4,), (9,)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long"
    )
    got = {
        (r["id"], r["label"])
        for r in label_propagation(nodes, edges, rounds=2).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (9, 9)}


def test_winnow_arrow_matches_expression(spark):
    """The vectorized winnow core must be element-identical to the
    winnow_select_pos / winnow_select expressions over kgram_hashes —
    including short rows (n <= w), duplicate window minima
    (first-occurrence tie: a two-letter alphabet with k=2 repeats grams
    constantly), null and empty text, and the value-distinct ordering
    of the positions=False variant."""
    import random

    from column_reference import kgram_hashes, winnow_select, winnow_select_pos
    from pyspark.sql import functions as F

    from parkour_spark.functions.text import winnow_text_arrow

    rng = random.Random(7)
    rows = [(0, "a"), (1, "aaaa"), (2, "abcdefghijklmnopqrstu"), (3, None), (99, "")]
    for i in range(4, 40):
        n = rng.randint(1, 60)
        rows.append((i, "".join(rng.choice("ab") for _ in range(n))))  # many ties
    df = spark.createDataFrame(rows, "doc_id long, t string")
    k = 2
    grams = df.select("doc_id", kgram_hashes("t", k=k).alias("g"))
    for w in (3, 8):
        expr_pos = grams.select(
            "doc_id", F.to_json(winnow_select_pos(F.col("g"), w=w)).alias("j")
        ).collect()
        arrow_pos = winnow_text_arrow(df, "doc_id", "t", k=k, w=w, out="f").select(
            "doc_id", F.to_json("f").alias("j")
        ).collect()
        assert sorted((r.doc_id, r.j) for r in expr_pos) == sorted(
            (r.doc_id, r.j) for r in arrow_pos
        ), f"positions variant diverged at w={w}"
        expr_val = grams.select(
            "doc_id", F.to_json(winnow_select(F.col("g"), w=w)).alias("j")
        ).collect()
        arrow_val = winnow_text_arrow(
            df, "doc_id", "t", k=k, w=w, out="f", positions=False
        ).select("doc_id", F.to_json("f").alias("j")).collect()
        assert sorted((r.doc_id, r.j) for r in expr_val) == sorted(
            (r.doc_id, r.j) for r in arrow_val
        ), f"values variant diverged at w={w}"


def test_guarded_jaccard_random_corpora(spark):
    """Randomized differential check on 3-gram shingles (the production
    parameterization) across a spread of lengths and overlaps."""
    import random

    rng = random.Random(12012)
    vocab = [f"w{i}" for i in range(50)]
    docs = []
    for i in range(40):
        n = rng.randint(1, 30)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # near-dup clones with small edits
    for i in range(40, 60):
        base = docs[i - 40][1].split()
        if base and rng.random() < 0.7:
            base[rng.randrange(len(base))] = rng.choice(vocab)
        docs.append((i, " ".join(base) if base else "w0"))
    cands = [(a, b) for a in range(60) for b in range(a + 1, 60) if rng.random() < 0.08]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    cand_df = spark.createDataFrame(cands, "id_a int, id_b int")
    for thr in (0.5, 0.8):
        got = sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in jaccard_verify(cand_df, df, threshold=thr, ngram_n=3).collect()
        )
        want = _naive_jaccard_pairs(docs, cands, thr, ngram_n=3)
        assert got == want, f"threshold {thr}: {got} != {want}"
        spark.catalog.clearCache()
