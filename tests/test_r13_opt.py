"""Round-13 optimization equivalence pins.

Every r13 rewrite must be RESULT-IDENTICAL; each test pins one rewrite
differentially against the pre-r13 formulation (kept as a pure-Column
reference in tests/column_reference.py) or a brute-force replica."""

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


EDGE_TEXTS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, ""),            # empty -> one md5("") shingle/gram
    (4, "   "),         # whitespace-only -> empty token list
    (5, "one"),         # short doc -> single shingle
    (6, None),          # null text
    (7, "café naïve résumé café"),  # non-ASCII (UTF-8 multi-byte)
    (8, "a b a b a b a b a b"),     # tie-heavy
    (9, "x" * 200),     # long run, no spaces
]


def test_minhash_arrow_equals_column_edges(spark):
    """The mapInArrow signature path (r13) is value-identical to the
    Column expression path on every edge class, incl. the empty-array
    (sig = P) and null-array (sig = null) contracts."""
    from column_reference import minhash_signature_column

    from parkour_spark.operators.dedup import minhash_signature

    df = _docs(spark, EDGE_TEXTS)
    for ngram_n in (3, 1):
        a = [
            r.asDict()
            for r in minhash_signature(
                df, "text", "doc_id", 12, ngram_n
            ).orderBy("doc_id").collect()
        ]
        c = [
            r.asDict()
            for r in minhash_signature_column(
                df, "text", "doc_id", 12, ngram_n
            ).orderBy("doc_id").collect()
        ]
        assert a == c


def test_minhash_arrow_equals_column_random(spark):
    import random

    from column_reference import minhash_signature_column

    from parkour_spark.operators.dedup import minhash_signature

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(50)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
        for i in range(300)
    ]
    df = _docs(spark, rows)
    a = minhash_signature(df).orderBy("doc_id").collect()
    c = minhash_signature_column(df).orderBy("doc_id").collect()
    assert a == c


def test_winnow_text_arrow_equals_expression(spark):
    """winnow_text_arrow (k-gram md5 + winnow in one Arrow pass) ≡ the
    kgram_hashes → winnow_select/_pos Column expressions, on edge
    classes, both variants, two (k, w) settings — including the
    null-text row (one null-valued element)."""
    from column_reference import kgram_hashes, winnow_select, winnow_select_pos

    from parkour_spark.functions.text import normalize_text, winnow_text_arrow

    df = _docs(spark, EDGE_TEXTS)
    normed = df.select("doc_id", normalize_text("text").alias("__nt"))
    for positions in (True, False):
        for k, w in ((8, 8), (4, 5)):
            grams = normed.select(
                "doc_id", kgram_hashes("__nt", k=k).alias("__g")
            )
            fused = winnow_text_arrow(
                normed, "doc_id", "__nt", k=k, w=w, out="o",
                positions=positions,
            ).select("doc_id", F.to_json("o").alias("j")).orderBy("doc_id")
            expr = (
                winnow_select_pos(F.col("__g"), w=w)
                if positions
                else winnow_select(F.col("__g"), w=w)
            )
            ref = grams.select(
                "doc_id", F.to_json(expr).alias("j")
            ).orderBy("doc_id")
            assert fused.collect() == ref.collect()


def test_prefix_filter_agg_prefix_equals_bruteforce(spark):
    """The agg-based per-doc prefix (r13 — array_sort(collect_list) +
    slice replacing the row_number window) keeps prefix_filter_pairs
    EXACT: pinned end-to-end against brute-force all-pairs Jaccard on a
    boilerplate-heavy corpus, two shingle sizes."""
    import random

    from parkour_spark.operators.dedup import (
        _feature_sets,
        prefix_filter_pairs,
    )

    rng = random.Random(7)
    base = "alpha beta gamma delta epsilon zeta eta theta".split()
    rows = [
        (i, " ".join(rng.choice(base) for _ in range(rng.randint(3, 12))))
        for i in range(60)
    ]
    rows += [
        (100, "alpha beta gamma delta"),
        (101, "alpha beta gamma delta"),
        (102, ""),
        (103, "alpha"),
    ]
    df = _docs(spark, rows)
    for ngram_n in (2, 3):
        got = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in prefix_filter_pairs(df, ngram_n=ngram_n).collect()
        )
        feats = {
            r.doc_id: set(r.toks)
            for r in _feature_sets(df, "text", "doc_id", ngram_n).collect()
        }
        ids = sorted(feats)
        exp = []
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                A, B = feats[a], feats[b]
                if not A or not B:
                    continue
                j = len(A & B) / len(A | B)
                if j >= 0.8:
                    exp.append((a, b, round(j, 4)))
        assert got == sorted(exp)


def union_find_components(nodes, edges) -> dict:
    """{node: min node id reachable} by union-find — the pure-Python
    reference for graph.connected_components. Every edge endpoint must
    be in `nodes`."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_bigstar_fused_rounds_vs_union_find(spark):
    """Fused bigstar rounds (r13 — one collect_set aggregation per star
    phase, no per-phase distinct/join-back) ≡ union-find ground truth
    on a deep chain + random graph + self-loops, and on string ids."""
    import random

    from parkour_spark.operators.graph import connected_components_bigstar

    rng = random.Random(99)
    N = 80
    edges = (
        [(i, i + 1) for i in range(30)]
        + [(rng.randint(31, 79), rng.randint(31, 79)) for _ in range(40)]
        + [(5, 5)]
    )
    exp = set(union_find_components(range(N), edges).items())
    nodes = spark.createDataFrame([(i,) for i in range(N)], "id long")
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r.n, r.component)
        for r in connected_components_bigstar(nodes, e, "id").collect()
    }
    assert got == exp
    sn = spark.createDataFrame([(f"d{i}",) for i in range(6)], "id string")
    se = spark.createDataFrame(
        [("d0", "d1"), ("d1", "d2"), ("d4", "d5")],
        "id_a string, id_b string",
    )
    got2 = {
        (r.n, r.component)
        for r in connected_components_bigstar(sn, se, "id").collect()
    }
    assert got2 == {
        ("d0", "d0"), ("d1", "d0"), ("d2", "d0"),
        ("d3", "d3"), ("d4", "d4"), ("d5", "d4"),
    }


def test_bucket_pairs_arrow_equals_column(spark):
    """The vectorized triangular pair explode (r13 —
    _triangle_pairs_arrow) emits EXACTLY the column explode's pair set:
    random buckets, long AND string ids, capped and uncapped."""
    import random

    from column_reference import bucket_pairs_column

    from parkour_spark.operators.dedup import _bucket_pairs

    rng = random.Random(41)
    raw = [
        (rng.randint(0, 120), f"b{rng.randint(0, 25)}") for _ in range(600)
    ]
    # the _bucket_pairs contract: callers feed UNIQUE (id, band_key)
    # rows (all real callers do by construction) — required for the
    # max_bucket size test to agree with the reference
    rows = sorted(set(raw))
    df = spark.createDataFrame(rows, "doc_id long, band_key string")
    sdf = spark.createDataFrame(
        [(f"id{a}", k) for a, k in rows], "doc_id string, band_key string"
    )
    for frame in (df, sdf):
        for cap in (None, 12):
            a = {
                (r.id_a, r.id_b)
                for r in _bucket_pairs(frame, "doc_id", cap).collect()
            }
            c = {
                (r.id_a, r.id_b)
                for r in bucket_pairs_column(frame, "doc_id", cap).collect()
            }
            assert a == c and all(x < y for x, y in a)
    # uncapped, WITH duplicate rows: the (least, greatest) + equal-id
    # drop normalization makes the collect_list explode set-identical
    # to collect_set's for any input multiset (r13 wave 3)
    dup = spark.createDataFrame(raw, "doc_id long, band_key string")
    a = {
        (r.id_a, r.id_b)
        for r in _bucket_pairs(dup, "doc_id", None).collect()
    }
    c = {
        (r.id_a, r.id_b)
        for r in bucket_pairs_column(dup, "doc_id", None).collect()
    }
    assert a == c and all(x < y for x, y in a)


def test_bucket_pairs_arrow_flush_path(spark):
    """One bucket of 1500 members crosses the ~2^20-pair flush
    threshold — the chunked-emission path yields the full triangular
    set."""
    from parkour_spark.operators.dedup import _bucket_pairs

    n = 1500
    df = spark.createDataFrame(
        [(i, "k") for i in range(n)], "doc_id long, band_key string"
    )
    pairs = _bucket_pairs(df, "doc_id", None)
    assert pairs.count() == n * (n - 1) // 2
    lo = pairs.orderBy("id_a", "id_b").limit(1).collect()[0]
    assert (lo.id_a, lo.id_b) == (0, 1)


def test_prefix_pairs_arrow_equals_column(spark):
    """prefix_filter_pairs' vectorized pair explode + PPJoin prunes
    (r13) is end-to-end identical to the Column explode — same verified
    pairs AND scores — on a boilerplate-heavy corpus, two thresholds."""
    import random

    from column_reference import prefix_filter_pairs_column

    from parkour_spark.operators.dedup import prefix_filter_pairs

    rng = random.Random(23)
    base = "alpha beta gamma delta epsilon zeta eta theta".split()
    rows = [
        (i, " ".join(rng.choice(base) for _ in range(rng.randint(3, 12))))
        for i in range(80)
    ] + [(200, "alpha beta gamma delta"), (201, "alpha beta gamma delta")]
    df = _docs(spark, rows)
    for tn, td in ((4, 5), (7, 10)):
        a = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in prefix_filter_pairs(
                df, threshold_num=tn, threshold_den=td
            ).collect()
        )
        c = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in prefix_filter_pairs_column(
                df, threshold_num=tn, threshold_den=td
            ).collect()
        )
        assert a == c and a


def test_read_params_arrow_fast_path(spark, tmp_path):
    """read_params' driver-side pyarrow read (r13) returns exactly what
    the Spark read returns — float lists and all — and absent paths
    stay None."""
    from parkour_spark.artifacts import read_params, write_params

    p = str(tmp_path / "meta")
    rec = {
        "n_buckets": 16,
        "centroids": [[1.25, -3.5], [0.1, 2.0]],
        "id_col": "doc_id",
    }
    write_params(spark, p, rec)
    assert read_params(spark, p) == rec
    assert read_params(spark, str(tmp_path / "absent")) is None


def test_text_stats_arrow_matches_spark_read(spark, tmp_path):
    """_read_stats' driver-side read (r13) returns the stats row the
    Spark read returns, and _stats_df reproduces it as literals."""
    from parkour_spark.operators.textindex import (
        _read_stats,
        _stats_df,
        text_index_build,
    )

    docs = _docs(
        spark,
        [(1, "alpha beta gamma"), (2, "beta gamma delta"), (3, "")],
    )
    idx = str(tmp_path / "tidx")
    text_index_build(docs, idx, n_buckets=4)
    n_docs, n_total = _read_stats(spark, idx)
    st = spark.read.parquet(idx + "/stats").collect()[0]
    assert (n_docs, n_total) == (int(st["n_docs"]), int(st["n_total"]))
    row = _stats_df(spark, idx).collect()[0]
    assert (row["n_docs"], row["n_total"]) == (n_docs, n_total)
