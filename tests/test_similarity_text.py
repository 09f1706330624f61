"""IVF similarity search and text-analysis function tests."""

from pyspark.sql import functions as F

from parkour_spark.functions.text import (
    langid_ngram,
    normalize_text,
    subword_count,
    winnow_text_arrow,
)
from parkour_spark.operators.similarity import (
    brute_force_topk,
    ivf_assign_arrow,
    ivf_topk,
)


def _vecs(spark):
    # 2D unit-ish vectors in four quadrants: easy to reason about cells
    rows = [
        (0, [1.0, 0.1]), (1, [1.0, -0.1]), (2, [-1.0, 0.1]), (3, [-1.0, -0.1]),
        (10, [1.0, 0.2]), (11, [0.9, 0.0]), (12, [-1.0, 0.3]), (13, [-0.9, -0.05]),
        (14, [0.95, 0.05]), (15, [-0.95, 0.2]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_ivf_assign_nearest_centroid(spark):
    df = _vecs(spark)
    cents = [(0, [1.0, 0.0]), (1, [-1.0, 0.0])]
    got = {r["vec_id"]: r["cell"] for r in ivf_assign_arrow(df, cents).collect()}
    for vid, cell in got.items():
        expect = 0 if vid in (0, 1, 10, 11, 14) else 1
        assert cell == expect, (vid, cell)


def test_ivf_full_probe_matches_brute_force(spark):
    """With nprobe = #centroids, IVF must equal exact brute force."""
    df = _vecs(spark)
    corpus = df.where(F.col("vec_id") >= 10)
    queries = df.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = [(0, [1.0, 0.0]), (1, [-1.0, 0.0])]
    ivf = ivf_topk(corpus, queries, cents, k=3, nprobe=2)
    bf = brute_force_topk(corpus, queries, k=3)
    cols = ["query_id", "vec_id", "rank", "cos"]
    assert sorted(map(tuple, ivf.select(cols).collect())) == sorted(
        map(tuple, bf.select(cols).collect())
    )


def test_ivf_probe_prunes_cells(spark):
    """nprobe=1 must only return vectors from the query's own cell."""
    df = _vecs(spark)
    corpus = df.where(F.col("vec_id") >= 10)
    queries = df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = [(0, [1.0, 0.0]), (1, [-1.0, 0.0])]
    got = {r["vec_id"] for r in ivf_topk(corpus, queries, cents, k=10, nprobe=1).collect()}
    assert got == {10, 11, 14}  # positive-x cell only


def test_subword_count(spark):
    df = spark.createDataFrame([("Hello, world 42!",)], ["text"])
    # "Hello" "," " world" " 42" "!" → 5
    assert df.select(subword_count("text").alias("n")).first()["n"] == 5


def test_langid_ngram(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog are singing for the morning"), (2, "zzz qqq xxx vvv kkk")],
        ["id", "text"],
    )
    got = {r["id"]: r["lang"] for r in df.select("id", langid_ngram("text").alias("lang")).collect()}
    assert got == {1: "en", 2: "unk"}


def test_winnow_shared_substring_shares_fingerprint(spark):
    shared = "a common stretch of text that is long enough to fingerprint"
    df = spark.createDataFrame(
        [(1, "prefix one " + shared), (2, "other start " + shared + " tail")],
        ["doc_id", "text"],
    )
    normed = df.select("doc_id", normalize_text("text").alias("nt"))
    fps = winnow_text_arrow(normed, "doc_id", "nt", k=8, w=8, out="fps",
                            positions=False)
    rows = {r["doc_id"]: set(r["fps"]) for r in fps.collect()}
    assert rows[1] & rows[2], "docs sharing a long substring must share fingerprints"


def test_winnow_short_doc_single_window(spark):
    df = spark.createDataFrame([(1, "tiny")], ["doc_id", "text"])
    normed = df.select("doc_id", normalize_text("text").alias("nt"))
    fps = winnow_text_arrow(normed, "doc_id", "nt", k=8, w=8, out="fps",
                            positions=False)
    assert len(fps.first()["fps"]) == 1


# ---------------------------------------------------------------------------
# mutual_knn_edges
# ---------------------------------------------------------------------------


def test_mutual_knn_symmetry_and_hub_pruning(spark):
    from parkour_spark.operators.similarity import mutual_knn_edges

    # Two tight pairs far apart, plus a "hub" vector equidistant-ish
    # from both pairs: with k=1 each tight pair is mutual; the hub's
    # top-1 choice is not reciprocated → no hub edges.
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.01, 0.999, 0.0]),
        (5, [0.5, 0.5, 0.0]),  # hub
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    edges = {(r.id_a, r.id_b) for r in mutual_knn_edges(df, k=1).collect()}
    assert edges == {(1, 2), (3, 4)}


def test_mutual_knn_self_excluded_even_with_exact_duplicates(spark):
    from parkour_spark.operators.similarity import mutual_knn_edges

    rows = [(i, [1.0, 0.0]) for i in range(4)]  # 4 identical vectors
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    edges = {(r.id_a, r.id_b) for r in mutual_knn_edges(df, k=3).collect()}
    # all 6 unordered pairs mutual, none is a self-loop
    assert edges == {(a, b) for a in range(4) for b in range(4) if a < b}


def test_mutual_knn_accepts_precomputed_ivf_topk(spark):
    """The corpus-scale path the docstring promises: an IVF-produced
    neighbor table plugs into the mutual stage and, with nprobe
    covering all cells, reproduces the brute-force mutual edges."""
    from parkour_spark.operators.kmeans import kmeans_fit
    from parkour_spark.operators.similarity import ivf_topk, mutual_knn_edges

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = emb.select(
        "vec_id",
        __import__("pyspark.sql.functions", fromlist=["expr"]).expr(
            "transform(embedding, x -> cast(x as double))"
        ).alias("embedding"),
    )
    exact = {
        (r.id_a, r.id_b) for r in mutual_knn_edges(emb, k=3).collect()
    }
    cents = kmeans_fit(emb, k=4, max_iters=2)
    q = emb.select(
        emb.vec_id.alias("query_id"), emb.embedding.alias("query_vec")
    )
    ivf_tab = ivf_topk(emb, q, cents, k=4, nprobe=4)  # nprobe=all cells
    via_ivf = {
        (r.id_a, r.id_b)
        for r in mutual_knn_edges(emb, k=3, topk=ivf_tab).collect()
    }
    assert via_ivf == exact
    assert exact, "no mutual edges in fixture; test is vacuous"
