"""One production engine per operator: no engine selector survives in
the package, the Column IVF assignment stays pinned against the Arrow
one, and the Arrow vector paths treat a NULL embedding the way the
exact path does (the row drops out instead of failing the task)."""

import importlib
import inspect
import pkgutil

import pytest

import parkour_spark.functions
import parkour_spark.operators
from parkour_spark.operators import dedup as D
from parkour_spark.operators import similarity as SIM


def _package_functions():
    for pkg in (parkour_spark.operators, parkour_spark.functions):
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            for name, fn in inspect.getmembers(mod, inspect.isfunction):
                if fn.__module__ == mod.__name__:
                    yield f"{mod.__name__}.{name}", fn


def test_no_engine_selector_in_package():
    offenders = [
        name
        for name, fn in _package_functions()
        if {"engine", "assign_engine"} & set(inspect.signature(fn).parameters)
    ]
    assert offenders == []


def test_ivf_assign_arrow_equals_column_reference(spark, sf_dir):
    """Arrow/BLAS assignment ≡ the Column-expression assignment on the
    sf0.001 embeddings, with the registry's IVF centroids."""
    from column_reference import ivf_assign

    from parkour_spark.queries import _ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = _ivf_centroids(spark, sf_dir)
    arrow = {
        r.vec_id: r.cell
        for r in SIM.ivf_assign_arrow(emb, cents).select("vec_id", "cell").collect()
    }
    column = {
        r.vec_id: r.cell
        for r in ivf_assign(emb, cents).select("vec_id", "cell").collect()
    }
    assert len(arrow) == emb.count() and len(set(arrow.values())) > 1
    assert arrow == column


NULL_ROWS = [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, None), (4, [-1.0, 0.0]), (5, [0.0, 1.0])]


@pytest.fixture(scope="module")
def null_vecs(spark):
    return spark.createDataFrame(NULL_ROWS, "vec_id long, embedding array<double>")


def _triples(df):
    return sorted(tuple(r) for r in df.collect())


def test_null_embedding_blocked_and_auto_equal_exact(spark, null_vecs):
    exact = _triples(D.embedding_neardup_pairs(null_vecs, threshold=0.9))
    assert exact == [(1, 2, 1.0)]
    planes = D.rademacher_bands(n_bands=8, band_bits=2, dim=2)
    blocked = _triples(
        D.embedding_neardup_pairs(null_vecs, threshold=0.9, block_planes=planes)
    )
    auto = _triples(D.embedding_neardup_pairs_auto(null_vecs, threshold=0.9))
    assert blocked == exact and auto == exact
    cand = D.embedding_block_candidates(null_vecs, planes).collect()
    assert cand and all(3 not in (r.id_a, r.id_b) for r in cand)


def test_null_embedding_ivf(spark, null_vecs):
    cents = [(0, [1.0, 0.0]), (1, [-1.0, 0.0]), (2, [0.0, 1.0])]
    cells = {
        r.vec_id: r.cell
        for r in SIM.ivf_assign_arrow(null_vecs, cents).collect()
    }
    assert cells == {1: 0, 2: 0, 3: None, 4: 1, 5: 2}
    queries = spark.createDataFrame(
        [(0, [1.0, 0.001])], "query_id long, query_vec array<double>"
    )
    got = SIM.ivf_topk(null_vecs, queries, cents, k=10, nprobe=3).collect()
    assert sorted(r.vec_id for r in got) == [1, 2, 4, 5]


def test_blocked_candidates_keep_string_ids(spark):
    """The band keys carry the caller's id type through (string ids
    worked on the removed Column path and work on the Arrow one)."""
    df = spark.createDataFrame(
        [(f"v{i}", v) for i, v in NULL_ROWS],
        "vec_id string, embedding array<double>",
    )
    planes = D.rademacher_bands(n_bands=8, band_bits=2, dim=2)
    got = _triples(D.embedding_neardup_pairs(df, threshold=0.9, block_planes=planes))
    assert got == [("v1", "v2", 1.0)]


def test_null_embedding_kmeans_fit(spark, null_vecs):
    """A NULL vector seeds no centroid and adds to no cell: the fit
    equals the fit over the non-null rows, and semantic dedup (which
    fits first) runs."""
    from parkour_spark.operators.kmeans import kmeans_fit

    non_null = null_vecs.where("embedding IS NOT NULL")
    got = kmeans_fit(null_vecs, k=2, max_iters=3)
    assert got == kmeans_fit(non_null, k=2, max_iters=3)
    assert all(v == v for _, vec in got for v in vec)  # no NaN
    sem = _triples(D.semantic_dedup_pairs(null_vecs, k=2, threshold=0.9))
    assert sem == [(1, 2, 1.0)]
    assert sem == _triples(D.semantic_dedup_pairs(non_null, k=2, threshold=0.9))


def test_null_query_vector_gets_no_rows(spark, null_vecs, tmp_path):
    """A query with a NULL vector probes no cell: no rows for it from
    ivf_topk or the persisted-index probe, and the other query's rows
    are unchanged."""
    cents = [(0, [1.0, 0.0]), (1, [-1.0, 0.0]), (2, [0.0, 1.0])]
    queries = spark.createDataFrame(
        [(0, [1.0, 0.001]), (1, None)], "query_id long, query_vec array<double>"
    )
    alone = queries.where("query_id = 0")
    got = _triples(SIM.ivf_topk(null_vecs, queries, cents, k=3, nprobe=1))
    assert got and all(q == 0 for q, *_ in got)
    assert got == _triples(SIM.ivf_topk(null_vecs, alone, cents, k=3, nprobe=1))
    idx = str(tmp_path / "ivf")
    SIM.ivf_index_build(null_vecs, cents, idx)
    assert _triples(SIM.ivf_probe_topk(spark, idx, queries, cents, k=3, nprobe=1)) == got


def test_auto_neardup_all_null_corpus_is_empty(spark, null_vecs):
    """No vector to derive the banding from: an empty pairs frame with
    the usual schema, not a TypeError."""
    df = spark.createDataFrame([(1, None), (2, None)], "vec_id long, embedding array<double>")
    got = D.embedding_neardup_pairs_auto(df, threshold=0.9)
    assert got.collect() == []
    assert got.schema == D.embedding_neardup_pairs_auto(null_vecs, threshold=0.9).schema
