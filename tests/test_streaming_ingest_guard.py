"""The streaming-ingest parameter guard, pinned once per persisted index
family: build with parameters P, stream one batch with P' != P. The
ingest must raise a mismatch, commit no `batch=<id>` directory, and
leave the stored meta record and every stored row untouched."""

import numpy as np
import pytest

from parkour_spark import fs as pfs
from parkour_spark.artifacts import read_params
from parkour_spark.operators import dedup, pq, similarity, textindex
from parkour_spark.streaming import windows

D = 8  # vector width: two PQ subspaces of 4


def _vecs(seed, n, d=D):
    rng = np.random.RandomState(seed)
    return [[float(x) for x in rng.randn(d)] for _ in range(n)]


def _cells(seed, n, d=D):
    return [(i, v) for i, v in enumerate(_vecs(seed, n, d))]


def _codebooks(seed):
    return [_cells(seed + s, 2, D // 2) for s in range(2)]


# family -> (frame kind, build with P, stream with P', tables, meta record)
CASES = {
    "text": (
        "doc",
        lambda df, idx: textindex.text_index_build(df, idx, n_buckets=8),
        lambda sp, src, sc, idx: windows.streaming_text_ingest(
            sp, src, sc, idx, n_buckets=4
        ),
        ["doclen", "postings", "stats"],
        "meta",
    ),
    "minhash": (
        "doc",
        lambda df, idx: dedup.minhash_index_build(df, idx, num_hashes=12),
        lambda sp, src, sc, idx: windows.streaming_minhash_ingest(
            sp, src, sc, idx, num_hashes=16
        ),
        ["sigs", "bands"],
        "meta",
    ),
    "substring": (
        "doc",
        lambda df, idx: dedup.substring_index_build(df, idx, k=8, w=8),
        lambda sp, src, sc, idx: windows.streaming_substring_ingest(
            sp, src, sc, idx, k=5, w=4
        ),
        ["occ", "lists"],
        "meta",
    ),
    "ivf": (
        "vec",
        lambda df, idx: similarity.ivf_index_build(df, _cells(1, 3), idx),
        lambda sp, src, sc, idx: windows.streaming_ivf_ingest(
            sp, src, sc, idx, _cells(2, 3)
        ),
        [""],
        "_ivf_meta",
    ),
    "pq": (
        "vec",
        lambda df, idx: pq.pq_index_build(df, _codebooks(3), idx),
        lambda sp, src, sc, idx: windows.streaming_pq_ingest(
            sp, src, sc, idx, _codebooks(4)
        ),
        ["codes"],
        "meta",
    ),
    "ivfpq": (
        "vec",
        lambda df, idx: pq.ivfpq_index_build(
            df, _cells(5, 2), _codebooks(6), idx
        ),
        lambda sp, src, sc, idx: windows.streaming_ivfpq_ingest(
            sp, src, sc, idx, _cells(7, 2), _codebooks(6)
        ),
        [""],
        "_ivfpq_meta",
    ),
}


def _frame(spark, kind, ids):
    if kind == "doc":
        rows = [
            (i, f"shared overlapping body of document {i} with plenty "
                "of common tokens to hash shingle and winnow")
            for i in ids
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")
    rows = list(zip(ids, _vecs(11 + ids[0], len(ids))))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _stored(spark, idx, tables):
    out = {}
    for t in tables:
        df = spark.read.parquet(f"{idx}/{t}" if t else idx)
        df = df.drop("batch")  # streaming layout-normalizes under batch=-1
        cols = sorted(df.columns)
        out[t] = sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())
    return out


@pytest.mark.parametrize("family", sorted(CASES))
def test_stream_with_other_params_raises_and_commits_nothing(
    spark, tmp_path, family
):
    kind, build, stream, tables, meta = CASES[family]
    idx = str(tmp_path / "idx")
    build(_frame(spark, kind, list(range(12))), idx)
    meta_before = read_params(spark, f"{idx}/{meta}")
    rows_before = _stored(spark, idx, tables)

    src = str(tmp_path / "src")
    _frame(spark, kind, list(range(100, 104))).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    # the guard raises inside foreachBatch; Spark surfaces it as a
    # StreamingQueryException carrying the original message
    with pytest.raises(Exception, match="mismatch"):
        stream(spark, src, schema, idx)

    for t in tables:
        root = f"{idx}/{t}" if t else idx
        assert not pfs.exists(spark, f"{root}/batch=0"), (family, t)
    assert read_params(spark, f"{idx}/{meta}") == meta_before
    assert _stored(spark, idx, tables) == rows_before
