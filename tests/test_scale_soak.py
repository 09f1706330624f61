"""Slow scale-soak assertions (r2 verdict #3): the LSH/fan-out math is
argued analytically in operators/dedup.py but only measured at sf0.1 by
the regular bench; this runs the fan-out-sensitive family one decade up
(10× sf0.1, materialized by scripts/soak_sf1.py) and asserts the
data-level straggler signals, not wall-clock (shared-machine times are
asserted nowhere — the recorded numbers live in BENCH_sf1.json).

Gated behind PARKOUR_SOAK=1 (several minutes; the driver's default
pytest run stays fast). Run:

    PARKOUR_SOAK=1 python -m pytest tests/test_scale_soak.py -q
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(
    not os.environ.get("PARKOUR_SOAK"),
    reason="scale soak only runs with PARKOUR_SOAK=1 (several minutes)",
)

DST = os.environ.get("SPARK_GRAFT_SOAK_DIR", "/tmp/parkour_soak_sf1")


@pytest.fixture(scope="module")
def soak_docs(spark):
    if not os.path.exists(f"{DST}/documents.parquet"):
        import scripts.soak_sf1 as soak

        soak.materialize(spark)
    return spark.read.parquet(f"{DST}/documents.parquet")


def test_no_overfull_lsh_buckets_at_sf1(spark, soak_docs):
    from parkour_spark.operators import dedup as D

    over = D.overfull_lsh_buckets(soak_docs, max_bucket=200)
    assert over.count() == 0


def test_lsh_bucket_skew_bounded_at_sf1(spark, soak_docs):
    # max/median bucket-size ratio is the would-be straggler at 1000
    # tasks; a healthy banding keeps the max bucket within the cap and
    # the distribution far from one-hot.
    from parkour_spark.operators import dedup as D

    bands = D.lsh_bands(
        D.minhash_signature(soak_docs, "text", "doc_id", 12), "doc_id", 12, 4
    )
    sizes = bands.groupBy("band_key").agg(F.count("*").alias("n"))
    row = sizes.agg(
        F.max("n").alias("mx"), F.count("*").alias("buckets")
    ).first()
    n_docs = soak_docs.count()
    assert row["mx"] <= 200
    # no bucket holds more than 1% of the corpus → no single hot task
    assert row["mx"] <= n_docs * 0.01
    assert row["buckets"] > 1000


def test_embedding_auto_banding_linear_at_sf1(spark, soak_docs):
    """r4: auto-derived banding keeps the blocked embedding path's
    candidate volume ~linear at 10× (r3's FIXED 64×4 banding produced
    43M candidates here — 98% of all random pairs — measured 87s).
    Asserts the DATA-level signal: candidates ≥100× below all-pairs,
    and every planted near-dup pair is still found."""
    from parkour_spark.operators import dedup as D

    emb = spark.read.parquet(f"{DST}/embeddings.parquet").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    copies = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.expr(
            "transform(sequence(0, size(embedding) - 1),"
            " j -> embedding[j] + 0.15D * embedding[(j + 1) % size(embedding)])"
        ).alias("embedding"),
    )
    corpus = emb.unionByName(copies)
    n = corpus.count()
    dim = len(corpus.select("embedding").first()[0])
    n_bands, band_bits = D.bands_for_corpus(
        n, threshold=0.9, target_bucket=2, target_miss=1e-4, max_band_bits=24
    )
    planes = D.rademacher_bands(n_bands, band_bits, dim)
    cand = D.embedding_block_candidates(corpus, planes)
    n_cand = cand.count()
    assert n_cand <= 0.01 * n * (n - 1) / 2, n_cand
    pairs = D.embedding_neardup_pairs(corpus, threshold=0.9, block_planes=planes)
    assert pairs.count() >= n // 2  # one planted copy-pair per original


def test_minhash_pairs_complete_at_sf1(spark, soak_docs):
    # the full candidate→verify chain runs at 10× without cap drops and
    # still finds the replica near-dup structure
    from parkour_spark.operators import dedup as D

    pairs = D.minhash_dedup_pairs(soak_docs, threshold=0.8)
    assert pairs.count() > 0
