"""Round-4 fixes: auto-scaled embedding-LSH banding (the r3 verdict's
one measured scale-killer), Arrow-side band signatures, and their
parity with the Column path and the exact oracle."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from parkour_spark.operators import dedup as D


def test_auto_banding_scaling_10x_100x_1000x():
    """The derivation that replaces r3's fixed 64x4 banding: as n grows
    10x/100x/1000x, band_bits grows ~log2(n) (narrower buckets), bands
    grow to hold the recall target, and the expected RANDOM-pair
    candidate mass per row stays bounded & sub-linear — the property
    whose absence cost 87s at sf1 (43M candidates = 98% of random
    pairs under the fixed banding)."""
    got = {}
    for n in (10_000, 100_000, 1_000_000, 10_000_000):
        nb, bits = D.bands_for_corpus(
            n, threshold=0.9, target_bucket=2, target_miss=1e-4, max_band_bits=24
        )
        # recall arithmetic holds at every size
        p = 1 - math.acos(0.9) / math.pi
        assert (1 - p**bits) ** nb <= 1e-4 + 1e-12
        # expected random candidates per row: n * P(band collision) summed
        # over bands ~= n * nb / 2^bits
        got[n] = (nb, bits, n * nb / 2**bits)
    (nb0, b0, pr0), (nb3, b3, pr3) = got[10_000], got[10_000_000]
    assert b3 - b0 >= 9  # 1000x corpus -> ~10 more bits
    assert nb3 > nb0  # narrower buckets need more bands for recall
    # per-row candidate mass bounded and strongly sub-linear: 1000x rows
    # costs < 6x per-row work (vs 1000x under fixed banding)
    assert all(pr <= 500 for _, _, pr in got.values())
    assert pr3 / pr0 <= 6


def test_cc_warns_on_max_iters_exhaustion(spark):
    """Connected components warns loudly when it stops before a fixpoint
    (r3 advice: a silent partial contraction is a wrong answer)."""
    from parkour_spark.operators.graph import connected_components

    n = 40  # a 40-hop chain cannot converge in 2 rounds
    nodes = spark.range(n).select(F.col("id"))
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with pytest.warns(RuntimeWarning, match="max_iters"):
        connected_components(nodes, edges, max_iters=2).collect()


def test_stream_join_tight_watermark_bounds_state(spark, tmp_path):
    """r4 (r3 verdict #4): over a TIME-ORDERED replay the stream-stream
    join runs with a realistic 1-hour watermark, produces the identical
    result to the batch interval join, and its peak state-store rows
    stay well below the span-covering-watermark (never-evict) run."""
    from parkour_spark.streaming.windows import (
        read_stream,
        run_to_completion,
        stream_stream_join,
        write_time_ordered_replay,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    path = str(tmp_path / "replay")
    write_time_ordered_replay(ev, "ts", path, n_slices=8)

    def run(watermark):
        purchases = read_stream(spark, path, ev.schema, max_files=1).where(
            F.col("event_type") == "purchase"
        ).select("event_id", F.col("ts").alias("p_ts"), "user_id")
        views = read_stream(spark, path, ev.schema, max_files=1).where(
            F.col("event_type") == "view"
        ).select(
            F.col("event_id").alias("view_event_id"),
            F.col("ts").alias("v_ts"),
            F.col("user_id").alias("v_user_id"),
        )
        cond = (
            (F.col("user_id") == F.col("v_user_id"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("v_ts") <= F.col("p_ts"))
        )
        metrics = {}
        out = run_to_completion(
            stream_stream_join(
                purchases, views, cond, "p_ts", "v_ts", watermark=watermark
            ).select("event_id", "view_event_id", "user_id"),
            output_mode="append",
            metrics_out=metrics,
        )
        return sorted(tuple(r) for r in out.collect()), metrics["max_state_rows"]

    tight_rows, tight_state = run("1 hour")
    wide_rows, wide_state = run("800 days")
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", F.col("ts").alias("p_ts"), "user_id"
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        F.col("ts").alias("v_ts"),
        F.col("user_id").alias("v_user_id"),
    )
    batch = sorted(
        tuple(r)
        for r in p.join(
            v,
            (F.col("user_id") == F.col("v_user_id"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("v_ts") <= F.col("p_ts")),
        )
        .select("event_id", "view_event_id", "user_id")
        .collect()
    )
    assert tight_rows == wide_rows == batch and len(batch) > 0
    assert tight_state < 0.5 * wide_state, (tight_state, wide_state)


def test_arrow_band_keys_agree_with_column_candidates(spark):
    """The numpy matmul signatures and the Catalyst HOF signatures
    (tests/column_reference.py) produce the SAME candidate pair set for
    the same planes — the key packing differs (long vs string) but the
    bucket partition of the corpus is identical."""
    import random

    from column_reference import embedding_block_candidates_column

    rng = random.Random(11)
    rows = []
    for i in range(60):
        base = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, base))
        if i % 4 == 0:
            rows.append((1000 + i, [x + rng.uniform(-0.01, 0.01) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = D.rademacher_bands(n_bands=12, band_bits=5, dim=8)
    col_pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_block_candidates_column(df, planes).collect()
    }
    arrow_pairs = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_block_candidates(df, planes).collect()
    }
    assert arrow_pairs == col_pairs and len(col_pairs) > 0


def test_blocked_auto_matches_exact_on_derived_corpus(spark):
    """The registered query's exact shape at sf0.001: derived corpus
    (each vector + a deterministic perturbed copy at cos~0.989),
    auto-sized banding, threshold 0.9 — blocked == exact all-pairs,
    deterministically (miss < 1e-13 per planted pair)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
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
    blocked = sorted(
        tuple(r)
        for r in D.embedding_neardup_pairs_auto(corpus, threshold=0.9).collect()
    )
    exact = sorted(
        tuple(r) for r in D.embedding_neardup_pairs(corpus, threshold=0.9).collect()
    )
    assert blocked == exact
    assert len(exact) >= emb.count()  # every planted copy-pair present
