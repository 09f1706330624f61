"""Round-3 regression tests for the round-2 advice items: short-doc
bigram guard, native-type connected components, scoped Arrow batch-size
conf."""

from pyspark.sql import Row, functions as F

from parkour_spark.functions.text import bigrams, tokens
from parkour_spark.operators.graph import connected_components, dedup_survivors


def test_bigrams_short_docs_empty(spark):
    # Spark's sequence(1, 0) is the DESCENDING [1, 0]; unguarded, 0/1-
    # token docs emit two spurious null-partnered pairs each, inflating
    # any bigram denominator (PMI). bigrams() must map them to [].
    df = spark.createDataFrame(
        [("",), ("  ",), ("one",), ("a b",), ("a b c",)], ["text"]
    ).select(bigrams(tokens(F.col("text"))).alias("p"))
    sizes = [r["p"] for r in df.select(F.size("p").alias("p")).collect()]
    assert sizes == [0, 0, 0, 1, 2]
    pairs = df.select(F.explode("p").alias("q")).select("q.w1", "q.w2").collect()
    assert sorted((r["w1"], r["w2"]) for r in pairs) == [("a", "b"), ("a", "b"), ("b", "c")]


def test_connected_components_string_ids(spark):
    # String doc ids are first-class for corpus dedup; the old long-cast
    # silently produced all-NULL components (r2 advice).
    nodes = spark.createDataFrame([Row(id=x) for x in "abcdefg"])
    edges = spark.createDataFrame(
        [Row(id_a="a", id_b="b"), Row(id_a="b", id_b="c"), Row(id_a="e", id_b="f")]
    )
    got = {
        r["n"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "e", "f": "e", "g": "g"}
    surv = {
        r["doc_id"]: r["is_survivor"]
        for r in dedup_survivors(nodes.select(F.col("id").alias("doc_id")), edges).collect()
    }
    assert surv == {"a": True, "b": False, "c": False, "d": True, "e": True, "f": False, "g": True}


def test_connected_components_long_ids_unchanged(spark):
    nodes = spark.createDataFrame([Row(id=i) for i in range(6)])
    edges = spark.createDataFrame([Row(id_a=0, id_b=1), Row(id_a=1, id_b=2), Row(id_a=4, id_b=5)])
    got = {r["n"]: r["component"] for r in connected_components(nodes, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}


def _chain(spark, n):
    nodes = spark.createDataFrame([Row(doc_id=i, score=i % 7) for i in range(n)])
    edges = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(n - 1)])
    return nodes, edges


def test_cc_30_hop_chain_at_defaults(spark):
    # Deeper than the old propagation loop's 20-round cap, which
    # returned partial labels with only a warning.
    import warnings

    nodes, edges = _chain(spark, 31)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        cc = connected_components(nodes.select("doc_id"), edges, "doc_id").collect()
        surv = dedup_survivors(nodes.select("doc_id"), edges).collect()
    assert len(cc) == 31 and {r["component"] for r in cc} == {0}
    assert [r["doc_id"] for r in surv if r["is_survivor"]] == [0]


def test_keep_best_30_hop_chain_one_survivor(spark):
    from parkour_spark.operators.graph import dedup_survivors_by

    nodes, edges = _chain(spark, 31)
    best = dedup_survivors_by(nodes, edges).collect()
    # score 6 at 6, 13, 20, 27: the min node id breaks the tie
    assert [r["doc_id"] for r in best if r["is_survivor"]] == [6]


def test_cc_ghost_endpoint_is_not_a_label(spark):
    # An edge endpoint outside `nodes` ('a') may not become a label:
    # then no member of {b, c} would be its own survivor.
    from parkour_spark.operators.graph import connected_components_bigstar

    nodes = spark.createDataFrame([Row(id=x) for x in "bcz"])
    edges = spark.createDataFrame([Row(id_a="c", id_b="b"), Row(id_a="b", id_b="a")])
    for cc in (connected_components, connected_components_bigstar):
        got = {r["n"]: r["component"] for r in cc(nodes, edges).collect()}
        assert got == {"b": "b", "c": "b", "z": "z"}, cc.__name__
    surv = dedup_survivors(nodes.select(F.col("id").alias("doc_id")), edges).collect()
    assert sorted(r["doc_id"] for r in surv if r["is_survivor"]) == ["b", "z"]


def test_cc_duplicate_node_id_one_row(spark):
    from parkour_spark.operators.graph import connected_components_bigstar

    nodes = spark.createDataFrame([Row(id=x) for x in "aab"])
    edges = spark.createDataFrame([Row(id_a="a", id_b="b")])
    for cc in (connected_components, connected_components_bigstar):
        got = sorted((r["n"], r["component"]) for r in cc(nodes, edges).collect())
        assert got == [("a", "a"), ("b", "a")], cc.__name__


def test_blob_batch_size_scoped(spark):
    from parkour_spark.operators.multimodal import blob_batch_size

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    try:
        before = spark.conf.get(key)
    except Exception:
        before = None
    with blob_batch_size(spark, 7):
        assert spark.conf.get(key) == "7"
    try:
        after = spark.conf.get(key)
    except Exception:
        after = None
    assert after == before


def test_rebatch_for_blobs_no_silent_mutation(spark):
    from parkour_spark.operators.multimodal import rebatch_for_blobs

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    try:
        before = spark.conf.get(key)
    except Exception:
        before = None
    df = spark.range(10)
    out = rebatch_for_blobs(df, num_partitions=2)
    assert out.rdd.getNumPartitions() == 2
    try:
        after = spark.conf.get(key)
    except Exception:
        after = None
    assert after == before  # no max_records_per_batch → no conf touched


def test_bigstar_deep_chain_log_rounds(spark):
    # A 1200-hop chain is the adversarial case for naive min-label
    # propagation (O(diameter) rounds — would need 1200); large-star/
    # small-star must collapse it to one component in O(log n) rounds:
    # 15 rounds reach the fixpoint, or the no-fixpoint warning raises.
    import warnings

    from pyspark.sql import Row
    from parkour_spark.operators.graph import connected_components_bigstar

    n = 1200
    nodes = spark.createDataFrame([Row(id=i) for i in range(n)])
    edges = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(n - 1)])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = connected_components_bigstar(nodes, edges, max_iters=15).collect()
    assert all(r["component"] == 0 for r in got) and len(got) == n


def test_bigstar_matches_naive_on_random_graph(spark):
    import random

    from pyspark.sql import Row
    from parkour_spark.operators.graph import connected_components_bigstar
    from test_r13_opt import union_find_components

    rng = random.Random(7)
    n = 300
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(200)]
    nodes = spark.createDataFrame([Row(id=i) for i in range(n)])
    edges = spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in pairs])
    big = {r["n"]: r["component"] for r in connected_components_bigstar(nodes, edges).collect()}
    assert big == union_find_components(range(n), pairs)


def test_bigstar_string_ids(spark):
    from pyspark.sql import Row
    from parkour_spark.operators.graph import connected_components_bigstar

    nodes = spark.createDataFrame([Row(id=x) for x in "abcdefg"])
    edges = spark.createDataFrame(
        [Row(id_a="a", id_b="b"), Row(id_a="b", id_b="c"), Row(id_a="e", id_b="f")]
    )
    got = {r["n"]: r["component"] for r in connected_components_bigstar(nodes, edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "e", "f": "e", "g": "g"}


def test_stream_stream_join_tight_watermark_ordered(spark, tmp_path):
    # With time-ordered file arrival and disorder ≤ watermark, the
    # watermark-bounded stream-stream join must equal the batch interval
    # join — state eviction may not lose still-reachable matches.
    import datetime as dt

    from pyspark.sql import Row, functions as F
    from parkour_spark.streaming.windows import (
        read_stream,
        run_to_completion,
        stream_stream_join,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for hour in range(6):
        for u in (1, 2):
            rows.append(
                Row(event_id=eid, ts=base + dt.timedelta(hours=hour), user_id=u,
                    event_type="view")
            )
            eid += 1
            rows.append(
                Row(event_id=eid,
                    ts=base + dt.timedelta(hours=hour, minutes=20), user_id=u,
                    event_type="purchase")
            )
            eid += 1
    df = spark.createDataFrame(rows)
    path = str(tmp_path / "stream")
    # one file per hour slice, written sequentially → ordered discovery
    for hour in range(6):
        lo = base + dt.timedelta(hours=hour)
        hi = lo + dt.timedelta(hours=1)
        df.where((F.col("ts") >= lo) & (F.col("ts") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    purchases = read_stream(spark, path, df.schema, max_files=1).where(
        F.col("event_type") == "purchase"
    ).select("event_id", F.col("ts").alias("p_ts"), "user_id")
    views = read_stream(spark, path, df.schema, max_files=1).where(
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
    joined = stream_stream_join(
        purchases, views, cond, "p_ts", "v_ts", watermark="2 hours"
    )
    got = sorted(
        (r["event_id"], r["view_event_id"])
        for r in run_to_completion(
            joined.select("event_id", "view_event_id"), output_mode="append"
        ).collect()
    )
    # batch expectation: every purchase at :20 matches the :00 view of
    # the same user and hour (20 min gap ≤ 30 min window)
    batch = df.alias("p").join(
        df.alias("v"),
        (F.col("p.user_id") == F.col("v.user_id"))
        & (F.col("p.event_type") == "purchase")
        & (F.col("v.event_type") == "view")
        & (F.col("v.ts") >= F.col("p.ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("v.ts") <= F.col("p.ts")),
    )
    want = sorted(
        (r["pe"], r["ve"])
        for r in batch.select(
            F.col("p.event_id").alias("pe"), F.col("v.event_id").alias("ve")
        ).collect()
    )
    assert got == want and len(got) == 12


def test_ngram_jaccard_capped_equals_uncapped(spark):
    # at sf0.001 no true near-dup pair should rely solely on
    # high-df shingles → the capped candidates find the same pairs
    from parkour_spark.operators import dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full = sorted(
        tuple(r) for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    )
    capped = sorted(
        tuple(r)
        for r in D.ngram_jaccard_pairs_capped(docs, threshold=0.8, max_df=50).collect()
    )
    assert capped == full and len(full) > 0


def test_bands_for_corpus_scaling():
    from parkour_spark.operators.dedup import bands_for_corpus

    nb_small, bits_small = bands_for_corpus(10_000)
    nb_big, bits_big = bands_for_corpus(10_000_000)
    # 1000× corpus → ~10 more bits, never fewer
    assert bits_big - bits_small >= 9
    # narrower buckets need more bands to hold the recall target
    assert nb_big >= nb_small
    # recall arithmetic: miss ≤ target for both settings
    import math

    p = 1 - math.acos(0.8) / math.pi
    for nb, bits in ((nb_small, bits_small), (nb_big, bits_big)):
        assert (1 - p**bits) ** nb <= 0.05 + 1e-9


def test_bands_for_corpus_feeds_blocked_neardup(spark):
    # auto-sized banding plugs straight into the blocked operator and
    # (at this scale/threshold) reproduces the exact pair set
    from parkour_spark.operators import dedup as D

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    dim = len(emb.select("embedding").first()["embedding"])
    n_bands, band_bits = D.bands_for_corpus(n, threshold=0.4, target_bucket=50)
    planes = D.rademacher_bands(n_bands, band_bits, dim)
    cand = D.embedding_block_candidates(emb, planes)
    exact = D.embedding_neardup_pairs(emb, threshold=0.4)
    cand_pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    missed = [
        (r["id_a"], r["id_b"])
        for r in exact.collect()
        if (r["id_a"], r["id_b"]) not in cand_pairs
    ]
    n_exact = exact.count()
    # target_miss 0.05 → tolerate a small miss count, require real recall
    assert n_exact > 0
    assert len(missed) <= max(1, int(0.1 * n_exact)), missed
