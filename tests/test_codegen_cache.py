"""Spark's generated-class cache holds the engine's plan working set.

The near-dup chain (MinHash pairs, prefix-filter pairs, big-star
components, survivors) generates well over Spark's default 100 cached
classes, so at the default every class was evicted before the chain ran
again and janino recompiled all of them on every call. `build_session`
sizes the cache to 1000 entries, and the chain's own plans repeat their
generated source from call to call, so a second run of the chain finds
its classes cached. In a fresh session with the default 100 entries the
first run compiled ~178 classes and the second recompiled 165-170."""

from pyspark.sql import functions as F

from parkour_spark.operators import dedup, graph

# A second run may still meet a plan it has not compiled before: the
# edge-filter stage of the first big-star round planned differently on
# the first run in a probe (2 classes, then 0 on every later run).
MAX_SECOND_RUN_COMPILES = 8


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_dedup_chain_hits_codegen_cache(spark):
    base = "the quick brown fox jumps over the lazy dog while a cat sleeps on the warm mat"
    rows = [(i, f"{base} extra{i % 3}") for i in range(1, 7)] + [
        (i, f"unique words doc number {i} alpha beta gamma delta {i * 7}")
        for i in range(7, 13)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def chain():
        mh = sorted(tuple(r) for r in dedup.minhash_dedup_pairs(docs).collect())
        pf = dedup.prefix_filter_pairs(docs)
        pairs = sorted(tuple(r) for r in pf.collect())
        edges = pf.select("id_a", "id_b")
        nodes = docs.select(F.col("doc_id").alias("id"))
        cc = sorted(tuple(r) for r in graph.connected_components_bigstar(nodes, edges).collect())
        surv = sorted(tuple(r) for r in graph.dedup_survivors(docs.select("doc_id"), edges).collect())
        spark.catalog.clearCache()
        return mh, pairs, cc, surv

    first = chain()
    c1 = _compiles(spark)
    second = chain()
    c2 = _compiles(spark)
    assert first == second
    assert len(first[1]) == 15 and {c for _, c in first[2]} == {1, 7, 8, 9, 10, 11, 12}
    assert c2 - c1 <= MAX_SECOND_RUN_COMPILES, c2 - c1
