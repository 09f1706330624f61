"""sf1-equivalent scale soak for the fan-out-sensitive query family.

The driver ships testdata up to sf0.1; the LSH/fan-out math
(operators/dedup.py) is argued analytically but was only ever MEASURED
at sf0.1 — this soak validates it one decade up. It materializes a 10×
corpus from sf0.1 (documents replicated with a deterministic per-replica
suffix token so replicas are DISTINCT documents that preserve the
near-dup cluster structure; embeddings replicated with offset ids and a
deterministic per-replica rotation of the vector so ANN geometry stays
non-degenerate), runs each fan-out-sensitive query once cold, and
records:

- per-query wall seconds,
- LSH bucket-skew diagnostics (max/median bucket size, overfull-bucket
  count from the capped-LSH diagnostic) — the DATA-level straggler
  signal that decides whether a band key would hot-spot one task at
  1000 executors.

Output: one JSON line + BENCH_sf1.json at the repo root.

Usage: python scripts/soak_sf1.py [--keep]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from parkour_spark.queries import QUERIES
from parkour_spark.session import build_session

SRC = os.environ.get("SPARK_GRAFT_SOAK_SRC", "/root/testdata/sf0.1")
DST = os.environ.get("SPARK_GRAFT_SOAK_DIR", "/tmp/parkour_soak_sf1")
REPLICAS = int(os.environ.get("SPARK_GRAFT_SOAK_REPLICAS", "10"))

SOAK_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_simhash",
    "embedding_neardup_blocked",
    "winnow_fingerprints",
    "ivf_topk_cosine",
    "corpus_prep",
    "dedup_groups_bigstar",
    "decontaminate_ngram_overlap",
    "line_dedup_boiler",
    "dedup_delta_ingest",
    "winnow_overlap_pairs",
    "bigram_lm_scores",
    # r4 fourth session: PQ trains over the full corpus (one pass per
    # Lloyd's round, all subspaces); triangle wedges are the
    # fan-out-bounded-by-orientation claim — both belong in the decade-up
    # measurement
    "pq_adc_topk",
    "triangle_counts_dedup_graph",
    # r5 (r4 verdict #6): the slowest steady headline (iteration count ×
    # 10× edges), the composite IVF-PQ index, time-series gap fill over
    # 10× events, and k-core peeling — plus the new exact-substring span
    # detector, whose run-segmentation window rides the same df-capped
    # bucket fan-out the Jaccard family soaks
    "label_propagation_communities",
    "ivfpq_topk_l2",
    "gapfilled_hourly_events",
    "kcore_dedup_graph",
    "substring_dedup_spans",
    "substring_spans_delta",
    # r6 second batch: MG heavy hitters (per-partition fold count and the
    # candidate-set size are the scale claims), hard-negative mining (one
    # corpus scan + query-keyed window), shard manifest (pure partial-agg
    # manifest at 10x docs), and the domain cap whose map-side
    # WindowGroupLimit should keep the shuffle ~N x sources
    "mg_heavy_tokens",
    "hard_negative_mining",
    "training_shards_manifest",
    "per_source_quota",
    # r6 third batch: the EXACT prefix-filter similarity join — the
    # measured cost of "no recall caveat" vs the df-capped sibling at
    # the same decade; the Gopher rule set (pure scan, the 10× number
    # pins 'zero shuffles' as throughput, not just a plan assertion);
    # the keep-best survivor policy (minhash chain + one component
    # window); and the deterministic corpus shuffle (two-phase global
    # rank at 10× rows)
    "dedup_prefix_filter",
    "gopher_quality_flags",
    "dedup_keep_best",
    "corpus_shuffle_order",
    # r6 fifth batch: NB classifier train+score over 10× docs (the
    # model stays labels × 256 — the claim is corpus-size-independent
    # model cost), the gram-keyed self-join contamination matrix (per-
    # gram fanout bounded by the df cap), and the one-window TWA over
    # 10× events
    "nb_lang_scores",
    "source_overlap_matrix",
    "time_weighted_value_user",
    # hybrid fusion at 10×: both retriever branches do corpus work,
    # fusion stays Σk; the outlier profile is the posexplode + broadcast
    # + distance-cell MAD chain over 10× vectors
    "rrf_hybrid_retrieval",
    "embedding_label_outliers",
    # the dedup audit rollup rides the full minhash+CC chain at 10× —
    # its premium over dedup_groups_bigstar is the impact claim
    "dedup_impact_by_source",
    # basket mining at 10× lineitem: the per-basket combo fanout claim
    "copurchase_part_pairs",
    # r7 batch: the PCA moment cells (per-batch Arrow matmul — the
    # batches×O(d²)-cells-shuffle claim at 10× vectors), the local
    # clustering coefficient (minhash chain + oriented triangles + one
    # node-sized join), the negative-sampling vocab (tokenize + vocab
    # partial-agg + TakeOrdered head at 10× docs), and nDCG@100 whose
    # global rank window is the eval-slice-contract shape — its 10×
    # cost is measured, not hidden
    "embedding_covariance_cells",
    "clustering_coefficient_dedup",
    "negative_sampling_vocab",
    "quality_ndcg_langid",
    # r7 late batch: the perceptual-hash blob scans (one long per blob
    # leaves the scan — the claim is linear scan cost at 10× docs; the
    # banded near-dup is deliberately NOT soaked on the formula corpus,
    # whose 40-template structure creates 1500-member cliques the
    # bucket cap correctly drops — boilerplate-clique behavior, see the
    # operator docstring), and the join-size pre-flight at 10× lineitem
    # (key-count tables only — the claim is that the pre-flight costs
    # two partial aggs, not a row shuffle)
    "multimodal_dhash",
    "multimodal_audio_fingerprint",
    "join_size_preflight_orders",
    # r8 batch: the dedup-first decode path (distinct-blob set is 120
    # templates REGARDLESS of corpus size — its decade-up cost should
    # be fingerprint-scan-bound, not decode-bound; the gap vs
    # multimodal_dhash above is the measured claim), the identical-ANSI
    # running-total window over 10× events (partitioned window — the
    # claim is no global sort), the Zipf fit (tokenize + vocab partial
    # agg at 10× docs, regression on 100 rows), the streaming MG
    # heavy-hitters replay at 10× events (stateful fold cost per
    # trigger), and the three cell-table statistics whose 10× cost
    # should be scan-bound (kappa contingency, ECE bins, ESS moments)
    "multimodal_dhash_dedup_decode",
    "sql_running_total",
    "zipf_slope_docs",
    "streaming_heavy_hitters",
    "kappa_lang_annotators",
    "ece_purchase_value",
    "ess_event_value_by_type",
]


def _soak_semantic_dedup(spark):
    """SemDeDup at soak scale with the k ∝ n rule the operator
    documents: the registered query's fixed k=8 (pinned by its unrolled
    Lloyd's oracle at sf0.01) would leave ~5000-vector clusters at 40k
    rows — Σ n_c² ≈ 100M pairs. k = n/250 holds expected cluster size
    (and in-cluster pair work per cluster) constant; max_cluster is the
    straggler backstop."""
    from pyspark.sql import functions as F

    from parkour_spark.operators.dedup import semantic_dedup_pairs

    emb = spark.read.parquet(f"{DST}/embeddings.parquet").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    copies = emb.select(
        (F.col("vec_id") + F.lit(10000000)).alias("vec_id"),
        F.expr(
            "transform(sequence(0, size(embedding) - 1),"
            " j -> embedding[j] + 0.15D * embedding[(j + 1) % size(embedding)])"
        ).alias("embedding"),
    )
    corpus = emb.unionByName(copies)
    n = corpus.count()
    k = max(8, n // 250)
    return semantic_dedup_pairs(
        corpus, k=k, max_iters=2, threshold=0.9, max_cluster=2000
    )


def _soak_substring_index_build(spark):
    """Build + PERSIST the substring fingerprint index once
    (operators.dedup.substring_index_build — the r9 lifecycle module:
    occ/ + lists/ + meta/) — the production artifact the delta
    detector's docstring promises. Timed separately so the probe entry
    below is probe-only (r5 verdict #5: the plain substring_spans_delta
    soak rebuilds this per call, hiding the fan-out ∝ batch claim)."""
    from parkour_spark.operators.dedup import substring_index_build

    docs = spark.read.parquet(f"{DST}/documents.parquet")
    substring_index_build(docs, f"{DST}/substring_index")
    return spark.read.parquet(f"{DST}/substring_index/lists")


def _soak_substring_probe_only(spark):
    """Ingest probe against the PERSISTED index: a 1-replica batch (the
    sf0.1 docs re-suffixed, so every batch doc is a near-copy of 10
    corpus replicas — worst-case realistic hit density) probes without
    re-fingerprinting the corpus. The measured claim: probe cost ≪
    detect/index cost, fan-out ∝ |batch| · min(df, cap)."""
    from parkour_spark.operators.dedup import substring_probe_persisted

    batch = spark.read.parquet(f"{SRC}/documents.parquet").select(
        (F.col("doc_id") + F.lit(900_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" repQ")).alias("text"),
    )
    return substring_probe_persisted(
        spark, batch, f"{DST}/substring_index"
    )


def _soak_substring_delete_only(spark):
    """DELETE one replica's ids (10% of the corpus) from the PERSISTED
    substring index (dedup.substring_index_delete) — the r9 retire
    leg's measured claim: one anti-join rewrite of stored occurrence
    longs + the list re-derivation, a fraction of the full build above
    (corpus TEXT is never re-winnowed)."""
    from parkour_spark.operators.dedup import substring_index_delete

    docs = spark.read.parquet(f"{DST}/documents.parquet")
    stride = spark.read.parquet(f"{SRC}/documents.parquet").agg(
        F.max("doc_id")
    ).first()[0] + 1
    victims = docs.where(
        F.col("doc_id") >= (REPLICAS - 1) * stride
    ).select("doc_id")
    substring_index_delete(spark, victims, f"{DST}/substring_index")
    return spark.read.parquet(f"{DST}/substring_index/lists")


# Scale-parameterized variants that the fixed-parameter registered
# queries (pinned by their sf0.01 oracles) cannot express. Insertion
# order is execution order: the index build must precede the probe.
def _soak_ivf_index_build(spark):
    """Build + PERSIST the partitioned IVF index once over the 10×
    embedding corpus (similarity.ivf_index_build) — the same
    build-once/probe-many split the substring pair above measures, for
    the embedding family. 64 inverted lists: enough that a realistic
    query batch probes a strict subset (with 16 lists any 8-query batch
    touches everything and partition pruning can't show)."""
    from parkour_spark.operators.similarity import ivf_index_build

    emb = spark.read.parquet(f"{DST}/embeddings.parquet")
    cents = [
        (i, [float(x) for x in r[0]])
        for i, r in enumerate(
            emb.where(F.col("vec_id") < 64).orderBy("vec_id")
            .select("embedding").collect()
        )
    ]
    globals()["_SOAK_IVF_CENTS"] = cents
    ivf_index_build(emb, cents, f"{DST}/ivf_index.parquet")
    return spark.read.parquet(f"{DST}/ivf_index.parquet").select("vec_id")


def _soak_queries(spark):
    emb = spark.read.parquet(f"{DST}/embeddings.parquet")
    return emb.where(F.col("vec_id").between(100, 107)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _soak_ivf_probe_only(spark):
    """Query batch probes the PERSISTED index with static partition
    pruning (≤ 32 of 64 cells open) — probe cost should sit well under
    both the build and the inline path below, and scale with probed
    cells, not corpus size."""
    from parkour_spark.operators.similarity import ivf_probe_topk

    return ivf_probe_topk(
        spark, f"{DST}/ivf_index.parquet", _soak_queries(spark),
        globals()["_SOAK_IVF_CENTS"], k=10, nprobe=4,
    )


def _soak_ivf_inline_same_batch(spark):
    """The SAME query batch served inline (ivf_topk re-assigns the whole
    corpus scan-side) — the per-batch cost the persisted index
    amortizes away; the probe/inline gap is the measured claim."""
    from parkour_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{DST}/embeddings.parquet")
    return ivf_topk(
        emb, _soak_queries(spark), globals()["_SOAK_IVF_CENTS"],
        k=10, nprobe=4,
    )


def _soak_minhash_index_build(spark):
    """Build + PERSIST the MinHash band index once over the 10× corpus
    (dedup.minhash_index_build) — third member of the persisted-index
    trio; one signature scan + one band-count shuffle, paid per corpus
    version."""
    from parkour_spark.operators.dedup import minhash_index_build

    docs = spark.read.parquet(f"{DST}/documents.parquet")
    minhash_index_build(docs, f"{DST}/minhash_index", max_bucket=200)
    return spark.read.parquet(f"{DST}/minhash_index/sigs").select("doc_id")


def _soak_minhash_probe_only(spark):
    """A 1-replica ingest batch (sf0.1 docs, near-copies of 10 corpus
    replicas each — worst-case hit density) probes the PERSISTED band
    index with signature-only verify: the corpus text is never touched.
    Measured claim: probe ≪ full in-corpus detection
    (dedup_minhash_lsh above)."""
    from parkour_spark.operators.dedup import minhash_probe_delta

    batch = spark.read.parquet(f"{SRC}/documents.parquet").select(
        (F.col("doc_id") + F.lit(900_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" repQ")).alias("text"),
    )
    return minhash_probe_delta(
        spark, batch, f"{DST}/minhash_index", threshold=0.8
    )


def _soak_ivf_append_only(spark):
    """Append a 1-replica batch (sf0.1 embeddings, ids offset, vectors
    rotated one extra step) to the PERSISTED 10× IVF index — the
    append leg's measured claim: cost ∝ batch assignment scan + the
    batch's partitioned write, independent of index size (existing
    inverted lists are never rewritten)."""
    from parkour_spark.operators.similarity import ivf_index_append

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    batch = emb.select(
        (F.col("vec_id") + F.lit(900_000_000)).alias("vec_id"),
        F.expr(
            "transform(sequence(0, {d}), i -> embedding[(i + 3) % {n}])".format(
                d=dim - 1, n=dim
            )
        ).alias("embedding"),
    )
    ivf_index_append(
        batch, globals()["_SOAK_IVF_CENTS"], f"{DST}/ivf_index.parquet"
    )
    return batch.select("vec_id")


def _soak_ivf_delete_only(spark):
    """DELETE the just-appended batch (ids ≥ 900M, vectors in hand —
    the standard retire flow) from the PERSISTED 10× IVF index
    (similarity.ivf_index_delete) — the r9 retire leg's measured
    claim: one batch assignment scan + partition-pruned rewrite of
    ONLY the affected inverted lists, independent of index size."""
    from parkour_spark.operators.similarity import ivf_index_delete

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    batch = emb.select(
        (F.col("vec_id") + F.lit(900_000_000)).alias("vec_id"),
        F.expr(
            "transform(sequence(0, {d}), i -> embedding[(i + 3) % {n}])".format(
                d=dim - 1, n=dim
            )
        ).alias("embedding"),
    )
    ivf_index_delete(
        batch, globals()["_SOAK_IVF_CENTS"], f"{DST}/ivf_index.parquet"
    )
    return batch.select("vec_id")


def _soak_minhash_delete_only(spark):
    """DELETE one replica's ids (10% of the corpus) from the PERSISTED
    MinHash index (dedup.minhash_index_delete) — the r9 retire leg's
    measured claim: one anti-join rewrite of signature LONGS + the
    band re-derivation append already pays, a fraction of the full
    build above (corpus text is never re-shingled)."""
    from parkour_spark.operators.dedup import minhash_index_delete

    stride = spark.read.parquet(f"{SRC}/documents.parquet").agg(
        F.max("doc_id")
    ).first()[0] + 1
    victims = spark.read.parquet(f"{DST}/documents.parquet").where(
        F.col("doc_id") >= (REPLICAS - 1) * stride
    ).select("doc_id")
    minhash_index_delete(
        spark, victims, f"{DST}/minhash_index", max_bucket=200
    )
    return spark.read.parquet(f"{DST}/minhash_index/sigs").select("doc_id")


def _soak_jpeg_corpus_build(spark):
    """Materialize the 10× JPEG media corpus ONCE to parquet: every doc
    maps to one of 120 distinct 48×48 baseline JPEGs (thumbnail-scale
    decode work; queries._jpeg_pattern resolution-scaled) — the
    mirror/hotlink duplication shape of web media, STORED like a real
    media corpus so the two decode arms below measure decode against
    identical scan-side cost (a generated-per-query corpus charges
    payload synthesis to both arms and masks the decode-count win —
    exactly what the first cut of this pair did)."""
    import pandas as pd

    from parkour_spark.operators.sort import widen_scan
    from parkour_spark.queries import _JPEG_PATTERNS, _jpeg_payload_cached

    docs = spark.read.parquet(f"{DST}/documents.parquet").select(
        F.col("doc_id").alias("media_id")
    )

    def build(batches):
        enc = _jpeg_payload_cached(size=48)
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [
                        enc(int(m) % _JPEG_PATTERNS)
                        for m in pdf["media_id"]
                    ],
                }
            )

    blobs = widen_scan(docs).mapInPandas(
        build, "media_id long, payload binary"
    )
    blobs.write.mode("overwrite").parquet(f"{DST}/jpeg_corpus.parquet")
    return spark.read.parquet(f"{DST}/jpeg_corpus.parquet").select("media_id")


def _soak_jpeg_dhash_perrow(spark):
    """Per-row JPEG dhash over the STORED media corpus: one REAL
    baseline-JPEG decode (entropy + IDCT, operators/jpegcodec.py) per
    ROW — the naive codec path, the yardstick for the dedup-first
    entry below (r8 verdict #5)."""
    from parkour_spark.operators.multimodal import perceptual_dhash

    return perceptual_dhash(
        spark.read.parquet(f"{DST}/jpeg_corpus.parquet")
    )


def _soak_jpeg_dhash_dedup_first(spark):
    """Dedup-first JPEG dhash over the SAME stored corpus:
    decode_distinct pays one decode per DISTINCT payload (120 here)
    plus a JVM md5 scan and two key-sized joins. The measured claim:
    ≥2× faster than the per-row entry above on the expensive codec —
    the wall-clock form of the decode-count win the r8 notes could
    only show in accumulator counts on cheap codecs."""
    from parkour_spark.operators.multimodal import (
        decode_distinct,
        perceptual_dhash,
    )

    return decode_distinct(
        spark.read.parquet(f"{DST}/jpeg_corpus.parquet"),
        perceptual_dhash,
    )


def _soak_gif_corpus_build(spark):
    """Materialize the 10× animated-GIF corpus ONCE to parquet: every
    doc becomes a 24×24 GIF of 1 + doc_id%5 formula frames (real LZW
    encode, operators/gifcodec.py) — stored like the JPEG corpus above
    so the frame-sampling entry measures EXTRACTION, not synthesis."""
    import numpy as np
    import pandas as pd

    from parkour_spark.operators.gifcodec import encode_gif
    from parkour_spark.operators.sort import widen_scan

    docs = spark.read.parquet(f"{DST}/documents.parquet").select(
        F.col("doc_id").alias("media_id")
    )
    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)

    def build(batches):
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = 1 + mid % 5
                frames = [
                    (
                        (mid * 2654435761 + k * 97
                         + np.arange(576, dtype=np.int64) * 40503) % 256
                    ).astype(np.uint8).reshape(24, 24)
                    for k in range(n)
                ]
                payloads.append(encode_gif(frames, pal, delay_cs=100))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    blobs = widen_scan(docs).mapInPandas(
        build, "media_id long, payload binary"
    ).withColumn("meta", F.lit(None).cast("map<string,long>"))
    blobs.write.mode("overwrite").parquet(f"{DST}/gif_corpus.parquet")
    return spark.read.parquet(f"{DST}/gif_corpus.parquet").select("media_id")


def _soak_gif_frame_sample(spark):
    """REAL frame sampling over the stored 10× GIF corpus: the
    row-expanding UDTF shape with the from-scratch LZW codec and the
    container-derived duration — ~150k frames extracted from 50k
    containers, the measured claim being linear scan-side cost with
    zero shuffles."""
    from parkour_spark.operators.gifcodec import gif_duration_ms
    from parkour_spark.operators.multimodal import (
        gif_frame_codec,
        rebatch_for_blobs,
        sample_video_frames,
    )

    blobs = spark.read.parquet(f"{DST}/gif_corpus.parquet")
    return sample_video_frames(
        rebatch_for_blobs(blobs),
        every_ms=1000,
        codec=gif_frame_codec,
        duration_fn=gif_duration_ms,
    ).select("media_id", "frame_idx")


def _soak_cc_components_build(spark):
    """Build + PERSIST the near-dup component table on the content-hash
    bottom 80% of the 10× corpus — the base the delta below folds
    into. Timed separately so the delta entry is fold-only."""
    from parkour_spark.functions.sampling import hash_bucket
    from parkour_spark.operators.dedup import minhash_dedup_pairs
    from parkour_spark.operators.graph import connected_components

    docs = spark.read.parquet(f"{DST}/documents.parquet")
    pairs = minhash_dedup_pairs(docs, threshold=0.8)
    ba = hash_bucket(F.col("id_a"), 100)
    bb = hash_bucket(F.col("id_b"), 100)
    bkt = hash_bucket(F.col("doc_id"), 100)
    pairs.where((ba >= 80) | (bb >= 80)).write.mode("overwrite").parquet(
        f"{DST}/cc_delta_edges.parquet"
    )
    comps = connected_components(
        docs.where(bkt < 80).select("doc_id"),
        pairs.where((ba < 80) & (bb < 80)),
        node_col="doc_id",
    ).select(F.col("n").alias("id"), "component")
    comps.write.mode("overwrite").parquet(f"{DST}/cc_components.parquet")
    return spark.read.parquet(f"{DST}/cc_components.parquet")


def _soak_cc_delta_fold_only(spark):
    """Fold the 20% batch's edges into the PERSISTED component table
    (graph.cc_delta_update) — the measured claim: the delta costs a
    batch-sized contracted CC + two broadcast-join scans of the
    component table, a fraction of the full-graph CC it replaces
    (dedup_groups_bigstar above is the full-rebuild yardstick)."""
    from parkour_spark.functions.sampling import hash_bucket
    from parkour_spark.operators.graph import cc_delta_update

    docs = spark.read.parquet(f"{DST}/documents.parquet")
    bkt = hash_bucket(F.col("doc_id"), 100)
    comps = spark.read.parquet(f"{DST}/cc_components.parquet")
    edges = spark.read.parquet(f"{DST}/cc_delta_edges.parquet")
    return cc_delta_update(
        comps, docs.where(bkt >= 80).select("doc_id"), edges, node_col="id"
    )


def _soak_lpa_reliable_checkpoint(spark):
    """LPA over the 10× near-dup graph with checkpoint="reliable" —
    measured evidence for the cluster-mode lineage-truncation path
    (r9 verdict #7): each round's label table checkpoints to the
    configured fault-tolerant directory instead of executor-local
    block storage. The claim: the reliable path's per-round write is
    node-table-sized (bounded), so its premium over the local-mode
    `label_propagation_communities` row above is a constant I/O
    factor, not a scaling change — and the community histogram is
    identical (checkpointing truncates lineage, never changes rows)."""
    from parkour_spark.operators.dedup import minhash_dedup_pairs
    from parkour_spark.operators.graph import label_propagation

    spark.sparkContext.setCheckpointDir(f"{DST}/_reliable_ckpt")
    docs = spark.read.parquet(f"{DST}/documents.parquet")
    pairs = minhash_dedup_pairs(docs, threshold=0.8)
    labels = label_propagation(
        docs.select("doc_id"), pairs, node_col="doc_id", rounds=4,
        checkpoint="reliable",
    )
    return labels.groupBy("label").agg(F.count("*").alias("n_members"))


def _soak_pq_index_build(spark):
    """Train (fixed Lloyd's passes over the 10× corpus) + encode +
    PERSIST the PQ index (pq.pq_index_build, r10) — the fourth member
    of the persisted-index family. Codebooks train here ONCE and every
    PQ leg below reuses them, exactly the production split (train
    once, build per corpus version, serve probes from codes)."""
    from parkour_spark.operators.pq import pq_index_build, pq_train

    emb = spark.read.parquet(f"{DST}/embeddings.parquet")
    cbs = pq_train(emb, m=4, ksub=8, iters=2)
    globals()["_SOAK_PQ_CBS"] = cbs
    pq_index_build(emb, cbs, f"{DST}/pq_index")
    return spark.read.parquet(f"{DST}/pq_index/codes").select("vec_id")


def _soak_pq_probe_only(spark):
    """ADC top-k served from the PERSISTED codes (pq.pq_probe_adc):
    the scan reads m longs per corpus row — vectors are never touched.
    Measured claims: probe ≪ build (the train+encode cost is
    amortized), and probe ≪ the inline pq_adc_topk row above (which
    re-encodes the corpus per query batch)."""
    from parkour_spark.operators.pq import pq_probe_adc

    emb = spark.read.parquet(f"{DST}/embeddings.parquet")
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").between(100, 107))
        .select("vec_id", "embedding")
        .collect()
    ]
    return pq_probe_adc(spark, f"{DST}/pq_index", queries, k=10)


def _pq_soak_batch(spark):
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    return emb.select(
        (F.col("vec_id") + F.lit(900_000_000)).alias("vec_id"),
        F.expr(
            "transform(sequence(0, {d}), i -> embedding[(i + 3) % {n}])".format(
                d=dim - 1, n=dim
            )
        ).alias("embedding"),
    )


def _soak_pq_append_only(spark):
    """Append a 1-replica batch to the PERSISTED PQ index — cost ∝ the
    batch's own encode scan with the STORED codebooks (index size
    never re-read), the append ≪ rebuild claim for the fourth index."""
    from parkour_spark.operators.pq import pq_index_append

    pq_index_append(_pq_soak_batch(spark), f"{DST}/pq_index")
    return _pq_soak_batch(spark).select("vec_id")


def _soak_pq_delete_only(spark):
    """DELETE the just-appended batch ids from the PERSISTED PQ index:
    one broadcast anti-join rewrite of the m-longs-per-row codes table
    — delete ≪ rebuild (the build row above re-trains AND re-encodes;
    this touches only stored codes)."""
    from parkour_spark.operators.pq import pq_index_delete

    pq_index_delete(
        spark, _pq_soak_batch(spark).select("vec_id"), f"{DST}/pq_index"
    )
    return spark.read.parquet(f"{DST}/pq_index/codes").select("vec_id")


def _soak_pq_compact_only(spark):
    """Compact the PQ codes table after the append/delete churn —
    exact row preservation, cost ∝ stored codes (the smallest table in
    the index family), compaction ≪ rebuild."""
    from parkour_spark.operators.pq import pq_index_compact

    pq_index_compact(spark, f"{DST}/pq_index", n_files=8)
    return spark.read.parquet(f"{DST}/pq_index/codes").select("vec_id")


def _soak_minhash_compact_only(spark):
    """Compact the minhash signature table after the delete-leg churn
    (dedup.minhash_index_compact): signature LONGS rewritten into 8
    files, text never re-shingled — compaction ≪ rebuild is the
    measured claim that makes it affordable at many-batches/hour
    ingest rates (r9 verdict #3)."""
    from parkour_spark.operators.dedup import minhash_index_compact

    minhash_index_compact(spark, f"{DST}/minhash_index", n_files=8)
    return spark.read.parquet(f"{DST}/minhash_index/sigs").select("doc_id")


def _soak_substring_compact_only(spark):
    """Compact the substring occurrence table (dedup.
    substring_index_compact): stored fingerprint rows rewritten, text
    never re-winnowed — compaction ≪ rebuild for the text index."""
    from parkour_spark.operators.dedup import substring_index_compact

    substring_index_compact(spark, f"{DST}/substring_index", n_files=8)
    return spark.read.parquet(f"{DST}/substring_index/occ").select("doc_id")


def _soak_ivf_compact_only(spark):
    """Compact the 10× IVF index (similarity.ivf_index_compact, r10):
    the whole-root fold into the canonical one-file-set-per-cell
    layout — stored rows rewritten, assignment never recomputed —
    compaction ≪ rebuild (the build row above pays the full Arrow
    assignment scan; this is a row shuffle of stored (id, vec, cnorm,
    cell))."""
    from parkour_spark.operators.similarity import ivf_index_compact

    ivf_index_compact(spark, f"{DST}/ivf_index.parquet")
    return spark.read.parquet(f"{DST}/ivf_index.parquet").select("vec_id")


def _soak_ivfpq_index_build(spark):
    """Train both quantizer levels over the 10× corpus (coarse k=8 L2
    Lloyd's + residual PQ m=4×ksub=8) and PERSIST the composite index
    (pq.ivfpq_index_build, r10) — one assign+encode scan, residual
    codes partitioned by coarse cell."""
    from parkour_spark.operators.pq import (
        ivfpq_index_build,
        kmeans_l2,
        pq_train,
        residual_df,
    )

    emb = spark.read.parquet(f"{DST}/embeddings.parquet")
    coarse = kmeans_l2(emb, k=8, iters=2)
    res = residual_df(emb, coarse).select(
        "vec_id", F.col("res").alias("embedding")
    )
    cbs = pq_train(res, m=4, ksub=8, iters=2)
    globals()["_SOAK_IVFPQ_Q"] = (coarse, cbs)
    ivfpq_index_build(emb, coarse, cbs, f"{DST}/ivfpq_index")
    return spark.read.parquet(f"{DST}/ivfpq_index").select("vec_id")


def _soak_ivfpq_probe_only(spark):
    """Composite-index serving: the query batch opens only its nprobe
    probed cells' CODE files (partition pruning × m-longs-per-candidate
    compression). Measured claims: probe ≪ build, and probe ≪ the
    inline ivfpq_topk_l2 row above (which re-assigns + re-encodes the
    corpus per query batch)."""
    from parkour_spark.operators.pq import ivfpq_probe_topk

    emb = spark.read.parquet(f"{DST}/embeddings.parquet")
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").between(100, 107))
        .select("vec_id", "embedding")
        .collect()
    ]
    return ivfpq_probe_topk(
        spark, f"{DST}/ivfpq_index", queries, k=10, nprobe=2
    )


def _soak_text_index_build(spark):
    """Build + PERSIST the full-text inverted index over the 10×
    corpus (textindex.text_index_build, r10 — the fifth index family):
    ONE corpus tokenize + one (term, doc) shuffle into term-bucketed,
    term-sorted postings. The build-once cost every probe below
    amortizes."""
    from parkour_spark.operators.textindex import text_index_build

    docs = spark.read.parquet(f"{DST}/documents.parquet")
    text_index_build(docs, f"{DST}/text_index", n_buckets=16)
    return spark.read.parquet(f"{DST}/text_index/doclen").select("doc_id")


def _soak_text_probe_only(spark):
    """BM25 served from the persisted postings: the query terms'
    buckets apply as a static partition filter and df derives from the
    query-term postings slice — the corpus text appears nowhere.
    Measured claims: probe ≪ build, and probe ≪ the inline bm25 path
    (which re-tokenizes the corpus per query set)."""
    from parkour_spark.operators.textindex import text_index_probe_bm25

    return text_index_probe_bm25(
        spark, f"{DST}/text_index", ("hash", "join", "scan"), k=10
    )


def _soak_text_inline_same_query(spark):
    """The SAME query served inline (corpus.bm25_topk re-tokenizes the
    10× corpus) — the per-query cost the persisted index amortizes;
    the probe/inline gap is the measured claim."""
    from parkour_spark.operators.corpus import bm25_topk

    docs = spark.read.parquet(f"{DST}/documents.parquet")
    return bm25_topk(docs, ("hash", "join", "scan"), k=10)


def _soak_text_delete_only(spark):
    """DELETE one replica's ids (10% of the corpus) from the persisted
    text index — r11 TOMBSTONE path: one |B|-row ledger write + the
    doclen-sized stats re-derivation; postings (the big table) is NOT
    rewritten. Compare with r10's 1.87s anti-join-rewrite delete and
    with `text_index_delete_small` below — the |B|-scaling claim."""
    from parkour_spark.operators.textindex import text_index_delete

    stride = spark.read.parquet(f"{SRC}/documents.parquet").agg(
        F.max("doc_id")
    ).first()[0] + 1
    victims = spark.read.parquet(f"{DST}/documents.parquet").where(
        F.col("doc_id") >= (REPLICAS - 1) * stride
    ).select("doc_id")
    text_index_delete(spark, victims, f"{DST}/text_index")
    return spark.read.parquet(f"{DST}/text_index/doclen").select("doc_id")


def _soak_text_delete_small(spark):
    """The |B|-scaling companion: delete 100 MORE ids (0.02% of the
    corpus) from the same index. Under the r11 ledger contract this
    row and the 10%-delete row above should cost about the SAME small
    constant (ledger write + doclen-sized stats pass) — the O(|B|)
    claim is that neither scales with the postings table."""
    from parkour_spark.operators.textindex import text_index_delete

    stride = spark.read.parquet(f"{SRC}/documents.parquet").agg(
        F.max("doc_id")
    ).first()[0] + 1
    victims = (
        spark.read.parquet(f"{DST}/documents.parquet")
        .where(F.col("doc_id") < (REPLICAS - 1) * stride)
        .select("doc_id")
        .orderBy("doc_id")
        .limit(100)
    )
    text_index_delete(spark, victims, f"{DST}/text_index")
    return spark.read.parquet(f"{DST}/text_index/doclen").select("doc_id")


def _soak_text_probe_plain_dup_query(spark):
    """One rare term ('dup' — the only rare token in the synthetic
    vocabulary) + two ~80%-df terms through the persisted probe on the
    compacted 10× index: the stopword-adjacent postings lists dominate
    its cost."""
    from parkour_spark.operators.textindex import text_index_probe_bm25

    return text_index_probe_bm25(
        spark, f"{DST}/text_index", ("dup", "hash", "scan"), k=10
    )


_MULTI_SOAK_QUERIES = [
    (0, ("dup", "hash", "scan")),
    (1, ("dup", "join")),
    (2, ("dup", "scan")),
    (3, ("hash", "scan")),
]


def _soak_text_probe_multi_plain(spark):
    """A 4-query batch through the plain batched probe (r11): ONE
    partition-pruned postings scan amortized over the batch. Compare
    with 4× text_probe_plain_dup_query: the batch should cost far less
    than 4 independent probes."""
    from parkour_spark.operators.textindex import (
        text_index_probe_bm25_multi,
    )

    return text_index_probe_bm25_multi(
        spark, f"{DST}/text_index", _MULTI_SOAK_QUERIES, k=10
    )


def _soak_text_compact_only(spark):
    """Compact the survivor text index back to one term-sorted file
    set per bucket — exact row preservation, compaction ≪ rebuild."""
    from parkour_spark.operators.textindex import text_index_compact

    text_index_compact(spark, f"{DST}/text_index")
    return spark.read.parquet(f"{DST}/text_index/doclen").select("doc_id")


def _soak_words(spark):
    docs = spark.read.parquet(f"{DST}/documents.parquet")
    return (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )


def _soak_bpe_seq16(spark):
    """Sequential greedy BPE, 16 merges = 16 vocab-sized shuffle
    rounds over the 10× vocabulary — the yardstick for the batched
    trainer below (r9 verdict #5)."""
    from parkour_spark.operators.bpe import bpe_train

    return bpe_train(_soak_words(spark), n_merges=16)


def _soak_emb256_materialize(spark):
    """Materialize a d=256 embedding corpus (four deterministic
    transforms of the d=64 vectors, concatenated) — stored to parquet
    FIRST so the d=256 build row below times index construction, not
    vector synthesis. d=256 is the production-dimension check the r10
    verdict asked for (#2 'what's wrong'): at d=64 IVF compaction ≈
    build because the assignment the fold skips is cheap."""
    emb = spark.read.parquet(f"{DST}/embeddings.parquet")
    e256 = emb.select(
        "vec_id",
        F.concat(
            F.col("embedding"),
            F.expr("transform(embedding, x -> x * 0.5)"),
            F.expr("reverse(embedding)"),
            F.expr("transform(embedding, x -> -x)"),
        ).alias("embedding"),
    )
    e256.write.mode("overwrite").parquet(f"{DST}/emb256.parquet")
    return spark.read.parquet(f"{DST}/emb256.parquet").select("vec_id")


def _soak_ivf_d256_build(spark):
    """Build the IVF index at d=256 / 64 lists: the Arrow assignment
    scan now does 64×256 multiply-adds per row — the cost compaction
    skips. Yardstick for the compact row below."""
    from parkour_spark.operators.similarity import ivf_index_build

    emb = spark.read.parquet(f"{DST}/emb256.parquet")
    cents = [
        (i, [float(x) for x in r[0]])
        for i, r in enumerate(
            emb.where(F.col("vec_id") < 64).orderBy("vec_id")
            .select("embedding").collect()
        )
    ]
    ivf_index_build(emb, cents, f"{DST}/ivf_index_d256.parquet")
    return spark.read.parquet(f"{DST}/ivf_index_d256.parquet").select(
        "vec_id"
    )


def _soak_ivf_d256_compact_only(spark):
    """Compact the d=256 index: a row copy of stored (id, vec, cnorm,
    cell) with NO re-assignment. The r10 verdict's open question
    measured — at production dims the assignment dominates the build,
    so compact ≪ build should now hold where d=64 showed parity
    (5.51s vs 5.64s)."""
    from parkour_spark.operators.similarity import ivf_index_compact

    ivf_index_compact(spark, f"{DST}/ivf_index_d256.parquet")
    return spark.read.parquet(f"{DST}/ivf_index_d256.parquet").select(
        "vec_id"
    )


def _soak_bpe_batched16(spark):
    """Batch-greedy BPE, 4 rounds × up-to-8 merges over the SAME 10×
    vocabulary: the sub-linear-rounds claim measured — wall clock
    scales with ROUNDS (each round = one pair-count shuffle + one
    batch-row driver fetch), so seconds-per-merge-learned should drop
    by roughly the per-round selection size vs the sequential row
    above (the row counts in the soak log are the merges learned)."""
    from parkour_spark.operators.bpe import bpe_train_batched

    return bpe_train_batched(_soak_words(spark), n_rounds=4, batch=8)


def _soak_bpe_batched256(spark):
    """Batch-greedy BPE at PRODUCTION merge count (r10 verdict #7):
    8 rounds × batch=32 → up to 256 merges over the 10× vocabulary,
    with the vocab localCheckpoint'ed every 4 rounds so Catalyst
    analysis depth stays bounded by batch×4 chained replaces. The
    claims: rounds stay ~n/batch (8 pair-count shuffles for ~256
    merges) and seconds-per-merge stays ~flat vs the 16-merge row
    above — the trainer does not degrade as the merge budget grows."""
    from parkour_spark.operators.bpe import bpe_train_batched

    return bpe_train_batched(
        _soak_words(spark), n_rounds=8, batch=32, checkpoint_every=4
    )


SOAK_CUSTOM = {
    "semantic_dedup_k_scaled": _soak_semantic_dedup,
    "substring_index_build": _soak_substring_index_build,
    "substring_delta_probe_only": _soak_substring_probe_only,
    "ivf_index_build": _soak_ivf_index_build,
    "ivf_delta_probe_only": _soak_ivf_probe_only,
    "ivf_inline_same_batch": _soak_ivf_inline_same_batch,
    "ivf_index_append_only": _soak_ivf_append_only,
    # delete AFTER append: retires exactly the appended batch, so the
    # index returns to its built state for any later probe
    "ivf_index_delete_only": _soak_ivf_delete_only,
    "minhash_index_build": _soak_minhash_index_build,
    "minhash_delta_probe_only": _soak_minhash_probe_only,
    "minhash_index_delete_only": _soak_minhash_delete_only,
    "substring_index_delete_only": _soak_substring_delete_only,
    "jpeg_corpus_build": _soak_jpeg_corpus_build,
    "jpeg_dhash_perrow": _soak_jpeg_dhash_perrow,
    "jpeg_dhash_dedup_first": _soak_jpeg_dhash_dedup_first,
    "gif_corpus_build": _soak_gif_corpus_build,
    "gif_frame_sample": _soak_gif_frame_sample,
    "cc_components_build": _soak_cc_components_build,
    "cc_delta_fold_only": _soak_cc_delta_fold_only,
    # r10: reliable-checkpoint graph evidence, the persisted PQ index
    # legs, the compaction legs for all four indexes, and the batched
    # BPE scaling pair. Order matters: compacts run after the
    # build/append/delete churn above has grown each index's file
    # count the way a production ingest would.
    "lpa_reliable_checkpoint": _soak_lpa_reliable_checkpoint,
    "pq_index_build": _soak_pq_index_build,
    "pq_probe_only": _soak_pq_probe_only,
    "pq_index_append_only": _soak_pq_append_only,
    "pq_index_delete_only": _soak_pq_delete_only,
    "pq_index_compact_only": _soak_pq_compact_only,
    "minhash_index_compact_only": _soak_minhash_compact_only,
    "substring_index_compact_only": _soak_substring_compact_only,
    "ivf_index_compact_only": _soak_ivf_compact_only,
    "ivfpq_index_build": _soak_ivfpq_index_build,
    "ivfpq_probe_only": _soak_ivfpq_probe_only,
    "text_index_build": _soak_text_index_build,
    "text_probe_only": _soak_text_probe_only,
    "text_inline_same_query": _soak_text_inline_same_query,
    "text_index_delete_only": _soak_text_delete_only,
    # r11: the |B|-scaling companion, then compact (reconciles the
    # ledger), then the rare+stopword probe and the batched probe on
    # the compacted index
    "text_index_delete_small": _soak_text_delete_small,
    "text_index_compact_only": _soak_text_compact_only,
    "text_probe_plain_dup_query": _soak_text_probe_plain_dup_query,
    "text_probe_multi_plain": _soak_text_probe_multi_plain,
    "bpe_train_seq16": _soak_bpe_seq16,
    "bpe_train_batched16": _soak_bpe_batched16,
    # r11: production-dimension IVF compaction economics + the
    # 256-merge BPE run (r10 verdict items)
    "emb256_materialize": _soak_emb256_materialize,
    "ivf_d256_index_build": _soak_ivf_d256_build,
    "ivf_d256_index_compact_only": _soak_ivf_d256_compact_only,
    "bpe_train_batched256": _soak_bpe_batched256,
}


def materialize(spark) -> None:
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    # replica-id stride = max(id)+1, NOT n_rows*10: sparse id spaces
    # with max id >= 10*n would silently collide replicas (r3 advice)
    doc_stride = docs.agg(F.max("doc_id")).first()[0] + 1
    reps = spark.range(REPLICAS).select(F.col("id").alias("rep"))
    big_docs = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(doc_stride)).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" rep"), F.col("rep").cast("string")
            ).alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        )
    )
    big_docs.write.mode("overwrite").parquet(f"{DST}/documents.parquet")

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    emb_stride = emb.agg(F.max("vec_id")).first()[0] + 1
    dim = len(emb.select("embedding").first()["embedding"])
    # deterministic per-replica rotation: shift vector components by
    # `rep` positions — norms preserved, geometry stays spread out
    rotated = F.expr(
        "transform(sequence(0, {d}), i -> embedding[(i + rep) % {n}])".format(
            d=dim - 1, n=dim
        )
    )
    big_emb = (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("rep") * F.lit(emb_stride)).alias("vec_id"),
            rotated.alias("embedding"),
            *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        )
    )
    big_emb.write.mode("overwrite").parquet(f"{DST}/embeddings.parquet")

    # lineitem + orders: baskets replicate WHOLE (order keys
    # stride-shifted, part keys unchanged), so per-pair co-occurrence
    # counts scale ×10 while basket sizes — the fanout driver — stay
    # realistic. The stride is SHARED between the two tables so the
    # orders ⋈ lineitem key relation survives replication (the join
    # pre-flight soaks against it).
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    ok_stride = (
        max(
            li.agg(F.max("l_orderkey")).first()[0],
            orders.agg(F.max("o_orderkey")).first()[0],
        )
        + 1
    )
    big_li = li.crossJoin(F.broadcast(reps)).select(
        (F.col("l_orderkey") + F.col("rep") * F.lit(ok_stride)).alias(
            "l_orderkey"
        ),
        *[c for c in li.columns if c != "l_orderkey"],
    )
    big_li.write.mode("overwrite").parquet(f"{DST}/lineitem.parquet")
    big_orders = orders.crossJoin(F.broadcast(reps)).select(
        (F.col("o_orderkey") + F.col("rep") * F.lit(ok_stride)).alias(
            "o_orderkey"
        ),
        *[c for c in orders.columns if c != "o_orderkey"],
    )
    big_orders.write.mode("overwrite").parquet(f"{DST}/orders.parquet")

    # events: 10× rows AND a 10× timeline — each replica's timestamps
    # shift by rep * (span + 1h), so the gap-fill spine (event_type ×
    # hour, the scale-sensitive dimension) grows with the corpus
    # instead of just densifying a fixed window; ids stride like docs
    from parkour_spark.dataset import load_table

    # NTZ → session-UTC timestamp so the epoch shift below is legal
    ev = load_table(spark, SRC, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ev_stride = ev.agg(F.max("event_id")).first()[0] + 1
    u_stride = ev.agg(F.max("user_id")).first()[0] + 1
    span = ev.agg(
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias("s")
    ).first()["s"] + 3600
    big_ev = (
        ev.crossJoin(F.broadcast(reps))
        .select(
            (F.col("event_id") + F.col("rep") * F.lit(ev_stride)).alias("event_id"),
            F.timestamp_micros(
                F.unix_micros(F.col("ts"))
                + F.col("rep") * F.lit(int(span) * 1_000_000)
            ).alias("ts"),
            (F.col("user_id") + F.col("rep") * F.lit(u_stride)).alias("user_id"),
            *[c for c in ev.columns if c not in ("event_id", "ts", "user_id")],
        )
    )
    big_ev.write.mode("overwrite").parquet(f"{DST}/events.parquet")


def lsh_skew(spark) -> dict:
    """Band-bucket size distribution for the minhash-LSH candidate
    stage — max/median ratio is the would-be straggler at 1000 tasks."""
    from parkour_spark.operators import dedup as D

    docs = spark.read.parquet(f"{DST}/documents.parquet")
    bands = D.lsh_bands(D.minhash_signature(docs, "text", "doc_id", 12), "doc_id", 12, 4)
    sizes = bands.groupBy("band_key").agg(F.count("*").alias("n"))
    row = sizes.agg(
        F.max("n").alias("mx"),
        F.expr("percentile(n, 0.5)").alias("med"),
        F.count("*").alias("buckets"),
    ).first()
    cap = int(os.environ.get("SOAK_LSH_CAP", "200"))
    over = D.overfull_lsh_buckets(docs, max_bucket=cap)
    return {
        "max_bucket": int(row["mx"]),
        "median_bucket": float(row["med"]),
        "n_buckets": int(row["buckets"]),
        f"overfull_buckets_at_cap{cap}": int(over.count()),
    }


def codec_throughput(spark) -> dict:
    """Honest Python-codec throughput at soak scale (r7 verdict #8):
    decode EVERY blob (the per-row path — no dedup short-circuit) and
    report blobs/s and MB/s, total and per-core. The fixture blobs are
    small (227-byte PPM images, ~1.3 KB WAVs), so per-blob Python
    overhead dominates MB/s — report BOTH rates so neither number
    oversells the other. The dedup-decode gap lives in the main query
    table (multimodal_dhash vs multimodal_dhash_dedup_decode)."""
    from parkour_spark.operators.multimodal import (
        audio_fingerprint,
        perceptual_dhash,
    )
    from parkour_spark.queries import _dhash_blobs, _wav_650

    out = {}
    cores = spark.sparkContext.defaultParallelism

    def measure(tag, blobs_df):
        stats = blobs_df.agg(
            F.count("*").alias("n"),
            F.sum(F.length("payload")).alias("b"),
        ).first()
        t0 = time.perf_counter()
        if tag == "dhash":
            perceptual_dhash(blobs_df).count()
        else:
            audio_fingerprint(blobs_df).count()
        secs = time.perf_counter() - t0
        mb = stats["b"] / 1e6
        out[tag] = {
            "n_blobs": int(stats["n"]),
            "payload_mb": round(mb, 2),
            "seconds": round(secs, 3),
            "blobs_per_s": round(stats["n"] / secs, 1),
            "mb_per_s": round(mb / secs, 2),
            "blobs_per_s_per_core": round(stats["n"] / secs / cores, 1),
            "mb_per_s_per_core": round(mb / secs / cores, 4),
        }

    measure("dhash", _dhash_blobs(spark, DST))

    import pandas as _pd

    from parkour_spark.operators.sort import widen_scan

    docs = spark.read.parquet(f"{DST}/documents.parquet").select(
        F.col("doc_id").alias("media_id")
    )

    def build(batches):
        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [_wav_650(int(m)) for m in pdf["media_id"]],
                }
            )

    measure(
        "audio_wav",
        widen_scan(docs).mapInPandas(build, "media_id long, payload binary"),
    )
    return out


def main() -> None:
    start_load = round(os.getloadavg()[0], 2)
    spark = build_session("soak_sf1")
    t0 = time.perf_counter()
    if (
        any(
            not os.path.exists(f"{DST}/{t}.parquet")
            for t in ("documents", "embeddings", "events", "lineitem", "orders")
        )
        or "--fresh" in sys.argv
    ):
        materialize(spark)
    gen_s = round(time.perf_counter() - t0, 1)

    times: dict[str, float] = {}
    runs = [(name, lambda s, n=name: QUERIES[n](s, DST)) for name in SOAK_QUERIES]
    runs += list(SOAK_CUSTOM.items())
    # targeted smoke/debug: run only the named rows (order preserved;
    # the caller owns prerequisite ordering, e.g. *_build before probes)
    only = os.environ.get("SPARK_GRAFT_SOAK_ONLY")
    if only:
        keep = set(only.split(","))
        runs = [(n, f) for n, f in runs if n in keep]
    for name, fn in runs:
        t0 = time.perf_counter()
        n = fn(spark).count()
        times[name] = round(time.perf_counter() - t0, 3)
        print(f"# soak {name}: {times[name]}s ({n} rows)", file=sys.stderr)

    skew = lsh_skew(spark)
    codec = codec_throughput(spark)
    # provenance (r7 verdict #3): stamp the producing commit so NOTES
    # and this artifact can never silently diverge again
    import subprocess

    commit = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
    ).stdout.strip()
    out = {
        "metric": "soak_sf1_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": 1.0,
        "replicas": REPLICAS,
        "gen_seconds": gen_s,
        "lsh_skew": skew,
        "codec_throughput": codec,
        "git_commit": commit,
        "load_start": {"loadavg_1m": start_load},
    }
    print(json.dumps(out))
    # a SPARK_GRAFT_SOAK_ONLY smoke must never clobber the committed
    # full-soak baseline (r11 review: an 11-row smoke once replaced the
    # 88-row recording) — partial runs land in a sibling file
    fname = "BENCH_sf1_partial.json" if only else "BENCH_sf1.json"
    with open(os.path.join(os.path.dirname(__file__), "..", fname), "w") as f:
        f.write(json.dumps(out) + "\n")


if __name__ == "__main__":
    main()
