"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship query smoke check on sf0.001.
`queries()` — name → (spark, sf_dir) → DataFrame, one per implemented
operator from SURVEY.md §2 (registry: parkour_spark/queries.py).
`oracle_sql()` — matching DuckDB SQL for the correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from parkour_spark.queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary on sf0.001."""
    return QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


# The driver's correctness gate checks the first 50 registry entries;
# the registry holds 294. ROTATION RULE: the window each round = (a)
# entries ADDED this round (plus any earlier late additions still
# holding zero driver rows), (b) entries whose code or oracle CHANGED
# this round, (c) filled to 50 with the entries holding the OLDEST
# driver rows (never-verified first). Out-of-window entries are
# re-verified every round by the local gate replica
# (scripts/check_oracle.py over ALL entries — same compare: rows +
# columns + sorted value hash vs DuckDB).
_GATE_WINDOW = [
    # text-index entries whose probe or mutation legs changed
    "text_stream_probe", "text_probe_after_append",
    "text_probe_after_delete", "text_ingest_compact_probe",
    "text_build_then_stream_probe", "text_probe_multi_batch",
    # minhash signatures + in-bucket pair explode
    "dedup_minhash_lsh", "dedup_groups",
    "cc_delta_update_groups", "label_propagation_communities",
    "pagerank_dedup_graph", "kcore_dedup_graph",
    "clustering_coefficient_dedup", "dedup_delta_ingest",
    "minhash_probe_persisted", "minhash_probe_after_append",
    "minhash_probe_after_delete", "minhash_probe_after_compact",
    "streaming_minhash_ingest_probe", "minhash_ingest_compact_probe",
    "minhash_build_then_stream_probe",
    # winnowing family
    "winnow_fingerprints", "winnow_overlap_pairs",
    "substring_dedup_clean", "substring_spans_delta",
    "substring_probe_after_append", "substring_probe_after_compact",
    "substring_probe_after_delete", "substring_probe_delete_readrepair",
    "streaming_substring_ingest_probe", "substring_ingest_compact_probe",
    "substring_build_then_stream_probe",
    # prefix/pair-explode consumers, bigstar, stats-read probes
    "dedup_prefix_filter", "dedup_ngram_jaccard_capped",
    "semantic_dedup_kmeans", "semantic_dedup_groups",
    "embedding_neardup_blocked", "dedup_groups_bigstar",
    "text_probe_persisted",
    # vector-index streaming legs (shared ingest loop) and deletes
    # (shared cell rewrite)
    "streaming_ivf_ingest_probe", "ivf_ingest_compact_probe",
    "streaming_pq_ingest_probe", "pq_ingest_compact_probe",
    "ivfpq_ingest_compact_probe", "ivf_probe_after_delete",
    "ivfpq_probe_after_delete",
    # oldest-row fills, alphabetical
    "q21_waiting_supplier", "q22_sales_opportunity", "q4_priority_check",
    "quantized_embeddings",
]


def _ordered(d: dict) -> dict:
    # loud drift check (r3 advice): a rename/typo must fail here, not
    # silently slide an unverified entry into the 50-entry gate window
    missing = set(_GATE_WINDOW) - set(d)
    assert not missing, f"window entries not in registry: {sorted(missing)}"
    assert len(_GATE_WINDOW) == 50, len(_GATE_WINDOW)
    assert len(set(_GATE_WINDOW)) == 50, "duplicate window entries"
    front = [n for n in _GATE_WINDOW if n in d]
    return {n: d[n] for n in front} | {n: d[n] for n in d if n not in front}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(dict(QUERIES))


def oracle_sql() -> dict[str, str]:
    return _ordered(dict(ORACLES))
