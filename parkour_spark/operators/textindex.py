"""Persisted full-text retrieval index (inverted postings + BM25
probe) — the FIFTH persisted-index family (r10).

`corpus.bm25_topk` re-tokenizes the whole corpus per query batch —
right for one-shot jobs, wrong for serving: a retrieval deployment
over 100 TB tokenizes ONCE and serves every query from stored
postings. Layout under `path` (the dseq/dsink write-then-read-back
contract, /root/reference/src/clojure/parkour/io/dsink.clj:14-44 —
an index is this engine's dsink):

  postings/ — (term, doc_id, tf, dl) partitioned by
              tbucket = hash_bucket(term, n_buckets): the inverted
              file. The bucket is the text analog of an IVF cell — a
              query's terms hash to a handful of buckets, which apply
              as a STATIC partition filter so the probe opens only
              those buckets' files (plus sortWithinPartitions(term)
              → tight term min/max footer stats for row-group skip).
              dl is denormalized onto each posting so probing never
              joins a doc-length table.
  doclen/   — (doc_id, dl), one row per doc INCLUDING dl=0 docs (they
              carry no postings but belong in N and avgdl — dropping
              them would silently shift every idf).
  stats/    — 1-row (n_docs, n_total) derived from doclen/, rewritten
              wholesale on every mutation via the artifacts swap (the
              bands/lists discipline: derived state is recomputed from
              stored rows, never incrementally patched).
  meta/     — {n_buckets, id_col} via the shared parameter guard: the
              bucket layout is a property of the stored bytes, so a
              probe/append with a different bucket count would read or
              write the wrong partitions — mismatch raises.

df_t is NOT stored: it equals the number of postings rows for t, so
the probe derives it with a window over its (tiny, query-term-sized)
postings slice — exactly how the inline bm25_topk computes it, which
is what makes probe ≡ inline an identity rather than an
approximation.

  tombstones/ — the pending retired-id ledger (r11,
              operators.indexcommon): deletes are O(|delete set|)
              appends here, probes anti-join it, compaction
              physically reconciles it.

Lifecycle identities (each gate-pinned): probe(build(A)) ≡
bm25_topk(A); append(B) ≡ build(A∪B) — postings/doclen are per-doc
pure, stats re-derive from full membership; delete(B) ≡ build(A∖B) —
O(|B|) tombstone append + stats net of the ledger, df/idf shift
exactly as a survivor build because df is probe-derived AFTER the
ledger anti-join; ingest(Σ batches) ≡ build(all) — exactly-once
commit-marker batch dirs; compact changes zero surviving rows and
physically reconciles the ledger.

SCALE: build pays the one corpus tokenize + one (term, doc) shuffle.
A probe's cost is Σ_t df_t postings rows read from ≤|terms| buckets —
independent of corpus size for selective terms; a stopword term costs
its full postings list (one partition-pruned columnar scan, never a
corpus re-tokenize).
"""

from __future__ import annotations

import hashlib
from typing import Iterable

from pyspark.sql import DataFrame, functions as F

from parkour_spark.functions.sampling import hash_bucket
from parkour_spark.functions.text import token_count, tokens
from parkour_spark.operators.sort import explode_fast, widen_scan


def _py_bucket(term: str, n_buckets: int) -> int:
    """Driver-side replica of functions.sampling.hash_bucket — the
    probe computes its query terms' buckets without a Spark job."""
    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % n_buckets


def _postings(
    docs: DataFrame, text_col: str, id_col: str, n_buckets: int
) -> DataFrame:
    base = explode_fast(
        widen_scan(docs),
        tokens(F.lower(F.col(text_col))),
        "term",
        keep=[F.col(id_col), token_count(F.col(text_col)).alias("dl")],
    )
    return (
        base.groupBy("term", id_col, "dl")
        .agg(F.count("*").alias("tf"))
        .withColumn("tbucket", hash_bucket(F.col("term"), n_buckets))
    )


def _doclen(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col), token_count(F.col(text_col)).alias("dl")
    )


def _specs(id_col: str) -> list:
    """The index's primary tables in their canonical layouts (the
    shared lifecycle contract, operators.indexcommon)."""
    from parkour_spark.operators.indexcommon import TableSpec

    return [
        TableSpec(
            "postings",
            ("term", id_col, "dl", "tf", "tbucket"),
            partition_by="tbucket",
            sort_within=("term", id_col),
        ),
        TableSpec("doclen", (id_col, "dl"), n_files=4),
    ]


def _write_stats(spark, path: str) -> None:
    """(Re)derive the 1-row corpus stats from the stored doclen table
    NET OF pending tombstones — wholesale-rewritten derived state,
    atomic swap. Subtracting the ledger here is what keeps N and avgdl
    (and therefore every BM25 score) shifting EXACTLY as a survivor
    build after an O(|B|) tombstone delete; df needs no such care
    because probes derive it after their own tombstone anti-join."""
    from parkour_spark.artifacts import publish_swap
    from parkour_spark.operators.indexcommon import exclude_tombstoned

    id_col = _read_meta(spark, path)["id_col"]
    live = exclude_tombstoned(
        spark, path, spark.read.parquet(path + "/doclen"), id_col
    )
    stats = live.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("n_total"),
    )
    publish_swap(
        spark,
        path + "/stats",
        lambda tmp: stats.coalesce(1).write.mode("overwrite").parquet(tmp),
    )


def _read_stats(spark, path: str) -> tuple[int, int]:
    """(n_docs, n_total) from the 1-row stats table — driver-side
    pyarrow read when the filesystem is mountable (r13: the
    `spark.read...collect()` here was a full Spark job of scheduler
    overhead per probe call), Spark-read fallback otherwise. Fresh
    read per call; nothing cached."""
    from parkour_spark.artifacts import read_tiny_rows_arrow

    rows = read_tiny_rows_arrow(spark, path + "/stats")
    if rows is None:
        rows = [
            r.asDict()
            for r in spark.read.parquet(path + "/stats").collect()
        ]
    st = rows[0]
    return int(st["n_docs"]), int(st["n_total"])


def _stats_df(spark, path: str) -> DataFrame:
    """The stats row as a 1-row LOCAL DataFrame — same values the
    parquet scan produced, without a file scan inside the probe plan
    (the read happens driver-side in _read_stats, per call).

    Built from a pyarrow Table so it plans as a LocalTableScan; a
    Python-list createDataFrame plans as `Scan ExistingRDD` and runs
    Python-worker tasks on every probe. Attribute references, NOT
    literals: the scoring tail divides n_total/n_docs, and foldable
    literals would let ConstantFolding evaluate 0/0 at OPTIMIZATION
    time on a fully emptied index (ANSI DIVIDE_BY_ZERO) — with
    attribute references, exactly like the parquet scan, the division
    only runs for rows that actually flow (none, when no posting
    survives)."""
    import pyarrow as pa

    n_docs, n_total = _read_stats(spark, path)
    return spark.createDataFrame(
        pa.table(
            {
                "n_docs": pa.array([n_docs], pa.int64()),
                "n_total": pa.array([n_total], pa.int64()),
            }
        )
    )


def _text_meta_record(n_buckets: int, id_col: str) -> dict:
    return {"n_buckets": n_buckets, "id_col": id_col}


def _check_text_meta(spark, path: str, n_buckets: int | None) -> None:
    from parkour_spark.artifacts import check_params

    called = {} if n_buckets is None else {"n_buckets": n_buckets}
    check_params(spark, path + "/meta", called, kind="text index")


def _read_meta(spark, path: str) -> dict:
    from parkour_spark.artifacts import read_params

    rec = read_params(spark, path + "/meta")
    if rec is None:
        raise ValueError(f"no text index meta under {path}")
    return rec


def _read_postings(spark, path: str) -> DataFrame | None:
    """The stored postings, or None when the index holds ZERO postings
    rows — a partitioned parquet write of an empty frame leaves no
    data files, so a plain read fails schema inference. Real case, not
    just pathological: every doc empty/whitespace-only (or everything
    deleted) is a valid corpus state, and probes must return empty
    results, not crash (r10, hypothesis-found)."""
    from parkour_spark.artifacts import read_parquet_or_none

    return read_parquet_or_none(spark, path + "/postings")


def text_index_build(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
) -> None:
    """Build and PERSIST the inverted index: ONE corpus tokenize + one
    (term, doc) shuffle writes term-bucketed postings (co-located, one
    file set per bucket, term-sorted within files), the doc-length
    table, the derived stats row, and the layout record."""
    from parkour_spark.artifacts import write_params
    from parkour_spark.operators.indexcommon import clear_tombstones

    spark = docs.sparkSession
    # a REBUILD into a reused root starts a fresh index: a leftover
    # ledger from the previous incarnation would silently hide the new
    # corpus's rows from probes and skew stats (r11)
    clear_tombstones(spark, path)
    (
        _postings(docs, text_col, id_col, n_buckets)
        .repartition("tbucket")
        .sortWithinPartitions("term", id_col)
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(path + "/postings")
    )
    _doclen(docs, text_col, id_col).write.mode("overwrite").parquet(
        path + "/doclen"
    )
    write_params(spark, path + "/meta", _text_meta_record(n_buckets, id_col))
    _write_stats(spark, path)


def text_index_append(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
) -> None:
    """Append an ingest batch: the batch pays ONLY its own tokenize +
    batch-sized shuffle (the old corpus is never re-read); stats
    re-derive from the full stored membership. Passing `n_buckets`
    validates it against the persisted layout (mismatch raises — rows
    would land in the wrong partitions). Batch ids must be disjoint
    from the index's (the standard delta contract — a duplicate id
    would double-count its postings) AND from the pending tombstone
    ledger (checked — a pending delete would silently hide the
    re-inserted rows; compact first, then re-add)."""
    from parkour_spark.operators.indexcommon import check_ids_not_tombstoned

    spark = new_docs.sparkSession
    _check_text_meta(spark, path, n_buckets)
    nb = int(_read_meta(spark, path)["n_buckets"])
    check_ids_not_tombstoned(spark, path, new_docs.select(id_col), id_col)
    (
        _postings(new_docs, text_col, id_col, nb)
        .repartition("tbucket")
        .sortWithinPartitions("term", id_col)
        .write.mode("append")
        .partitionBy("tbucket")
        .parquet(path + "/postings")
    )
    _doclen(new_docs, text_col, id_col).write.mode("append").parquet(
        path + "/doclen"
    )
    _write_stats(spark, path)


def text_index_delete(spark, ids: DataFrame, path: str) -> None:
    """DELETE documents in O(|delete set|): the retired ids land on
    the index's tombstone ledger (one atomic |B|-row write — postings/
    and doclen/ are NOT rewritten; r10 verdict #2, replacing the
    O(index) anti-join rewrite), and the 1-row stats re-derive net of
    the ledger. Probes anti-join the ledger and derive df after it, so
    delete(B) ≡ build(A∖B) EXACTLY — N, avgdl, and every idf shift as
    a survivor build (gate-pinned) — while `text_index_compact`
    physically reconciles the rows later. Corpus text is never
    re-tokenized; audit visibility with
    `indexcommon.ids_probe_visible` (and `artifacts.ids_remaining`
    for physical absence after compaction).

    CRASH WINDOW / rerun-to-heal (r11 review): the leg is two steps —
    ledger append, then the stats rewrite. A crash between them leaves
    probes deriving the shrunken df against the STALE (pre-delete)
    N/avgdl — scores off until the next mutation or compact reruns
    the stats derivation. The leg is idempotent (the ledger read
    dedups, stats rewrite wholesale), so the operational contract is
    the house one: on any doubt, re-run the delete (or run compact),
    then audit with ids_probe_visible — same rerun-to-heal class as
    ivfpq_index_delete's two-step window.

    COMPLIANCE: the delete is LOGICAL until a compact reconciles it —
    the retired postings/doclen bytes persist until then (the
    indexcommon module note). Right-to-be-forgotten flows follow it
    with `text_index_compact` and an `artifacts.ids_remaining` audit."""
    from parkour_spark.operators.indexcommon import append_tombstones

    id_col = _read_meta(spark, path)["id_col"]
    append_tombstones(spark, path, ids, id_col)
    _write_stats(spark, path)


def text_index_compact(spark, path: str) -> None:
    """Fold per-append/per-batch file sets back into one co-located,
    term-sorted file set per bucket AND physically reconcile the
    tombstone ledger (retired rows anti-joined out of postings/ and
    doclen/, ledger cleared last — idempotent, crash-healable; the
    shared indexcommon contract). Exact survivor-row preservation,
    atomic swaps, text never re-tokenized; any streaming `batch`
    partition column is dropped. stats/ re-derives (a no-op shift:
    delete already maintained it net of the ledger)."""
    from parkour_spark.operators.indexcommon import reconcile_tombstones

    id_col = _read_meta(spark, path)["id_col"]
    reconcile_tombstones(
        spark,
        path,
        _specs(id_col),
        id_col,
        rederive=lambda: _write_stats(spark, path),
    )


def text_index_probe_bm25(
    spark,
    path: str,
    query_terms: Iterable[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    require_all: bool = False,
    max_df: int | None = None,
) -> DataFrame:
    """Okapi BM25 top-k served ENTIRELY from the persisted index: the
    query terms' buckets (computed driver-side with the same md5
    bucket fn) apply as a STATIC partition filter, the term IN-list
    pushes into the pruned scan, df derives from the query-term
    postings slice via a window, and the corpus stats ride in as a
    broadcast 1-row table. Identical float/rounding expressions to
    `corpus.bm25_topk` on identical (tf, dl, df, N, total) inputs, so
    probe(build(A)) ≡ inline BM25 over A — the gate pins it against
    the same ANSI oracle. The corpus text appears NOWHERE in this
    plan: tokenization was paid once, at build.

    STATS SNAPSHOT: the corpus stats (n_docs, n_total) are read when
    this DataFrame is BUILT and ride in as local values, not when it
    runs: a probe built before an append, delete or compact and run
    after it scores with the old N and avgdl. Build the probe after
    the last mutation it should see."""
    meta = _read_meta(spark, path)
    id_col, nb = meta["id_col"], int(meta["n_buckets"])
    qlist = sorted(set(query_terms))
    buckets = sorted({_py_bucket(t, nb) for t in qlist})
    stored = _read_postings(spark, path)
    if stored is None:
        return spark.createDataFrame(
            [], f"{id_col} long, n_qterms long, score_micro long"
        )
    from parkour_spark.operators.indexcommon import exclude_tombstoned

    tf = (
        stored.where(F.col("tbucket").isin(buckets))
        .where(F.col("term").isin(qlist))
        .select(id_col, "dl", "term", "tf")
    )
    # pending-delete read repair BEFORE the df window: df, and through
    # it every idf, derives from the surviving postings only — exactly
    # the survivor build's values (no-op when no delete is pending)
    tf = exclude_tombstoned(spark, path, tf, id_col)
    totals = _stats_df(spark, path)
    # the scoring tail is SHARED with corpus.bm25_topk (one copy — the
    # probe ≡ inline identity is gate-pinned and must not drift)
    from parkour_spark.operators.corpus import bm25_score_topk

    return bm25_score_topk(
        tf, totals, qlist, k=k, k1=k1, b=b, id_col=id_col,
        require_all=require_all, max_df=max_df,
    )


def text_index_probe_bm25_multi(
    spark,
    path: str,
    query_sets: list,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """A BATCH of BM25 queries served from ONE partition-pruned
    postings scan — the serving-throughput pattern: at 100 TB you
    amortize the scan setup over the query batch instead of paying a
    Spark job per query. `query_sets` is [(query_id, [terms...])].

    One slice covers the UNION of all queries' terms (driver-side
    bucket hash → static partition filter + pushed IN-list, exactly
    the single-query probe); df derives per TERM over that slice
    (query-independent — a term's df is the same whoever asks); each
    query's postings select via a broadcast (query_id, term) map; the
    per-(query, doc) scoring is the same shared expression
    (corpus.bm25_term_micro) and the final top-k is one
    query-partitioned window. Restricted to a single query the result
    is row-identical to `text_index_probe_bm25` (test-pinned), so the
    gate oracle replays each query independently and unions.

    Result: (query_id, {id}, n_qterms, score_micro, rank ≤ k), ties at
    rank k to the lowest id — the house rule, per query. The corpus
    stats are read when the DataFrame is built (the single probe's
    STATS SNAPSHOT note applies unchanged)."""
    import pyarrow as pa
    from pyspark.sql import Window

    from parkour_spark.operators.indexcommon import exclude_tombstoned

    meta = _read_meta(spark, path)
    id_col, nb = meta["id_col"], int(meta["n_buckets"])
    qmap = sorted({(int(q), t) for q, terms in query_sets for t in terms})
    all_terms = sorted({t for _, t in qmap})
    buckets = sorted({_py_bucket(t, nb) for t in all_terms})
    stored = _read_postings(spark, path)
    if stored is None or not qmap:
        return spark.createDataFrame(
            [],
            f"query_id long, {id_col} long, n_qterms long, "
            "score_micro long, rank int",
        )
    tf = (
        stored.where(F.col("tbucket").isin(buckets))
        .where(F.col("term").isin(all_terms))
        .select(id_col, "dl", "term", "tf")
    )
    tf = exclude_tombstoned(spark, path, tf, id_col)
    # df per TERM over the union slice — identical to what each
    # query's own slice would derive (the slice per term is the same)
    tf = tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
    # from a pyarrow Table, like _stats_df: a LocalTableScan, not an RDD
    # scan of a Python list that runs Python-worker tasks per probe
    qdf = spark.createDataFrame(
        pa.table(
            {
                "query_id": pa.array([q for q, _ in qmap], pa.int64()),
                "term": pa.array([t for _, t in qmap], pa.string()),
            }
        )
    )
    rows = tf.join(F.broadcast(qdf), "term")
    totals = _stats_df(spark, path)
    return _multi_rank_tail(rows, totals, k, k1, b, id_col)


def _multi_rank_tail(
    rows: DataFrame, totals: DataFrame, k: int, k1: float, b: float,
    id_col: str,
) -> DataFrame:
    """The batched probe's scoring tail: per-(query, doc) aggregate of
    the one shared per-term expression (corpus.bm25_term_micro) + one
    query-partitioned top-k window. `rows` carries (query_id, id_col,
    dl, term, tf, df), df window-derived over the union slice."""
    from pyspark.sql import Window

    from parkour_spark.operators.corpus import bm25_term_micro

    scored = (
        rows.crossJoin(F.broadcast(totals))
        .select(
            "query_id",
            F.col(id_col),
            bm25_term_micro(k1, b).alias("term_micro"),
        )
        .groupBy("query_id", id_col)
        .agg(
            F.count("*").alias("n_qterms"),
            F.sum("term_micro").alias("score_micro"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "n_qterms", "score_micro", "rank")
    )
