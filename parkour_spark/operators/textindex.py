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
  termstats/ — (term, df, max_tf, min_dl) per term, bucket-partitioned
              (r11): the MaxScore upper-bound table, written at
              build/compact, maintained INCREMENTALLY through appends
              AND streaming batches (r12 — df/max_tf/min_dl merge
              monotonically with each batch, staged before and
              published after the batch's rows land so any crash
              leaves it absent, never stale; a fresh streaming root's
              first batch creates it) AND through deletes when the
              caller opts in (`maintain_termstats=True` — exact df
              decrement from one column-pruned postings scan;
              max_tf/min_dl go stale-but-bounding), consumed by the
              MaxScore probes. TABLE CONTRACT (what every leg
              preserves and the probes' exactness proofs lean on):
              when present, df is EXACT for the SURVIVOR membership
              (postings minus the pending tombstone ledger), while
              max_tf ≥ the survivors' max tf and min_dl ≤ their min
              dl per term — still-valid bounds, possibly loose after
              a maintained delete. A leg that cannot preserve this
              leaves the table ABSENT (probes fall back, exact).

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
corpus re-tokenize) — unless served through
`text_index_probe_bm25_maxscore` (r11), which scores non-essential
high-df terms only for candidate documents (exact, with provable
row-skip counts and automatic fallback) — the r10 future-work note,
implemented.
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


def _write_termstats(spark, path: str) -> None:
    """(term, df, max_tf, min_dl) per stored term, bucket-partitioned
    like the postings — the MaxScore upper-bound table (r11, r10
    verdict #4). df is the exact per-term postings count (one row per
    (term, doc)); max_tf/min_dl bound the tf-normalization for ANY
    (k1, b), since tfn increases in tf and decreases in dl. Written at
    build and compact; appends AND streaming batches maintain it
    incrementally (r12 — the stage-invalidate-publish protocol in
    text_index_append / streaming_text_ingest); DELETE invalidates by
    default (df shrinks — no monotone merge exists) but maintains the
    table exactly when asked (`maintain_termstats=True`: one
    column-pruned postings scan decrements df per term; see
    _stage_decremented_termstats). A stale df would mis-score, so the
    MaxScore probes fall back to plain scoring whenever the table is
    absent — presence is the module-docstring contract: df
    survivor-exact, max_tf/min_dl valid bounds. Real impact-ordered
    indexes are maintained at merge time for exactly this reason
    (Turtle & Flood 1995)."""
    from parkour_spark import fs as pfs
    from parkour_spark.artifacts import publish_swap

    post = _read_postings(spark, path)
    if post is None:
        if pfs.exists(spark, path + "/termstats"):
            pfs.delete(spark, path + "/termstats")
        return
    ts = post.groupBy("term", "tbucket").agg(
        F.count("*").alias("df"),
        F.max("tf").alias("max_tf"),
        F.min("dl").alias("min_dl"),
    )
    publish_swap(
        spark,
        path + "/termstats",
        lambda tmp: ts.repartition("tbucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(tmp),
    )


def _invalidate_termstats(spark, path: str) -> None:
    from parkour_spark import fs as pfs

    if pfs.exists(spark, path + "/termstats"):
        pfs.delete(spark, path + "/termstats")


def _write_termstats_staging(spark, path: str, merged) -> str:
    """Materialize a staged termstats table to a `termstats.__next-*__`
    sibling in the canonical layout — the ONE copy of the
    crash-safety-critical staging publish (r12 review: the append and
    delete stagers each carried their own; a divergent fix would
    reintroduce the torn-staging bug class the sweep/rename protocol
    prevents). Cleans up and re-raises on any write failure; the
    caller renames the returned path in LAST."""
    import uuid

    from parkour_spark import fs as pfs

    staging = f"{path}/termstats.__next-{uuid.uuid4().hex}__"
    try:
        (
            merged.repartition("tbucket")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .partitionBy("tbucket")
            .parquet(staging)
        )
    except BaseException:
        if pfs.exists(spark, staging):
            pfs.delete(spark, staging)
        raise
    return staging


def _stage_merged_termstats(
    spark, path: str, batch_post: DataFrame
) -> str | None:
    """Stage the POST-append termstats (r12, r11 verdict #4): df /
    max_tf / min_dl merge MONOTONICALLY with an append batch's own
    stats — df adds (batch ids are disjoint from the index's, the
    delta contract the append already enforces), max_tf takes the max,
    min_dl the min — so the table stays exact through appends instead
    of dying until the next compact. The merged rows MATERIALIZE to a
    staging sibling BEFORE the live table is invalidated and before
    any postings byte lands, so the publish is a pure rename at the
    end of the append: a crash anywhere in between leaves termstats/
    ABSENT (probe falls back, exact) — never stale. Returns the
    staging dir, or None when the table cannot be reconstructed: a
    POPULATED index whose termstats was invalidated (delete / crashed
    mutation) stays absent until compact rebuilds it from the
    reconciled survivors. An EMPTY index (fresh streaming root, zero
    postings) is the exception — the batch's own stats ARE the exact
    table, which is what keeps MaxScore alive from a streaming root's
    very first micro-batch (r12)."""
    import uuid

    from parkour_spark import fs as pfs
    from parkour_spark.artifacts import read_parquet_or_none

    live = read_parquet_or_none(spark, path + "/termstats")
    batch_ts = batch_post.groupBy("term", "tbucket").agg(
        F.count("*").alias("df"),
        F.max("tf").alias("max_tf"),
        F.min("dl").alias("min_dl"),
    )
    if live is None:
        if _read_postings(spark, path) is not None:
            return None  # invalidated on a populated index
        merged = batch_ts  # empty index: the batch IS the corpus
    else:
        merged = (
            live.select("term", "tbucket", "df", "max_tf", "min_dl")
            .unionByName(batch_ts)
            .groupBy("term", "tbucket")
            .agg(
                F.sum("df").cast("long").alias("df"),
                F.max("max_tf").alias("max_tf"),
                F.min("min_dl").alias("min_dl"),
            )
        )
    return _write_termstats_staging(spark, path, merged)


def _stage_decremented_termstats(
    spark, path: str, ids: DataFrame, id_col: str
) -> str | None:
    """Stage the POST-DELETE termstats (r12 extra wave — closing the
    'delete invalidates' asymmetry the r11/r12 notes called honest):
    df CAN be maintained exactly through a tombstone delete, because
    the decrement per term is just the number of postings rows whose
    id is newly retired — one column-pruned (term, tbucket, id) scan
    of postings/ joined to the delete batch. Cost, honestly: that
    scan touches every postings file (the layout partitions by term
    bucket, not id), flat in |B| but O(index bytes read) — which is
    why the delete leg takes this path only on `maintain_termstats=
    True`; the default stays the O(|B|) ledger append + invalidate.

    max_tf / min_dl are NOT recomputed (that would need the per-term
    survivor max/min — a full re-aggregation): deleting docs can only
    SHRINK a term's max tf and RAISE its min dl, so the stored values
    remain valid upper/lower bounds — the probes' ub expression stays
    an upper bound (possibly loose → smaller skip, never wrong),
    while scoring itself reads tf/dl from postings rows and df from
    this table, both survivor-exact. That is precisely the table
    contract in the module docstring.

    Exactness of the decrement: the batch is first reduced to ids NOT
    already on the pending ledger (a re-delete must not decrement
    twice) — live df counts survivors net of the EXISTING ledger (by
    induction over the maintained legs), so df' = df_live −
    |postings_t ∩ (B ∖ ledger)| = survivors net of ledger ∪ B. Terms
    whose survivor df reaches 0 drop out of the table entirely (their
    remaining postings rows are all tombstoned; keeping a df=0 row
    would only inflate the probes' term order).

    Same staging discipline as the append stager: materialize to a
    `termstats.__next-*__` sibling (swept by the same crash sweep)
    while the live table is still consistent, return the path for the
    caller to rename in LAST — any crash ordering leaves the table
    absent, never stale. Returns None when there is nothing to
    maintain (table absent or index empty)."""
    from parkour_spark.artifacts import read_parquet_or_none
    from parkour_spark.operators.indexcommon import read_tombstones

    live = read_parquet_or_none(spark, path + "/termstats")
    if live is None:
        return None
    post = _read_postings(spark, path)
    if post is None:
        return None
    new_ids = ids.select(F.col(ids.columns[0]).alias(id_col)).distinct()
    ledger = read_tombstones(spark, path)
    if ledger is not None:
        new_ids = new_ids.join(F.broadcast(ledger), id_col, "left_anti")
    dec = (
        post.select("term", "tbucket", id_col)
        .join(F.broadcast(new_ids), id_col)
        .groupBy("term", "tbucket")
        .agg(F.count("*").alias("__dec"))
    )
    merged = (
        live.select("term", "tbucket", "df", "max_tf", "min_dl")
        .join(dec, ["term", "tbucket"], "left")
        .select(
            "term",
            "tbucket",
            (F.col("df") - F.coalesce(F.col("__dec"), F.lit(0)))
            .cast("long")
            .alias("df"),
            "max_tf",
            "min_dl",
        )
        .where(F.col("df") > 0)
    )
    return _write_termstats_staging(spark, path, merged)


def _sweep_termstats_staging(spark, path: str) -> None:
    """Drop staging leftovers from crashed appends — they are garbage
    by construction (the crash left termstats/ absent and the postings
    possibly torn, so the staged merge no longer describes anything)."""
    from parkour_spark import fs as pfs

    for p in pfs.glob_paths(spark, path + "/termstats.__next-*__"):
        pfs.delete(spark, p)


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
    write_params(
        spark, path + "/meta", {"n_buckets": n_buckets, "id_col": id_col}
    )
    _write_stats(spark, path)
    _write_termstats(spark, path)


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
    re-inserted rows; compact first, then re-add).

    The MaxScore termstats/ table SURVIVES the append (r12): the
    batch's per-term stats merge monotonically into the stored table
    via the staged-rename protocol below, so early termination stays
    live through an append-only lifecycle instead of dying until the
    next compact."""
    from parkour_spark import fs as pfs
    from parkour_spark.operators.indexcommon import check_ids_not_tombstoned

    spark = new_docs.sparkSession
    _check_text_meta(spark, path, n_buckets)
    nb = int(_read_meta(spark, path)["n_buckets"])
    check_ids_not_tombstoned(spark, path, new_docs.select(id_col), id_col)
    _sweep_termstats_staging(spark, path)
    batch_post = _postings(new_docs, text_col, id_col, nb).persist()
    try:
        # Termstats protocol (r12, r11 verdict #4 + r11 ADVICE order
        # fix): (1) stage the merged post-append termstats to a sibling
        # while the live table still matches the live postings, (2)
        # invalidate the live table BEFORE any postings byte lands —
        # from here to (4) a crash leaves termstats ABSENT, so the
        # MaxScore probe falls back (exact) instead of mis-scoring
        # against a stale df (the r11 publish-then-invalidate window),
        # (3) append postings/doclen + rewrite stats, (4) publish the
        # staged merge with one rename. Either crash order is safe:
        # before (2) the old table still describes the old postings;
        # after (2) the table is absent until the rename commits it.
        staging = _stage_merged_termstats(spark, path, batch_post)
        _invalidate_termstats(spark, path)
        (
            batch_post.repartition("tbucket")
            .sortWithinPartitions("term", id_col)
            .write.mode("append")
            .partitionBy("tbucket")
            .parquet(path + "/postings")
        )
        _doclen(new_docs, text_col, id_col).write.mode("append").parquet(
            path + "/doclen"
        )
        _write_stats(spark, path)
        if staging is not None:
            if not pfs.rename(spark, staging, path + "/termstats"):
                pfs.delete(spark, staging)  # absent → fallback, never stale
    finally:
        batch_post.unpersist()


def text_index_delete(
    spark,
    ids: DataFrame,
    path: str,
    auto_compact_threshold: int | None = None,
    maintain_termstats: bool = False,
) -> None:
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
    indexcommon module note). Pass `auto_compact_threshold=N` to run
    `text_index_compact` inline once the pending ledger exceeds N ids;
    right-to-be-forgotten flows should either do that or follow up
    with an explicit compact + ids_remaining audit.

    MAINTAIN TERMSTATS (r12): by default the delete INVALIDATES the
    MaxScore termstats table (df shrinks; no monotone merge), so
    early termination dies until the next compact. Pass
    `maintain_termstats=True` to keep it alive: the per-term df
    decrement is staged from one column-pruned postings scan BEFORE
    the ledger lands and renamed in LAST (max_tf/min_dl stay as
    still-valid bounds — the module-docstring table contract), at the
    honest cost of giving up the pure-O(|B|) delete for that one
    scan. Either crash order leaves the table absent → probes fall
    back, exact — the same staged-rename guarantee as the append
    leg."""
    from parkour_spark import fs as pfs
    from parkour_spark.operators.indexcommon import (
        append_tombstones,
        pending_tombstone_count,
    )

    id_col = _read_meta(spark, path)["id_col"]
    _sweep_termstats_staging(spark, path)
    staging = None
    if maintain_termstats:
        # stage while live termstats/ledger still describe the
        # pre-delete survivor state (the stager dedups vs the ledger)
        staging = _stage_decremented_termstats(spark, path, ids, id_col)
    _invalidate_termstats(spark, path)  # first: a stale df must never
    # outlive the ledger write (either crash order leaves the MaxScore
    # probe falling back, never mis-scoring)
    append_tombstones(spark, path, ids, id_col)
    _write_stats(spark, path)
    if staging is not None:
        if not pfs.rename(spark, staging, path + "/termstats"):
            pfs.delete(spark, staging)  # absent → fallback, never stale
    if (
        auto_compact_threshold is not None
        and pending_tombstone_count(spark, path) > auto_compact_threshold
    ):
        text_index_compact(spark, path)


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
    _write_termstats(spark, path)  # the MaxScore table is (re)derived
    # from the reconciled survivors — compaction restores serving state


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
    plan: tokenization was paid once, at build."""
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


def _maxscore_term_ub(r, n_docs: int, avgdl: float, k1: float, b: float):
    """The per-document score upper bound for one termstats row —
    idf(df) · tfn(max_tf, min_dl): tfn increases in tf and decreases
    in dl, so this bounds the term's contribution for ANY document.
    ONE copy (r12 review): the single-query and batched MaxScore
    probes' exactness proofs both lean on this exact expression."""
    import math

    idf = math.log(1 + (n_docs - r["df"] + 0.5) / (r["df"] + 0.5))
    tfn = (r["max_tf"] * (k1 + 1)) / (
        r["max_tf"] + k1 * ((1 - b) + b * r["min_dl"] / avgdl)
    )
    return idf * tfn


def _maxscore_rest_ub(ubs: dict, rest_terms: list) -> int:
    """Micro-unit upper bound on any document's total score over the
    NON-essential terms, +1 micro/term slack for per-term rounding —
    the slack the exactness proof depends on, in one copy: each
    term_micro = round(x·1e6) ≤ x·1e6 + 0.5 with x ≤ ub_t, so the sum
    is ≤ ceil(Σ ub·1e6) + |rest|."""
    import math

    return math.ceil(sum(ubs[t] for t in rest_terms) * 1e6) + len(
        rest_terms
    )


# The MaxScore final pass semi-joins the non-essential postings to the
# essential-candidate set. The driver holds a PROVABLE bound on that
# set before running anything: |cand| ≤ Σ df over the essential terms
# (termstats df, survivor-exact). Essential terms are the rare
# high-ub ones by construction, so the bound is usually tiny — under
# this cap the candidate set broadcasts (hash semi-join, no shuffle of
# the big non-essential slice; at 4M long ids the hashed relation is
# ~10²MB, comfortably executor-broadcastable). Over the cap the join
# falls back to Spark's shuffle semi-join — correct, just not
# shuffle-free. Measured (scripts/serving_scale_maxscore.py, ×400
# corpus): the static plan's SortMergeJoin LeftSemi exchanged the
# full 3M-row rest slice; broadcasting cand removes that exchange.
_MAXSCORE_CAND_BROADCAST_MAX = 4_000_000


def _maxscore_prefix_sizes(n: int) -> list[int]:
    """Geometric essential-prefix sizes (1, 2, 4, …, n-1) for the θ
    search: O(log n) passes, total re-scanned prefix work ≤ 2× the
    final pass — not the O(n) passes / O(n²) scans of unit growth
    (r11 review). The trade: the chosen prefix may overshoot the
    minimal essential set by <2×, shrinking the skip, never breaking
    exactness."""
    sizes, s = [], 1
    while s < n:
        sizes.append(s)
        s *= 2
    if sizes and sizes[-1] != n - 1:
        sizes.append(n - 1)  # always test the largest proper prefix
    return sizes


def _maxscore_feasible_prefix_sizes(
    ubs: dict, dfs: dict, order: list, sizes: list[int], rest_ub_fn
) -> list[int]:
    """Drop θ-search prefix sizes that provably cannot PAY —
    driver-side, before any job, from termstats alone (r12
    serving-scale fix). Two screens, both conservative:

    CAN'T CLEAR: θ is the k-th best partial micro score over the
    prefix, and every per-term micro ≤ ub_t·1e6 + 0.5, so
    θ ≤ ceil(Σ_{t∈prefix_i} ub_t · 1e6) + i — the same slack
    arithmetic _maxscore_rest_ub uses, applied to the prefix. If that
    ceiling is ≤ rest_ub(i), NO corpus can produce a θ that clears at
    prefix i and scoring the prefix would be a wasted pass.

    CAN'T PAY: even a prefix that clears only helps by the rows the
    candidate semi-join then drops, and the driver can bound THAT
    too: the join keeps ≤ min(Σ_{ess} df, df_t) rows of each rest
    term t, so the assured skip is Σ_t (df_t − min(Σ_ess df, df_t)).
    When that is under HALF the rest postings the mechanism cannot
    beat its own extra jobs — the near-uniform case (measured ×400:
    a hash+scan query with a 0.009-ub gap was 'feasible', scanned
    1.5M prefix rows, and would have skipped ~10k) — so the query
    goes straight to full scoring with zero θ jobs.

    Both screens affect PERFORMANCE only, never results: skipping
    early termination is always exact (the probe scores everything),
    and kept passes still run and may or may not clear."""
    out = []
    for i in sizes:
        # θ_max over prefix i IS the shared slack bound applied to the
        # prefix — one copy (r12 review), so the screen can never
        # diverge from the exactness proof's arithmetic
        theta_max = _maxscore_rest_ub(ubs, order[:i])
        if theta_max <= rest_ub_fn(i):
            continue
        cand_bound = sum(dfs[t] for t in order[:i])
        rest_dfs = [dfs[t] for t in order[i:]]
        assured_skip = sum(d - min(cand_bound, d) for d in rest_dfs)
        if 2 * assured_skip < sum(rest_dfs):
            continue
        out.append(i)
    return out


def text_index_probe_bm25_maxscore(
    spark,
    path: str,
    query_terms: Iterable[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    stats_out: dict | None = None,
) -> DataFrame:
    """BM25 top-k with MaxScore-family early termination (Turtle &
    Flood 1995; the WAND/block-max line of work, Broder et al. 2003)
    — EXACT: always returns the identical top-k to
    `text_index_probe_bm25` (gate-pinned against the same full-scoring
    oracle), but scores high-df NON-ESSENTIAL terms' postings only for
    candidate documents instead of reading-and-scoring their full
    lists. The textindex.py:49 future-work note, implemented.

    How: the persisted `termstats/` table (df, max_tf, min_dl per
    term — written at build/compact, incrementally maintained through
    appends and streaming since r12, and through deletes on
    `maintain_termstats=True`; the module-docstring contract makes
    presence imply survivor-exact df + valid bounds) gives each term
    a per-document score upper bound
    ub_t = idf(df_t) · tfn(max_tf_t, min_dl_t). Terms are taken in
    descending-ub order into the ESSENTIAL set E until the k-th best
    partial score over E alone (θ, a valid lower bound on the true
    k-th best) exceeds Σ ub over the rest — then any document matching
    ONLY non-essential terms is bounded below θ and cannot reach the
    top-k, so the final pass scores E's postings fully but the rest
    only semi-joined to E's candidates. df comes from termstats (exact
    while the table is fresh — which its invalidation contract
    guarantees) so the scoring tail is bit-identical to the plain
    probe's window-derived df.

    Scale shape: the win is Σ_{t∉E} (df_t − |candidates ∩ postings_t|)
    rows never scored — for a query mixing one rare term with
    stopword-adjacent terms that is nearly the whole stopword list.
    A PENDING tombstone ledger is served, not fallen back from (r12):
    every postings slice — θ passes, essential rows, candidate set,
    non-essential semi-join — anti-joins the ledger first, so θ and
    the final scores derive from survivors only, and the maintained
    termstats df matches the plain probe's post-anti-join window df
    row for row. Fallbacks (always exact, never wrong): termstats
    absent (index mutated without maintenance since the last
    build/compact) or θ never clearing the bound (uniform-ub queries)
    → the plain probe. Pass `stats_out={}` to receive {essential,
    theta_micro, rest_ub_micro, rows_skipped_lower_bound, fallback}."""
    from parkour_spark.artifacts import read_parquet_or_none
    from parkour_spark.operators.corpus import _bm25_rank_filtered
    from parkour_spark.operators.indexcommon import read_tombstones

    out = stats_out if stats_out is not None else {}

    def plain(reason: str) -> DataFrame:
        out["fallback"] = reason
        return text_index_probe_bm25(spark, path, query_terms, k, k1, b)

    meta = _read_meta(spark, path)
    id_col, nb = meta["id_col"], int(meta["n_buckets"])
    qlist = sorted(set(query_terms))
    ts_df = read_parquet_or_none(spark, path + "/termstats")
    if ts_df is None:
        return plain("no_termstats")
    stored = _read_postings(spark, path)
    if stored is None:
        return plain("empty_index")
    # pending deletes are SERVED (r12): read the ledger once; every
    # slice below anti-joins it, so θ and scores see survivors only
    tomb = read_tombstones(spark, path)
    buckets = sorted({_py_bucket(t, nb) for t in qlist})
    ts_rows = (
        ts_df.where(F.col("tbucket").isin(buckets))
        .where(F.col("term").isin(qlist))
        .collect()
    )
    n_docs, n_total = _read_stats(spark, path)
    if n_docs == 0 or not ts_rows:
        return plain("no_matching_terms")
    avgdl = n_total / n_docs
    ubs = {
        r["term"]: _maxscore_term_ub(r, n_docs, avgdl, k1, b)
        for r in ts_rows
    }
    dfs = {r["term"]: int(r["df"]) for r in ts_rows}
    order = sorted(ubs, key=lambda t: (-ubs[t], t))
    totals = spark.createDataFrame(
        [(n_docs, n_total)], "n_docs long, n_total long"
    )
    df_table = spark.createDataFrame(
        [(t, dfs[t]) for t in order], "term string, df long"
    )

    def slice_terms(terms: list[str]) -> DataFrame:
        bks = sorted({_py_bucket(t, nb) for t in terms})
        tf = (
            stored.where(F.col("tbucket").isin(bks))
            .where(F.col("term").isin(terms))
            .select(id_col, "dl", "term", "tf")
        )
        if tomb is not None:
            tf = tf.join(F.broadcast(tomb), id_col, "left_anti")
        return tf

    def with_df(tf: DataFrame) -> DataFrame:
        return tf.join(F.broadcast(df_table), "term")

    # grow the essential prefix until θ (k-th best partial score over
    # E, in micro units — a lower bound on the true k-th best) clears
    # the non-essential upper bound (shared _maxscore_rest_ub slack);
    # each check is one partition-pruned pass over E's postings only,
    # with geometric prefix growth (shared _maxscore_prefix_sizes)
    def rest_ub(i: int) -> int:
        return _maxscore_rest_ub(ubs, order[i:])

    # driver-side screen: drop prefix sizes that provably cannot
    # clear (uniform-ub queries run ZERO θ jobs and go straight to
    # full scoring — the θ passes they used to pay scanned a common
    # term's whole postings list for a pass that could never succeed)
    sizes = _maxscore_feasible_prefix_sizes(
        ubs, dfs, order, _maxscore_prefix_sizes(len(order)), rest_ub
    )
    n_ess = len(order)
    theta = None
    chosen_rest_ub = 0
    for i in sizes:
        part = _bm25_rank_filtered(
            with_df(slice_terms(order[:i])), totals, qlist,
            k=k, k1=k1, b=b, id_col=id_col,
            require_all=False, max_df=None,
        ).collect()
        if len(part) >= k:
            theta = int(part[k - 1]["score_micro"])
            if theta > rest_ub(i):
                n_ess = i
                chosen_rest_ub = rest_ub(i)
                break
    out["essential"] = order[:n_ess]
    out["theta_micro"] = theta
    if n_ess == len(order):
        # every term essential (uniform ubs / tiny corpus): this IS
        # full scoring with termstats-df — identical to the plain
        # probe, no skip to claim
        out["fallback"] = "all_essential"
        out["rows_skipped_lower_bound"] = 0
        return _bm25_rank_filtered(
            with_df(slice_terms(order)), totals, qlist,
            k=k, k1=k1, b=b, id_col=id_col,
            require_all=False, max_df=None,
        )
    out["rest_ub_micro"] = chosen_rest_ub
    ess_rows = slice_terms(order[:n_ess])
    cand = ess_rows.select(id_col).distinct()
    if sum(dfs[t] for t in order[:n_ess]) <= _MAXSCORE_CAND_BROADCAST_MAX:
        cand = F.broadcast(cand)  # provably small: ≤ Σ essential df
    rest_rows = slice_terms(order[n_ess:]).join(cand, id_col, "left_semi")
    if stats_out is not None:
        # the provable skip: non-essential rows scored vs their full
        # postings length (extra jobs — only when the caller asks)
        scored_rest = rest_rows.count()
        full_rest = sum(dfs[t] for t in order[n_ess:])
        out["rows_skipped_lower_bound"] = full_rest - scored_rest
        out["fallback"] = None
    return _bm25_rank_filtered(
        with_df(ess_rows.unionByName(rest_rows)), totals, qlist,
        k=k, k1=k1, b=b, id_col=id_col,
        require_all=False, max_df=None,
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
    rank k to the lowest id — the house rule, per query."""
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
    """The batched probes' shared scoring tail: per-(query, doc)
    aggregate of the one shared per-term expression
    (corpus.bm25_term_micro) + one query-partitioned top-k window.
    `rows` carries (query_id, id_col, dl, term, tf, df) — the plain
    multi probe enters with window-derived df, the MaxScore variant
    with termstats-supplied df and candidate-pruned rows; both must
    score through THIS one copy or the batched maxscore ≡ batched
    plain identity drifts (the r10-ADVICE one-copy discipline)."""
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


def text_index_probe_bm25_multi_maxscore(
    spark,
    path: str,
    query_sets: list,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    stats_out: dict | None = None,
) -> DataFrame:
    """The batched BM25 probe WITH per-query MaxScore early
    termination (r12, r11 verdict #3) — EXACT: row-identical to
    `text_index_probe_bm25_multi` (gate-pinned against the same
    full-scoring oracle), composing the two serving wins the r11
    verdict called out as un-composed: the batch amortizes ONE
    partition-pruned postings scan over all queries, AND each query
    skips scoring its high-df non-essential terms' postings outside
    its essential-candidate set — which is exactly where skipping pays
    at 100 TB serving scale (the per-query fixed job latency that
    drowned the single-query win at sf1 is already amortized here).

    Per-query θ, batched search: every query orders its terms by the
    shared termstats upper bound (ub_t = idf(df_t)·tfn(max_tf_t,
    min_dl_t) — query-independent, computed once); the essential-
    prefix search then runs ALL queries' geometric prefix rounds in
    lockstep — round r scores every still-active query's 2^r-term
    prefix in ONE job over a slice pruned to that round's prefix
    terms only (bucket filter + pushed IN-list — the round scans the
    rare essential prefixes' postings, never the full union slice;
    a broadcast (query_id, term) prefix map assigns rows to queries),
    collects each query's k-th best partial score
    θ_q, and locks the queries whose θ_q clears their non-essential
    bound Σub + slack. O(log max_terms) jobs for the WHOLE batch —
    the same bound the single-query probe pays for one query.
    Queries that never clear (uniform ubs, < k candidates) simply
    score all their terms — per-query exactness never depends on the
    skip landing.

    Final pass: one job over two term-pruned slices — the essential
    slice fans out to (query, term) rows via the broadcast query map
    and passes through; the non-essential slice (its own pushed
    IN-list) semi-joins each query's essential-candidate set on
    (query_id, id) — broadcast when the driver's Σ-essential-df bound
    proves it small (_MAXSCORE_CAND_BROADCAST_MAX), so the big rest
    slice never shuffles; and the shared tail (_multi_rank_tail, df from
    termstats — exact while fresh, which the lifecycle contract
    guarantees) takes each top-k. Dropped (query, doc) pairs match
    only non-essential terms of that query, so their score is
    ≤ rest_ub < θ_q ≤ the true k-th best — strictly below the cut,
    ties included: the identity is exact, not approximate.

    A pending tombstone ledger is served, not fallen back from (r12):
    the one shared slice anti-joins the ledger before any θ pass or
    scoring, so every query's θ and scores derive from survivors only
    while the maintained termstats df stays exact (the module
    table contract). Fallbacks (batch-wide, always exact): termstats
    absent or an empty index → the plain batched probe. Pass
    `stats_out={}` to receive {fallback, per_query: {qid: {essential,
    theta_micro, rest_ub_micro, rows_skipped_lower_bound}}} — the
    skip counters run extra jobs, only when asked."""
    from parkour_spark.artifacts import read_parquet_or_none
    from parkour_spark.operators.indexcommon import read_tombstones

    out = stats_out if stats_out is not None else {}

    def plain(reason: str) -> DataFrame:
        out["fallback"] = reason
        return text_index_probe_bm25_multi(
            spark, path, query_sets, k=k, k1=k1, b=b
        )

    meta = _read_meta(spark, path)
    id_col, nb = meta["id_col"], int(meta["n_buckets"])
    # duplicate query ids UNION their term sets — the plain batched
    # probe's (query_id, term)-pair semantics (r12 review: a dict
    # comprehension kept only the last entry, silently dropping terms)
    qsets: dict[int, set] = {}
    for q, terms in query_sets:
        qsets.setdefault(int(q), set()).update(terms)
    qsets = {q: sorted(ts) for q, ts in qsets.items()}
    all_terms = sorted({t for terms in qsets.values() for t in terms})
    if not all_terms:
        return plain("empty_batch")
    ts_df = read_parquet_or_none(spark, path + "/termstats")
    if ts_df is None:
        return plain("no_termstats")
    stored = _read_postings(spark, path)
    if stored is None:
        return plain("empty_index")
    tomb = read_tombstones(spark, path)  # served via the slice
    # anti-join below, never a fallback (r12)
    buckets = sorted({_py_bucket(t, nb) for t in all_terms})
    ts_rows = (
        ts_df.where(F.col("tbucket").isin(buckets))
        .where(F.col("term").isin(all_terms))
        .collect()
    )
    n_docs, n_total = _read_stats(spark, path)
    if n_docs == 0 or not ts_rows:
        return plain("no_matching_terms")
    avgdl = n_total / n_docs
    ubs = {
        r["term"]: _maxscore_term_ub(r, n_docs, avgdl, k1, b)
        for r in ts_rows
    }
    dfs = {r["term"]: int(r["df"]) for r in ts_rows}
    # per query: stored terms only (absent-from-corpus terms carry no
    # postings and no bound — same semantics as the plain probe, which
    # simply never sees them), ordered by descending ub
    order = {
        q: sorted((t for t in terms if t in ubs), key=lambda t: (-ubs[t], t))
        for q, terms in qsets.items()
    }
    totals = spark.createDataFrame(
        [(n_docs, n_total)], "n_docs long, n_total long"
    )
    df_table = spark.createDataFrame(
        sorted(dfs.items()), "term string, df long"
    )
    # Per-pass pruned slices (r12 serving-scale fix): the r11 shape
    # built ONE slice over the union of all terms and joined each θ
    # round's prefix map against it — but the prefix restriction then
    # lived in the JOIN, not the SCAN, so every θ round re-read the
    # whole union slice from parquet (measured ×400: each round paid
    # the full 3M-row scan to score a 20k-row prefix). Re-slicing per
    # pass pushes that pass's term IN-list + bucket filter into the
    # parquet scan — the single-query probe's discipline — so θ rounds
    # scan only the rare essential prefixes and the final pass's two
    # slices each read only their own terms' postings.
    def slice_union(terms: list[str]) -> DataFrame:
        bks = sorted({_py_bucket(t, nb) for t in terms})
        tf = (
            stored.where(F.col("tbucket").isin(bks))
            .where(F.col("term").isin(terms))
            .select(id_col, "dl", "term", "tf")
        )
        if tomb is not None:
            tf = tf.join(F.broadcast(tomb), id_col, "left_anti")
        return tf.join(F.broadcast(df_table), "term")

    def rest_ub(q: int, i: int) -> int:
        return _maxscore_rest_ub(ubs, order[q][i:])

    # the same driver-side feasibility screen as the single probe:
    # a uniform-ub query contributes NO prefix to any lockstep round
    # (it goes straight to all-essential full scoring), so the rounds
    # scan only the prefixes that could actually terminate
    sizes = {
        q: _maxscore_feasible_prefix_sizes(
            ubs,
            dfs,
            order[q],
            _maxscore_prefix_sizes(len(order[q])),
            lambda i, q=q: rest_ub(q, i),
        )
        for q in order
    }
    n_ess = {q: len(order[q]) for q in order}  # default: all essential
    theta = {}
    chosen_rest_ub = {}
    active = {q for q in order if sizes[q]}
    rnd = 0
    while active:
        # this round's prefix per active query (its rnd-th size)
        pmap = [
            (q, t)
            for q in sorted(active)
            for t in order[q][: sizes[q][rnd]]
        ]
        pdf = spark.createDataFrame(pmap, "query_id long, term string")
        round_terms = sorted({t for _, t in pmap})
        kth = {
            r["query_id"]: int(r["score_micro"])
            for r in _multi_rank_tail(
                slice_union(round_terms).join(F.broadcast(pdf), "term"),
                totals, k, k1, b, id_col,
            )
            .where(F.col("rank") == k)
            .collect()
        }
        for q in sorted(active):
            i = sizes[q][rnd]
            if q in kth and kth[q] > rest_ub(q, i):
                n_ess[q] = i
                theta[q] = kth[q]
                chosen_rest_ub[q] = rest_ub(q, i)
                active.discard(q)
            elif rnd + 1 >= len(sizes[q]):
                active.discard(q)  # exhausted: all terms essential
        rnd += 1
    per_query = {
        q: {
            "essential": order[q][: n_ess[q]],
            "theta_micro": theta.get(q),
            "rest_ub_micro": chosen_rest_ub.get(q),
        }
        for q in order
    }
    out["per_query"] = per_query
    out["fallback"] = None
    rest_pairs = [
        (q, t) for q in sorted(order) for t in order[q][n_ess[q]:]
    ]
    # the (query, term) fan-out map with the essential flag — one map,
    # one broadcast join, ONE scan for the whole final pass (the
    # ess/rest two-slice shape scanned the shared stopword terms
    # twice: once for the all-essential queries, once for the
    # dup-anchored queries' rest — measured ×400, the double scan ate
    # the scoring savings)
    qmap = spark.createDataFrame(
        [
            (q, t, i < n_ess[q])
            for q in sorted(order)
            for i, t in enumerate(order[q])
        ],
        "query_id long, term string, is_ess boolean",
    )
    rows = slice_union(all_terms).join(F.broadcast(qmap), "term")
    if not rest_pairs:
        return _multi_rank_tail(rows, totals, k, k1, b, id_col)
    # candidate sets come ONLY from queries that actually have rest
    # terms (an all-essential query contributes no semi-join and its —
    # possibly huge — matched-doc set must not inflate the broadcast),
    # built from a slice pruned to just those queries' essential terms
    rest_qids = sorted({q for q, _ in rest_pairs})
    cand_terms = sorted(
        {t for q in rest_qids for t in order[q][: n_ess[q]]}
    )
    cand_map = spark.createDataFrame(
        [(q, t) for q in rest_qids for t in order[q][: n_ess[q]]],
        "query_id long, term string",
    )
    cand = (
        slice_union(cand_terms)
        .join(F.broadcast(cand_map), "term")
        .select("query_id", id_col)
        .distinct()
        .withColumn("__cand", F.lit(True))
    )
    cand_bound = sum(
        dfs[t] for q in rest_qids for t in order[q][: n_ess[q]]
    )
    if cand_bound <= _MAXSCORE_CAND_BROADCAST_MAX:
        cand = F.broadcast(cand)  # provably small: ≤ Σ_q Σ essential df
    # essential rows pass; non-essential rows survive only on a
    # candidate hit — a broadcast LEFT join + filter keeps the single
    # scan (a semi-join would need its own branch and re-scan)
    rows = rows.join(cand, ["query_id", id_col], "left").where(
        F.col("is_ess") | F.col("__cand").isNotNull()
    )
    if stats_out is not None:
        scored_rest = {
            r["query_id"]: r["n"]
            for r in rows.where(~F.col("is_ess"))
            .groupBy("query_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        for q in order:
            full = sum(dfs[t] for t in order[q][n_ess[q]:])
            per_query[q]["rows_skipped_lower_bound"] = full - scored_rest.get(
                q, 0
            )
    return _multi_rank_tail(
        rows.select("query_id", id_col, "dl", "term", "tf", "df"),
        totals, k, k1, b, id_col,
    )
