"""Persisted full-text retrieval index (operators/textindex.py — the
fifth index family). Gate entries pin the lifecycle against the ANSI
BM25 replay at sf0.01; these tests pin the mechanics: probe ≡ inline
bm25_topk, append/delete identity with df/idf shifts, zero-length docs
in the stats, compact identity, streaming pair-commit semantics, the
batched probe's query semantics, the on-disk layout, and the layout
guard."""

import os

import pytest
from pyspark.sql import functions as F

from parkour_spark.operators.corpus import bm25_topk
from parkour_spark.operators.textindex import (
    _py_bucket,
    text_index_append,
    text_index_build,
    text_index_compact,
    text_index_delete,
    text_index_probe_bm25,
)

TERMS = ("spark", "shuffle", "scan")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    words = ["spark", "shuffle", "scan", "join", "agg", "read", "write"]
    for i in range(30):
        body = " ".join(words[j % len(words)] for j in range(i, i + 5 + i % 7))
        rows.append((i, body))
    rows.append((98, ""))  # zero-length doc: no postings, but in N/avgdl
    rows.append((99, "spark spark spark shuffle"))
    return _docs(spark, rows)


def _rows(df):
    return sorted(
        (r.doc_id, r.n_qterms, r.score_micro) for r in df.collect()
    )


def test_probe_equals_inline_bm25(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    text_index_build(corpus, idx, n_buckets=8)
    probe = text_index_probe_bm25(spark, idx, TERMS, k=8)
    inline = bm25_topk(corpus, TERMS, k=8)
    assert _rows(probe) == _rows(inline)
    # the zero-length doc is in the persisted stats (N, avgdl)
    st = spark.read.parquet(idx + "/stats").collect()[0]
    assert st.n_docs == corpus.count()


def test_append_equals_combined_build(spark, corpus, tmp_path):
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    text_index_build(corpus.where(F.col("doc_id") % 3 != 0), inc, n_buckets=8)
    text_index_append(corpus.where(F.col("doc_id") % 3 == 0), inc, n_buckets=8)
    text_index_build(corpus, full, n_buckets=8)
    assert _rows(text_index_probe_bm25(spark, inc, TERMS, k=8)) == _rows(
        text_index_probe_bm25(spark, full, TERMS, k=8)
    )


def test_delete_shifts_df_like_survivor_build(spark, corpus, tmp_path):
    """The sharp delete property: removing docs that CONTAIN a query
    term must shift that term's df (and so every survivor's idf)
    exactly as a fresh build of the survivors — a cached-score index
    would get this wrong."""
    idx, surv = str(tmp_path / "idx"), str(tmp_path / "surv")
    dead = corpus.where(F.col("doc_id") % 4 == 1)
    text_index_build(corpus, idx, n_buckets=8)
    text_index_delete(spark, dead.select("doc_id"), idx)
    text_index_build(corpus.where(F.col("doc_id") % 4 != 1), surv, n_buckets=8)
    got = _rows(text_index_probe_bm25(spark, idx, TERMS, k=8))
    assert got == _rows(text_index_probe_bm25(spark, surv, TERMS, k=8))
    # r11 contract: delete is an O(|B|) tombstone append — retired ids
    # are invisible to probes immediately (ids_probe_visible) but
    # physically removed only by compaction (ids_remaining)
    from parkour_spark.artifacts import ids_remaining
    from parkour_spark.operators.indexcommon import ids_probe_visible

    dead_ids = [r.doc_id for r in dead.collect()]
    for sub in ("postings", "doclen"):
        assert ids_probe_visible(spark, idx, sub, "doc_id", dead_ids) == []
        assert ids_remaining(spark, f"{idx}/{sub}", "doc_id", dead_ids)
    text_index_compact(spark, idx)
    for sub in ("postings", "doclen"):
        assert ids_remaining(spark, f"{idx}/{sub}", "doc_id", dead_ids) == []
    # the reconciled index still probes like the survivor build
    assert got == _rows(text_index_probe_bm25(spark, idx, TERMS, k=8))


def test_compact_preserves_rows_probe_and_layout(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    text_index_build(corpus.where(F.col("doc_id") % 3 != 0), idx, n_buckets=4)
    text_index_append(corpus.where(F.col("doc_id") % 3 == 0), idx)
    before = _rows(text_index_probe_bm25(spark, idx, TERMS, k=8))
    stored_before = sorted(
        (r.term, r.doc_id, r.tf, r.dl, int(r.tbucket))
        for r in spark.read.parquet(idx + "/postings").collect()
    )
    text_index_compact(spark, idx)
    buckets = [
        d for d in os.listdir(idx + "/postings") if d.startswith("tbucket=")
    ]
    assert buckets
    for bdir in buckets:
        files = [
            f
            for f in os.listdir(os.path.join(idx, "postings", bdir))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (bdir, files)
    stored_after = sorted(
        (r.term, r.doc_id, r.tf, r.dl, int(r.tbucket))
        for r in spark.read.parquet(idx + "/postings").collect()
    )
    assert stored_before == stored_after
    assert _rows(text_index_probe_bm25(spark, idx, TERMS, k=8)) == before


def test_bucket_fn_matches_spark_side(spark, corpus, tmp_path):
    """The driver-side bucket replica must agree with the Spark-side
    hash_bucket for every stored term — a drift here silently prunes
    the WRONG partitions and loses postings."""
    idx = str(tmp_path / "idx")
    text_index_build(corpus, idx, n_buckets=8)
    rows = (
        spark.read.parquet(idx + "/postings")
        .select("term", "tbucket")
        .distinct()
        .collect()
    )
    assert rows
    for r in rows:
        assert _py_bucket(r.term, 8) == int(r.tbucket), r.term


def test_streaming_ingest_pair_commit_and_equality(spark, corpus, tmp_path):
    """2-batch exactly-once ingest ≡ build; a pre-staged TORN PAIR
    (doclen committed, postings not) is rebuilt — the pair commits on
    the postings marker or not at all."""
    from parkour_spark.operators.textindex import _doclen
    from parkour_spark.streaming.windows import streaming_text_ingest

    src = str(tmp_path / "src")
    corpus.repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema
    idx = str(tmp_path / "idx")
    # torn middle state from a "crashed" run: doclen/batch=0 committed
    # with WRONG rows, postings/batch=0 absent
    _doclen(_docs(spark, [(777, "junk")]), "text", "doc_id").write.parquet(
        idx + "/doclen/batch=0"
    )
    streaming_text_ingest(spark, src, schema, idx, n_buckets=8)
    full = str(tmp_path / "full")
    text_index_build(corpus, full, n_buckets=8)
    assert _rows(text_index_probe_bm25(spark, idx, TERMS, k=8)) == _rows(
        text_index_probe_bm25(spark, full, TERMS, k=8)
    )
    lens = {r.doc_id for r in spark.read.parquet(idx + "/doclen").collect()}
    assert 777 not in lens, "torn doclen dir was rebuilt, not trusted"
    text_index_compact(spark, idx)
    assert _rows(text_index_probe_bm25(spark, idx, TERMS, k=8)) == _rows(
        text_index_probe_bm25(spark, full, TERMS, k=8)
    )


def test_meta_guard_raises(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    text_index_build(corpus, idx, n_buckets=8)
    with pytest.raises(ValueError, match="parameter mismatch"):
        text_index_append(corpus.limit(1), idx, n_buckets=4)
    with pytest.raises(ValueError, match="no text index meta"):
        text_index_probe_bm25(spark, str(tmp_path / "nope"), TERMS)


def test_delete_audit_verifies_removal(spark, corpus, tmp_path):
    """The right-to-be-forgotten audit on the tombstone contract (r11):
    probe-visibility (indexcommon.ids_probe_visible) is clean right
    after the O(|B|) delete; physical absence (artifacts.ids_remaining)
    is clean after compaction reconciles the ledger."""
    from parkour_spark.artifacts import ids_remaining
    from parkour_spark.operators.indexcommon import ids_probe_visible

    idx = str(tmp_path / "idx")
    text_index_build(corpus, idx, n_buckets=8)
    victims = [1, 5, 9]
    assert set(
        ids_remaining(spark, idx + "/doclen", "doc_id", victims)
    ) == set(victims)
    text_index_delete(
        spark, _docs(spark, [(v, "") for v in victims]).select("doc_id"), idx
    )
    assert ids_probe_visible(spark, idx, "doclen", "doc_id", victims) == []
    assert ids_probe_visible(spark, idx, "postings", "doc_id", victims) == []
    text_index_compact(spark, idx)
    assert ids_remaining(spark, idx + "/doclen", "doc_id", victims) == []
    assert ids_remaining(spark, idx + "/postings", "doc_id", victims) == []


def test_stats_frame_is_local_table_scan(spark, corpus, tmp_path):
    """The probe's one-row stats frame, and the batched probe's
    (query_id, term) frame, are LocalTableScans, not RDD scans of a
    Python list (which run Python-worker tasks per probe)."""
    from parkour_spark.operators.textindex import _stats_df, text_index_probe_bm25_multi

    idx = str(tmp_path / "idx")
    text_index_build(corpus, idx, n_buckets=4)
    st = _stats_df(spark, idx)
    plan = st._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan
    assert [tuple(r) for r in st.collect()] == [
        tuple(spark.read.parquet(idx + "/stats").select("n_docs", "n_total").first())
    ]
    multi = text_index_probe_bm25_multi(spark, idx, [(1, list(TERMS)), (2, ["join"])], k=3)
    rows = multi.collect()
    plan = multi._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan
    assert {r.query_id for r in rows} == {1, 2}


def test_zero_postings_corpus_probes_empty(spark, tmp_path):
    """A corpus of only empty/whitespace docs builds an index with
    ZERO postings rows (hypothesis-found: the partitioned write leaves
    no data files and a plain read fails schema inference). Probe must
    return an empty result with the right schema, delete and compact
    must be no-op-safe, and appending real docs afterwards brings the
    index to the combined-build state."""
    from parkour_spark.operators.textindex import text_index_append

    empty_docs = _docs(spark, [(1, ""), (2, "   ")])
    idx = str(tmp_path / "idx")
    text_index_build(empty_docs, idx, n_buckets=4)
    got = text_index_probe_bm25(spark, idx, TERMS, k=5)
    assert got.collect() == []
    assert got.columns == ["doc_id", "n_qterms", "score_micro"]
    # stats still count the empty docs (N=2, total=0)
    st = spark.read.parquet(idx + "/stats").collect()[0]
    assert (st.n_docs, st.n_total) == (2, 0)
    text_index_delete(
        spark, spark.createDataFrame([(1,)], "doc_id long"), idx
    )
    text_index_compact(spark, idx)
    assert text_index_probe_bm25(spark, idx, TERMS, k=5).collect() == []
    real = _docs(spark, [(10, "spark shuffle spark")])
    text_index_append(real, idx)
    full = str(tmp_path / "full")
    text_index_build(
        _docs(spark, [(2, "   "), (10, "spark shuffle spark")]), full,
        n_buckets=4,
    )
    assert _rows(text_index_probe_bm25(spark, idx, TERMS, k=5)) == _rows(
        text_index_probe_bm25(spark, full, TERMS, k=5)
    )


def test_conjunctive_and_df_cap_options(spark, corpus, tmp_path):
    """require_all / max_df (r10): probe ≡ inline under every option
    combination; conjunctive keeps only all-term docs and empties on
    an absent term; the df cap silences a corpus-wide stopword and
    stops requiring it."""
    idx = str(tmp_path / "idx")
    text_index_build(corpus, idx, n_buckets=8)

    for kwargs in (
        {"require_all": True},
        {"max_df": 10},
        {"require_all": True, "max_df": 10},
    ):
        assert _rows(
            text_index_probe_bm25(spark, idx, TERMS, k=30, **kwargs)
        ) == _rows(bm25_topk(corpus, TERMS, k=30, **kwargs)), kwargs

    # conjunctive: every hit contains ALL query terms
    hits = text_index_probe_bm25(
        spark, idx, TERMS, k=30, require_all=True
    ).collect()
    assert hits and all(r.n_qterms == len(TERMS) for r in hits)
    # looser than disjunctive
    assert len(hits) <= text_index_probe_bm25(spark, idx, TERMS, k=30).count()

    # absent term under AND => empty (classic conjunctive)
    assert (
        text_index_probe_bm25(
            spark, idx, ("spark", "zzz_not_there"), k=30, require_all=True
        ).collect()
        == []
    )

    # df cap: "spark" appears corpus-wide; capping below its df drops
    # its contribution but keeps the other terms' scores
    df_spark = (
        spark.read.parquet(idx + "/postings")
        .where(F.col("term") == "spark")
        .count()
    )
    capped = text_index_probe_bm25(
        spark, idx, TERMS, k=30, max_df=df_spark - 1
    )
    assert capped.where(F.col("n_qterms") >= len(TERMS)).count() == 0
    assert _rows(capped) == _rows(
        bm25_topk(corpus, TERMS, k=30, max_df=df_spark - 1)
    )
    # capped term is no longer REQUIRED under AND — controlled dfs:
    # "the" in all 4 docs (capped at 3), "spark shuffle" in 2
    ctl = _docs(
        spark,
        [(1, "the spark shuffle"), (2, "the spark shuffle x"),
         (3, "the y"), (4, "the z")],
    )
    cidx = str(tmp_path / "ctl")
    text_index_build(ctl, cidx, n_buckets=4)
    both = text_index_probe_bm25(
        spark, cidx, ("the", "spark", "shuffle"), k=10,
        require_all=True, max_df=3,
    ).collect()
    assert sorted(r.doc_id for r in both) == [1, 2]
    assert all(r.n_qterms == 2 for r in both), "capped 'the' not required"
    assert _rows(
        text_index_probe_bm25(
            spark, cidx, ("the", "spark", "shuffle"), k=10,
            require_all=True, max_df=3,
        )
    ) == _rows(
        bm25_topk(ctl, ("the", "spark", "shuffle"), k=10,
                  require_all=True, max_df=3)
    )


def test_absent_terms_and_k_larger_than_matches(spark, tmp_path):
    """A query term absent from the corpus contributes nothing, and a k
    above the number of matching docs returns every match — probe ≡
    inline bm25_topk in both cases."""
    rows = [(i, f"common filler {i}" + (" rareterm" if i % 3 == 0 else ""))
            for i in range(8)]
    docs = _docs(spark, rows)
    idx = str(tmp_path / "idx")
    text_index_build(docs, idx, n_buckets=4)
    terms = ["zzznope", "rareterm"]
    got = _rows(text_index_probe_bm25(spark, idx, terms, k=50))
    assert got == _rows(bm25_topk(docs, terms, k=50))
    assert sorted(r[0] for r in got) == [0, 3, 6]
    assert all(r[1] == 1 for r in got)
    assert text_index_probe_bm25(spark, idx, ["zzznope"], k=5).collect() == []


def test_multi_probe_duplicate_query_ids_union_terms(spark, corpus, tmp_path):
    """Two entries with the same query id are ONE query over the union
    of their terms ((query_id, term)-pair semantics): row-identical to
    a single probe of the merged term set."""
    from parkour_spark.operators.textindex import text_index_probe_bm25_multi

    idx = str(tmp_path / "idx")
    text_index_build(corpus, idx, n_buckets=4)
    dup_qs = [(0, ("spark",)), (0, ("shuffle", "scan"))]
    got = text_index_probe_bm25_multi(spark, idx, dup_qs, k=40).collect()
    assert {r.query_id for r in got} == {0}
    assert sorted((r.doc_id, r.n_qterms, r.score_micro) for r in got) == _rows(
        text_index_probe_bm25(spark, idx, TERMS, k=40)
    )
    assert max(r.n_qterms for r in got) == 3


def test_multi_probe_on_pending_deletes_equals_survivor_build(
    spark, corpus, tmp_path
):
    """The batched probe serves a pending tombstone ledger like the
    single probe: every query's rows equal the same batch over a
    build of the survivors (df, N and avgdl shifted)."""
    from parkour_spark.operators.textindex import text_index_probe_bm25_multi

    idx = str(tmp_path / "idx")
    text_index_build(corpus, idx, n_buckets=4)
    text_index_delete(
        spark, corpus.where(F.col("doc_id") % 3 == 0).select("doc_id"), idx
    )
    surv = str(tmp_path / "surv")
    text_index_build(corpus.where(F.col("doc_id") % 3 != 0), surv, n_buckets=4)
    batch = [(0, list(TERMS)), (1, ["join"]), (2, ["zznope"])]

    def rows(path):
        return sorted(
            tuple(r)
            for r in text_index_probe_bm25_multi(spark, path, batch, k=5).collect()
        )

    assert rows(idx) == rows(surv) and rows(idx)


def test_lifecycle_writes_no_termstats(spark, corpus, tmp_path):
    """build → append → delete → compact → streaming ingest persists
    only postings/doclen/stats/meta/tombstones: no per-term statistics
    table (or a staging sibling of one) appears under the root, and the
    probe still equals a build of the final membership."""
    from parkour_spark.streaming.windows import streaming_text_ingest

    idx = str(tmp_path / "idx")
    base = corpus.where(F.col("doc_id") < 20)
    text_index_build(base, idx, n_buckets=4)
    text_index_append(corpus.where(F.col("doc_id") >= 20), idx)
    text_index_delete(
        spark, corpus.where(F.col("doc_id") % 4 == 1).select("doc_id"), idx
    )
    text_index_compact(spark, idx)
    extra = _docs(spark, [(200, "spark scan streamed"), (201, "join agg")])
    src = str(tmp_path / "src")
    extra.coalesce(1).write.parquet(src)
    streaming_text_ingest(
        spark, src, spark.read.parquet(src).schema, idx, n_buckets=4
    )
    found = [
        os.path.join(d, n)
        for d, dirs, files in os.walk(idx)
        for n in dirs + files
        if n.startswith("termstats")
    ]
    assert found == []
    final = str(tmp_path / "final")
    text_index_build(
        corpus.where(F.col("doc_id") % 4 != 1).unionByName(extra),
        final,
        n_buckets=4,
    )
    assert _rows(text_index_probe_bm25(spark, idx, TERMS, k=10)) == _rows(
        text_index_probe_bm25(spark, final, TERMS, k=10)
    )
