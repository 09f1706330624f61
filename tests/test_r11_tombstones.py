"""The r11 tombstone-ledger delete contract (r10 verdict #2) for the
doc-keyed index families (text/BM25, MinHash, substring):

- delete(B) is O(|B|): one committed ledger version dir; the primary
  tables' files are untouched by the delete itself.
- probes apply the ledger as a broadcast anti-join (read repair) —
  retired docs are invisible immediately.
- appends re-derive derived tables NET of the ledger and REFUSE to
  reuse a pending tombstoned id.
- compaction physically reconciles: rows gone, derived state
  re-derived from survivors, ledger cleared last; idempotent, so a
  crash mid-compact heals by re-running.
"""

import os

import pytest
from pyspark.sql import functions as F

from parkour_spark.operators import indexcommon as IC


def _docs(spark, ids_texts):
    return spark.createDataFrame(ids_texts, "doc_id long, text string")


def _corpus(spark, n=12):
    return _docs(
        spark,
        [(i, f"shared body words alpha beta gamma doc {i} tail {i % 3}")
         for i in range(n)],
    )


def _table_files(root, sub):
    out = []
    for dirpath, _dirs, files in os.walk(os.path.join(root, sub)):
        out += [
            os.path.join(dirpath, f) for f in files if f.endswith(".parquet")
        ]
    return sorted(out)


# ------------------------------------------------------------------
# O(|B|): the delete writes the ledger and nothing else
# ------------------------------------------------------------------


def test_text_delete_touches_only_the_ledger_and_stats(spark, tmp_path):
    from parkour_spark.operators.textindex import (
        text_index_build,
        text_index_delete,
    )

    idx = str(tmp_path / "idx")
    text_index_build(_corpus(spark), idx, n_buckets=4)
    before = {
        sub: _table_files(idx, sub) for sub in ("postings", "doclen")
    }
    text_index_delete(
        spark, spark.createDataFrame([(1,), (5,)], "doc_id long"), idx
    )
    after = {sub: _table_files(idx, sub) for sub in ("postings", "doclen")}
    assert before == after, "delete must not rewrite the primary tables"
    t = IC.read_tombstones(spark, idx)
    assert sorted(r.doc_id for r in t.collect()) == [1, 5]


def test_minhash_delete_touches_only_the_ledger(spark, tmp_path):
    from parkour_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_delete,
    )

    idx = str(tmp_path / "idx")
    minhash_index_build(_corpus(spark), idx)
    before = _table_files(idx, "sigs") + _table_files(idx, "bands")
    minhash_index_delete(
        spark, spark.createDataFrame([(2,)], "doc_id long"), idx
    )
    assert before == _table_files(idx, "sigs") + _table_files(idx, "bands")


# ------------------------------------------------------------------
# ledger accumulation + probe read repair across multiple deletes
# ------------------------------------------------------------------


def test_multiple_deletes_accumulate_and_probe_excludes_union(
    spark, tmp_path
):
    from parkour_spark.operators.textindex import (
        text_index_build,
        text_index_delete,
        text_index_probe_bm25,
    )

    idx, surv = str(tmp_path / "idx"), str(tmp_path / "surv")
    corpus = _corpus(spark)
    text_index_build(corpus, idx, n_buckets=4)
    text_index_delete(spark, spark.createDataFrame([(0,)], "doc_id long"), idx)
    text_index_delete(
        spark, spark.createDataFrame([(3,), (6,)], "doc_id long"), idx
    )
    text_index_build(
        corpus.where(~F.col("doc_id").isin([0, 3, 6])), surv, n_buckets=4
    )
    terms = ["shared", "alpha", "tail"]
    got = sorted(
        map(tuple, text_index_probe_bm25(spark, idx, terms, k=8).collect())
    )
    ref = sorted(
        map(tuple, text_index_probe_bm25(spark, surv, terms, k=8).collect())
    )
    assert got == ref and len(got) > 0


# ------------------------------------------------------------------
# append guard + post-compact re-insertion
# ------------------------------------------------------------------


def test_append_refuses_pending_tombstoned_id_then_compact_allows(
    spark, tmp_path
):
    from parkour_spark.operators.textindex import (
        text_index_append,
        text_index_build,
        text_index_compact,
        text_index_delete,
        text_index_probe_bm25,
    )

    idx = str(tmp_path / "idx")
    corpus = _corpus(spark)
    text_index_build(corpus, idx, n_buckets=4)
    text_index_delete(spark, spark.createDataFrame([(4,)], "doc_id long"), idx)
    readd = _docs(spark, [(4, "fresh re-added document alpha")])
    with pytest.raises(ValueError, match="tombstoned"):
        text_index_append(readd, idx)
    text_index_compact(spark, idx)
    text_index_append(readd, idx)  # reconciled: re-insert is clean
    got = text_index_probe_bm25(spark, idx, ["fresh"], k=3).collect()
    assert [r.doc_id for r in got] == [4]


def test_minhash_append_after_delete_rederives_net_of_ledger(
    spark, tmp_path
):
    """Any post-delete mutation re-derives bands/ NET of the pending
    ledger — the staleness window closes at the next mutation, not
    only at compaction."""
    from parkour_spark.operators.dedup import (
        minhash_index_append,
        minhash_index_build,
        minhash_index_delete,
    )

    idx = str(tmp_path / "idx")
    corpus = _corpus(spark)
    minhash_index_build(corpus, idx)
    minhash_index_delete(
        spark, spark.createDataFrame([(7,)], "doc_id long"), idx
    )
    minhash_index_append(_docs(spark, [(100, "entirely new doc body")]), idx)
    band_ids = {
        r.doc_id for r in spark.read.parquet(idx + "/bands").collect()
    }
    assert 7 not in band_ids
    assert 100 in band_ids  # the appended doc's unique bands are live


# ------------------------------------------------------------------
# reconcile idempotence / crash healing
# ------------------------------------------------------------------


def test_compact_crash_before_ledger_clear_heals_on_rerun(
    spark, tmp_path, monkeypatch
):
    from parkour_spark.artifacts import ids_remaining
    from parkour_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_compact,
        minhash_index_delete,
    )

    idx = str(tmp_path / "idx")
    minhash_index_build(_corpus(spark), idx)
    minhash_index_delete(
        spark, spark.createDataFrame([(1,), (2,)], "doc_id long"), idx
    )

    real_clear = IC.clear_tombstones

    def crash(*a, **kw):
        raise IOError("simulated crash before ledger clear")

    monkeypatch.setattr(IC, "clear_tombstones", crash)
    with pytest.raises(IOError, match="simulated"):
        minhash_index_compact(spark, idx)
    # rows already reconciled, ledger still pending: probes stay clean
    assert ids_remaining(spark, idx + "/sigs", "doc_id", [1, 2]) == []
    assert IC.read_tombstones(spark, idx) is not None
    monkeypatch.setattr(IC, "clear_tombstones", real_clear)
    minhash_index_compact(spark, idx)  # re-run heals
    assert IC.read_tombstones(spark, idx) is None
    assert ids_remaining(spark, idx + "/sigs", "doc_id", [1, 2]) == []


def test_delete_everything_then_compact_reaches_empty_tree_state(
    spark, tmp_path
):
    from parkour_spark.operators.textindex import (
        text_index_build,
        text_index_compact,
        text_index_delete,
        text_index_probe_bm25,
    )

    idx = str(tmp_path / "idx")
    corpus = _corpus(spark, n=5)
    text_index_build(corpus, idx, n_buckets=4)
    text_index_delete(spark, corpus.select("doc_id"), idx)
    assert text_index_probe_bm25(spark, idx, ["shared"], k=3).count() == 0
    text_index_compact(spark, idx)
    # emptied partitioned tree: probes still schema-correct empty
    assert text_index_probe_bm25(spark, idx, ["shared"], k=3).count() == 0
    st = spark.read.parquet(idx + "/stats").collect()[0]
    assert st.n_docs == 0


# ------------------------------------------------------------------
# streaming-path invariants (r11 review findings)
# ------------------------------------------------------------------


def _stream_src(spark, tmp_path, rows, name="src"):
    src = str(tmp_path / name)
    _docs(spark, rows).coalesce(1).write.parquet(src)
    return src, spark.read.parquet(src).schema


def test_streaming_ingest_refuses_pending_tombstoned_id(spark, tmp_path):
    """Streaming a retired id onto a pending ledger must raise (the
    probe-side anti-join would hide the new rows, and the next compact
    would physically delete them) — the same invariant the batch
    append enforces."""
    import pytest

    from parkour_spark.operators.textindex import (
        text_index_build,
        text_index_delete,
    )
    from parkour_spark.streaming.windows import streaming_text_ingest

    idx = str(tmp_path / "idx")
    text_index_build(_corpus(spark), idx, n_buckets=4)
    text_index_delete(spark, spark.createDataFrame([(3,)], "doc_id long"), idx)
    src, schema = _stream_src(
        spark, tmp_path, [(3, "re-ingested retired doc")]
    )
    with pytest.raises(Exception, match="tombstoned"):
        streaming_text_ingest(spark, src, schema, idx, n_buckets=4)


def test_rebuild_into_reused_root_clears_stale_ledger(spark, tmp_path):
    """build() into a root whose previous incarnation had a pending
    ledger starts FRESH — the stale tombstones must not hide the new
    corpus's rows or skew stats (r11: the soak reuses index dirs
    across runs, the exact state this guards)."""
    from parkour_spark.operators.textindex import (
        text_index_build,
        text_index_delete,
        text_index_probe_bm25,
    )

    idx = str(tmp_path / "idx")
    corpus = _corpus(spark)
    text_index_build(corpus, idx, n_buckets=4)
    text_index_delete(
        spark, spark.createDataFrame([(1,), (2,)], "doc_id long"), idx
    )
    assert IC.read_tombstones(spark, idx) is not None
    text_index_build(corpus, idx, n_buckets=4)  # rebuild, same root
    assert IC.read_tombstones(spark, idx) is None
    got = {
        r.doc_id
        for r in text_index_probe_bm25(spark, idx, ["shared"], k=20).collect()
    }
    assert {1, 2} <= got, "previously-retired ids are live after rebuild"
    st = spark.read.parquet(idx + "/stats").collect()[0]
    assert st.n_docs == corpus.count()
