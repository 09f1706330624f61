"""Property-based tests for the r11 surfaces (hypothesis): the
tombstone-ledger delete identities, driven
through randomized corpora — Spark↔Spark equalities, bit-for-bit (the
discipline that found the r9 LZW width bug and the r10 zero-postings
crash). The pre-existing r10 delete property already exercises the
READ-REPAIR window (text_index_delete is now a tombstone append);
these add the physical-reconciliation identity and the MinHash
read-repair probe."""

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)

_WORDS = ["a", "bb", "ccc", "dd", "e", "ffff", "naïve", "日本"]

docs_strategy = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=6),
    min_size=1,
    max_size=10,
)


def _docs_df(spark, doc_words):
    return spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(doc_words)],
        "doc_id long, text string",
    )


def _bm25_rows(df):
    return sorted((r.doc_id, r.n_qterms, r.score_micro) for r in df.collect())


@given(
    doc_words=docs_strategy,
    dead=st.sets(st.integers(min_value=0, max_value=9)),
)
@settings(**_SETTINGS)
def test_prop_text_delete_compact_physically_equals_survivor_build(
    spark, tmp_path_factory, doc_words, dead
):
    """delete(B) + compact ≡ build(A∖B) PHYSICALLY: probe rows match
    AND no retired id remains in any table (ids_remaining clean) — for
    random delete sets including absent ids and everything-deleted."""
    from parkour_spark.artifacts import ids_remaining
    from parkour_spark.operators.textindex import (
        text_index_build,
        text_index_compact,
        text_index_delete,
        text_index_probe_bm25,
    )

    docs = _docs_df(spark, doc_words)
    idx = str(tmp_path_factory.mktemp("t11") / "idx")
    surv = str(tmp_path_factory.mktemp("t11") / "surv")
    text_index_build(docs, idx, n_buckets=4)
    dead_ids = sorted(dead) or [10**9]
    text_index_delete(
        spark,
        spark.createDataFrame([(i,) for i in dead_ids], "doc_id long"),
        idx,
    )
    text_index_compact(spark, idx)
    text_index_build(
        docs.where(~F.col("doc_id").isin(list(dead))), surv, n_buckets=4
    )
    terms = ["a", "bb", "naïve", "日本"]
    assert _bm25_rows(
        text_index_probe_bm25(spark, idx, terms, k=20)
    ) == _bm25_rows(text_index_probe_bm25(spark, surv, terms, k=20))
    for sub in ("postings", "doclen"):
        assert ids_remaining(spark, f"{idx}/{sub}", "doc_id", dead_ids) == []


@given(
    doc_words=docs_strategy,
    dead=st.sets(st.integers(min_value=0, max_value=9)),
)
@settings(**_SETTINGS)
def test_prop_minhash_readrepair_probe_equals_survivor_probe(
    spark, tmp_path_factory, doc_words, dead
):
    """MinHash probe after a tombstone delete ≡ probe of the survivor
    build, WITHOUT compaction — the read-repair window is exact
    whenever no band bucket sits at the cap boundary (guaranteed here:
    tiny corpora, default cap 200). Includes everything-deleted."""
    from parkour_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_delete,
        minhash_probe_delta,
    )

    docs = _docs_df(spark, doc_words)
    batch = _docs_df(spark, doc_words).select(
        (F.col("doc_id") + 500).alias("doc_id"), "text"
    )
    idx = str(tmp_path_factory.mktemp("t11") / "idx")
    surv = str(tmp_path_factory.mktemp("t11") / "surv")
    minhash_index_build(docs, idx)
    minhash_index_delete(
        spark,
        spark.createDataFrame(
            [(i,) for i in sorted(dead)] or [(10**9,)], "doc_id long"
        ),
        idx,
    )
    minhash_index_build(docs.where(~F.col("doc_id").isin(list(dead))), surv)

    def rows(path):
        return sorted(
            map(
                tuple,
                minhash_probe_delta(
                    spark, batch, path, threshold=0.5
                ).collect(),
            )
        )

    assert rows(idx) == rows(surv)


@given(
    doc_words=docs_strategy,
    batch=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.sets(
                st.integers(min_value=0, max_value=len(_WORDS)),
                min_size=1,
                max_size=3,
            ),
        ),
        min_size=1,
        max_size=3,
        unique_by=lambda t: t[0],
    ),
    k=st.integers(min_value=1, max_value=8),
)
@settings(**_SETTINGS)
def test_prop_multi_probe_equals_per_query_probes(
    spark, tmp_path_factory, doc_words, batch, k
):
    """The batched probe ≡ one plain probe per query, for random
    corpora, random query batches (absent terms included), and k —
    the one-scan-serves-the-batch rewrite must be invisible in the
    results."""
    from parkour_spark.operators.textindex import (
        text_index_build,
        text_index_probe_bm25,
        text_index_probe_bm25_multi,
    )

    docs = _docs_df(spark, doc_words)
    idx = str(tmp_path_factory.mktemp("t11m") / "idx")
    text_index_build(docs, idx, n_buckets=4)
    qsets = [
        (qid, [(_WORDS + ["zzz"])[i] for i in sorted(idxs)])
        for qid, idxs in batch
    ]
    multi = text_index_probe_bm25_multi(spark, idx, qsets, k=k).collect()
    for qid, terms in qsets:
        got = sorted(
            (r.doc_id, r.n_qterms, r.score_micro)
            for r in multi
            if r.query_id == qid
        )
        ref = sorted(
            (r.doc_id, r.n_qterms, r.score_micro)
            for r in text_index_probe_bm25(spark, idx, terms, k=k).collect()
        )
        assert got == ref, (qid, terms)


@given(
    doc_words=docs_strategy,
    qidx=st.sets(
        st.integers(min_value=0, max_value=len(_WORDS)), min_size=1,
        max_size=4,
    ),
    max_df=st.one_of(st.none(), st.integers(min_value=1, max_value=6)),
    require_all=st.booleans(),
)
@settings(**_SETTINGS)
def test_prop_probe_equals_inline_under_options(
    spark, tmp_path_factory, doc_words, qidx, max_df, require_all
):
    """probe ≡ inline under EVERY require_all/max_df combination for
    random corpora — the r10 options ride the one shared scoring tail,
    and this property is what keeps that identity from drifting."""
    from parkour_spark.operators.corpus import bm25_topk
    from parkour_spark.operators.textindex import (
        text_index_build,
        text_index_probe_bm25,
    )

    docs = _docs_df(spark, doc_words)
    terms = [(_WORDS + ["zzz"])[i] for i in sorted(qidx)]
    idx = str(tmp_path_factory.mktemp("t11o") / "idx")
    text_index_build(docs, idx, n_buckets=4)
    got = _bm25_rows(
        text_index_probe_bm25(
            spark, idx, terms, k=20, require_all=require_all, max_df=max_df
        )
    )
    ref = _bm25_rows(
        bm25_topk(docs, terms, k=20, require_all=require_all, max_df=max_df)
    )
    assert got == ref
