"""Round-10: persisted PQ index lifecycle (operators/pq.py — r9
verdict #2). The identities the gate entries pin at sf0.01 are
exercised here on a small synthetic corpus: probe ≡ in-line ADC,
append ≡ build(A∪B), delete ≡ build(A∖B), compact preserves rows,
and the codebook guard raises on a mismatched quantizer."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from parkour_spark.operators.pq import (
    pq_adc_topk,
    pq_index_append,
    pq_index_build,
    pq_index_compact,
    pq_index_delete,
    pq_probe_adc,
    pq_train,
    read_pq_codebooks,
)


def _emb(spark, n=40, d=8, seed=7):
    rng = np.random.RandomState(seed)
    rows = [
        (i, [float(x) for x in rng.randn(d)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _rows(df):
    return sorted(
        (r.query_id, r.vec_id, r.rank, r.adc_cos) for r in df.collect()
    )


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    emb = _emb(spark)
    cbs = pq_train(emb, m=4, ksub=4, iters=2)
    queries = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 3).collect()
    ]
    return emb, cbs, queries, tmp_path_factory


def test_probe_equals_inline_adc(spark, setup):
    emb, cbs, queries, tf = setup
    path = str(tf.mktemp("pq") / "idx")
    pq_index_build(emb, cbs, path)
    probe = pq_probe_adc(spark, path, queries, k=5)
    inline = pq_adc_topk(emb, cbs, queries, k=5)
    assert _rows(probe) == _rows(inline)
    # the persisted quantizer round-trips exactly (JSON repr doubles)
    assert read_pq_codebooks(spark, path) == cbs


def test_append_equals_combined_build(spark, setup):
    emb, cbs, queries, tf = setup
    a = emb.where(F.col("vec_id") % 3 != 0)
    b = emb.where(F.col("vec_id") % 3 == 0)
    inc = str(tf.mktemp("pq") / "inc")
    full = str(tf.mktemp("pq") / "full")
    pq_index_build(a, cbs, inc)
    pq_index_append(b, inc, codebooks=cbs)
    pq_index_build(emb, cbs, full)
    assert _rows(pq_probe_adc(spark, inc, queries, k=5)) == _rows(
        pq_probe_adc(spark, full, queries, k=5)
    )


def test_delete_equals_survivor_build(spark, setup):
    emb, cbs, queries, tf = setup
    dead = emb.where(F.col("vec_id") % 4 == 3)
    idx = str(tf.mktemp("pq") / "idx")
    surv = str(tf.mktemp("pq") / "surv")
    pq_index_build(emb, cbs, idx)
    pq_index_delete(spark, dead.select("vec_id"), idx)
    pq_index_build(emb.where(F.col("vec_id") % 4 != 3), cbs, surv)
    assert _rows(pq_probe_adc(spark, idx, queries, k=5)) == _rows(
        pq_probe_adc(spark, surv, queries, k=5)
    )
    # physical removal: the retired ids' codes are gone from the bytes
    stored = {r.vec_id for r in spark.read.parquet(idx + "/codes").collect()}
    assert stored.isdisjoint({r.vec_id for r in dead.collect()})


def test_compact_preserves_rows_and_probe(spark, setup):
    emb, cbs, queries, tf = setup
    idx = str(tf.mktemp("pq") / "idx")
    pq_index_build(emb.where(F.col("vec_id") % 3 != 0), cbs, idx)
    pq_index_append(emb.where(F.col("vec_id") % 3 == 0), idx)
    before = _rows(pq_probe_adc(spark, idx, queries, k=5))
    stored_before = sorted(
        (r.vec_id, tuple(r.codes))
        for r in spark.read.parquet(idx + "/codes").collect()
    )
    pq_index_compact(spark, idx, n_files=2)
    files = [
        f
        for f in __import__("os").listdir(idx + "/codes")
        if f.endswith(".parquet")
    ]
    assert len(files) == 2
    stored_after = sorted(
        (r.vec_id, tuple(r.codes))
        for r in spark.read.parquet(idx + "/codes").collect()
    )
    assert stored_before == stored_after
    assert _rows(pq_probe_adc(spark, idx, queries, k=5)) == before


def test_codebook_mismatch_raises(spark, setup):
    emb, cbs, queries, tf = setup
    idx = str(tf.mktemp("pq") / "idx")
    pq_index_build(emb, cbs, idx)
    other = pq_train(emb, m=4, ksub=4, iters=1)
    assert other != cbs
    with pytest.raises(ValueError, match="codebook mismatch"):
        pq_index_append(emb.limit(1), idx, codebooks=other)


def test_missing_meta_raises(spark, setup):
    _emb_, _cbs, queries, tf = setup
    empty = str(tf.mktemp("pq") / "nothing")
    with pytest.raises(ValueError, match="no PQ index meta"):
        pq_probe_adc(spark, empty, queries, k=5)


def test_streaming_ingest_then_compact_equals_build(spark, setup, tmp_path):
    """The streaming leg for the fourth index: 2-batch exactly-once
    ingest ≡ build (probe identity), and the terminal compact folds
    the batch tree into the canonical flat codes table with the probe
    unchanged — the same five-leg contract as the other indexes."""
    import os

    from parkour_spark.operators.pq import pq_index_compact
    from parkour_spark.streaming.windows import streaming_pq_ingest

    emb, cbs, queries, _tf = setup
    src = str(tmp_path / "src")
    emb.repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema
    idx = str(tmp_path / "idx")
    streaming_pq_ingest(spark, src, schema, idx, cbs)
    assert any(
        d.startswith("batch=") for d in os.listdir(idx + "/codes")
    )
    full = str(tmp_path / "full")
    pq_index_build(emb, cbs, full)
    want = _rows(pq_probe_adc(spark, full, queries, k=5))
    assert _rows(pq_probe_adc(spark, idx, queries, k=5)) == want
    pq_index_compact(spark, idx, n_files=2)
    assert not any(
        d.startswith("batch=") for d in os.listdir(idx + "/codes")
    )
    assert _rows(pq_probe_adc(spark, idx, queries, k=5)) == want


def test_streaming_ingest_replay_batch_skips(spark, setup, tmp_path):
    """A committed codes/batch=0 dir wins over the replayed batch's
    rows (exactly-once): the stream's own data for that id is
    discarded, and later batches still land."""
    from parkour_spark.operators.pq import pq_encode
    from parkour_spark.streaming.windows import streaming_pq_ingest

    emb, cbs, queries, _tf = setup
    committed = emb.where(F.col("vec_id") < 10)
    idx = str(tmp_path / "idx")
    pq_encode(committed, cbs).write.parquet(idx + "/codes/batch=0")
    src = str(tmp_path / "src")
    # one file => one batch (id 0), carrying DIFFERENT rows
    emb.where(F.col("vec_id").between(20, 29)).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    streaming_pq_ingest(spark, src, schema, idx, cbs)
    stored = {
        r.vec_id for r in spark.read.parquet(idx + "/codes").collect()
    }
    assert stored == set(range(10)), "committed batch dir won"


def test_delete_audit_verifies_removal(spark, setup, tmp_path):
    """artifacts.ids_remaining audits the PQ codes table like the
    other index tables: lingering before, clean after."""
    from parkour_spark.artifacts import ids_remaining

    emb, cbs, queries, _tf = setup
    idx = str(tmp_path / "idx")
    pq_index_build(emb, cbs, idx)
    victims = [2, 6, 10]
    assert set(
        ids_remaining(spark, idx + "/codes", "vec_id", victims)
    ) == set(victims)
    pq_index_delete(
        spark,
        emb.where(F.col("vec_id").isin(victims)).select("vec_id"),
        idx,
    )
    assert ids_remaining(spark, idx + "/codes", "vec_id", victims) == []
