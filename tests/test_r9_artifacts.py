"""Round-9: unified persisted-artifact commit contract
(parkour_spark.artifacts) and the index DELETE legs that complete the
build/append/delete/probe lifecycle for all three persisted indexes
(substring, MinHash, IVF) — r8 verdict #2 and #3."""

import pathlib

import pytest
from pyspark.sql import functions as F

from parkour_spark import artifacts as A
from parkour_spark import fs as pfs


# ------------------------------------------------------------------
# artifacts primitives
# ------------------------------------------------------------------


def _write_rows(spark, rows):
    def fn(tmp):
        spark.createDataFrame(rows, "k long, v string").write.parquet(tmp)

    return fn


def test_publish_dir_crash_mid_write_leaves_no_final(spark, tmp_path):
    """A write_fn crash must leave NOTHING under the final name — the
    committed artifact namespace never shows a partial directory."""
    final = str(tmp_path / "art")

    def boom(tmp):
        spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(tmp)
        raise RuntimeError("crash mid-write")

    with pytest.raises(RuntimeError, match="crash mid-write"):
        A.publish_dir(spark, final, boom)
    assert not pfs.exists(spark, final)
    # the temp sibling is cleaned up too — no leaked publish dirs
    assert list(tmp_path.iterdir()) == []


def test_publish_swap_crash_keeps_old_version(spark, tmp_path):
    """The expensive rewrite happens in the temp sibling; a crash there
    leaves the previous committed contents fully readable."""
    final = str(tmp_path / "art")
    A.publish_dir(spark, final, _write_rows(spark, [(1, "old")]))

    def boom(tmp):
        spark.createDataFrame([(2, "new")], "k long, v string").write.parquet(tmp)
        raise RuntimeError("crash mid-swap")

    with pytest.raises(RuntimeError, match="crash mid-swap"):
        A.publish_swap(spark, final, boom)
    got = spark.read.parquet(final).collect()
    assert [(r.k, r.v) for r in got] == [(1, "old")]


def test_publish_swap_replaces_contents(spark, tmp_path):
    final = str(tmp_path / "art")
    A.publish_dir(spark, final, _write_rows(spark, [(1, "old")]))
    A.publish_swap(spark, final, _write_rows(spark, [(2, "new")]))
    got = spark.read.parquet(final).collect()
    assert [(r.k, r.v) for r in got] == [(2, "new")]


def test_committed_versions_ignore_torn_and_tmp_dirs(spark, tmp_path):
    base = str(tmp_path / "vers")
    n1, _ = A.publish_version(spark, base, _write_rows(spark, [(1, "a")]))
    n2, _ = A.publish_version(spark, base, _write_rows(spark, [(2, "b")]))
    assert (n1, n2) == (1, 2)
    # a torn direct write (no _SUCCESS) is invisible to discovery
    torn = pathlib.Path(base) / "v3"
    torn.mkdir()
    (torn / "part-00000.parquet").write_bytes(b"torn")
    assert [n for n, _ in A.committed_versions(spark, base)] == [1, 2]
    latest = A.latest_version(spark, base)
    assert latest is not None and latest[0] == 2
    # next publish skips past the torn name? No — v3 exists, so
    # publish_version picks 3 and publish_dir must refuse to clobber
    # an existing (even torn) dir rather than silently merge into it.
    with pytest.raises(FileExistsError):
        A.publish_version(spark, base, _write_rows(spark, [(3, "c")]))


def test_prune_versions_keeps_newest(spark, tmp_path):
    base = str(tmp_path / "vers")
    for i in range(4):
        A.publish_version(spark, base, _write_rows(spark, [(i, "x")]))
    dead = A.prune_versions(spark, base, keep=2)
    assert len(dead) == 2
    assert [n for n, _ in A.committed_versions(spark, base)] == [3, 4]


def test_params_guard_roundtrip_and_mismatch(spark, tmp_path):
    p = str(tmp_path / "meta")
    A.write_params(spark, p, {"k": 8, "w": 8, "cents": [[0, [1.5, -2.25]]]})
    assert A.read_params(spark, p) == {
        "k": 8, "w": 8, "cents": [[0, [1.5, -2.25]]],
    }
    A.check_params(spark, p, {"k": 8, "w": 8})  # subset ok
    A.check_params(spark, p, {"k": 9}, skip={"k"})  # skipped field ok
    with pytest.raises(ValueError, match="built with 8 but called with 9"):
        A.check_params(spark, p, {"k": 9}, kind="substring index")
    # missing record (legacy artifact): check is a no-op
    A.check_params(spark, str(tmp_path / "nope"), {"k": 1})


def test_params_corrupt_record_raises(spark, tmp_path):
    p = tmp_path / "meta"
    A.write_params(spark, str(p), {"k": 8})
    for f in p.iterdir():
        f.unlink()
    (p / "part-corrupt.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception):
        A.check_params(spark, str(p), {"k": 8})
    # the driver-side read surfaces pyarrow's own decode error; only an
    # unopenable filesystem or file falls back to the Spark read
    import pyarrow

    with pytest.raises(pyarrow.ArrowInvalid):
        A.read_params(spark, str(p))


# ------------------------------------------------------------------
# MinHash index delete leg
# ------------------------------------------------------------------


def _docs(spark, ids_texts):
    return spark.createDataFrame(ids_texts, "doc_id long, text string")


def test_minhash_delete_equals_build_of_survivors(spark, tmp_path):
    from parkour_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_delete,
    )

    texts = [
        (i, f"doc number {i} about spark shuffles and partitions topic {i % 4}")
        for i in range(30)
    ]
    docs = _docs(spark, texts)
    keep = docs.where(F.col("doc_id") < 20)
    drop_ids = docs.where(F.col("doc_id") >= 20).select("doc_id")

    p_del = str(tmp_path / "deleted")
    minhash_index_build(docs, p_del, max_bucket=200)
    minhash_index_delete(spark, drop_ids, p_del, max_bucket=200)
    p_ref = str(tmp_path / "survivors")
    minhash_index_build(keep, p_ref, max_bucket=200)

    # r11: delete is an O(|B|) tombstone append — retired ids are
    # probe-invisible immediately; COMPACTION physically reconciles
    from parkour_spark.operators.dedup import minhash_index_compact
    from parkour_spark.operators.indexcommon import ids_probe_visible

    dead = [r.doc_id for r in drop_ids.collect()]
    assert ids_probe_visible(spark, p_del, "sigs", "doc_id", dead) == []
    minhash_index_compact(spark, p_del)
    for table in ("sigs", "bands"):
        got = sorted(
            map(tuple, spark.read.parquet(f"{p_del}/{table}").collect())
        )
        ref = sorted(
            map(tuple, spark.read.parquet(f"{p_ref}/{table}").collect())
        )
        assert got == ref, table


def test_minhash_delete_resurrects_previously_overfull_bucket(spark, tmp_path):
    """The strong half of delete ≡ build(A∖B): a band key overfull
    (dropped) at build time must REAPPEAR in the band table once the
    deletion brings its membership back under the cap — possible only
    because sigs/ retains full signatures."""
    from parkour_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_delete,
    )

    same = "exactly the same boilerplate text shared by every document here"
    docs = _docs(spark, [(i, same) for i in range(5)])
    path = str(tmp_path / "cap")
    minhash_index_build(docs, path, max_bucket=3)
    # five identical docs share every band key -> all buckets overfull
    assert spark.read.parquet(f"{path}/bands").count() == 0
    drop = spark.createDataFrame([(3,), (4,)], "doc_id long")
    minhash_index_delete(spark, drop, path, max_bucket=3)
    # r11 staleness window: bands/ keeps its pre-delete caps until the
    # ledger is reconciled — resurrection is compaction's job
    assert spark.read.parquet(f"{path}/bands").count() == 0
    from parkour_spark.operators.dedup import minhash_index_compact

    minhash_index_compact(spark, path)
    bands = spark.read.parquet(f"{path}/bands")
    assert bands.count() > 0  # resurrected
    sigs = spark.read.parquet(f"{path}/sigs")
    assert sorted(r.doc_id for r in sigs.collect()) == [0, 1, 2]


def test_minhash_delete_param_mismatch_raises(spark, tmp_path):
    from parkour_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_delete,
    )

    docs = _docs(spark, [(i, f"document body {i} with words") for i in range(5)])
    path = str(tmp_path / "idx")
    minhash_index_build(docs, path)
    drop = spark.createDataFrame([(0,)], "doc_id long")
    with pytest.raises(ValueError, match="parameter mismatch"):
        minhash_index_delete(spark, drop, path, bands=6)


# ------------------------------------------------------------------
# IVF index delete leg
# ------------------------------------------------------------------


def _ivf_fixture(spark, tmp_path, n=24, d=4):
    from parkour_spark.operators.similarity import ivf_index_build

    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 + (1.0 if j == i % d else 0.0)
             for j in range(d)])
        for i in range(n)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(c, [6.0 if j == c else 0.0 for j in range(d)]) for c in range(d)]
    path = str(tmp_path / "ivf")
    ivf_index_build(corpus, cents, path)
    return corpus, cents, path


def test_ivf_delete_equals_build_of_survivors(spark, tmp_path):
    from parkour_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_delete,
    )

    corpus, cents, path = _ivf_fixture(spark, tmp_path)
    victims = corpus.where(F.col("vec_id") % 3 == 0)
    ivf_index_delete(victims, cents, path)

    ref_path = str(tmp_path / "ref")
    ivf_index_build(corpus.where(F.col("vec_id") % 3 != 0), cents, ref_path)

    got = sorted(
        (r.vec_id, r.cell, round(r.cnorm, 9), tuple(r.embedding))
        for r in spark.read.parquet(path).collect()
    )
    ref = sorted(
        (r.vec_id, r.cell, round(r.cnorm, 9), tuple(r.embedding))
        for r in spark.read.parquet(ref_path).collect()
    )
    assert got == ref


def test_ivf_delete_removes_emptied_cell_dir(spark, tmp_path):
    """Deleting every vector of a cell must remove the partition dir —
    dynamic overwrite alone leaves the stale dir in place (the pitfall
    the explicit cleanup exists for)."""
    from parkour_spark.operators.similarity import ivf_index_delete

    corpus, cents, path = _ivf_fixture(spark, tmp_path)
    cells = {
        r.vec_id: r.cell for r in spark.read.parquet(path).collect()
    }
    # pick one whole cell's membership as the delete batch
    target = next(iter(sorted(set(cells.values()))))
    victim_ids = [vid for vid, c in cells.items() if c == target]
    victims = corpus.where(F.col("vec_id").isin(victim_ids))
    ivf_index_delete(victims, cents, path)
    assert not pfs.exists(spark, f"{path}/cell={target}")
    left = spark.read.parquet(path)
    assert left.where(F.col("cell") == target).count() == 0
    assert left.count() == len(cells) - len(victim_ids)


def test_ivf_delete_quantizer_mismatch_raises(spark, tmp_path):
    from parkour_spark.operators.similarity import ivf_index_delete

    corpus, cents, path = _ivf_fixture(spark, tmp_path)
    wrong = [(c, [5.0 if j == c else 0.5 for j in range(4)]) for c in range(4)]
    with pytest.raises(ValueError, match="quantizer mismatch"):
        ivf_index_delete(corpus.limit(1), wrong, path)


def test_ivf_delete_absent_ids_is_noop(spark, tmp_path):
    from parkour_spark.operators.similarity import ivf_index_delete

    corpus, cents, path = _ivf_fixture(spark, tmp_path)
    before = sorted(r.vec_id for r in spark.read.parquet(path).collect())
    ghosts = spark.createDataFrame(
        [(999, [3.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    ivf_index_delete(ghosts, cents, path)
    after = sorted(r.vec_id for r in spark.read.parquet(path).collect())
    assert before == after


# ------------------------------------------------------------------
# substring index lifecycle (build/append/delete/probe)
# ------------------------------------------------------------------

_SHARED = (
    "the quick brown fox jumps over the lazy dog while the band plays on "
    "and the crowd watches in silence under the old clock tower tonight"
)


def _sub_docs(spark):
    rows = [
        (0, _SHARED + " plus unique tail zero zero zero"),
        (1, _SHARED + " plus unique tail one one one"),
        (2, "completely different text about parquet files and shuffles"),
        (3, _SHARED + " plus unique tail three three three"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_index_append_equals_combined_build(spark, tmp_path):
    from parkour_spark.operators.dedup import (
        substring_index_append,
        substring_index_build,
        substring_probe_persisted,
    )

    docs = _sub_docs(spark)
    a = docs.where(F.col("doc_id") <= 1)
    b = docs.where(F.col("doc_id") == 2)
    batch = docs.where(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 100).alias("doc_id"), "text"
    )

    p_inc = str(tmp_path / "inc")
    substring_index_build(a, p_inc, max_df=10)
    substring_index_append(b, p_inc, max_df=10)
    p_full = str(tmp_path / "full")
    substring_index_build(docs.where(F.col("doc_id") <= 2), p_full, max_df=10)

    inc = sorted(
        map(tuple, substring_probe_persisted(spark, batch, p_inc).collect())
    )
    full = sorted(
        map(tuple, substring_probe_persisted(spark, batch, p_full).collect())
    )
    assert inc == full and len(inc) > 0


def test_substring_index_delete_equals_build_of_survivors(spark, tmp_path):
    from parkour_spark.operators.dedup import (
        substring_index_build,
        substring_index_delete,
        substring_probe_persisted,
    )

    docs = _sub_docs(spark)
    batch = docs.where(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 100).alias("doc_id"), "text"
    )
    p_del = str(tmp_path / "deleted")
    substring_index_build(docs.where(F.col("doc_id") <= 2), p_del, max_df=10)
    substring_index_delete(
        spark, spark.createDataFrame([(1,)], "doc_id long"), p_del, max_df=10
    )
    p_ref = str(tmp_path / "ref")
    substring_index_build(
        docs.where(F.col("doc_id").isin([0, 2])), p_ref, max_df=10
    )
    got = sorted(
        map(tuple, substring_probe_persisted(spark, batch, p_del).collect())
    )
    ref = sorted(
        map(tuple, substring_probe_persisted(spark, batch, p_ref).collect())
    )
    assert got == ref and len(got) > 0
    # the deleted doc can no longer match anything
    assert all(r[1] != 1 for r in got)


def test_substring_index_delete_resurrects_capped_fp(spark, tmp_path):
    """occ/ retains overfull fps, so deletion can bring a boilerplate
    fingerprint back under the df cap and the re-derived lists match a
    fresh survivors-only build — the property a lists-only persisted
    artifact could not provide."""
    from parkour_spark.operators.dedup import (
        substring_index_build,
        substring_index_delete,
    )

    docs = spark.createDataFrame(
        [(i, _SHARED) for i in range(4)], "doc_id long, text string"
    )
    path = str(tmp_path / "cap")
    substring_index_build(docs, path, max_df=2)
    # 4 identical docs -> every fp df=4 > cap=2: empty probe lists
    assert spark.read.parquet(f"{path}/lists").count() == 0
    substring_index_delete(
        spark,
        spark.createDataFrame([(2,), (3,)], "doc_id long"),
        path,
        max_df=2,
    )
    # r11 staleness window: lists/ keeps its pre-delete df caps until
    # the ledger is reconciled — resurrection is compaction's job
    assert spark.read.parquet(f"{path}/lists").count() == 0
    from parkour_spark.operators.dedup import substring_index_compact

    substring_index_compact(spark, path)
    assert spark.read.parquet(f"{path}/lists").count() > 0
    ids_left = {
        r.id_old
        for r in spark.read.parquet(f"{path}/lists")
        .select(F.explode("__occs").alias("o"))
        .select(F.col("o.id_old").alias("id_old"))
        .collect()
    }
    assert ids_left == {0, 1}


def test_substring_probe_param_mismatch_raises(spark, tmp_path):
    from parkour_spark.operators.dedup import (
        substring_index_build,
        substring_probe_persisted,
    )

    docs = _sub_docs(spark)
    path = str(tmp_path / "idx")
    substring_index_build(docs, path, k=8, w=8)
    with pytest.raises(ValueError, match="parameter mismatch"):
        substring_probe_persisted(spark, docs, path, k=6).collect()


# ------------------------------------------------------------------
# checkpoint knob on iterative graph operators (r8 verdict #6)
# ------------------------------------------------------------------


def _chain_graph(spark, n=40):
    nodes = spark.range(n).select(F.col("id"))
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1) if i % 7 != 3],
        "id_a long, id_b long",
    )
    return nodes, edges


def test_reliable_checkpoint_result_identical(spark, tmp_path):
    """checkpoint='reliable' must change zero rows vs 'local' on every
    iterative operator — the knob only swaps lineage-truncation
    storage, never semantics (the docstring promise made API)."""
    from parkour_spark.operators.graph import (
        connected_components,
        kcore,
        label_propagation,
        pagerank,
    )

    nodes, edges = _chain_graph(spark)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))

    def run(mode):
        return [
            sorted(map(tuple, connected_components(
                nodes, edges, checkpoint=mode).collect())),
            sorted(map(tuple, pagerank(
                nodes, edges, iters=2, checkpoint=mode).collect())),
            sorted(map(tuple, kcore(
                edges, k=2, iters=3, checkpoint=mode).collect())),
            sorted(map(tuple, label_propagation(
                nodes, edges, rounds=2, checkpoint=mode).collect())),
        ]

    local = run("local")
    reliable = run("reliable")
    assert local == reliable
    # and the components are actually non-trivial (multiple chains)
    comps = {c for _, c in local[0]}
    assert len(comps) > 1


def test_reliable_checkpoint_without_dir_raises(spark_nockpt=None):
    """Requesting 'reliable' without a configured checkpoint dir must
    raise up front with instructions, not fail rounds deep."""
    import pytest as _pytest

    from parkour_spark.operators.graph import connected_components
    from parkour_spark.session import build_session

    spark = build_session(
        "parkour_spark_tests", master="local[4]", shuffle_partitions=4
    )
    if spark.sparkContext.getCheckpointDir() is not None:
        _pytest.skip("session already has a checkpoint dir (test order)")
    nodes = spark.range(4).select(F.col("id"))
    edges = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    with _pytest.raises(ValueError, match="setCheckpointDir"):
        connected_components(nodes, edges, checkpoint="reliable")


def test_unknown_checkpoint_mode_raises(spark):
    import pytest as _pytest

    from parkour_spark.operators.graph import connected_components

    nodes = spark.range(3).select(F.col("id"))
    edges = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    with _pytest.raises(ValueError, match="checkpoint must be"):
        connected_components(nodes, edges, checkpoint="ram")


# ------------------------------------------------------------------
# SQL join surface plan shapes (r8 verdict #8)
# ------------------------------------------------------------------


def test_sql_star_join_broadcasts_all_dims(spark, sf_dir):
    """The star join must stream the fact scan through broadcast hash
    joins — a SortMergeJoin here means a fact-side shuffle that
    becomes the bottleneck at 100 TB."""
    from parkour_spark.queries import QUERIES

    df = QUERIES["sql_star_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert df.count() > 0


def test_sql_exists_polarity_plans(spark, sf_dir):
    """EXISTS must decorrelate to LeftSemi, NOT EXISTS to LeftAnti —
    and the two row-counts partition the customer table."""
    from parkour_spark.queries import QUERIES

    semi = QUERIES["sql_exists_semi"](spark, sf_dir)
    anti = QUERIES["sql_not_exists_anti"](spark, sf_dir)
    p_semi = semi._jdf.queryExecution().executedPlan().toString()
    p_anti = anti._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p_semi
    assert "LeftAnti" in p_anti
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    total = sum(r.n_customers for r in semi.collect()) + sum(
        r.n_customers for r in anti.collect()
    )
    assert total == n_cust


def test_ids_remaining_audits_physical_deletes(spark, tmp_path):
    """The compliance audit catches the silent-miss case the batch-∝
    delete cannot see: an IVF delete handed a STALE vector prunes to
    the wrong cell and removes nothing — ids_remaining reports the
    lingering id, while a correct delete audits clean."""
    from parkour_spark.artifacts import ids_remaining
    from parkour_spark.operators.similarity import ivf_index_delete

    corpus, cents, path = _ivf_fixture(spark, tmp_path)
    victim = corpus.where(F.col("vec_id") == 3)
    # stale vector: same id, wrong embedding -> wrong cell pruned
    stale = victim.select(
        "vec_id",
        F.expr("transform(embedding, x -> -x)").alias("embedding"),
    )
    ivf_index_delete(stale, cents, path)
    assert ids_remaining(spark, path, "vec_id", [3]) == [3]
    # correct delete audits clean
    ivf_index_delete(victim, cents, path)
    assert ids_remaining(spark, path, "vec_id", [3]) == []


def test_ids_remaining_on_minhash_and_substring_tables(spark, tmp_path):
    from parkour_spark.artifacts import ids_remaining
    from parkour_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_delete,
        substring_index_build,
        substring_index_delete,
    )

    docs = _docs(
        spark, [(i, f"document body number {i} with shared words") for i in range(6)]
    )
    from parkour_spark.operators.dedup import (
        minhash_index_compact,
        substring_index_compact,
    )
    from parkour_spark.operators.indexcommon import ids_probe_visible

    mh = str(tmp_path / "mh")
    minhash_index_build(docs, mh)
    drop = spark.createDataFrame([(2,), (4,)], "doc_id long")
    minhash_index_delete(spark, drop, mh)
    # pending ledger: probe-invisible now, physically present until compact
    assert ids_probe_visible(spark, mh, "sigs", "doc_id", drop) == []
    assert ids_remaining(spark, f"{mh}/sigs", "doc_id", drop) == [2, 4]
    minhash_index_compact(spark, mh)
    assert ids_remaining(spark, f"{mh}/sigs", "doc_id", drop) == []
    # querying a mixed set reports exactly the members still present
    assert ids_remaining(spark, f"{mh}/sigs", "doc_id", [1, 2, 3]) == [1, 3]
    assert ids_remaining(spark, f"{mh}/sigs", "doc_id", [5]) == [5]

    sub = str(tmp_path / "sub")
    substring_index_build(_sub_docs(spark), sub)
    substring_index_delete(
        spark, spark.createDataFrame([(0,)], "doc_id long"), sub
    )
    assert ids_probe_visible(spark, sub, "occ", "doc_id", [0]) == []
    substring_index_compact(spark, sub)
    assert ids_remaining(spark, f"{sub}/occ", "doc_id", [0]) == []
    assert ids_remaining(spark, f"{sub}/occ", "doc_id", [1]) == [1]


# ------------------------------------------------------------------
# exactly-once streaming index ingestion
# ------------------------------------------------------------------


def test_streaming_minhash_ingest_equals_batch_build(spark, tmp_path):
    """Drained stream index ≡ batch build of the same docs (sigs modulo
    the batch partition column, bands exactly)."""
    from parkour_spark.operators.dedup import minhash_index_build
    from parkour_spark.streaming.windows import streaming_minhash_ingest

    docs = _docs(
        spark,
        [(i, f"streamed document {i} with some shared words here")
         for i in range(24)],
    )
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    idx = str(tmp_path / "stream_idx")
    streaming_minhash_ingest(spark, src, schema, idx)
    ref = str(tmp_path / "batch_idx")
    minhash_index_build(docs, ref)

    got_sigs = sorted(
        (r.doc_id, tuple(r.sigs))
        for r in spark.read.parquet(f"{idx}/sigs").collect()
    )
    ref_sigs = sorted(
        (r.doc_id, tuple(r.sigs))
        for r in spark.read.parquet(f"{ref}/sigs").collect()
    )
    assert got_sigs == ref_sigs
    got_bands = sorted(
        map(tuple, spark.read.parquet(f"{idx}/bands").collect())
    )
    ref_bands = sorted(
        map(tuple, spark.read.parquet(f"{ref}/bands").collect())
    )
    assert got_bands == ref_bands


def test_streaming_minhash_ingest_replay_is_idempotent(spark, tmp_path):
    """A replayed batch (its sigs/batch=<id>/_SUCCESS already exists)
    must be skipped, not double-appended — the exactly-once property
    the per-batch atomic publish provides. Simulated by draining the
    same source twice against a FRESH checkpoint (forcing every batch
    id to replay)."""
    import shutil

    from parkour_spark.streaming.windows import streaming_minhash_ingest

    docs = _docs(
        spark,
        [(i, f"replayed document {i} body text") for i in range(8)],
    )
    src = str(tmp_path / "src")
    docs.repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema
    idx = str(tmp_path / "idx")
    streaming_minhash_ingest(spark, src, schema, idx)
    n1 = spark.read.parquet(f"{idx}/sigs").count()
    # wipe the checkpoint: the second drain replays every batch id
    shutil.rmtree(f"{idx}/_checkpoint")
    streaming_minhash_ingest(spark, src, schema, idx)
    n2 = spark.read.parquet(f"{idx}/sigs").count()
    assert n1 == n2 == 8  # no duplicate signature rows


def test_streaming_ivf_ingest_equals_batch_build(spark, tmp_path):
    """Drained stream index serves probes identically to the batch
    build of the same rows, and a forced full replay (fresh checkpoint)
    appends nothing."""
    import shutil

    from parkour_spark.operators.similarity import (
        ivf_index_build,
        ivf_probe_topk,
    )
    from parkour_spark.streaming.windows import streaming_ivf_ingest

    corpus, cents, ref_path = _ivf_fixture(spark, tmp_path)
    src = str(tmp_path / "src")
    corpus.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    idx = str(tmp_path / "stream_ivf")
    streaming_ivf_ingest(spark, src, schema, idx, cents)

    queries = corpus.limit(3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = sorted(map(tuple, ivf_probe_topk(
        spark, idx, queries, cents, k=5, nprobe=2).collect()))
    ref = sorted(map(tuple, ivf_probe_topk(
        spark, ref_path, queries, cents, k=5, nprobe=2).collect()))
    assert got == ref and len(got) > 0

    n1 = spark.read.parquet(idx).count()
    shutil.rmtree(f"{idx}/_checkpoint")
    streaming_ivf_ingest(spark, src, schema, idx, cents)
    assert spark.read.parquet(idx).count() == n1  # replay appended nothing


def test_compaction_preserves_rows_and_reduces_files(spark, tmp_path):
    import pathlib

    from parkour_spark.operators.dedup import (
        minhash_index_append,
        minhash_index_build,
        minhash_index_compact,
        substring_index_append,
        substring_index_build,
        substring_index_compact,
    )

    docs = _docs(
        spark,
        [(i, f"compactable document {i} with words to shingle") for i in range(20)],
    )
    mh = str(tmp_path / "mh")
    minhash_index_build(docs.where(F.col("doc_id") < 12), mh)
    minhash_index_append(docs.where(F.col("doc_id") >= 12), mh)
    before = sorted(
        (r.doc_id, tuple(r.sigs))
        for r in spark.read.parquet(f"{mh}/sigs").collect()
    )
    minhash_index_compact(spark, mh, n_files=1)
    after = sorted(
        (r.doc_id, tuple(r.sigs))
        for r in spark.read.parquet(f"{mh}/sigs").collect()
    )
    assert before == after
    files = [
        p for p in pathlib.Path(f"{mh}/sigs").iterdir()
        if p.name.endswith(".parquet")
    ]
    assert len(files) == 1

    sub = str(tmp_path / "sub")
    substring_index_build(_sub_docs(spark).where(F.col("doc_id") <= 1), sub)
    substring_index_append(_sub_docs(spark).where(F.col("doc_id") >= 2), sub)
    occ_before = sorted(map(tuple, spark.read.parquet(f"{sub}/occ").collect()))
    substring_index_compact(spark, sub, n_files=1)
    occ_after = sorted(map(tuple, spark.read.parquet(f"{sub}/occ").collect()))
    assert occ_before == occ_after


def test_streaming_substring_ingest_equals_batch_build(spark, tmp_path):
    import shutil

    from parkour_spark.operators.dedup import (
        substring_index_build,
        substring_probe_persisted,
    )
    from parkour_spark.streaming.windows import streaming_substring_ingest

    docs = _sub_docs(spark).where(F.col("doc_id") <= 2)
    batch = _sub_docs(spark).where(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 100).alias("doc_id"), "text"
    )
    src = str(tmp_path / "src")
    docs.repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema
    idx = str(tmp_path / "stream_sub")
    streaming_substring_ingest(spark, src, schema, idx, max_df=10)
    ref = str(tmp_path / "batch_sub")
    substring_index_build(docs, ref, max_df=10)

    got = sorted(map(tuple, substring_probe_persisted(spark, batch, idx).collect()))
    want = sorted(map(tuple, substring_probe_persisted(spark, batch, ref).collect()))
    assert got == want and len(got) > 0

    n1 = spark.read.parquet(f"{idx}/occ").count()
    shutil.rmtree(f"{idx}/_checkpoint")
    streaming_substring_ingest(spark, src, schema, idx, max_df=10)
    assert spark.read.parquet(f"{idx}/occ").count() == n1  # replay: no-op
