"""Hypothesis properties for the r12 exact identities (the r10 house
rule: every new exact identity gets a randomized pin — Spark↔Spark
equalities are bit-exact, so tiny corpora with max_examples=6
suffice): arrow-fold ≡ row-fold, build∘stream ≡ build(union), and
the SequenceFile codec round-trip over randomized rows."""

from hypothesis import HealthCheck, given, settings, strategies as st

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)

_words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "kappa", "rare1"]
)


@given(
    groups=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=50),
                st.integers(min_value=0, max_value=3),
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=3,
    ),
)
@settings(**_SETTINGS)
def test_arrow_fold_equals_row_fold_property(
    spark, tmp_path_factory, groups
):
    """arrow_concat_partition_tree ≡ the Spark row fold on randomized
    partitioned trees built from 1–3 appends of random (id, cell)
    rows — same surviving rows, canonical one-file-per-cell layout."""
    from parkour_spark import fs as pfs
    from parkour_spark.operators.indexcommon import (
        arrow_concat_partition_tree,
    )

    base = tmp_path_factory.mktemp("afold")
    src = str(base / "src")
    dest = str(base / "dest")
    for i, rows in enumerate(groups):
        df = spark.createDataFrame(
            [(i * 1000 + j, float(v), v % 2) for j, (v, _) in enumerate(rows)],
            "vec_id long, v double, cell long",
        )
        df.repartition("cell").write.mode("append").partitionBy(
            "cell"
        ).parquet(src)
    stored = spark.read.parquet(src)
    assert arrow_concat_partition_tree(
        spark, stored.inputFiles(), "cell", dest
    )
    got = sorted(
        (r.vec_id, r.v, r.cell)
        for r in spark.read.parquet(dest).collect()
    )
    want = sorted((r.vec_id, r.v, r.cell) for r in stored.collect())
    assert got == want
    for c in {cell for _, _, cell in want}:
        files = [
            p
            for p in pfs.glob_paths(spark, f"{dest}/cell={c}/*")
            if p.endswith(".parquet")
        ]
        assert len(files) == 1


@given(
    base_docs=st.lists(
        st.lists(_words, min_size=0, max_size=6), min_size=1, max_size=8
    ),
    stream_docs=st.lists(
        st.lists(_words, min_size=0, max_size=6), min_size=1, max_size=6
    ),
    terms=st.lists(_words, min_size=1, max_size=3, unique=True),
)
@settings(**_SETTINGS)
def test_text_build_stream_union_property(
    spark, tmp_path_factory, base_docs, stream_docs, terms
):
    """probe(build(A) then stream(B)) ≡ probe(build(A∪B)) — the r12
    layout-normalization contract — over randomized corpora."""
    from parkour_spark.operators.textindex import (
        text_index_build,
        text_index_probe_bm25,
    )
    from parkour_spark.streaming.windows import streaming_text_ingest

    base = tmp_path_factory.mktemp("bsp")
    idx, ref, src = str(base / "idx"), str(base / "ref"), str(base / "src")
    a = spark.createDataFrame(
        [(i, " ".join(ts)) for i, ts in enumerate(base_docs)],
        "doc_id long, text string",
    )
    b_rows = [
        (100 + i, " ".join(ts)) for i, ts in enumerate(stream_docs)
    ]
    b = spark.createDataFrame(b_rows, "doc_id long, text string")
    text_index_build(a, idx, n_buckets=4)
    b.coalesce(1).write.parquet(src)
    streaming_text_ingest(
        spark, src, spark.read.parquet(src).schema, idx, n_buckets=4
    )
    text_index_build(a.unionByName(b), ref, n_buckets=4)

    def rows(df):
        return sorted(
            (r.doc_id, r.n_qterms, r.score_micro) for r in df.collect()
        )

    assert rows(text_index_probe_bm25(spark, idx, terms, k=5)) == rows(
        text_index_probe_bm25(spark, ref, terms, k=5)
    )


_writable_cases = st.sampled_from(
    [
        ("Text", st.text(max_size=12)),
        ("IntWritable", st.integers(min_value=-(2**31), max_value=2**31 - 1)),
        ("LongWritable", st.integers(min_value=-(2**63), max_value=2**63 - 1)),
        ("BytesWritable", st.binary(max_size=16)),
        ("BooleanWritable", st.booleans()),
    ]
)


@given(case=_writable_cases, data=st.data())
@settings(**_SETTINGS)
def test_seqfile_python_roundtrip_property(tmp_path_factory, case, data):
    """write_seqfile_py → read_seqfile_py is the identity for
    randomized rows of every supported value Writable (LongWritable
    keys), compressed and not, across sync boundaries."""
    from hypothesis import strategies as hst

    from parkour_spark.sources.seqfile import (
        read_seqfile_py,
        write_seqfile_py,
    )

    cls, strat = case
    vals = data.draw(hst.lists(strat, min_size=0, max_size=40))
    compress = data.draw(hst.booleans())
    rows = [(i, v) for i, v in enumerate(vals)]
    p = str(tmp_path_factory.mktemp("seqp") / "f.seq")
    n = write_seqfile_py(
        p,
        rows,
        "org.apache.hadoop.io.LongWritable",
        "org.apache.hadoop.io." + cls,
        compress=compress,
        sync_every=7,
    )
    assert n == len(rows)
    assert list(read_seqfile_py(p)) == rows
