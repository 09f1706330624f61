"""Similarity search over embedding columns: brute-force top-k cosine and
an LSH-bucketed approximate variant.

Beyond-reference surface (SURVEY §7.6). Spark-first design:

- Brute force: queries (small) are broadcast-joined against the corpus;
  cosine is a pure Column expression (functions.vector) — JVM-side,
  codegen'd; top-k per query via ranked window. At 100 TB this is one
  scan of the corpus, no corpus shuffle: the window partitions by
  query_id, whose cardinality = |queries|, and only (query, candidate,
  score) tuples shuffle.
- LSH path: random-hyperplane signatures bucket the corpus once
  (scan-side compute, written bucketed); queries probe matching buckets
  via equi-join on the signature — the corpus scan is replaced by a
  bucket-pruned join. Recall is tunable by n_planes / n_probes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from parkour_spark.functions.vector import cosine, dot, norm
from parkour_spark.operators.sort import explode_fast, widen_scan


def _vec_sql(vec: list[float]) -> str:
    # Exponent notation with 17 significant digits: parses directly as a
    # DOUBLE literal (plain decimals parse as DECIMAL and would need a
    # cast layer that costs real analysis time at ~1k elements) and
    # round-trips every double exactly.
    return "array(" + ",".join(f"{float(x):.17e}" for x in vec) + ")"


def _py_norm(vec: list[float]) -> float:
    """Driver-side L2 norm with the SAME sequential left-fold order as
    functions.vector.norm's F.aggregate — IEEE-double-identical to
    computing it row-side, so hoisting centroid norms into the literal
    changes zero bits of any cosine."""
    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    import math

    return math.sqrt(acc)


def _centroid_array(centroids: list[tuple[int, list[float]]]) -> Column:
    """Literal array<struct<cid,v,n>> of centroids (n = precomputed L2
    norm, so per-row scoring does one dot product per centroid instead
    of dot + two norm folds) as ONE parsed SQL expression. Building it
    from per-float F.lit calls costs a py4j round-trip per element
    (~2000 calls ≈ seconds of driver time per query); a single F.expr
    string is one parse. The array is foldable, so Catalyst
    constant-folds it and it rides along in the serialized plan exactly
    like a broadcast."""
    structs = ",".join(
        f"named_struct('cid',{int(cid)},'v',{_vec_sql(vec)},'n',{_py_norm(vec):.17e})"
        for cid, vec in centroids
    )
    return F.expr(f"array({structs})")


def _planes_array(planes: list[list[float]]) -> Column:
    """Literal array<array<double>> of hyperplanes, one parsed expression
    (same py4j-cost rationale as _centroid_array)."""
    return F.expr("array(" + ",".join(_vec_sql(p) for p in planes) + ")")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Exact top-k cosine neighbors per query. Result: (query_id, vec_id,
    rank, cos). Broadcast the (small) query set; never shuffles the
    corpus."""
    # Norms hoisted: one fold per corpus row and per query row instead
    # of two folds per PAIR (same expression, same value — cosine here
    # is dot/(norm_a*norm_b) exactly as before, with the norms shared).
    q = queries.select(F.col(query_id), F.col(query_vec)).withColumn(
        "__qn", norm(query_vec)
    )
    c = widen_scan(corpus).withColumn("__cn", norm(corpus_vec))
    joined = c.crossJoin(F.broadcast(q))
    scored = joined.select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(
            dot(corpus_vec, query_vec) / (F.col("__cn") * F.col("__qn")), 4
        ).alias("cos"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    corpus_label: str = "label",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    query_label: str = "query_label",
    positive_id: str | None = "positive_id",
) -> DataFrame:
    """Hard-negative mining for retrieval/contrastive training (the
    DPR / Contriever recipe): for each query, the k corpus vectors most
    similar by cosine that are NOT valid positives — excluding the
    query's own gold document (`positive_id`) and any corpus row sharing
    the query's label (in-batch false-negative filtering: same-label
    items are presumed relevant, so surfacing them as "negatives" would
    poison the contrastive loss).

    Result: (query_id, vec_id, rank, cos), rank 1 = hardest negative.

    SCALE: identical shape to brute_force_topk — the (small) query set
    broadcasts, the corpus scans ONCE with JVM Column math, and only
    (query, candidate, score) tuples shuffle for the per-query top-k
    window (partition count = |queries|, never |corpus|). For corpora
    where even one scan per mining round is too much, substitute the
    IVF/LSH rungs of the ladder for the candidate step; the exclusion
    predicate and ranking here are unchanged.
    """
    qcols = [F.col(query_id), F.col(query_vec), F.col(query_label)]
    if positive_id is not None:
        qcols.append(F.col(positive_id))
    q = queries.select(*qcols).withColumn("__qn", norm(query_vec))
    c = widen_scan(corpus).withColumn("__cn", norm(corpus_vec))
    joined = c.crossJoin(F.broadcast(q))
    # null-safe (r6 ADVICE): a plain != evaluates to NULL for unlabeled
    # corpus rows and silently drops them, even though "label unknown"
    # is not "known positive" — eqNullSafe keeps them eligible as
    # negatives (a NULL corpus label never equals any query label)
    keep = ~F.col(corpus_label).eqNullSafe(F.col(query_label))
    if positive_id is not None:
        keep = keep & ~F.col(corpus_id).eqNullSafe(F.col(positive_id))
    scored = joined.where(keep).select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(
            dot(corpus_vec, query_vec) / (F.col("__cn") * F.col("__qn")), 4
        ).alias("cos"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos").desc(), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def hyperplane_signature(
    df: DataFrame, planes: list[list[float]], vec_col: str = "embedding", out_col: str = "bucket"
) -> DataFrame:
    """Random-hyperplane LSH signature: bit_i = sign(v · plane_i), packed
    into a long. Planes are driver-provided constants (seeded NumPy),
    inlined as array literals — scan-side compute, no shuffle."""
    planes_arr = _planes_array(planes)
    bits = F.transform(
        planes_arr,
        lambda p: F.when(dot(F.col(vec_col), p) >= 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long"),
    )
    sig = F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b)
    return df.withColumn(out_col, sig)


def ivf_assign_arrow(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine, ties to
    the lowest centroid id) — one BLAS matmul per Arrow batch, a single
    scan with no join and no shuffle; the centroid matrix rides along
    in the task closure like a broadcast. At 100 TB the assignment pass
    dominates IVF indexing cost. Higher-order Column lambdas do not
    join whole-stage codegen and measured ~4× slower per row (the
    Column formulation stays as a differential reference,
    tests/column_reference.py). Ties break to the lowest cid by sorting
    centroids and taking NumPy's first argmax. A NULL vector gets a
    NULL `out_col`, so it matches no cell."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cents = sorted(centroids, key=lambda cv: cv[0])
    C = np.array([v for _, v in cents], dtype=np.float64)
    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    Cn = np.linalg.norm(C, axis=1)

    schema = T.StructType(df.schema.fields + [T.StructField(out_col, T.LongType())])

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            valid = pdf[vec_col].notna().to_numpy()
            cell = pd.array([None] * len(pdf), dtype="Int64")
            if valid.any():
                V = np.stack(pdf[vec_col].to_numpy()[valid]).astype(np.float64)
                S = (V @ C.T) / (np.linalg.norm(V, axis=1, keepdims=True) * Cn)
                cell[valid] = cids[np.argmax(S, axis=1)]
            out = pdf.copy()
            out[out_col] = cell
            yield out

    return df.mapInPandas(assign, schema=schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are assigned to inverted
    lists (cells) once; each query probes only its `nprobe` nearest
    cells, exact cosine re-ranks within the probed lists.

    SCALE: the corpus pass is scan-side assignment (no shuffle) — in a
    persistent deployment the assigned corpus is written partitioned/
    bucketed by cell so a query batch touches only the probed cells'
    files (partition pruning). The probe join is an equi-join on cell
    with the (tiny) query-probe side broadcast; only probed-cell rows
    flow into the ranking window, whose partition key is query_id.
    Centroids here are caller-provided (deterministic seeds in the
    oracle-checked query; k-means output in a real deployment — same
    plan either way). The corpus assignment is the BLAS-batched
    `ivf_assign_arrow` (the 100 TB path); probe selection and candidate
    re-ranking are Column expressions. Corpus rows with a NULL vector
    get a NULL cell and are never probed; a query with a NULL vector
    probes no cell and gets no rows."""
    cent_arr = _centroid_array(centroids)  # probe-side scoring
    assigned = ivf_assign_arrow(widen_scan(corpus), centroids, corpus_vec, "cell")
    c = assigned.withColumn("__cn", norm(corpus_vec))
    qn = norm(query_vec)
    scores = F.transform(
        cent_arr,
        lambda cc: F.struct(
            (dot(F.col(query_vec), cc["v"]) / (qn * cc["n"])).alias("cos"),
            (-cc["cid"]).alias("ncid"),
        ),
    )
    # top-nprobe cells per query: sort (cos, ncid) ascending, reverse →
    # cos desc with ties to the lowest cid, take nprobe, explode
    probes = explode_fast(
        queries.where(F.col(query_vec).isNotNull()),
        F.transform(
            F.slice(F.reverse(F.array_sort(scores)), 1, nprobe),
            lambda s: -s["ncid"],
        ),
        "cell",
        keep=[query_id, query_vec],
    ).withColumn("__qn", norm(query_vec))
    joined = c.join(F.broadcast(probes), "cell")
    scored = joined.select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(
            dot(corpus_vec, query_vec) / (F.col("__cn") * F.col("__qn")), 4
        ).alias("cos"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos").desc(), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_index_build(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    path: str,
    corpus_vec: str = "embedding",
) -> None:
    """Build and PERSIST the IVF index: one Arrow/BLAS assignment scan,
    the norm precomputed (the same sequential fold the probe-side cosine
    uses, so stored-and-read-back doubles are bit-identical to
    recomputing), written `partitionBy(cell)` — each inverted list is
    its own partition directory, which is what makes probe-time
    PARTITION PRUNING possible. Built once per corpus version; query
    batches then pay only probed-cell reads (ivf_probe_topk), the
    embedding analog of `substring_fp_index` for text."""
    from parkour_spark.artifacts import write_params

    assigned = ivf_assign_arrow(widen_scan(corpus), centroids, corpus_vec, "cell")
    (
        assigned.withColumn("cnorm", norm(corpus_vec))
        # co-locate each inverted list before the partitioned write: ONE
        # file per cell instead of (cells × input-partitions) shards.
        # At 1000 lists × 1000 input partitions the un-repartitioned
        # layout is 1e6 tiny files — footer reads and driver split
        # planning per probe batch; this hash shuffle is paid once at
        # build time.
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    write_params(
        corpus.sparkSession, path + "/_ivf_meta", _ivf_meta_record(centroids)
    )


def _ivf_meta_record(centroids) -> dict:
    """The quantizer record stored under `path`/_ivf_meta (the
    underscore prefix keeps it out of the partitioned dataset's
    discovery, like _SUCCESS) via the shared artifact contract
    (parkour_spark.artifacts; JSON round-trips every double exactly):
    the inverted-list layout is a pure function of these centroids, so
    append/delete/probe/streaming ingest with a DIFFERENT quantizer
    reads/writes the wrong lists — the minhash meta/ discipline for the
    embedding index."""
    return {
        "centroids": [[int(cid), [float(x) for x in v]] for cid, v in centroids]
    }


def _check_ivf_meta(spark, path: str, centroids) -> None:
    """Raise if the caller's centroids differ from the persisted build
    quantizer. Indexes written before _ivf_meta existed skip the check
    (nothing recorded); a present-but-different quantizer raises with
    the first mismatching cell id. (The generic
    artifacts.check_params message would dump whole centroid arrays;
    this keeps the per-cell diagnostic.)"""
    from parkour_spark.artifacts import read_params

    rec = read_params(spark, path + "/_ivf_meta")
    if rec is None:
        return
    stored = {int(cid): [float(x) for x in v] for cid, v in rec["centroids"]}
    ours = {int(cid): [float(x) for x in v] for cid, v in centroids}
    if stored != ours:
        bad = sorted(
            set(stored) ^ set(ours)
            | {c for c in set(stored) & set(ours) if stored[c] != ours[c]}
        )
        raise ValueError(
            "ivf index quantizer mismatch — centroids differ from the "
            f"persisted build quantizer at cell id(s) {bad[:5]} "
            f"(stored {len(stored)} cells, called with {len(ours)})"
        )


def ivf_index_append(
    new_df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    path: str,
    corpus_vec: str = "embedding",
) -> None:
    """Append an ingest batch to a PERSISTED IVF index — the
    index-lifecycle step between `ivf_index_build` and
    `ivf_probe_topk`, completing the build/append/probe cycle for the
    embedding index exactly as `minhash_index_append` does for the
    document index. The batch pays only its OWN assignment scan (one
    Arrow matmul pass); rows land under their cell partitions via
    append, so existing inverted lists are never rewritten.

    `append(B) onto build(A)` is RESULT-IDENTICAL to `build(A ∪ B)`:
    cell assignment is a pure function of (vector, centroids), cnorm
    is the same fold, and the partitioned layout is
    row-location-agnostic — the registered gate entry pins
    probe-after-append against the combined-build oracle. Centroids
    are validated against the persisted build quantizer (_ivf_meta) —
    a different quantizer would scatter the batch into the wrong
    lists and silently break probe recall, so a mismatch raises.
    Batch ids must be disjoint from the index's (the standard delta
    contract)."""
    spark = new_df.sparkSession
    _check_ivf_meta(spark, path, centroids)
    assigned = ivf_assign_arrow(widen_scan(new_df), centroids, corpus_vec, "cell")
    (
        assigned.withColumn("cnorm", norm(corpus_vec))
        .repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path)
    )


def ivf_index_delete(
    del_df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """DELETE vectors from a persisted IVF index — the retire leg that
    completes the build/append/delete/probe lifecycle for the embedding
    index (r8 verdict #2: right-to-be-forgotten and corpus-removal
    flows shrink indexes; they don't just grow them). `del_df` carries
    the rows to retire WITH their vectors (`corpus_id`, `corpus_vec`) —
    the same rows the ingest/removal pipeline already holds — because
    cell assignment is a pure function of (vector, quantizer): knowing
    the vector tells us exactly which inverted lists to touch WITHOUT
    scanning the index.

    Cost ∝ affected lists, not corpus: the batch pays one Arrow
    assignment scan of ITSELF, the affected cells are collected
    driver-side (≤ |batch| ints), and ONLY those cells' partitions are
    read (partition-pruned), anti-joined against the broadcast id set,
    and rewritten via dynamic partition overwrite — untouched inverted
    lists are never read or rewritten. A cell whose list empties out is
    removed outright (dynamic overwrite only replaces partitions
    present in the written data, so an emptied cell must be deleted
    explicitly — the silent-stale-partition pitfall).

    `delete(B) from build(A)` is RESULT-IDENTICAL to `build(A ∖ B)`:
    rows are independent (per-row cell + cnorm), so removing B's rows
    from their lists leaves exactly the survivors' build. The
    registered gate entry pins probe-after-delete against the
    survivors-only-build oracle. Physical removal, not tombstones —
    after this call the retired vectors' bytes are gone. Each cell
    partition is replaced atomically by the committer (a crash
    mid-delete leaves every cell either old or new, never partial);
    ids absent from the index are a no-op. The quantizer is validated
    against the persisted build record (_ivf_meta) — a different
    quantizer would prune the wrong cells and silently miss rows."""
    from parkour_spark.artifacts import read_parquet_or_none
    from parkour_spark.operators.indexcommon import delete_from_cells

    spark = del_df.sparkSession
    _check_ivf_meta(spark, path, centroids)
    assigned = ivf_assign_arrow(del_df, centroids, corpus_vec, "cell")
    cells = sorted(
        int(r["cell"])
        for r in assigned.select("cell").distinct().collect()
        if r["cell"] is not None  # a NULL vector is in no cell
    )
    if not cells:
        return
    stored = read_parquet_or_none(spark, path)
    if stored is None:
        return  # already-empty index: nothing to delete
    delete_from_cells(spark, path, stored, cells, del_df, corpus_id)


def ivf_index_compact(
    spark,
    path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Compact a persisted IVF index into the canonical build layout —
    the small-files leg that closes the compaction symmetry across all
    four persisted indexes (r9 verdict #3). Two growth modes feed it:
    `ivf_index_append` lands each batch as extra files inside the
    cell=<c> partitions, and `streaming_ivf_ingest` lands each
    micro-batch as its own batch=<id>/cell=<c> subtree — at ingest
    rates of many batches/hour either way degrades the probe scan into
    footer-read soup long before it degrades in bytes.

    The fold rewrites the stored rows (id, vector, cnorm, cell) —
    assignment is NEVER recomputed, so the result is row-identical to
    the pre-compact index — into one co-located file set per cell
    partition, the exact layout `ivf_index_build` produces, and
    carries the persisted quantizer record (_ivf_meta) into the new
    root. Published atomically via the whole-root swap
    (artifacts.publish_swap): probes see the old tree or the new one,
    never a mix, and a crash mid-compact leaves the previous committed
    index intact.

    Streaming contract: run with the ingest query drained and stopped
    (the ingest entrypoint drains before returning). Compaction folds
    a streaming run's batches — the batch commit markers and any
    in-root _checkpoint do not survive the swap — and the compacted
    root hosts FURTHER streaming (r12): the next ingest run
    layout-normalizes the canonical cell= tree back under batch=-1/
    with pure renames (indexcommon.ensure_batch_layout, r11 verdict
    #6) before its first micro-batch. After compacting, the index is
    indistinguishable from a freshly-built one: append, delete,
    streaming, and probe all compose.

    VECTOR-COPY-CHEAP (r12, r11 verdict #5): compaction is a pure
    LAYOUT operation — assignment is never recomputed and no row moves
    between cells (every stored file already lives inside one cell=<c>
    or batch=<b>/cell=<c> directory) — so the fold runs at the FILE
    level: one task per cell concatenates that cell's parquet files
    with Arrow (columnar decode → one encode; the d-double vectors
    never pass through Spark's row format, the shuffle, or Python
    rows), writing the canonical one-file-per-cell tree. The r11 sf1
    measurement showed the old repartition fold CPU-bound on the
    row-path vector copy (compact/build 0.78× at d=256); the Arrow
    fold removes both the exchange and the row materialization —
    measured ~5× cheaper at d=256 / 64 lists / 28k vectors (~0.1×
    build). Each task asserts metadata row-count conservation
    (Σ input file num_rows == output) — a torn input file cannot
    silently shrink a cell. Falls back to the Spark row fold for
    path schemes pyarrow's filesystem layer cannot mount."""
    from parkour_spark.artifacts import publish_swap, read_params, write_params

    rec = read_params(spark, path + "/_ivf_meta")
    if rec is None:
        raise ValueError(
            f"ivf_index_compact: no _ivf_meta quantizer record under {path}"
        )
    from parkour_spark.artifacts import read_parquet_or_none

    stored = read_parquet_or_none(spark, path)
    if stored is None:
        return  # emptied index: nothing to fold, meta stays

    def write(tmp: str) -> None:
        from parkour_spark.operators.indexcommon import (
            arrow_concat_partition_tree,
        )

        done = arrow_concat_partition_tree(
            spark, stored.inputFiles(), "cell", tmp
        )
        if not done:
            # unmountable scheme for pyarrow: pay the row fold
            (
                stored.select(corpus_id, corpus_vec, "cnorm", "cell")
                .repartition("cell")
                .write.mode("overwrite")
                .partitionBy("cell")
                .parquet(tmp)
            )
        write_params(spark, tmp + "/_ivf_meta", rec)

    publish_swap(spark, path, write)


def ivf_probe_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Probe-only IVF top-k against a PERSISTED index (ivf_index_build):
    the ingest/serving path where the corpus assignment is already paid.
    The union of probed cells is collected driver-side (≤ |queries| ×
    nprobe ints — small by construction) and applied as a STATIC
    partition filter, so the scan opens only the probed cells' files —
    at 1000 inverted lists and nprobe=4, a query batch touching 30
    distinct cells reads 3% of the index. Results are identical to
    ivf_topk over the same corpus/centroids: assignment was the same
    Arrow argmax, and the stored `cnorm` is the same fold the in-line
    path computes, and a query with a NULL vector likewise gets no rows.

    The quantizer is validated against the persisted build centroids
    (_ivf_meta, r8) — probing with a different quantizer ranks the
    wrong cells and silently loses recall, so a mismatch raises."""
    from parkour_spark.artifacts import read_parquet_or_none

    _check_ivf_meta(spark, index_path, centroids)
    stored = read_parquet_or_none(spark, index_path)
    if stored is None:
        # emptied index (everything deleted / zero-row build): empty
        # result with the probe schema, not a schema-inference crash
        return spark.createDataFrame(
            [], f"{query_id} long, {corpus_id} long, cos double, rank int"
        )
    cent_arr = _centroid_array(centroids)
    qn = norm(query_vec)
    scores = F.transform(
        cent_arr,
        lambda cc: F.struct(
            (dot(F.col(query_vec), cc["v"]) / (qn * cc["n"])).alias("cos"),
            (-cc["cid"]).alias("ncid"),
        ),
    )
    probes = explode_fast(
        queries.where(F.col(query_vec).isNotNull()),
        F.transform(
            F.slice(F.reverse(F.array_sort(scores)), 1, nprobe),
            lambda s: -s["ncid"],
        ),
        "cell",
        keep=[query_id, query_vec],
    ).withColumn("__qn", norm(query_vec))
    cells = sorted(int(r["cell"]) for r in probes.select("cell").distinct().collect())
    c = stored.where(F.col("cell").isin(cells))
    joined = c.join(F.broadcast(probes), "cell")
    scored = joined.select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(
            dot(corpus_vec, query_vec) / (F.col("cnorm") * F.col("__qn")), 4
        ).alias("cos"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos").desc(), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate top-k: both sides signed with the same hyperplanes,
    candidates = same bucket, then exact cosine re-rank within bucket.
    `probe_bits=1` turns on MULTI-PROBE (Lv et al. 2007): each query
    additionally probes every bucket at Hamming distance 1 from its own
    (n_planes extra probes), recovering neighbors that a single flipped
    sign bit would otherwise lose — the standard recall/table-count
    trade: more probes instead of more hash tables, corpus stored ONCE.
    SCALE: corpus bucketed once (reusable across query batches); the join
    is equi on bucket — bucket-pruned instead of full-scan; probe
    fan-out multiplies only the (small, broadcast) query side."""
    c = hyperplane_signature(corpus, planes, corpus_vec, "bucket").withColumn(
        "__cn", norm(corpus_vec)
    )
    q = hyperplane_signature(
        queries.select(query_id, F.col(query_vec)), planes, query_vec, "bucket"
    ).withColumn("__qn", norm(query_vec))
    if probe_bits:
        if probe_bits != 1:
            raise ValueError("probe_bits supports 0 or 1")
        n = len(planes)
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << b)).cast("long")
                for b in range(n)
            ],
        )
        q = q.withColumn("bucket", F.explode(probes))
    joined = c.join(F.broadcast(q), "bucket")
    scored = joined.select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(
            dot(corpus_vec, query_vec) / (F.col("__cn") * F.col("__qn")), 4
        ).alias("cos"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos").desc(), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 256,
) -> DataFrame:
    """Scalar (per-dimension min/max) quantization of an embedding
    corpus to `levels` codes — the storage/serving compression step of
    an embedding pipeline (int8 codes = 4-8x smaller index).

    Returns (id, codes_md5, mse_micro): codes_md5 fingerprints the
    comma-joined code array (the artifact stays compact and
    cross-engine-comparable; real use keeps the array<int>), mse_micro
    = floor(1e6 · mean squared reconstruction error) against dequantized
    midpoints.

    SCALE + determinism: the per-dim stats are min/max — order-
    independent (unlike mean/std, whose float accumulation is
    engine/partition-order dependent), computed by one posexplode +
    groupBy(dim) with map-side partial agg, then broadcast back as a
    (dim → min,max) row. Codes are floor((x-min)/scale) clamped to
    [0, levels-1]; degenerate dims (max == min) code to 0."""
    dims = explode_fast(
        df, F.col(vec_col), "val", keep=[id_col], pos_alias="dim"
    )
    stats = dims.groupBy("dim").agg(
        F.min("val").alias("mn"), F.max("val").alias("mx")
    )
    packed = stats.agg(
        F.array_sort(
            F.collect_list(F.struct("dim", "mn", "mx"))
        ).alias("__stats")
    )
    mn_arr = F.transform("__stats", lambda s: s["mn"].cast("double"))
    mx_arr = F.transform("__stats", lambda s: s["mx"].cast("double"))
    staged = (
        df.crossJoin(F.broadcast(packed))
        .select(
            F.col(id_col),
            F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("__v"),
            mn_arr.alias("__mn"),
            mx_arr.alias("__mx"),
        )
    )
    L = F.lit(levels - 1)
    code = lambda x, mn, mx: F.when(
        mx > mn,
        F.least(
            F.greatest(F.floor((x - mn) / ((mx - mn) / (L + 1))), F.lit(0)), L
        ),
    ).otherwise(F.lit(0)).cast("long")
    codes = F.zip_with(
        "__v", F.arrays_zip("__mn", "__mx"),
        lambda x, s: code(x, s["__mn"], s["__mx"]),
    )
    coded = staged.select(
        F.col(id_col), "__v", "__mn", "__mx", codes.alias("__codes")
    )
    deq = F.zip_with(
        "__codes", F.arrays_zip("__mn", "__mx"),
        lambda c, s: F.when(
            s["__mx"] > s["__mn"],
            s["__mn"] + (c.cast("double") + 0.5) * ((s["__mx"] - s["__mn"]) / (L + 1)),
        ).otherwise(s["__mn"]),
    )
    err2 = F.zip_with(
        "__v", deq, lambda x, d: (x - d) * (x - d)
    )
    mse = F.aggregate(err2, F.lit(0.0), lambda a, e: a + e) / F.size("__v")
    return coded.select(
        F.col(id_col),
        F.md5(F.concat_ws(",", F.transform("__codes", lambda c: c.cast("string")))).alias(
            "codes_md5"
        ),
        F.floor(mse * 1e6).cast("long").alias("mse_micro"),
    )


def max_cosine_vs_set(
    df: DataFrame,
    refs: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    cos_col: str = "max_cos",
    ref_col: str = "nearest_ref",
) -> DataFrame:
    """Per-row maximum cosine against a SMALL reference set (plus the
    argmax ref id, ties to the lowest id): the primitive behind
    semantic benchmark decontamination — eval/benchmark sets are
    thousands of vectors at most, so they inline as a plan literal and
    the whole comparison rides the corpus scan (no join, no shuffle),
    a nearest-centroid assignment that keeps the score. For reference
    sets too large to inline, the corpus side goes through the
    hyperplane-LSH bucket join instead (embedding_neardup_pairs_auto)."""
    ref_arr = _centroid_array(refs)
    staged = df.withColumn("__vn", norm(vec_col))
    scores = F.transform(
        ref_arr,
        lambda c: F.struct(
            (dot(F.col(vec_col), c["v"]) / (F.col("__vn") * c["n"])).alias("cos"),
            (-c["cid"]).alias("ncid"),
        ),
    )
    best = F.array_max(scores)
    return (
        staged.withColumn(cos_col, F.round(best["cos"], 4))
        .withColumn(ref_col, -best["ncid"])
        .drop("__vn")
    )


def jl_matrix(in_dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic ±1 Johnson-Lindenstrauss projection matrix from
    content hashes (sign(j,i) = parity of md5("j:i")) — no RNG state,
    so the SAME matrix is reproducible in any engine, run, or language
    (the oracle re-derives it in SQL; tests re-derive it in Python).
    Rademacher ±1 entries satisfy the JL lemma (Achlioptas 2003) with
    the same distortion bounds as Gaussian entries."""
    import hashlib

    def sign(j: int, i: int) -> int:
        h = int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:8], 16)
        return 1 if h % 2 == 0 else -1

    return [[sign(j, i) for i in range(in_dim)] for j in range(out_dim)]


def random_projection(
    df: DataFrame,
    matrix: list[list[int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "proj",
) -> DataFrame:
    """JL random projection: proj_j = dot(v, m_j) / sqrt(out_dim) —
    the cheap dimensionality-reduction step before ANN indexing or
    pairwise-distance work (d=768 → d=64 cuts every downstream dot
    product 12x while preserving pairwise distances within the JL
    distortion bound).

    SCALE: pure scan-side Column projection — the ±1 matrix rides the
    plan as literals (out_dim × in_dim ints, a few KB), zero shuffle,
    zero Python. Each proj_j is a sequential F.aggregate fold, the
    engine-exact form every similarity entry uses."""
    k = len(matrix)
    scale = F.lit(float(k) ** 0.5)
    comps = [
        (
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(x) for x in row]),
                    lambda v, s: v.cast("double") * s.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / scale
        ).alias(f"__p{j}")
        for j, row in enumerate(matrix)
    ]
    return df.select(F.col(id_col), F.array(*comps).alias(out_col))


def mutual_knn_edges(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk: DataFrame | None = None,
) -> DataFrame:
    """MUTUAL k-nearest-neighbor edges (id_a < id_b): a pair is an edge
    iff each vector is in the other's cosine top-k (self excluded) —
    the graph whose connected components are the standard
    embedding-space clustering for semantic grouping (mutual-kNN
    clustering; the symmetric requirement prunes hub vectors that
    appear in everyone's top-k but reciprocate none).

    Default top-k is brute_force_topk with the corpus as its own query
    set: EXACT, and therefore the eval-scale baseline — the all-pairs
    scan is O(n²·d) like every exact self-kNN. At corpus scale pass
    `topk` — any precomputed (query_id, {id_col}, cos) neighbor table,
    e.g. `ivf_topk(corpus, corpus-as-queries, centroids)` or the
    persisted-index probe — and ONLY the top-k stage changes; the
    mutual join and the component step are unchanged (both are
    top-k-output-sized, never corpus²). Supply ≥ k+1 neighbors per
    query when the table may contain self-matches (self rows are
    dropped and ranks recomputed here)."""
    if topk is None:
        q = df.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
        )
        topk = brute_force_topk(
            df, q, k=k + 1, corpus_id=id_col, corpus_vec=vec_col
        )
    topk = topk.where(F.col("query_id") != F.col(id_col))
    # re-rank after dropping self (self is rank 1 at cos 1.0 unless ties)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col(id_col)
    )
    topk = topk.withColumn("__rk", F.row_number().over(w)).where(
        F.col("__rk") <= k
    )
    a = topk.select(
        F.col("query_id").alias("id_a"), F.col(id_col).alias("id_b"), "cos"
    ).where(F.col("id_a") < F.col("id_b"))
    b = topk.select(
        F.col(id_col).alias("id_a"), F.col("query_id").alias("id_b")
    ).where(F.col("id_a") < F.col("id_b"))
    return a.join(b, ["id_a", "id_b"]).select("id_a", "id_b", "cos")


def rrf_fuse(
    rankings: dict[str, DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k_rrf: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009): merge
    top-k lists from heterogeneous retrievers (BM25, dense cosine, …)
    by score(d) = Σ_systems 1/(k_rrf + rank_s(d)) — the standard hybrid
    -search combiner, robust to incomparable raw score scales because
    it consumes only RANKS.

    Per-system contributions are integer NANO-units
    (round(1e9/(k_rrf + rank)) — ranks are small integers, so both
    engines compute the identical double before the one rounding), so
    the fused score is an order-independent integer sum; the fused
    order is the total order (rrf_nano desc, id asc). Returns
    (id_col, n_systems, rrf_nano, fused_rank) for fused_rank ≤ topk.

    SCALE: inputs are top-k lists — Σk rows by construction — so the
    union, the per-doc aggregate, and the single unpartitioned ranking
    window all run over a few hundred rows no matter the corpus size;
    the heavy lifting stays in the upstream retrievers."""
    from functools import reduce

    tagged = [
        df.select(F.col(id_col), F.col(rank_col).cast("long").alias("__r"))
        for df in rankings.values()
    ]
    u = reduce(lambda a, b: a.unionByName(b), tagged)
    contrib = F.round(F.lit(1e9) / (F.lit(k_rrf) + F.col("__r"))).cast("long")
    agg = (
        u.select(F.col(id_col), contrib.alias("__c"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_systems"),
            F.sum("__c").cast("long").alias("rrf_nano"),
        )
    )
    w = Window.orderBy(F.col("rrf_nano").desc(), F.col(id_col))
    return (
        agg.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .where(F.col("fused_rank") <= topk)
    )
