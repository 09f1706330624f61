"""Pure-Column reference implementations for differential tests.

Each function here is the Catalyst-expression formulation of an
operator whose production path in `parkour_spark` runs vectorized in
Arrow/NumPy. The package ships one engine per operator; these
references stay so the tests can pin every vectorized path against an
independent, expression-only computation of the same contract:

- `minhash_signature_column`      ≡ dedup.minhash_signature
- `bucket_pairs_column`           ≡ dedup._bucket_pairs
- `prefix_filter_pairs_column`    ≡ dedup.prefix_filter_pairs
- `embedding_block_candidates_column`
                                  ≡ dedup.embedding_block_candidates
- `ivf_assign`                    ≡ similarity.ivf_assign_arrow
- `kgram_hashes` + `winnow_select` / `winnow_select_pos`
                                  ≡ text.winnow_text_arrow

Not collected by pytest (no `test_` prefix); import it from a test
module as `from column_reference import ...`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from parkour_spark.functions.vector import dot, norm
from parkour_spark.operators import dedup as D
from parkour_spark.operators.similarity import _centroid_array
from parkour_spark.operators.sort import explode_fast as _explode_fast


# ---------------------------------------------------------------------------
# MinHash signatures
# ---------------------------------------------------------------------------


def minhash_signature_column(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_hashes: int = 12,
    ngram_n: int = 3,
) -> DataFrame:
    """(id, sig_0..sig_{k-1}) as Column expressions.

    All num_hashes minima are folded in a single `aggregate` pass with an
    array<long> accumulator (not num_hashes separate transform/array_min
    expressions): one small expression tree instead of k large ones keeps
    per-query planning+JIT time flat in k. Each stage lives in its own
    projection so the expensive array exprs are evaluated once per row
    (CollapseProject refuses to inline non-cheap expressions used more
    than once)."""
    params = D.minhash_params(num_hashes)
    a_arr = F.array(*[F.lit(a) for a, _ in params])  # foldable → hoisted
    b_arr = F.array(*[F.lit(b) for _, b in params])
    staged = D._features_df(df, text_col, id_col, ngram_n, out="__feats")
    hashed = staged.select(
        F.col(id_col), F.transform("__feats", F.md5).alias("__md5")
    )
    parsed = hashed.select(
        F.col(id_col),
        F.transform(
            "__md5",
            lambda h: F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % D.MINHASH_P,
        ).alias("__x"),
    )
    init = F.array_repeat(F.lit(D.MINHASH_P).cast("long"), num_hashes)
    mins = F.aggregate(
        "__x",
        init,
        lambda acc, x: F.transform(
            acc,
            lambda m, i: F.least(
                m,
                (F.element_at(a_arr, i + 1) * x + F.element_at(b_arr, i + 1))
                % D.MINHASH_P,
            ),
        ),
    )
    sigs = parsed.select(F.col(id_col), mins.alias("__sigs"))
    return sigs.select(
        F.col(id_col),
        *[F.col("__sigs")[i].alias(f"sig_{i}") for i in range(num_hashes)],
    )


# ---------------------------------------------------------------------------
# In-bucket pair explodes
# ---------------------------------------------------------------------------


def bucket_pairs_column(
    exploded: DataFrame, id_col: str, max_bucket: int | None
) -> DataFrame:
    """(id, band_key) → distinct pairs (a < b) sharing a bucket, via the
    nested-transform explode over sorted-distinct bucket arrays: its
    per-element `slice(ids, i+2, size)` copies the array tail once per
    member, so a bucket of size b allocates O(b²) array elements plus a
    struct per pair."""
    buckets = (
        exploded.groupBy("band_key")
        .agg(F.array_sort(F.collect_set(id_col)).alias("__ids"))
        .where(F.size("__ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.where(F.size("__ids") <= max_bucket)
    ids = F.col("__ids")
    pair_expr = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        _explode_fast(buckets, pair_expr, "__p")
        .select("__p.id_a", "__p.id_b")
        .distinct()
    )


def prefix_filter_pairs_column(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_num: int = 4,
    threshold_den: int = 5,
    ngram_n: int = 3,
) -> DataFrame:
    """dedup.prefix_filter_pairs with the pair explode and both PPJoin
    prunes (length, positional) as one nested-transform Column
    expression over sorted-distinct member structs. The struct sort is
    by the leading id field, so index order gives id_a < id_b."""
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("threshold must be a rational in (0, 1]")
    pref = D._prefix_tokens(
        df, text_col, id_col, threshold_num, threshold_den, ngram_n
    )
    member = F.struct(
        F.col(id_col).alias("i"),
        F.col("__n").alias("n"),
        F.col("__pos").alias("p"),
    )
    buckets = (
        pref.groupBy("band_key")
        .agg(F.array_sort(F.collect_set(member)).alias("__ms"))
        .where(F.size("__ms") > 1)
    )
    ms = F.col("__ms")
    ts_sum = threshold_num + threshold_den
    pair_expr = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.filter(
                F.transform(
                    F.slice(ms, i + 2, F.size(ms)),
                    lambda y: F.struct(
                        x["i"].alias("id_a"),
                        y["i"].alias("id_b"),
                        x["n"].alias("n_a"),
                        y["n"].alias("n_b"),
                        x["p"].alias("p_a"),
                        y["p"].alias("p_b"),
                    ),
                ),
                lambda p: (
                    threshold_den * F.least(p["n_a"], p["n_b"])
                    >= threshold_num * F.greatest(p["n_a"], p["n_b"])
                )
                & (
                    (F.lit(1) + F.least(p["n_a"] - p["p_a"], p["n_b"] - p["p_b"]))
                    * ts_sum
                    >= threshold_num * (p["n_a"] + p["n_b"])
                ),
            ),
        )
    )
    cand = (
        _explode_fast(buckets, pair_expr, "__p")
        .select("__p.id_a", "__p.id_b")
        .distinct()
        .persist()
    )
    cand.count()
    return D.jaccard_verify(
        cand, df, text_col, id_col, threshold_num / threshold_den, ngram_n
    )


# ---------------------------------------------------------------------------
# Embedding hyperplane-LSH signatures
# ---------------------------------------------------------------------------


def embedding_block_candidates_column(
    df: DataFrame,
    planes_bands: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int | None = 1000,
) -> DataFrame:
    """dedup.embedding_block_candidates with the band signatures as
    Column higher-order functions: n_bands·band_bits·dim interpreted
    expression ops per row, band keys as "band:bits" strings (a
    different key space from the packed longs of the production path,
    the same bucket partition of the corpus)."""
    # One flat literal array of all planes; bits computed in one pass,
    # then sliced per band and packed into a long band signature.
    flat = [p for band in planes_bands for p in band]
    band_bits = len(planes_bands[0])
    planes_arr = F.expr(
        "array("
        + ",".join("array(" + ",".join(str(float(x)) for x in p) + ")" for p in flat)
        + ")"
    )
    bits = F.transform(
        planes_arr,
        lambda p: F.when(dot(F.col(vec_col), p) >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )
    staged = df.select(F.col(id_col), bits.alias("__bits"))
    keys = F.transform(
        F.sequence(F.lit(0), F.lit(len(planes_bands) - 1)),
        lambda i: F.concat_ws(
            ":",
            i,
            F.aggregate(
                F.slice("__bits", i * band_bits + 1, band_bits),
                F.lit(0).cast("long"),
                lambda acc, b: acc * 2 + b,
            ),
        ),
    )
    exploded = _explode_fast(staged, keys, "band_key", keep=[id_col])
    return D._bucket_pairs(exploded, id_col, max_bucket)


# ---------------------------------------------------------------------------
# IVF assignment
# ---------------------------------------------------------------------------


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]] | Column,
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine, ties to
    the lowest centroid id).

    `centroids` is a driver-side list of (cid, vector) — the coarse
    quantizer. It is inlined as a literal array of structs, so assignment
    is a single scan-side expression: no join, no shuffle. One cosine
    per (row, centroid), computed once: scores = transform(centroids),
    argmax via array_max on (cos, -cid) struct ordering."""
    cent_arr = centroids if isinstance(centroids, Column) else _centroid_array(centroids)
    staged = df.withColumn("__vn", norm(vec_col))
    scores = F.transform(
        cent_arr,
        lambda c: F.struct(
            (dot(F.col(vec_col), c["v"]) / (F.col("__vn") * c["n"])).alias("cos"),
            (-c["cid"]).alias("ncid"),
        ),
    )
    return staged.withColumn(out_col, -F.array_max(scores)["ncid"]).drop("__vn")


# ---------------------------------------------------------------------------
# Winnowing fingerprints
# ---------------------------------------------------------------------------


def kgram_hashes(norm: Column | str, k: int = 8) -> Column:
    """Stage 1 of winnowing fingerprints (Schleimer/Wilkerson/Aiken):
    32-bit hashes of character k-grams. `norm` MUST be a materialized
    normalized-text column (see text.normalize_text) — the lambda reads
    it per element. One md5 per k-gram."""
    c = F.col(norm) if isinstance(norm, str) else norm
    n_grams = F.greatest(F.length(c) - (k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.conv(F.substring(F.md5(c.substr(i, F.lit(k))), 1, 8), 16, 10).cast(
            "long"
        ),
    )


def winnow_select(grams: Column, w: int = 8) -> Column:
    """Stage 2 of winnowing: distinct per-window minima of the k-gram
    hash array — two docs sharing any substring ≥ k+w-1 chars share a
    fingerprint. Keep this in a separate projection from kgram_hashes
    so the gram array is computed once."""
    n_windows = F.greatest(F.size(grams) - (w - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda j: F.array_min(F.slice(grams, j, w)),
        )
    )


def winnow_select_pos(grams: Column, w: int = 8) -> Column:
    """Position-carrying variant of winnow_select — distinct
    struct<fp,pos> per window minimum, where pos is the 1-based char
    offset of the selected k-gram in the normalized text.

    Ties inside a window resolve to the FIRST minimum (array_position
    semantics, identical to DuckDB list_position). pos determines fp
    (one hash per offset), so the struct distinct is a distinct on
    pos."""
    n_windows = F.greatest(F.size(grams) - (w - 1), F.lit(1))

    # transform-over-singleton as a let-binding: HOF lambdas cannot bind
    # locals and subexpression elimination does not reach inside them,
    # so the naive form re-slices each window 3× and re-scans it for the
    # min twice. Binding the slice and its min via single-element
    # transforms evaluates each exactly once per window.
    def per_window(j: Column) -> Column:
        return F.element_at(
            F.transform(
                F.array(F.slice(grams, j, w)),
                lambda win: F.element_at(
                    F.transform(
                        F.array(F.array_min(win)),
                        lambda m: F.struct(
                            m.alias("fp"),
                            (j - 1 + F.array_position(win, m)).alias("pos"),
                        ),
                    ),
                    1,
                ),
            ),
            1,
        )

    return F.array_distinct(F.transform(F.sequence(F.lit(1), n_windows), per_window))
