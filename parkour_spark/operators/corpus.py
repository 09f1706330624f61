"""Training-corpus preparation operators: benchmark decontamination,
unigram-LM quality scoring, BM25 retrieval, document chunking, greedy
sequence packing, and stratified sampling.

Beyond-reference surface (SURVEY §7 build-plan step 6): the reference
(damballa/parkour) is a Hadoop MapReduce dataflow library with no
corpus-prep operators; these are the additive LLM-training-data ops,
expressed Spark-first. The only reference analog is the arbitrary-map
task surface (src/clojure/parkour/mapreduce.clj:107-123) these would
have been hand-written against.

Scale design (100 TB):
- decontamination: the eval/benchmark side is SMALL by construction
  (benchmarks are thousands of docs, not billions), so its distinct
  n-grams broadcast; the corpus side explodes scan-side and the only
  corpus-keyed shuffle is the per-doc hit aggregate.
- unigram LM: one corpus tokenize pass; the (doc, term) tf table
  shuffles once; corpus term counts ride a vocabulary-keyed window over
  that same table (the single-pass trick proven on tfidf_top_terms);
  grand totals are a broadcast 1-row aggregate. The vocabulary never
  drives a corpus shuffle.
- BM25: identical shape; the query-term list is a broadcast literal, so
  filtering to query terms happens scan-side BEFORE the only shuffle.
  Doc length is computed in the scan projection (size(tokens)), not by
  a second window pass over the exploded table.
- chunking: pure scan-side explode (sequence + substr) — zero shuffle.
- packing: greedy first-fit is inherently sequential, so it is
  parallelized per hash-bucket: each bucket packs independently inside
  one Arrow batch (applyInPandas), O(1) state per bucket, bucket count
  sized to the cluster. Bucket assignment and in-bucket order are pure
  functions of the doc id, so results are partition-layout-independent
  and cross-engine replayable (the DuckDB oracle replays the greedy
  fold as a recursive CTE).

Float determinism: scores are emitted as integer micro-units
(round(x * 1e6) per term BEFORE the additive aggregate) so sums are
order-independent and bit-identical across engines — the float-sum
1-ulp tie class that motivated quality_score's basis-point arithmetic
(functions/text.py) cannot occur here by construction.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F

from parkour_spark.functions.sampling import hash_bucket
from parkour_spark.functions.text import bigrams, shingles_of, token_count, tokens
from parkour_spark.operators.sort import explode_fast


# --------------------------------------------------------------------------
# Decontamination (benchmark n-gram overlap removal)
# --------------------------------------------------------------------------

def ngram_contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_shared_ngrams) for corpus docs sharing ≥1 distinct token
    n-gram with the eval/benchmark set — the standard train/test
    decontamination test (n-gram collision against held-out benchmarks).

    Plan: eval n-grams are deduplicated and BROADCAST (benchmarks are
    small by construction); corpus n-grams explode scan-side into a
    broadcast hash join, so the only shuffle is the final per-doc count.
    """
    # Tokens staged in their own projection — shingles_of's transform
    # lambda would otherwise re-evaluate the tokenize per n-gram
    # (measured 5x on this operator at sf0.1).
    ev_toked = eval_docs.select(tokens(F.lower(F.col(text_col))).alias("__toks"))
    ev = explode_fast(
        ev_toked, F.array_distinct(shingles_of(F.col("__toks"), n)), "ngram"
    ).distinct()
    tr_toked = docs.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    tr = explode_fast(
        tr_toked, F.array_distinct(shingles_of(F.col("__toks"), n)), "ngram",
        keep=[id_col],
    )
    return (
        tr.join(F.broadcast(ev), "ngram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_ngrams"))
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus minus every doc sharing an n-gram with the eval set
    (anti-join against the contamination table)."""
    hits = ngram_contamination(docs, eval_docs, n, text_col, id_col)
    return docs.join(hits.select(id_col), id_col, "left_anti")


# --------------------------------------------------------------------------
# Unigram-LM quality scoring
# --------------------------------------------------------------------------

def unigram_logprob(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc unigram-LM score: mean token log-probability under the
    corpus's own unigram distribution (the classic cheap LM-quality
    filter — gibberish and boilerplate score far from the corpus mean).

    Returns (id, n_toks, avg_logprob_micro) with the score in integer
    micro-nats: each term's ln(c_w / N) is rounded to micro-nats BEFORE
    the tf-weighted integer sum, so aggregation order cannot perturb
    the result. Single corpus pass: c_w is a vocabulary-keyed window
    over the tf table itself; N rides in as a broadcast 1-row agg.
    """
    terms = explode_fast(
        docs, tokens(F.lower(F.col(text_col))), "term", keep=[id_col]
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    cw = tf.withColumn("c_w", F.sum("tf").over(Window.partitionBy("term")))
    n_total = tf.agg(F.sum("tf").alias("n_total"))
    contrib = (
        F.round(F.log(F.col("c_w").cast("double") / F.col("n_total")) * 1e6)
        .cast("long")
        * F.col("tf")
    )
    per_doc = (
        cw.crossJoin(F.broadcast(n_total))
        .groupBy(id_col)
        .agg(F.sum(contrib).alias("sum_micro"), F.sum("tf").alias("n_toks"))
    )
    return per_doc.select(
        id_col,
        "n_toks",
        F.round(F.col("sum_micro").cast("double") / F.col("n_toks"))
        .cast("long")
        .alias("avg_logprob_micro"),
    )


# --------------------------------------------------------------------------
# BM25 retrieval
# --------------------------------------------------------------------------

def bm25_topk(
    docs: DataFrame,
    query_terms: Iterable[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    require_all: bool = False,
    max_df: int | None = None,
) -> DataFrame:
    """Okapi BM25 top-k retrieval for a literal query-term set.

    score(d) = Σ_t ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
                 · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

    Emitted as (id, n_qterms, score_micro): per-term scores are rounded
    to integer micro-units before the sum (order-independent), ties at
    rank k broken by id. Doc length dl is computed in the scan
    projection; terms are filtered to the broadcast query set scan-side,
    so the only corpus shuffle carries query-term postings.

    `max_df` (r10) drops query terms whose document frequency exceeds
    it BEFORE scoring — the stopword guard: a term in most of the
    corpus carries ~zero idf signal but costs a df-sized postings
    read, the same degenerate-bucket economics every dedup family
    caps. `require_all` (r10) keeps only docs matching EVERY scored
    term (conjunctive AND — applied after the cap, so a capped
    stopword can't make conjunctive queries unanswerable). Defaults
    preserve the original disjunctive uncapped semantics bit-for-bit.
    """
    qlist = sorted(set(query_terms))
    base = explode_fast(
        docs,
        tokens(F.lower(F.col(text_col))),
        "term",
        keep=[F.col(id_col), token_count(F.col(text_col)).alias("dl")],
    ).where(F.col("term").isin(qlist))
    tf = base.groupBy(id_col, "dl", "term").agg(F.count("*").alias("tf"))
    totals = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col(text_col))).alias("n_total"),
    )
    return bm25_score_topk(
        tf, totals, qlist, k=k, k1=k1, b=b, id_col=id_col,
        require_all=require_all, max_df=max_df,
    )


def bm25_term_micro(k1: float, b: float):
    """The per-(doc, term) BM25 contribution in integer micro-units —
    THE scoring expression, defined once: every BM25 surface (inline,
    persisted probe, batched probe) must produce bit-identical
    score_micro values, which only holds while they all evaluate this
    same column over (tf, dl, df, n_docs, n_total)."""
    avgdl = F.col("n_total").cast("double") / F.col("n_docs")
    idf = F.log(
        1
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tfn = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * ((1 - b) + b * F.col("dl") / avgdl)
    )
    return F.round(idf * tfn * 1e6).cast("long")


def bm25_score_topk(
    tf: DataFrame,
    totals: DataFrame,
    qlist: list[str],
    k: int,
    k1: float,
    b: float,
    id_col: str,
    require_all: bool = False,
    max_df: int | None = None,
) -> DataFrame:
    """The shared BM25 scoring tail — ONE implementation for both the
    inline path (`bm25_topk`, tf derived by tokenizing the corpus) and
    the persisted-index probe (`textindex.text_index_probe_bm25`, tf
    read from stored postings). probe ≡ inline is a gate-pinned
    IDENTITY, which only stays true while both paths score through the
    same expressions — so the require_all/max_df/scoring block lives
    here once instead of as two verbatim copies (r10 ADVICE: an edit to
    one copy would silently break the identity).

    `tf` carries (id_col, dl, term, tf); `totals` is a 1-row
    (n_docs, n_total) aggregate broadcast into the plan. df derives
    from the query-term slice via a window — never stored, so the
    identity holds across appends/deletes."""
    tf = tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
    req = None
    if require_all:
        # classic AND: every requested-and-uncapped term must match —
        # a term absent from the whole corpus is still required, so
        # the result is empty (it is not in tf and cannot be capped).
        # The capped-term count rides IN-PLAN as a broadcast 1-row
        # aggregate (r10 review: a driver-side .count() here was a
        # second full scan of the tf lineage before the real query)
        capped = (
            tf.select("term", "df").distinct().where(F.col("df") > max_df)
            if max_df is not None
            else tf.limit(0)
        )
        req = capped.agg(
            (F.lit(len(qlist)) - F.count("*")).alias("__nreq")
        )
    if max_df is not None:
        # the stopword guard: a term in most of the corpus carries
        # ~zero idf but costs a df-sized postings read — cap it out
        # before scoring, exactly the dedup families' bucket economics
        tf = tf.where(F.col("df") <= max_df)
    scored = (
        tf.crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            bm25_term_micro(k1, b).alias("term_micro"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_qterms"),
            F.sum("term_micro").alias("score_micro"),
        )
    )
    if require_all:
        scored = (
            scored.crossJoin(F.broadcast(req))
            .where(F.col("n_qterms") == F.col("__nreq"))
            .drop("__nreq")
        )
    return scored.orderBy(F.col("score_micro").desc(), F.col(id_col)).limit(k)


# --------------------------------------------------------------------------
# Document chunking (training / RAG window extraction)
# --------------------------------------------------------------------------

def chunk_documents(
    docs: DataFrame,
    size: int = 120,
    stride: int = 90,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping fixed-size character chunks: starts at 0, stride,
    2·stride, …; the last chunk may be short; every doc yields ≥1 chunk.
    Returns (id, chunk_idx, chunk_md5) — md5 keeps the registered-query
    output compact and cross-engine-comparable while the full chunk text
    is one `.substr` away in real use.

    Pure scan-side sequence+substr explode — zero shuffle at any scale.
    """
    c = F.col(text_col)
    n_extra = F.greatest(
        F.expr(f"(length({text_col}) - {size} + {stride - 1}) DIV {stride}"),
        F.lit(0),
    )
    idx = F.sequence(F.lit(0), n_extra.cast("int"))
    chunks = F.transform(
        idx, lambda i: F.md5(c.substr(i * stride + 1, F.lit(size)))
    )
    return explode_fast(
        docs, chunks, "chunk_md5", keep=[id_col], pos_alias="chunk_idx"
    )


# --------------------------------------------------------------------------
# Greedy sequence packing (token-budget bin filling)
# --------------------------------------------------------------------------

def pack_sequences(
    docs: DataFrame,
    budget: int = 256,
    n_buckets: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pack documents into training sequences of ≤ budget tokens by
    greedy first-fit in deterministic id order, parallelized per
    hash-bucket (the sequential fold runs independently inside each
    bucket; docs longer than the budget occupy a sequence alone).

    Returns (bucket, seq_id, n_docs, seq_tokens) — the packing manifest
    a trainer materializes sequences from. Deterministic: bucket and
    order are pure functions of the id, so the DuckDB oracle replays
    the identical fold as a per-bucket recursive CTE.
    """
    base = docs.select(
        hash_bucket(F.col(id_col), n_buckets).cast("int").alias("bucket"),
        F.col(id_col).alias("_pack_id"),
        token_count(F.col(text_col)).alias("n_toks"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_pack_id")
        bucket = int(pdf["bucket"].iloc[0])
        seq_docs: list[int] = []
        seq_toks: list[int] = []
        fill: int | None = None
        for n in pdf["n_toks"]:
            n = int(n)
            if fill is None or fill + n > budget:
                seq_docs.append(1)
                seq_toks.append(n)
                fill = n
            else:
                seq_docs[-1] += 1
                seq_toks[-1] += n
                fill += n
        return pd.DataFrame(
            {
                "bucket": bucket,
                "seq_id": range(len(seq_docs)),
                "n_docs": seq_docs,
                "seq_tokens": seq_toks,
            }
        )

    return base.groupBy("bucket").applyInPandas(
        pack, "bucket int, seq_id bigint, n_docs bigint, seq_tokens bigint"
    )


# --------------------------------------------------------------------------
# Stratified (quota) sampling
# --------------------------------------------------------------------------

def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fractions: dict[str, float],
    default: float,
    buckets: int = 100,
) -> DataFrame:
    """Keep a per-stratum fraction of rows, membership decided by
    content hash of the key — the training-mix balancing op (e.g.
    upweight one language). Reproducible across runs, engines, and
    partitionings, unlike `df.sampleBy`; pure scan-side filter."""
    bucket = hash_bucket(F.col(key_col), buckets)
    thresh: Column = F.lit(int(default * buckets))
    for name, frac in fractions.items():
        thresh = (
            F.when(F.col(strata_col) == name, F.lit(int(frac * buckets)))
            .otherwise(thresh)
        )
    return df.where(bucket < thresh)


def shard_manifest(
    docs: DataFrame,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Training-shard assignment + manifest: each doc lands in shard
    hash(id) % n_shards (content-addressed — stable across runs,
    engines, and partitionings, so a re-run never reshuffles shard
    membership under a data loader), and the manifest row per shard
    carries (n_docs, n_tokens, content_fp) — the contract a training
    job checks before consuming the shard.

    content_fp is the XOR of per-doc 60-bit content hashes
    (md5(id:text)): order-independent and CONSTANT-width, so it rides
    partial aggregation and never overflows — the associative
    fingerprint that works where concat-of-sorted-ids (unbounded
    string) or sum-of-hashes (int64 overflow) break at corpus scale.

    ONE scan, ONE shuffle of n_shards×partitions partial cells."""
    doc_fp = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.col(text_col))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.select(
            hash_bucket(F.col(id_col), n_shards).alias("shard"),
            token_count(text_col).cast("long").alias("__nt"),
            doc_fp.alias("__fp"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__nt").alias("n_tokens"),
            F.expr("bit_xor(__fp)").alias("content_fp"),
        )
    )


def quota_cap(
    df: DataFrame,
    group_col: str,
    order_col: str,
    id_col: str,
    n: int,
    descending: bool = True,
) -> DataFrame:
    """Cap each group at its n best rows — the web-corpus "domain cap"
    (RefinedWeb/FineWeb keep at most N pages per registered domain so a
    single boilerplate-heavy site cannot dominate the training mix).
    Ranking is (order_col desc|asc, id_col asc): the id tie-break makes
    the kept set deterministic across runs and engines.

    SCALE: one hash shuffle on group_col, then a per-group row_number —
    Spark plans this as TopNPerGroup-style windowed rank with partial
    sort; only group keys shuffle rows, never a global sort. Domain
    caps are the canonical skew case (one domain can be 1e8 pages): the
    AQE skew-split handles the sort spill, and because the predicate is
    rank <= n the excess rows die in the window stage — nothing
    downstream ever sees more than n per key."""
    ordc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = Window.partitionBy(group_col).orderBy(ordc, F.col(id_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= n)
        .drop("__rk")
    )


# --------------------------------------------------------------------------
# Corpus-level exact line dedup (C4-style boilerplate removal)
# --------------------------------------------------------------------------

def line_dedup(
    docs: DataFrame,
    line_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove every line that appears anywhere else in the corpus,
    keeping only its globally-first occurrence (lowest (doc, position))
    — the C4 pipeline's cross-document boilerplate filter. For corpora
    without layout, a "line" is a run of `line_tokens` consecutive
    tokens (non-overlapping), so the op is layout-independent.

    Returns (id, n_lines, n_kept, kept_md5) with kept_md5 = md5 of the
    surviving lines re-joined in document order (the reassembled text is
    one concat away; md5 keeps the artifact compact and oracle-exact).

    SCALE: first-occurrence resolution is groupBy(line).min(struct) —
    map-side partial agg, so a boilerplate line in half the corpus ships
    ONE candidate per upstream partition, never a corpus-sized hot key
    (a window over partitionBy(line) would). The join back is equi on
    the line text; residual probe-side skew on mega-frequent lines is
    AQE skew-split territory. Second shuffle = per-doc regroup."""
    toked = docs.select(F.col(id_col), tokens(F.lower(F.col(text_col))).alias("__t"))
    n_lines = F.greatest(
        F.ceil(F.size("__t") / F.lit(line_tokens)).cast("int"), F.lit(1)
    )
    segs = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat_ws(" ", F.slice("__t", i * line_tokens + 1, line_tokens)),
    )
    staged = toked.select(F.col(id_col), segs.alias("__segs"))
    lines = explode_fast(
        staged, "__segs", "line", keep=[id_col], pos_alias="line_idx"
    )
    first = lines.groupBy("line").agg(
        F.min(F.struct(F.col(id_col), F.col("line_idx"))).alias("__first")
    )
    flagged = lines.join(first, "line").withColumn(
        "__keep",
        (F.col(f"__first.{id_col}") == F.col(id_col))
        & (F.col("__first.line_idx") == F.col("line_idx")),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("__keep").cast("long")).alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("__keep"),
                                    F.struct(F.col("line_idx"), F.col("line")),
                                )
                            )
                        ),
                        lambda s: s["line"],
                    ),
                )
            ).alias("kept_md5"),
        )
    )


# --------------------------------------------------------------------------
# Source-mixture weighting (training-mix temperature sampling)
# --------------------------------------------------------------------------

def source_mixture_weights(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    alpha_num: int = 1,
    alpha_den: int = 2,
) -> DataFrame:
    """Per-source temperature-sampling weights for training-mix design:
    weight ∝ (tokens_s)^α with α = alpha_num/alpha_den (default 1/2,
    the classic sqrt temperature that upweights small sources).

    Returns (source, n_docs, n_tokens, weight_micro) with weight_micro
    = floor(1e6 · (n_tokens_s / max_s n_tokens)^α) — normalized by the
    LARGEST source rather than the sum, so the float path is
    pow(ratio-of-exact-integers) with no cross-row float accumulation
    (a float sum's addition order is engine-dependent; the max of
    integers is not). One aggregation; the per-source table is tiny at
    any corpus scale."""
    per_src = docs.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col(text_col))).alias("n_tokens"),
    )
    mx = per_src.agg(F.max("n_tokens").alias("__mx"))
    ratio = F.col("n_tokens").cast("double") / F.col("__mx")
    w = F.floor(
        F.lit(1e6) * F.pow(ratio, F.lit(alpha_num / alpha_den))
    ).cast("long")
    return (
        per_src.crossJoin(F.broadcast(mx))
        .select(source_col, "n_docs", "n_tokens", w.alias("weight_micro"))
    )


# --------------------------------------------------------------------------
# Vocabulary head coverage (Zipf profile)
# --------------------------------------------------------------------------

def vocab_head_coverage(
    docs: DataFrame,
    top_n: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-`top_n` terms by corpus frequency with cumulative coverage:
    (rank, term, cnt, cum_micro) where cum_micro = floor(1e6 · (Σ counts
    of ranks ≤ r) / total tokens) — the Zipf-head profile that decides
    tokenizer vocabulary sizing and stopword cutoffs. Ties rank by term.

    One tokenize pass + one vocabulary-sized aggregate; the head is
    extracted with `orderBy(...).limit(top_n)` — TakeOrderedAndProject,
    per-partition top-n heaps, so NO full-vocabulary sort or
    single-partition window ever runs (at web scale the vocabulary is
    hundreds of millions of terms). Ranking and the cumulative sum run
    on the `top_n` surviving rows only (integer arithmetic, no float
    accumulation)."""
    terms = explode_fast(docs, tokens(F.lower(F.col(text_col))), "term")
    vocab = terms.groupBy("term").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("__total"))
    head = vocab.orderBy(F.col("cnt").desc(), F.col("term")).limit(top_n)
    w = Window.orderBy(F.col("cnt").desc(), F.col("term"))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        head.withColumn("rank", F.row_number().over(w))
        .withColumn("cum", F.sum("cnt").over(wc))
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "term",
            "cnt",
            F.floor(F.lit(1000000) * F.col("cum") / F.col("__total"))
            .cast("long")
            .alias("cum_micro"),
        )
    )


# --------------------------------------------------------------------------
# Bigram-LM quality scoring (conditional log-prob, add-1 smoothing)
# --------------------------------------------------------------------------

def bigram_lm_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc mean bigram log-probability under the corpus's own
    add-1-smoothed bigram LM — the step up from `unigram_logprob`:
    P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V). Fluent text scores near
    the corpus mean; shuffled/templated text scores low because its
    transitions are rare even when its vocabulary is common.

    Returns (id, n_bigrams, avg_logprob_micro); docs with < 2 tokens
    have no transitions and are excluded. Integer micro-nats per term
    BEFORE the tf-weighted sum (order-independent, engine-exact).

    Single corpus pass: the (doc, w1, w2) tf table is the ONLY
    corpus-sized shuffle; c(w1,w2) and the prefix total c(w1·) are
    windows over that same table, V (vocabulary size) is a broadcast
    1-row aggregate over its distinct tokens — nothing re-reads the
    corpus (the tfidf/pmi single-pass discipline)."""
    from parkour_spark.functions.text import bigrams

    toked = docs.select(F.col(id_col), tokens(F.lower(F.col(text_col))).alias("__t"))
    bg = explode_fast(toked, bigrams(F.col("__t")), "p", keep=[id_col]).select(
        F.col(id_col), F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    tf = bg.groupBy(id_col, "w1", "w2").agg(F.count("*").alias("tf"))
    c12 = F.sum("tf").over(Window.partitionBy("w1", "w2"))
    c1 = F.sum("tf").over(Window.partitionBy("w1"))
    vocab = (
        tf.select(F.col("w1").alias("w"))
        .union(tf.select(F.col("w2").alias("w")))
        .distinct()
        .agg(F.count("*").alias("v"))
    )
    staged = tf.withColumn("c12", c12).withColumn("c1", c1)
    contrib = (
        F.round(
            F.log((F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v")))
            * 1e6
        ).cast("long")
        * F.col("tf")
    )
    per_doc = (
        staged.crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(F.sum(contrib).alias("sum_micro"), F.sum("tf").alias("n_bigrams"))
    )
    return per_doc.select(
        id_col,
        "n_bigrams",
        F.round(F.col("sum_micro").cast("double") / F.col("n_bigrams"))
        .cast("long")
        .alias("avg_logprob_micro"),
    )


# --------------------------------------------------------------------------
# Feature-hashed document vectors (model-free dense representation)
# --------------------------------------------------------------------------

def hashed_doc_vectors(
    docs: DataFrame,
    dims: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, vec): tf-weighted feature-hashing (the hashing trick) —
    token w adds its count to dimension md5(w) % dims. A deterministic,
    model-free doc embedding that plugs into the whole similarity
    family (kNN, IVF, quantization, semantic dedup) without any
    trained encoder; collisions are the accepted trade of the trick.

    Integer counts ⇒ every downstream dot/norm is EXACT (integer
    arithmetic in doubles), so cosine rankings are engine- and
    order-independent. One explode + one (doc, dim) aggregate; the
    vector assembles scan-side from a map (no pivot, no dims-wide
    shuffle)."""
    terms = explode_fast(
        docs, tokens(F.lower(F.col(text_col))), "term", keep=[id_col]
    )
    dimmed = terms.select(
        F.col(id_col),
        (
            F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long") % dims
        ).alias("dim"),
    )
    counts = dimmed.groupBy(id_col, "dim").agg(F.count("*").alias("cnt"))
    packed = counts.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("dim", "cnt"))).alias("__m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dims - 1)),
        lambda d: F.coalesce(F.element_at("__m", d.cast("long")), F.lit(0)).cast(
            "double"
        ),
    )
    return packed.select(F.col(id_col), vec.alias("vec"))


def resample_by_mixture(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha_num: int = 1,
    alpha_den: int = 2,
    micro: int = 1_000_000,
) -> DataFrame:
    """Temperature RESAMPLING — `source_mixture_weights` actually applied
    to the corpus: each source is downsampled at rate
    (n_tokens_min / n_tokens_s)^(1-α), which realizes token shares
    ∝ tokens^α (the smallest source keeps everything; larger sources
    shed their excess). Membership is per-doc content hash against the
    source's integer micro-rate — reproducible across runs, engines,
    and partitionings, and the rate table is source-sized so it
    broadcasts at any corpus scale. Returns the kept rows with a
    `rate_micro` column."""
    per_src = docs.groupBy(source_col).agg(
        F.sum(token_count(F.col(text_col))).alias("__n_tokens")
    )
    mn = per_src.agg(F.min("__n_tokens").alias("__mn"))
    exp = 1.0 - alpha_num / alpha_den
    rate = F.floor(
        F.lit(float(micro))
        * F.pow(F.col("__mn").cast("double") / F.col("__n_tokens"), F.lit(exp))
    ).cast("long")
    rates = per_src.crossJoin(F.broadcast(mn)).select(
        source_col, rate.alias("rate_micro")
    )
    return docs.join(F.broadcast(rates), source_col).where(
        hash_bucket(F.col(id_col), micro) < F.col("rate_micro")
    )


def linear_quality_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bias_micro: int = -6_000_000,
    w_tok_micro: int = 50_000,
    w_char_micro: int = 2_000,
    w_distinct_micro: int = 300,
) -> DataFrame:
    """Model-based quality filtering PLUMBING: the deployment shape of a
    trained quality classifier (fastText / logistic regression over doc
    features) — the weight vector is a tiny constant that rides the
    plan, feature extraction is scan-side, and the corpus never
    shuffles. The score is the raw decision value z in integer
    micro-units over integer features (token count, char count,
    distinct-token basis points), so it is EXACT in any engine; the
    sigmoid is monotone, so thresholding z > 0 is thresholding
    p > 0.5 without ever evaluating exp() (whose last-ulp behavior
    differs across libm implementations). Swapping in real trained
    weights changes only the constants."""
    from parkour_spark.functions.text import distinct_token_ratio_bp

    staged = docs.select(
        id_col, F.col(text_col).alias("__txt"), tokens(text_col).alias("__t")
    )
    z = (
        F.lit(bias_micro)
        + F.lit(w_tok_micro) * F.size("__t")
        + F.lit(w_char_micro) * F.length("__txt")
        + F.lit(w_distinct_micro) * distinct_token_ratio_bp(F.col("__t"))
    ).cast("long")
    return staged.select(
        id_col, z.alias("z_micro"), (z > 0).alias("passes")
    )


# --------------------------------------------------------------------------
# Deterministic weighted sampling without replacement (A-ES)
# --------------------------------------------------------------------------

def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    group_col: str | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k rows (per group), by
    the Efraimidis-Spirakis A-ES scheme: each row gets priority
    ln(u) / w (monotone-equivalent to the textbook u^(1/w)) with u a
    CONTENT-HASH uniform, and the k largest priorities win. Inclusion
    probability is proportional to weight; the sample is reproducible
    across runs, engines, and partitionings because u is a pure
    function of the row id (hash_bucket), never an RNG.

    Determinism across engines: u takes one of 1024 exactly-
    representable dyadic values, so ln(u) differs across libm
    implementations by at most 1 ulp; priorities of distinct (u, w)
    pairs are separated by many orders of magnitude more than that,
    and equal (u, w) pairs tie-break on the row id — so the selected
    set is stable cross-engine (the DuckDB oracle replays it exactly).

    SCALE: grouped -> one hash-partitioned window (rank within group,
    k smallest survive); global -> orderBy+limit, which Spark executes
    as TakeOrderedAndProject (per-partition heap + driver merge of
    k-row heads, never a global sort). Weights must be > 0."""
    u = (hash_bucket(F.col(id_col), 1024).cast("double") + F.lit(0.5)) / F.lit(
        1024.0
    )
    pri = F.log(u) / F.col(weight_col).cast("double")
    ranked = df.where(F.col(weight_col) > 0).withColumn("__pri", pri)
    if group_col is None:
        return (
            ranked.orderBy(F.col("__pri").desc(), F.col(id_col))
            .limit(k)
            .withColumn(
                "rank",
                F.row_number().over(
                    Window.orderBy(F.col("__pri").desc(), F.col(id_col))
                ),
            )
            .drop("__pri")
        )
    w = Window.partitionBy(group_col).orderBy(F.col("__pri").desc(), F.col(id_col))
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .drop("__pri")
    )


# --------------------------------------------------------------------------
# DSIR — data selection via importance resampling (Xie et al. 2023)
# --------------------------------------------------------------------------

def dsir_importance(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """Per-document DSIR importance weights: log p_target(doc) -
    log p_raw(doc) under hashed-unigram bag-of-words LMs with add-1
    smoothing (the published hashed n-gram variant of Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling").
    Rank by the returned weight (or feed exp-weights to
    weighted_sample) to select raw-corpus docs that look like the
    target domain.

    Returns (id_col, n_toks, logweight_micro): integer micro-nats, so
    the per-doc additive aggregate is order-independent and
    bit-identical across engines.

    SCALE: two token-explode passes (raw corpus + the SMALL target —
    targets are thousands of docs by construction); bucket counts are
    bounded by n_buckets, so the log-ratio table is tiny and
    BROADCASTS into the per-doc scoring join — the raw corpus shuffles
    once, on doc id, for the final aggregate. The vocabulary never
    drives a shuffle (hashing bounds the feature space, the same trick
    as hashed_doc_vectors)."""
    toks = tokens(F.lower(F.trim(F.col(text_col))))

    def occurrences(df: DataFrame) -> DataFrame:
        staged = df.select(F.col(id_col), toks.alias("__t"))
        return explode_fast(staged, "__t", "__tok", keep=[id_col]).select(
            F.col(id_col), hash_bucket(F.col("__tok"), n_buckets).alias("__b")
        )

    raw = occurrences(docs)
    rc = raw.groupBy("__b").agg(F.count("*").alias("c_r"))
    tc = occurrences(target).groupBy("__b").agg(F.count("*").alias("c_t"))
    totals = rc.agg(F.sum("c_r").alias("n_r")).crossJoin(
        tc.agg(F.coalesce(F.sum("c_t"), F.lit(0)).alias("n_t"))
    )
    lr = (
        rc.join(tc, "__b", "left")
        .na.fill({"c_t": 0})
        .crossJoin(F.broadcast(totals))
        .select(
            "__b",
            F.round(
                (
                    F.log(
                        (F.col("c_t") + 1).cast("double")
                        / (F.col("n_t") + n_buckets)
                    )
                    - F.log(
                        (F.col("c_r") + 1).cast("double")
                        / (F.col("n_r") + n_buckets)
                    )
                )
                * 1e6
            )
            .cast("bigint")
            .alias("lr_micro"),
        )
    )
    return (
        raw.join(F.broadcast(lr), "__b")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_toks"),
            F.sum("lr_micro").alias("logweight_micro"),
        )
    )


def token_drift(
    docs_a: DataFrame,
    docs_b: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """Distribution drift between two corpus snapshots/slices: smoothed
    KL divergences (both directions) and total-variation distance
    between their hashed-unigram token distributions — the monitoring
    primitive that catches a scraper change, a source mix shift, or a
    bad ingest batch BEFORE it trains. One summary row:
    (n_toks_a, n_toks_b, n_buckets_obs, kl_ab_nano, kl_ba_nano,
    tv_nano) — integer nano-nats / nano-TV so the distributed sums are
    order-independent and cross-engine exact (dsir_importance's
    micro-nat discipline, one scale finer because per-bucket terms are
    ~1e-4).

    Hashing bounds the feature space exactly as in dsir_importance: the
    bucket table is ≤ n_buckets rows however large the vocabulary, the
    per-side shuffles carry bucket cells only, and the final arithmetic
    happens on a bucket-count-sized frame. Buckets observed in neither
    side contribute the same closed-form smoothed term on both engines
    (added once via the observed-bucket count, not by materializing
    empty buckets)."""
    toks = tokens(F.lower(F.trim(F.col(text_col))))

    def occ(df: DataFrame) -> DataFrame:
        staged = df.select(toks.alias("__t"))
        return explode_fast(staged, "__t", "__tok", keep=[]).select(
            hash_bucket(F.col("__tok"), n_buckets).alias("__b")
        )

    ca = occ(docs_a).groupBy("__b").agg(F.count("*").alias("c_a"))
    cb = occ(docs_b).groupBy("__b").agg(F.count("*").alias("c_b"))
    tot = (
        ca.agg(F.coalesce(F.sum("c_a"), F.lit(0)).alias("n_a"))
        .crossJoin(cb.agg(F.coalesce(F.sum("c_b"), F.lit(0)).alias("n_b")))
    )
    both = (
        ca.join(cb, "__b", "full")
        .na.fill({"c_a": 0, "c_b": 0})
        .crossJoin(F.broadcast(tot))
    )
    v = F.lit(n_buckets)
    p = (F.col("c_a") + 1).cast("double") / (F.col("n_a") + v)
    q = (F.col("c_b") + 1).cast("double") / (F.col("n_b") + v)
    terms = both.select(
        F.round(p * F.log(p / q) * 1e9).cast("long").alias("__kab"),
        F.round(q * F.log(q / p) * 1e9).cast("long").alias("__kba"),
        F.round(F.abs(p - q) * 0.5 * 1e9).cast("long").alias("__tv"),
    )
    agg = terms.agg(
        F.sum("__kab").alias("__skab"),
        F.sum("__kba").alias("__skba"),
        F.sum("__tv").alias("__stv"),
        F.count("*").alias("n_buckets_obs"),
    ).crossJoin(F.broadcast(tot))
    p0 = F.lit(1.0) / (F.col("n_a") + v)
    q0 = F.lit(1.0) / (F.col("n_b") + v)
    miss = (v - F.col("n_buckets_obs")).cast("long")
    return agg.select(
        F.col("n_a").cast("long").alias("n_toks_a"),
        F.col("n_b").cast("long").alias("n_toks_b"),
        F.col("n_buckets_obs").cast("long").alias("n_buckets_obs"),
        (F.col("__skab") + miss * F.round(p0 * F.log(p0 / q0) * 1e9).cast("long"))
        .alias("kl_ab_nano"),
        (F.col("__skba") + miss * F.round(q0 * F.log(q0 / p0) * 1e9).cast("long"))
        .alias("kl_ba_nano"),
        (F.col("__stv") + miss * F.round(F.abs(p0 - q0) * 0.5 * 1e9).cast("long"))
        .alias("tv_nano"),
    )


def class_top_terms(
    df: DataFrame,
    class_col: str = "source",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Class-based TF-IDF (c-TF-IDF, the BERTopic cluster/slice-labeling
    primitive, Grootendorst 2022): treat each class (source, cluster,
    language bucket, ...) as ONE concatenated pseudo-document and score
    each term by  ctf(t,c) · ln(1 + A / f(t))  — ctf = term count in
    the class, f(t) = corpus-wide term count, A = average tokens per
    class — keeping the top-k most DISTINCTIVE terms per class.
    Per-doc TF-IDF (tfidf_top_terms) says what distinguishes a
    document; this says what distinguishes a slice — the corpus
    exploration/labeling step after clustering or source ingest.

    Plan: one tokenize+explode and ONE shuffle (to (class, term)
    counts). f(t) rides a term-keyed window over that same table (the
    single-pass trick proven on tfidf_top_terms — the vocabulary never
    drives a second corpus shuffle); A is a broadcast 1-row aggregate
    over the counts table; top-k per class is a ranking window the
    optimizer pre-prunes map-side (WindowGroupLimit), classes × k rows
    out. ln() is IEEE-identical across engines (tfidf precedent).

    Cache lifetime (r6 ADVICE): the (class, term) counts table stays
    `.persist()`-ed because BOTH the broadcast A aggregate and the
    lazily-returned scoring pass consume it — the CALLER owns the
    blocks and should `spark.catalog.clearCache()` (or rebuild the
    session) between unrelated long-lived-session calls; within one
    job the LRU evicts them after the consuming action."""
    terms = explode_fast(
        df, tokens(F.lower(F.col(text_col))), "term", keep=[class_col]
    )
    # persisted + eagerly materialized: BOTH the broadcast 1-row A
    # aggregate and the scoring pass consume this table; without the
    # persist each branch re-tokenizes the corpus (a second full scan)
    ctf = terms.groupBy(class_col, "term").agg(F.count("*").alias("ctf")).persist()
    ctf.count()
    totals = ctf.agg(
        (F.sum("ctf") / F.countDistinct(class_col)).alias("__avg_class_toks")
    )
    scored = (
        ctf.withColumn("__ft", F.sum("ctf").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(totals))
        .select(
            class_col,
            "term",
            F.round(
                F.col("ctf")
                * F.log(F.lit(1.0) + F.col("__avg_class_toks") / F.col("__ft")),
                6,
            ).alias("ctfidf"),
        )
    )
    w = Window.partitionBy(class_col).orderBy(F.col("ctfidf").desc(), "term")
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .select(
            class_col, "term", "ctfidf", F.col("__rk").cast("long").alias("rank")
        )
    )


# --------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, Table A1)
# --------------------------------------------------------------------------

# The stop-word rule's fixed set, verbatim from the paper: a document
# must contain at least two of these to pass.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021, §A1.1) as
    pure Column expressions — the standard pre-training heuristic
    filter, one scan, ZERO shuffles:

    - word count in [min_words, max_words];
    - mean word length in [3, 10];
    - symbol-to-word ratio ('#' and '...') ≤ 0.1;
    - ≥ 80% of words contain an alphabetic character;
    - ≤ 90% of lines start with a bullet, ≤ 30% end with an ellipsis
      (computed on '\\n' splits; single-line docs trivially pass,
      which matches the paper's intent for unwrapped text);
    - at least 2 distinct words from the fixed 8-word stop set.

    Every threshold is evaluated in SCALED-INTEGER form (e.g. mean word
    length in [3,10] ⇔ 3·n_words ≤ word_chars ≤ 10·n_words), so no
    float division or rounding exists anywhere — flags are bit-identical
    across engines and partition layouts by construction. Counts are
    emitted alongside the flags so downstream triage can re-band without
    re-scanning."""
    c = F.col(text_col)
    raw_toks = tokens(c)
    lo_toks = F.array_distinct(tokens(F.lower(c)))
    n_words = F.size(raw_toks).cast("long")
    word_chars = F.length(F.regexp_replace(F.trim(c), r"\s+", "")).cast("long")
    n_alpha = F.size(F.filter(raw_toks, lambda t: t.rlike("[a-zA-Z]"))).cast("long")
    n_hash = (F.length(c) - F.length(F.expr(f"replace({text_col}, '#', '')"))).cast(
        "long"
    )
    n_ellipsis = (
        (F.length(c) - F.length(F.expr(f"replace({text_col}, '...', '')"))) / 3
    ).cast("long")
    n_symbols = n_hash + n_ellipsis
    lines = F.split(c, "\n")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("-")
            | F.ltrim(l).startswith("*")
            | F.ltrim(l).startswith("•"),
        )
    ).cast("long")
    n_ellipsis_end = F.size(
        F.filter(lines, lambda l: F.rtrim(l).endswith("..."))
    ).cast("long")
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(lo_toks, stop_arr)).cast("long")

    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_mean_len = (3 * n_words <= word_chars) & (word_chars <= 10 * n_words)
    ok_symbols = 10 * n_symbols <= n_words
    ok_alpha = 5 * n_alpha >= 4 * n_words
    ok_bullets = 10 * n_bullet <= 9 * n_lines
    ok_ellipsis = 10 * n_ellipsis_end <= 3 * n_lines
    ok_stop = n_stop >= 2
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        word_chars.alias("word_chars"),
        n_alpha.alias("n_alpha_words"),
        n_symbols.alias("n_symbols"),
        n_stop.alias("n_stop_hits"),
        ok_words.alias("ok_words"),
        ok_mean_len.alias("ok_mean_len"),
        ok_symbols.alias("ok_symbols"),
        ok_alpha.alias("ok_alpha"),
        ok_bullets.alias("ok_bullets"),
        ok_ellipsis.alias("ok_ellipsis"),
        ok_stop.alias("ok_stop"),
        (
            ok_words
            & ok_mean_len
            & ok_symbols
            & ok_alpha
            & ok_bullets
            & ok_ellipsis
            & ok_stop
        ).alias("passes"),
    )


# --------------------------------------------------------------------------
# Deterministic corpus shuffle + token-budget sampling
# --------------------------------------------------------------------------


def shuffle_order(
    df: DataFrame, id_col: str = "doc_id", seed: str = "shuffle-v1"
) -> DataFrame:
    """Deterministic global training order: every row gets a dense
    0-based `shuffle_pos` equal to its rank under md5(seed:id) — a
    reproducible pseudo-random permutation of the corpus that any
    engine, run, or partition layout derives identically (the data-
    ordering reproducibility requirement for training runs; change
    `seed` to re-shuffle between epochs without materializing anything
    random).

    SCALE: rank assignment is the two-phase matrixify pattern
    (sort.zip_with_index): range-partition sort on the hash key, per-
    partition counts, driver prefix-sum, offset add — never a single-
    partition row_number window over the corpus."""
    from parkour_spark.operators.sort import zip_with_index

    key = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    keyed = df.select(F.col(id_col), key.alias("__k"))
    return zip_with_index(
        keyed, "shuffle_pos", order=[F.col("__k"), F.col(id_col)]
    ).select(id_col, F.col("shuffle_pos").cast("long").alias("shuffle_pos"))


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "budget-v1",
) -> DataFrame:
    """Per-group token-budget subsampling: within each group, take the
    maximal PREFIX of the deterministic md5(seed:id) order whose
    cumulative whitespace-token count stays ≤ budget_tokens — "give me
    N tokens per source", the mixture-construction primitive, with a
    layout-independent and re-runnable doc selection (same seed → same
    docs; no RNG state anywhere).

    Returns the kept rows with their `cum_tokens` running total.
    SCALE: token counts are scan-side Column folds; the single shuffle
    is the group-keyed window (one pass; groups are sources — few and
    fat, so skew lives INSIDE a group's sort, which range-partitioning
    handles). Prefix-truncation semantics are intentional: a greedy
    skip-over-big-docs variant is order-dependent state and buys
    little at corpus scale."""
    key = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    w = (
        Window.partitionBy(group_col)
        .orderBy("__k", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = df.select(
        F.col(group_col),
        F.col(id_col),
        key.alias("__k"),
        token_count(F.col(text_col)).cast("long").alias("__toks"),
    ).withColumn("cum_tokens", F.sum("__toks").over(w).cast("long"))
    return scored.where(F.col("cum_tokens") <= budget_tokens).select(
        group_col, id_col, F.col("__toks").alias("n_tokens"), "cum_tokens"
    )


def top_percent_by(
    df: DataFrame,
    group_col: str,
    order_col: str,
    id_col: str,
    p_num: int,
    p_den: int,
    descending: bool = True,
) -> DataFrame:
    """Keep the top ceil(p·n) rows of each group under the total order
    (order_col desc|asc, id_col asc), with p the RATIONAL p_num/p_den —
    the CCNet-style per-bucket adaptive filter ("keep the best 20% of
    every source/domain by quality score"), the relative counterpart to
    quota_cap's absolute N. A rational threshold means both engines
    agree on every ceil boundary: row kept ⟺ rk·p_den ≤ n·p_num +
    p_den − 1 — pure integer arithmetic, no float percentile anywhere.

    Returns the kept rows plus their per-group rank `rk` and group size
    `n` (so the selection is auditable without a second pass).

    SCALE: one hash shuffle on group_col; rank and group count share
    the same window partitioning (one Exchange, plan-asserted in
    tests). Same skew posture as quota_cap: a monster domain's sort is
    AQE-split, and everything past rank ceil(p·n) dies in the window
    stage."""
    ordc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = Window.partitionBy(group_col).orderBy(ordc, F.col(id_col).asc())
    wn = Window.partitionBy(group_col)
    return (
        df.withColumn("rk", F.row_number().over(w).cast("long"))
        .withColumn("n", F.count("*").over(wn).cast("long"))
        .where(F.col("rk") * p_den <= F.col("n") * p_num + (p_den - 1))
    )


def source_overlap(
    docs: DataFrame,
    k: int = 5,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_groups_per_gram: int | None = None,
) -> DataFrame:
    """Pairwise cross-group contamination matrix: for every unordered
    group pair (a < b), the number of distinct k-token shingles (md5-
    hashed to 32-bit ids) present in BOTH groups, plus each side's
    distinct-shingle total — the "which sources share boilerplate /
    leaked content" diagnostic behind mixture design and dedup
    triage. Jaccard is a division away (shared / (n_a + n_b − shared));
    the output stays all-integer so it is engine-exact.

    Hash collisions (32-bit id space) are deterministic and identical
    in any engine computing the same md5 prefix, so results are exact
    replays even where collisions occur.

    SCALE: the corpus collapses scan-side to DISTINCT (group, gram_id)
    — bounded by groups × distinct-shingles, with the text itself never
    shuffling — then ONE more gram-keyed aggregate collects each gram's
    source set (≤ groups elements) and the unordered pairs explode
    scan-side from that array: two gram-family exchanges total, no
    self-join (a prior self-join formulation paid four — distinct, df
    count, semi-join, pair join — and was the heaviest soak entry at
    48.6s; this shape re-measures at a fraction of that). For
    web-domain-sized group sets, `max_groups_per_gram` is the df-cap
    analog: grams shared by more groups than the cap (universal
    boilerplate — exactly the grams that say nothing about PAIRWISE
    contamination) are dropped, which here is a post-aggregate size
    filter that also bounds the per-gram pair fanout at cap²."""
    from parkour_spark.operators.sort import widen_scan

    # stage the token array in its OWN projection (shingles_of consumes
    # it from inside transform lambdas — inlined it re-evaluates per
    # shingle, the O(len²) cliff its docstring documents); widen small
    # single-file inputs before the heavy scan-side compute
    base = widen_scan(
        docs.select(F.col(group_col).alias("g"), F.col(text_col))
    )
    toked = base.select(
        "g", tokens(F.lower(F.trim(F.col(text_col)))).alias("__t")
    )
    staged = toked.select(
        "g", F.array_distinct(shingles_of(F.col("__t"), k)).alias("__sh")
    )
    grams = (
        explode_fast(staged, "__sh", "__s", keep=["g"])
        .select(
            "g",
            F.conv(F.substring(F.md5("__s"), 1, 8), 16, 10)
            .cast("long")
            .alias("gram"),
        )
        .distinct()
    )
    sets = grams.groupBy("gram").agg(
        F.array_sort(F.collect_set("g")).alias("__gs")
    )
    if max_groups_per_gram is not None:
        sets = sets.where(F.size("__gs") <= max_groups_per_gram)
    totals = (
        sets.select(F.explode("__gs").alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("n_grams"))
    )
    combos = F.expr(
        "flatten(transform(__gs, (a, i) -> "
        "transform(slice(__gs, i + 2, size(__gs)), "
        "b -> struct(a AS src_a, b AS src_b))))"
    )
    pairs = (
        sets.select(F.explode(combos).alias("__p"))
        .select(F.col("__p.src_a"), F.col("__p.src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("shared"))
    )
    return (
        pairs.join(
            F.broadcast(totals.withColumnRenamed("g", "src_a")), "src_a"
        )
        .withColumnRenamed("n_grams", "n_a")
        .join(F.broadcast(totals.withColumnRenamed("g", "src_b")), "src_b")
        .withColumnRenamed("n_grams", "n_b")
        .select("src_a", "src_b", "shared", "n_a", "n_b")
    )


def interleave_by_group(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "interleave-v1",
) -> DataFrame:
    """Mixture-balanced deterministic training order: round-robin
    interleave across groups — position i of EVERY group orders before
    position i+1 of any group, so no source clumps anywhere in the
    epoch (the failure mode of a plain global shuffle on a corpus where
    one source dominates a hash range). Within a group the order is
    md5(seed:id) — reshuffle an epoch by changing the seed.

    Returns the rows plus (pos_in_group, group_rank, order_key) where
    order_key = pos_in_group · n_groups + group_rank — injective and
    round-robin-total-ordered BY ARITHMETIC, not by a global sort:
    after groups exhaust, their slots are simply holes in the key
    space (consumers sort by order_key; a dense rank would buy nothing
    but a corpus-wide exchange).

    SCALE: ONE group-keyed window (the in-group position); group count
    and group ranks come from a groups-sized aggregate that broadcasts.
    No global sort, no single-partition window — the two-phase dense
    alternative (shuffle_order) exists when a dense 0..n−1 rank is the
    contract."""
    key = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy("__k", id_col)
    groups = (
        df.select(F.col(group_col).alias("__g"))
        .distinct()
        .select(
            "__g",
            (F.row_number().over(Window.orderBy("__g")) - 1)
            .cast("long")
            .alias("group_rank"),
        )
    )
    n_groups = groups.agg(F.count("*").alias("__ng"))
    staged = df.withColumn("__k", key).withColumn(
        "pos_in_group", (F.row_number().over(w) - 1).cast("long")
    )
    return (
        staged.join(
            F.broadcast(groups), staged[group_col] == groups["__g"]
        )
        .drop("__g", "__k")
        .crossJoin(F.broadcast(n_groups))
        .withColumn(
            "order_key",
            (F.col("pos_in_group") * F.col("__ng") + F.col("group_rank"))
            .cast("long"),
        )
        .drop("__ng")
    )


def water_filling_allocation(
    counts: DataFrame,
    budget_tokens: int | None = None,
    budget_num: int | None = None,
    budget_den: int | None = None,
    group_col: str = "source",
    n_col: str = "n_tokens",
) -> DataFrame:
    """Water-filling budget allocation — the mixture-design primitive
    behind "cap over-represented sources": find the maximal uniform
    level τ with Σ min(n_i, τ) ≤ budget and allocate min(n_i, τ)
    tokens to each group. Small groups keep everything; big groups are
    capped at the common water line, which is exactly the allocation
    that maximizes the minimum share.

    `counts` is the per-group token-count table (one row per group).
    The budget is either absolute (`budget_tokens`) or the RATIONAL
    fraction budget_num/budget_den of the total (integer arithmetic —
    both engines agree on every boundary).

    Exactness: with groups sorted (n asc, group asc), feasibility of
    level n_k (cost p_{k−1} + (S−k+1)·n_k ≤ B) is monotone in k, so
    k* = count of feasible rows; τ = (B − p_{k*}) div (S − k*) — all
    integer; τ ∈ [n_{k*}, n_{k*+1}) by construction. B ≥ Σn degrades
    to full allocation. Up to S − k* budget tokens stay unassigned
    (floor division) — intentional; distributing a sub-S remainder
    buys nothing at corpus scale.

    SCALE: every window and aggregate here runs over the GROUPS table
    (sources/domains — small by construction; produce it with one
    corpus partial-agg scan). The one ordered window is over that
    table, never the corpus."""
    if budget_tokens is None and (budget_num is None or budget_den is None):
        raise ValueError("pass budget_tokens or budget_num/budget_den")
    w = Window.orderBy(F.col("__n").asc(), F.col(group_col).asc())
    wp = w.rowsBetween(Window.unboundedPreceding, 0)
    tot = counts.agg(
        F.count("*").cast("long").alias("__s"),
        F.sum(n_col).cast("long").alias("__total"),
        F.max(n_col).cast("long").alias("__nmax"),
    )
    if budget_tokens is not None:
        tot = tot.withColumn("__b", F.lit(int(budget_tokens)).cast("long"))
    else:
        tot = tot.withColumn(
            "__b", F.expr(f"(__total * {budget_num}) div {budget_den}")
        )
    ranked = (
        counts.select(F.col(group_col), F.col(n_col).cast("long").alias("__n"))
        .withColumn("__r", F.row_number().over(w).cast("long"))
        .withColumn("__p", F.sum("__n").over(wp).cast("long"))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "__ok",
            (
                (F.col("__p") - F.col("__n"))
                + (F.col("__s") - F.col("__r") + 1) * F.col("__n")
                <= F.col("__b")
            ).cast("int"),
        )
    )
    kagg = ranked.agg(
        F.sum("__ok").cast("long").alias("__k"),
        F.coalesce(
            F.max(F.when(F.col("__ok") == 1, F.col("__p"))), F.lit(0)
        )
        .cast("long")
        .alias("__pk"),
    )
    level = (
        kagg.crossJoin(F.broadcast(tot))
        .select(
            F.when(F.col("__k") >= F.col("__s"), F.col("__nmax"))
            .otherwise(
                F.expr("(__b - __pk) div (__s - __k)")
            )
            .cast("long")
            .alias("__tau")
        )
    )
    return (
        counts.select(F.col(group_col), F.col(n_col).cast("long").alias(n_col))
        .crossJoin(F.broadcast(level))
        .select(
            group_col,
            n_col,
            F.least(F.col(n_col), F.col("__tau")).cast("long").alias("allocated"),
        )
    )


def negative_sampling_weights(
    docs: DataFrame,
    text_col: str = "text",
    alpha_num: int = 3,
    alpha_den: int = 4,
    top_n: int | None = None,
) -> DataFrame:
    """Per-term negative-sampling weights for embedding training — the
    word2vec unigram^α table (Mikolov et al. 2013; α = 3/4 flattens
    the Zipf head so frequent terms stop dominating the negatives):

        weight_micro = floor(10⁶ · (cnt/max_cnt)^(α))

    MAX-normalized, not sum-normalized — `source_mixture_weights`'
    discipline: Σ pow(·) over the vocabulary is a float sum whose
    addition order is engine-dependent; the max of integer counts is
    not, so the table is reproducible bit-for-bit. A sampler consumes
    the weights relatively (alias table / prefix-sum built once,
    driver- or partition-side), so the normalizer's identity is
    irrelevant.

    Returns (term, cnt, weight_micro). `top_n` optionally keeps the
    heaviest terms via orderBy+limit (TakeOrderedAndProject — the
    vocab_head_coverage discipline, never a full-vocabulary rank).

    SCALE: one tokenize+explode pass, one vocabulary-sized partial-agg
    shuffle; the max is a broadcast 1-row aggregate over the count
    table. pow on the dyadic ratio is IEEE-identical across engines
    (the mixture-weights precedent)."""
    terms = explode_fast(docs, tokens(F.lower(F.col(text_col))), "term")
    vocab = terms.groupBy("term").agg(F.count("*").alias("cnt"))
    mx = vocab.agg(F.max("cnt").alias("__mx"))
    if top_n is not None:
        vocab = vocab.orderBy(F.col("cnt").desc(), F.col("term")).limit(top_n)
    w = F.floor(
        F.lit(1e6)
        * F.pow(
            F.col("cnt").cast("double") / F.col("__mx"),
            F.lit(alpha_num / alpha_den),
        )
    ).cast("long")
    return (
        vocab.crossJoin(F.broadcast(mx))
        .select("term", "cnt", w.alias("weight_micro"))
    )


def zipf_slope(
    docs: DataFrame, top_n: int = 100, text_col: str = "text"
) -> DataFrame:
    """Zipf-law fit over the vocabulary head: least-squares slope of
    ln(freq) against ln(rank) for the top-`top_n` terms — the one-row
    corpus-health number behind "is this corpus natural text?"
    (natural language sits near slope −1; templated/boilerplate
    corpora flatten, deduplicated-to-death corpora steepen). Returns
    (n_terms, sx, sy, sxx, sxy, slope_micro, intercept_micro):
    x = round(10⁶·ln rank), y = round(10⁶·ln cnt) — integer micro-log
    per TERM before any sum, so the five moments are exact int64 and
    the closed-form solve

        slope     = (n·Sxy − Sx·Sy) / (n·Sxx − Sx²)
        intercept = (Sy·Sxx − Sx·Sxy) / (n·Sxx − Sx²)

    is two double divisions over exact integers (intercept in micro
    ln-units). Ties in cnt permute which tied term takes which rank,
    but tied terms share y, so the (x, y) multiset — and the fit — is
    permutation-invariant.

    SCALE: rides `vocab_head_coverage` — one tokenize pass, one
    vocabulary-sized partial agg, TakeOrdered head; the regression
    runs on `top_n` rows."""
    head = vocab_head_coverage(docs, top_n, text_col)
    pts = head.select(
        F.round(F.log(F.col("rank").cast("double")) * 1e6)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("cnt").cast("double")) * 1e6)
        .cast("long")
        .alias("y"),
    )
    m = pts.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    # combinations in DOUBLE: Sy·Sxx-scale products overflow int64 (and
    # DuckDB would promote to HUGEINT — the asymmetric-dtype trap)
    det = (
        F.col("n_terms").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    )
    slope = (
        F.col("n_terms").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy")
    ) / F.nullif(det, F.lit(0.0))
    intercept = (
        F.col("sy").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sxy")
    ) / F.nullif(det, F.lit(0.0))
    return m.select(
        "n_terms",
        "sx",
        "sy",
        "sxx",
        "sxy",
        F.round(slope * 1e6).cast("long").alias("slope_micro"),
        F.round(intercept).cast("long").alias("intercept_micro"),
    )


def llr_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 20,
) -> DataFrame:
    """Dunning log-likelihood-ratio (G²) bigram collocations — the
    significance-tested complement to PMI (Dunning 1993): PMI ranks by
    association STRENGTH and overrates rare pairs; G² weighs the
    association by the evidence, so "of the" and genuinely-glued rare
    terms rank where a corpus linguist expects. Per adjacent bigram
    (w1, w2) with the 2×2 contingency over the bigram table

        k11 = c(w1,w2)      k12 = R1 − k11
        k21 = C1 − k11      k22 = N − R1 − C1 + k11

    (R1 = Σ_w c(w1,w), C1 = Σ_w c(w,w2), N = total bigrams):

        G² = 2 Σ_cells k·ln(k·N / (rowtot·coltot)),  0·ln(...) ≡ 0

    Each cell term is rounded to integer micro-units BEFORE the
    4-term sum (order-independent, engine-exact); ranking is by the
    integer llr_micro with a (w1, w2) tie-break — a total order, so
    top_n is deterministic. Returns (w1, w2, c12, llr_micro, llr).

    SCALE: one tokenize-explode scan to the bigram cell table
    (vocabulary²-bounded, corpus-independent after the partial agg);
    margins are two aggregates over the CELL table (broadcast back);
    the head is orderBy().limit() — TakeOrdered per-partition heaps,
    no global sort, no window."""
    toked = docs.select(tokens(F.lower(F.col(text_col))).alias("t"))
    big = explode_fast(toked, bigrams(F.col("t")), "p").select(
        "p.w1", "p.w2"
    )
    cells = big.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c12")
    )
    r = cells.groupBy(F.col("w1").alias("__rw")).agg(
        F.sum("c12").cast("long").alias("__r1")
    )
    c = cells.groupBy(F.col("w2").alias("__cw")).agg(
        F.sum("c12").cast("long").alias("__c1")
    )
    n = cells.agg(F.sum("c12").cast("long").alias("__n"))
    scored = (
        cells.where(F.col("c12") >= min_count)
        .join(F.broadcast(r), F.col("w1") == F.col("__rw"))
        .join(F.broadcast(c), F.col("w2") == F.col("__cw"))
        .crossJoin(F.broadcast(n))
    )

    def term(k, row_tot, col_tot):
        return F.when(
            k > 0,
            F.round(
                F.lit(2.0)
                * k
                * F.log(
                    (k.cast("double") * F.col("__n"))
                    / (row_tot.cast("double") * col_tot)
                )
                * 1e6
            ).cast("long"),
        ).otherwise(F.lit(0))

    k11 = F.col("c12")
    k12 = F.col("__r1") - k11
    k21 = F.col("__c1") - k11
    k22 = F.col("__n") - F.col("__r1") - F.col("__c1") + k11
    r2 = F.col("__n") - F.col("__r1")
    c2 = F.col("__n") - F.col("__c1")
    llr_micro = (
        term(k11, F.col("__r1"), F.col("__c1"))
        + term(k12, F.col("__r1"), c2)
        + term(k21, r2, F.col("__c1"))
        + term(k22, r2, c2)
    ).cast("long")
    return (
        scored.select(
            "w1",
            "w2",
            "c12",
            llr_micro.alias("llr_micro"),
            F.round(llr_micro / 1e6, 6).alias("llr"),
        )
        .orderBy(F.col("llr_micro").desc(), "w1", "w2")
        .limit(top_n)
    )


def corpus_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = "source",
) -> DataFrame:
    """Content-level diff between two corpus versions — the
    data-versioning primitive behind "what did this pipeline change
    ACTUALLY do": per group (optional), counts of docs added, removed,
    changed (same id, different content hash), and unchanged. A
    mixture shift, an over-aggressive filter, or an id collision shows
    up here as a diff table, not a downstream eval mystery.

    Returns (group, status, n_docs) — status ∈
    {added, removed, changed, unchanged}; `group_col=None` emits one
    'all' group. Group values come from whichever side has the row
    (new wins for changed rows — the diff describes the NEW corpus).

    SCALE: both sides reduce to (id, md5(text), group) PROJECTIONS
    scan-side — corpus text is hashed in place and never shuffles;
    ONE full-outer join keyed on id; one partial-agg count. Ids must
    be unique per side (the standard corpus contract)."""
    def fp(df):
        cols = [
            F.col(id_col).alias("__id"),
            F.md5(F.col(text_col)).alias("__fp"),
        ]
        if group_col is not None:
            cols.append(F.col(group_col).alias("__g"))
        else:
            cols.append(F.lit("all").alias("__g"))
        return df.select(*cols)

    o = fp(old_df)
    n = fp(new_df)
    j = o.withColumnsRenamed(
        {"__fp": "__ofp", "__g": "__og"}
    ).join(
        n.withColumnsRenamed({"__fp": "__nfp", "__g": "__ng"}),
        "__id",
        "full_outer",
    )
    status = (
        F.when(F.col("__ofp").isNull(), F.lit("added"))
        .when(F.col("__nfp").isNull(), F.lit("removed"))
        .when(F.col("__ofp") == F.col("__nfp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(
            F.coalesce("__ng", "__og").alias("group"),
            status.alias("status"),
        )
        .groupBy("group", "status")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
