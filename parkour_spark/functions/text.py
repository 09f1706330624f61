"""Text-analysis functions: tokenize, language-ID, quality, fingerprints.

Beyond-reference surface (SURVEY §7.6): the reference's map tasks call
arbitrary JVM string functions (e.g. the word-count tokenizer,
examples/parkour/example/word_count.clj:9-13); this module provides the
training-data-pipeline equivalents as *pure Column expressions* — JVM-side,
whole-stage-codegen'd, no Python in the hot path.

Cross-engine determinism: fingerprints use md5 (identical in Spark and
DuckDB) so every operator here is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# A small English stopword list for the language-ID heuristic. Fixed and
# ordered so Spark and the SQL oracle agree exactly.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "for", "on", "with", "as", "at", "by", "it", "be", "this",
)

WHITESPACE = r"\s+"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (the canonical reference map op),
    empty-token-free."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), WHITESPACE), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def char_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.length(c)


def avg_token_len(text: Column | str) -> Column:
    """Mean token length — a standard quality signal. NULL on tokenless
    text (ANSI division would otherwise fail the whole task on one
    empty doc; NULL matches SQL-engine x/0 semantics, and every
    downstream band/threshold check routes NULL to its else-branch)."""
    t = tokens(text)
    s = F.aggregate(t, F.lit(0).cast("double"), lambda acc, x: acc + F.length(x))
    return F.when(F.size(t) > 0, s / F.size(t))


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens in the fixed English stopword list. NULL on
    tokenless text (see avg_token_len)."""
    t = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    n_stop = F.size(F.filter(t, lambda x: x.isin(*EN_STOPWORDS)))
    return F.when(F.size(t) > 0, n_stop.cast("double") / F.size(t))


def langid_en(text: Column | str, threshold: float = 0.05) -> Column:
    """Heuristic language ID: stopword-ratio >= threshold → 'en' else
    'unk'. (Real n-gram models plug in the same Column slot.)"""
    return F.when(stopword_ratio(text) >= threshold, F.lit("en")).otherwise(F.lit("unk"))


def quality_score(text: Column | str) -> Column:
    """Composite quality score in [0,1]:
    0.4 * bounded-length + 0.3 * stopword presence + 0.3 * mean-token-len
    band.

    Computed in integer BASIS POINTS (len: ≤4000, stopwords: ≤3000,
    token-length band: 0/3000) with a floor on the single fractional
    term, then one division by 10000 — and deliberately NO final
    round(): a rounded double is only reproducible across engines until
    some row lands on a representation-dependent tie (round(x,4)
    half-up on the exact decimal expansion vs multiply-round-divide
    disagreed at 1 ulp on 1 doc in 5000 at sf0.1). Integer arithmetic +
    identical-order float ops are bit-identical everywhere."""
    return quality_bp(text) / F.lit(10000.0)


def quality_bp(text: Column | str) -> Column:
    """quality_score's integer BASIS-POINT numerator (0..10000), exposed
    for consumers that need an exactly-discrete score — e.g. the
    rank-sum AUC, whose distinct-score table stays bounded because this
    is an integer."""
    c = F.col(text) if isinstance(text, str) else text
    t = tokens(F.lower(c))
    n_tok = F.size(t)
    n_stop = F.size(F.filter(t, lambda x: x.isin(*EN_STOPWORDS)))
    len_bp = F.least(F.length(c) * 8, F.lit(4000))
    stop_bp = F.when(
        n_tok > 0,
        F.floor(F.lit(3000.0) * F.least(n_stop * 10, n_tok) / n_tok),
    ).otherwise(F.lit(0))
    atl = avg_token_len(c)
    atl_bp = F.when((atl >= 3.0) & (atl <= 10.0), F.lit(3000)).otherwise(F.lit(0))
    return (len_bp + stop_bp + atl_bp).cast("long")


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    md5 is bit-identical across Spark and DuckDB → oracle-checkable; at
    scale it's a JVM-native codegen'd expression."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), WHITESPACE, " "))


# GPT-2-style pre-tokenizer shape, restricted to constructs RE2 and Java
# regex share (no lookahead): a leading optional space glued to a letter
# run, digit run, or punctuation run. ASCII classes so both engines
# agree on every byte.
BPE_SPLIT_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"

# Frequent English character trigrams — the classic n-gram language-ID
# profile, small enough to inline in a regex alternation.
EN_TRIGRAMS = ("the", "and", "ing", "ion", "ent", "her", "for", "tha", "hat", "ere")


def subword_count(text: Column | str) -> Column:
    """BPE-ish token count: number of pre-tokenizer matches (letter runs,
    digit runs, punctuation runs, each with optional leading space) — the
    standard proxy for LLM token budgeting, JVM-side regexp_count."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_SPLIT_RE))


def langid_ngram(text: Column | str, per_chars: float = 20.0, min_hits: float = 1.0) -> Column:
    """Character-n-gram language ID: density of frequent English trigrams
    per `per_chars` characters; 'en' when density ≥ min_hits. A real
    multi-language model swaps in per-language trigram profiles scored
    the same way (argmax over densities)."""
    c = F.col(text) if isinstance(text, str) else text
    hits = F.regexp_count(F.lower(c), F.lit("(" + "|".join(EN_TRIGRAMS) + ")"))
    density = hits * per_chars / F.greatest(F.length(c), F.lit(1))
    return F.when(density >= min_hits, F.lit("en")).otherwise(F.lit("unk"))


def normalize_text(text: Column | str) -> Column:
    """Whitespace-normalized lowercase text — the canonical form for
    fingerprinting. Materialize this as its own column BEFORE feeding it
    to a per-character lambda: an expression referenced inside a
    higher-order-function lambda is re-evaluated per array element, so an
    inlined regexp_replace turns O(len) work into O(len²)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(F.trim(c)), WHITESPACE, " ")


def _winnow_row(g, w: int, positions: bool):
    """Per-row winnow core over one int64 gram-hash numpy array: per
    window of w grams the min value and the 1-based offset of its FIRST
    occurrence (np.argmin == array_position-of-first-min), consecutive-
    deduped by position (selected positions are non-decreasing — a
    smaller-or-equal value earlier in window j+1 would already have
    been selected in window j — so this equals array_distinct's
    first-occurrence order); the value-only variant restores
    first-occurrence VALUE order via the return_index sort. Returns
    (fps, poss) int64 arrays."""
    import numpy as np

    n = len(g)
    if n <= w:
        fps = g.min(keepdims=True)
        poss = np.asarray([g.argmin() + 1], dtype=np.int64)
    else:
        sw = np.lib.stride_tricks.sliding_window_view(g, w)
        mins = sw.min(axis=1)
        pos = np.arange(len(mins), dtype=np.int64) + sw.argmin(axis=1) + 1
        keep = np.empty(len(pos), dtype=bool)
        keep[0] = True
        keep[1:] = pos[1:] != pos[:-1]
        fps, poss = mins[keep], pos[keep]
    if not positions:
        _, first = np.unique(fps, return_index=True)
        fps = fps[np.sort(first)]
        poss = fps  # unused
    return fps, poss


def _winnow_assemble(ids, per_fp, per_pos, per_null, offsets, positions,
                     id_col, out):
    """One output RecordBatch (id, list of fps or fp/pos structs) from
    per-row winnow results; per_null marks null-valued elements."""
    import numpy as np
    import pyarrow as pa

    flat_fp = (
        np.concatenate(per_fp) if per_fp else np.empty(0, dtype=np.int64)
    )
    nulls = (
        np.concatenate(per_null) if per_null else np.empty(0, dtype=bool)
    )
    nmask = nulls if nulls.any() else None
    if positions:
        flat_pos = (
            np.concatenate(per_pos)
            if per_pos
            else np.empty(0, dtype=np.int64)
        )
        values = pa.StructArray.from_arrays(
            [
                pa.array(flat_fp, pa.int64(), mask=nmask),
                pa.array(flat_pos, pa.int64(), mask=nmask),
            ],
            ["fp", "pos"],
        )
    else:
        values = pa.array(flat_fp, pa.int64(), mask=nmask)
    lst = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values)
    return pa.RecordBatch.from_arrays([ids, lst], [id_col, out])


def winnow_text_arrow(df, id_col: str, norm_col: str, k: int = 8,
                      w: int = 8, out: str = "__fpp",
                      positions: bool = True):
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken) of the
    NORMALIZED text column (see normalize_text): 32-bit md5 hashes of
    character k-grams, then per window of w grams the minimum — two
    docs sharing any substring ≥ k+w-1 chars share a fingerprint, so
    overlap detection is an equi-join on the exploded (doc, fp) table,
    never a pairwise scan. `positions=True` yields distinct
    struct<fp,pos> (pos = 1-based char offset of the selected k-gram;
    ties in a window resolve to the FIRST minimum, DuckDB
    list_position semantics), which upgrades overlap COUNTING
    (dedup.winnow_overlap_pairs) to SPAN detection
    (dedup.substring_overlap_spans); `positions=False` yields the
    distinct fp values in first-occurrence order.

    ONE mapInArrow pass (guide §4.2, and §2.3 "project before the
    exchange" applied to the Python boundary): the text crosses once
    and only the selected fingerprints come back. As Column
    higher-order functions the window minima re-slice and re-scan each
    window several times (~22 task-CPU-s at sf0.1); a staged k-gram
    array would ship 8 bytes per character each way.

    Result-identical to the Column expressions
    `kgram_hashes(nt, k)` → `winnow_select[_pos](grams, w)` kept in
    tests/column_reference.py (pinned in tests/test_r13_opt.py and
    tests/test_r12_opt.py):
    - gram i (1-based) = conv(substr(md5(substr(nt, i, k)), 1, 8), 16,
      10)::long == int of the first 4 md5 bytes, big-endian, of the
      UTF-8 encoding of the k-CHARACTER slice. Python str slicing is
      codepoint-based exactly like Spark's substring, and
      .encode('utf-8') yields the same bytes Spark's md5(string)
      digests; ASCII rows (len(utf8) == len(str)) slice the encoded
      bytes directly — same bytes, one encode.
    - n_grams = greatest(length(nt) - (k-1), 1): short rows produce ONE
      gram over the truncated slice (Python slicing truncates the same
      way); empty strings hash md5("") — a real value, never null.
    - NULL text yields a single null-valued element
      ([{fp:null,pos:null}] / [null]), as the expressions do: one null
      gram, one window, a null minimum."""
    id_type = df.schema[id_col].dataType.simpleString()
    if positions:
        schema = f"{id_col} {id_type}, {out} array<struct<fp: long, pos: long>>"
    else:
        schema = f"{id_col} {id_type}, {out} array<long>"
    sel = df.select(id_col, norm_col)

    def fn(it):
        from hashlib import md5

        import numpy as np

        for batch in it:
            ids = batch.column(0)
            texts = batch.column(1)
            per_fp, per_pos, per_null, offsets = [], [], [], [0]
            for row in texts:
                s = row.as_py()
                if s is None:
                    per_fp.append(np.zeros(1, dtype=np.int64))
                    per_pos.append(np.zeros(1, dtype=np.int64))
                    per_null.append(np.ones(1, dtype=bool))
                    offsets.append(offsets[-1] + 1)
                    continue
                n = len(s)
                m = n - (k - 1) if n >= k else 1
                enc = s.encode("utf-8")
                if len(enc) == n:  # ASCII: char slices == byte slices
                    digs = b"".join(
                        md5(enc[i:i + k]).digest()[:4] for i in range(m)
                    )
                else:
                    digs = b"".join(
                        md5(s[i:i + k].encode("utf-8")).digest()[:4]
                        for i in range(m)
                    )
                g = np.frombuffer(digs, dtype=">u4").astype(np.int64)
                fps, poss = _winnow_row(g, w, positions)
                per_fp.append(fps)
                per_pos.append(poss)
                per_null.append(np.zeros(len(fps), dtype=bool))
                offsets.append(offsets[-1] + len(fps))
            yield _winnow_assemble(
                ids, per_fp, per_pos, per_null, offsets, positions,
                id_col, out,
            )

    return sel.mapInArrow(fn, schema)


def bigrams(toks: Column) -> Column:
    """Adjacent token pairs as array<struct<w1,w2>> (for PMI
    collocations). Guarded for 0/1-token docs: Spark's
    `sequence(1, 0)` is the DESCENDING array [1, 0] (step defaults to
    -1 when start > stop), which would emit two spurious null-partnered
    pairs per short doc and inflate any bigram total — short docs map
    to the empty array instead, mirroring SQL `range()` semantics."""
    n = F.size(toks)
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx, lambda i: F.struct(toks[i - 1].alias("w1"), toks[i].alias("w2"))
    )


# ---------------------------------------------------------------------------
# Repetition profiling (Gopher-style quality filters)
# ---------------------------------------------------------------------------
# The Gopher/MassiveText filtering rules flag documents dominated by
# repetition (duplicate lines, repeated n-grams). The fractions below are
# computed in integer BASIS POINTS (floor), the same cross-engine-exact
# arithmetic as quality_score: integer token counts → one floor-divide,
# no float-tie class.
#
# All three take a MATERIALIZED token-array column (see normalize_text's
# warning): an expression referenced inside a higher-order-function
# lambda is re-evaluated per array element, so the caller must stage
# `tokens(text)` in its own projection first.


def distinct_token_ratio_bp(toks: Column) -> Column:
    """floor(10000 * distinct tokens / tokens); 10000 for empty docs.
    Low values = the doc keeps repeating the same vocabulary."""
    n = F.size(toks)
    return F.when(
        n > 0, F.floor(F.lit(10000) * F.size(F.array_distinct(toks)) / n)
    ).otherwise(F.lit(10000)).cast("long")


def max_token_run(toks: Column) -> Column:
    """Length of the longest run of identical consecutive tokens — a
    degenerate-generation / boilerplate signal. Single left fold over
    the token array (state: previous token, current run, best run);
    0 for empty docs."""
    acc0 = F.struct(
        F.lit(" ").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(toks, acc0, step, lambda acc: acc["best"])


def top_bigram_share_bp(toks: Column) -> Column:
    """floor(10000 * count(most frequent adjacent bigram) / n_bigrams);
    0 for docs with < 2 tokens. High values = one phrase dominates the
    document (the Gopher top-n-gram-fraction rule).

    Zero-shuffle formulation: the mode of the bigram multiset equals the
    longest run in the SORTED bigram array, so it is the `max_token_run`
    fold over array_sort(bigram strings) — pure scan-side Columns, while
    the SQL oracle states the same thing relationally (unnest → group →
    max)."""
    n = F.size(toks)
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    # separator " " cannot appear inside whitespace-split tokens, so
    # the joined string is a bijective bigram key
    bg = F.array_sort(
        F.transform(idx, lambda i: F.concat_ws(" ", toks[i - 1], toks[i]))
    )
    top = max_token_run(bg)
    return F.when(n >= 2, F.floor(F.lit(10000) * top / (n - 1))).otherwise(
        F.lit(0)
    ).cast("long")


def token_entropy_micronats(toks: Column) -> Column:
    """Shannon entropy of the document's token distribution in integer
    MICRO-NATS: H = Σ_t (c_t/n)·ln(n/c_t), every term rounded to an
    integer BEFORE the sum (order-independent, engine-exact — the
    bigram-LM micro-nat discipline). Low entropy flags degenerate /
    keyword-stuffed text whose repeat DISTRIBUTION matters, which
    distinct_token_ratio_bp (a pure count ratio) cannot see; high
    entropy with low quality_score flags gibberish.

    Zero-shuffle formulation: per-token counts are run lengths in the
    SORTED token array (the top_bigram_share_bp trick), so the whole
    statistic is one fold over a scan-side array — entropy is per-doc,
    and no (doc, token) shuffle exists at any corpus size. The SQL
    oracle states the same thing relationally (unnest → group → sum).
    0 for empty docs."""
    n = F.size(toks)

    def term(c: Column) -> Column:
        return F.round(
            F.lit(1_000_000.0) * c / n * F.log(n.cast("double") / c)
        ).cast("long")

    acc0 = F.struct(
        F.lit(" ").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("acc"),
    )

    def step(acc: Column, x: Column) -> Column:
        new_run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        flushed = F.when(
            (x != acc["prev"]) & (acc["run"] > 0), acc["acc"] + term(acc["run"])
        ).otherwise(acc["acc"])
        return F.struct(x.alias("prev"), new_run.alias("run"), flushed.alias("acc"))

    return (
        F.when(
            n > 0,
            F.aggregate(
                F.array_sort(toks), acc0, step, lambda a: a["acc"] + term(a["run"])
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------
# Patterns restricted to syntax RE2 (DuckDB) and java.util.regex (Spark)
# interpret identically: ASCII classes, bounded repetition, \b word
# boundaries, no lookaround. Redaction applies the three patterns in a
# fixed order (email → ipv4 → id number) so both engines rewrite the
# same spans.

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_IDNUM_RE = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"


def pii_counts(text: Column | str) -> Column:
    """struct<n_email, n_ipv4, n_idnum> match counts (regexp_count is
    JVM-side; DuckDB mirrors with len(regexp_extract_all))."""
    c = F.col(text) if isinstance(text, str) else text
    return F.struct(
        F.regexp_count(c, F.lit(PII_EMAIL_RE)).cast("long").alias("n_email"),
        F.regexp_count(c, F.lit(PII_IPV4_RE)).cast("long").alias("n_ipv4"),
        F.regexp_count(c, F.lit(PII_IDNUM_RE)).cast("long").alias("n_idnum"),
    )


def redact_pii(text: Column | str) -> Column:
    """Replace every PII match with a typed placeholder token. Order is
    fixed (email first: its local part may contain digit runs an id/ip
    pattern would otherwise bite into)."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, PII_IPV4_RE, "<IP>")
    c = F.regexp_replace(c, PII_IDNUM_RE, "<ID>")
    return c


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles built from a MATERIALIZED token-array column
    (space-joined n-token windows; short docs collapse to one shingle).

    The token array must be staged in its own projection first: the
    window builder references it from inside a `transform` lambda, and
    subexpression elimination cannot hoist an inlined tokenize out of a
    lambda — an unstaged `tokens(text)` here is re-evaluated once PER
    SHINGLE (the same O(len) → O(len²) cliff normalize_text documents
    per character)."""
    k = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(k - n, F.lit(0)))
    return F.when(
        k >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (for MinHash/Jaccard dedup) as ONE Column
    expression over raw text. ONLY for contexts that stage the result
    itself; when the consumer explodes or otherwise iterates the array,
    stage `tokens(lower(text))` first and use `shingles_of` — this
    inline form pays the per-element tokenize re-evaluation documented
    there."""
    return shingles_of(tokens(F.lower(F.col(text) if isinstance(text, str) else text)), n)


def pseudonymize(col: Column | str, salt: str, length: int = 16) -> Column:
    """Salted deterministic pseudonym for an identifier column — the
    privacy plumbing between `pii_counts`/`redact_pii` (find/blank
    PII) and analytics that still need a STABLE join key: the same
    (salt, id) always maps to the same token, different salts are
    unlinkable, and the raw id never leaves the scan.

    pseudonym = md5(salt ‖ ':' ‖ id)[:length] — pure Column expression
    (JVM md5, zero shuffle, zero Python). md5 here is a one-way
    LABELING function, not a security boundary: with a secret,
    high-entropy salt, reversing a pseudonym requires guessing the
    salt; rotating the salt unlinks releases. Truncation to `length`
    hex chars (default 16 = 64 bits) keeps collision odds negligible
    below ~10⁹ ids (birthday bound) while keeping keys compact;
    pass length=32 for the full digest at corpus scale. NULL ids stay
    NULL (md5 of NULL is NULL) — they never collapse into one bucket."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(
        F.md5(F.concat(F.lit(salt + ":"), c.cast("string"))), 1, length
    )
