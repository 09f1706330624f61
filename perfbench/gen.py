"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (seed, size): the same pair always
writes byte-identical parquet. Inputs are written once per (seed, size)
under the data root and reused by later runs; generation is never timed.
The program under test only ever sees the files.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Sizes per workload. "full" is what the benchmark measures; "tiny" drives
# the self-tests through the same code path in a few seconds.
SIZES = {
    "mapreduce_etl": {
        "full": dict(sales=800_000, customers=500_000, products=16_000, stores=120),
        "tiny": dict(sales=4_000, customers=500, products=50, stores=6),
    },
    "llm_dedup": {
        "full": dict(background=1_000, clusters=100, boiler=2_500, vocab=20_000, serve_base=500, serve_batch=50, queries=60),
        "tiny": dict(background=120, clusters=12, boiler=60, vocab=2_000, serve_base=100, serve_batch=10, queries=12),
    },
    "index_serve": {
        "full": dict(base=10_000, batch=100, queries=400, vocab=30_000),
        "tiny": dict(base=300, batch=10, queries=24, vocab=3_000),
    },
}

CHANNELS = ("online", "retail", "phone")
SEGMENTS = ("consumer", "corporate", "home_office", "small_biz", "public")
N_FILES = 8  # fact/corpus file count: enough splits for local[n] with n <= 8
# Append batches per index_serve round; every round repeats the same
# operations from the same index state (see workloads.Serving).
APPENDS_PER_ROUND = 2
# What the passes ask of the program: the near-duplicate Jaccard threshold
# (0.8) of llm_dedup and the top-k of every BM25 probe.
THRESHOLD_NUM, THRESHOLD_DEN = 4, 5
TOP_K = 10
# The index a workload serves: its base docs' directory, then each append
# batch's, in the order a round applies them.
SERVING_DIRS = {
    "llm_dedup": ("serve_base", ["serve_batch0"]),
    "index_serve": ("base", [f"batch{k}" for k in range(APPENDS_PER_ROUND)]),
}


def word(i: int) -> str:
    """The i-th vocabulary word: lowercase letters only, distinct for
    distinct i, so whitespace tokenization recovers the generator's
    token stream exactly."""
    s = ""
    i += 26 * 27  # at least three letters
    while i:
        i, r = divmod(i, 26)
        s = chr(97 + r) + s
    return s


def zipf_sampler(rng: np.random.Generator, vocab: int, s: float = 1.1):
    cdf = np.cumsum(1.0 / np.arange(1, vocab + 1) ** s)
    cdf /= cdf[-1]
    return lambda n: np.minimum(np.searchsorted(cdf, rng.random(n)), vocab - 1)


def _write(table: pa.Table, path: str, n_files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for f in range(n_files):
        part = table.slice(f * step, step)
        pq.write_table(part, os.path.join(path, f"part-{f:05d}.parquet"))


def gen_star(root: str, seed: int, sales: int, customers: int, products: int, stores: int) -> dict:
    """Star schema: one fact table and three dimensions, money as integer
    cents. Customer ids are Zipf-skewed so some reduce groups are hot.
    Rows are as wide as a retail schema's: the fact table carries the
    cost, tax and payment columns of a sales line and the customer table
    a contact address and free-text notes, though the ETL reads only a
    few of them. With the widths the planner sees both sides of the
    customer join above the session's 10 MiB broadcast threshold, so it
    runs as a shuffle join, as it does at deployment sizes."""
    rng = np.random.default_rng([seed, 1])
    vocab = pa.array([word(i) for i in range(50_000)])

    def words(n: int) -> list:
        return [vocab.take(rng.integers(0, 50_000, customers)) for _ in range(n)]

    cid = np.arange(customers, dtype=np.int64)
    name = pc.binary_join_element_wise("cust", pc.utf8_lpad(pc.cast(pa.array(cid), pa.string()), 7, "0"), "")
    street_no = pc.cast(pa.array(rng.integers(1, 9999, customers)), pa.string())
    cust = pa.table({
        "cust_id": cid,
        "name": name,
        "email": pc.binary_join_element_wise(name, "@mail", pc.cast(pa.array(cid % 97), pa.string()), ".example", ""),
        "address": pc.binary_join_element_wise(street_no, *words(1), "street,", *words(2), " "),
        "notes": pc.binary_join_element_wise(*words(12), " "),
        "segment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), customers)],
        "region_id": rng.integers(0, 25, customers).astype(np.int32),
        "signup_day": rng.integers(-3650, 365, customers).astype(np.int32),
    })
    prod = pa.table({
        "prod_id": np.arange(products, dtype=np.int64),
        "category": [f"cat{c:02d}" for c in rng.integers(0, 20, products)],
        "list_cents": rng.integers(199, 99_999, products).astype(np.int64),
    })
    store = pa.table({
        "store_id": np.arange(stores, dtype=np.int32),
        "channel": np.array(CHANNELS)[np.arange(stores) % len(CHANNELS)],
    })
    cust_draw = zipf_sampler(rng, customers, 0.6)(sales)
    prod_id = rng.integers(0, products, sales)
    price = prod.column("list_cents").to_numpy()[prod_id]
    qty = rng.integers(0, 9, sales)  # qty 0 rows are returns-only noise, filtered out
    fact = pa.table({
        "sale_id": rng.permutation(sales).astype(np.int64),
        "cust_id": rng.permutation(customers)[cust_draw].astype(np.int64),
        "prod_id": prod_id.astype(np.int64),
        "store_id": rng.integers(0, stores, sales).astype(np.int32),
        "day": rng.integers(0, 365, sales).astype(np.int32),
        "qty": qty.astype(np.int32),
        "price_cents": price.astype(np.int64),
        "discount_cents": (rng.integers(0, 4, sales) * rng.integers(0, 500, sales)).astype(np.int64),
        **{c: rng.integers(0, 1_000_000, sales).astype(np.int64) for c in (
            "wholesale_cents", "tax_cents", "coupon_cents", "net_paid_cents", "net_profit_cents",
            "ticket_no", "promo_id", "time_of_day_s", "cashier_id", "register_id")},
    })
    _write(fact, f"{root}/sales", N_FILES)
    _write(cust, f"{root}/customers", 2)
    _write(prod, f"{root}/products")
    _write(store, f"{root}/stores")
    return {"sales": sales, "customers": customers, "products": products, "stores": stores}


def shingle_set(tokens: list, n: int = 3) -> set:
    """Reference word n-gram shingles (space-joined windows; a doc shorter
    than n is one shingle)."""
    if len(tokens) < n:
        return {" ".join(tokens)}
    return {" ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def gen_corpus(root: str, seed: int, background: int, clusters: int, boiler: int, vocab: int,
               serve_base: int, serve_batch: int, queries: int) -> dict:
    """Near-dup corpus: Zipfian background docs, planted near-duplicate
    clusters (members are token-level mutations of one base doc), and one
    52-token boilerplate block shared by `boiler` docs. Every boilerplate
    doc has block shingles in its prefix-filter prefix, so the largest
    prefix buckets hold all `boiler` docs; 67-90% of them also share each
    LSH band key, buckets well above the MinHash operator's 1000-member
    cap. Records every planted cluster's members and their pairwise
    shingle Jaccard. For a BM25 serving round it also writes, over the
    same vocabulary, a small base set of retrieval docs, one append batch
    and a query log."""
    rng = np.random.default_rng([seed, 2])
    draw = zipf_sampler(rng, vocab)
    words = np.array([word(i) for i in range(vocab)], dtype=object)
    docs: list[list] = []
    for _ in range(background):
        docs.append(list(words[draw(int(rng.integers(30, 90)))]))
    planted = []
    for _ in range(clusters):
        base = list(words[draw(int(rng.integers(40, 90)))])
        members = [len(docs)]
        docs.append(base)
        for _ in range(int(rng.integers(1, 5))):
            rate = float(rng.choice([0.0, 0.01, 0.02, 0.03, 0.05, 0.08]))
            m = list(base)
            hits = np.flatnonzero(rng.random(len(m)) < rate)
            for i, w in zip(hits, words[draw(len(hits))]):
                m[i] = w
            members.append(len(docs))
            docs.append(m)
        planted.append(members)
    # The block and the heads come from the rare half of the vocabulary and
    # every head ends in its own word, so boilerplate docs share the block
    # and nothing else: 7-token heads keep every such pair at Jaccard
    # 50 / 64 < 0.8 while 5 block shingles reach each doc's 12-shingle
    # prefix. The block is one fixed text for every seed, as boilerplate
    # is: the share of its docs that share an LSH band key depends on the
    # block's words, and with a per-seed block it ranged from ~25% to ~95%,
    # so on some seeds a band bucket fell under the MinHash operator's
    # 1000-member cap and the pass's cost jumped (README, "Inputs").
    rare = np.arange(vocab // 2, vocab)
    block = list(words[np.random.default_rng([0, 99]).choice(rare, 52, replace=False)])
    last = rng.choice(rare, boiler, replace=False)
    for i in range(boiler):
        docs.append(list(words[rng.choice(rare, 6)]) + [words[last[i]]] + block)
    ids = rng.permutation(len(docs)).astype(np.int64) * 7 + 3
    sets = [shingle_set(d) for d in docs]
    truth = []
    for members in planted:
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                inter = len(sets[a] & sets[b])
                j = inter / (len(sets[a]) + len(sets[b]) - inter)
                ia, ib = sorted((int(ids[a]), int(ids[b])))
                truth.append({"id_a": ia, "id_b": ib, "jaccard": j})
    table = pa.table({"doc_id": ids, "text": [" ".join(d) for d in docs]})
    order = np.argsort(rng.random(len(docs)))
    _write(table.take(order), f"{root}/docs", N_FILES)
    with open(f"{root}/planted.json", "w") as f:
        json.dump({"clusters": [[int(ids[m]) for m in c] for c in planted], "pairs": truth}, f)
    # its own stream, so the corpus above is the same with or without it
    srng = np.random.default_rng([seed, 4])
    sdraw = zipf_sampler(srng, vocab)
    _write(_index_docs(srng, sdraw, words, serve_base, 1), f"{root}/serve_base")
    _write(_index_docs(srng, sdraw, words, serve_batch, 10_000_000), f"{root}/serve_batch0")
    _write_queries(srng, vocab, queries, f"{root}/queries.json")
    return {"docs": len(docs), "planted_clusters": clusters, "boilerplate_docs": boiler,
            "boilerplate_tokens": len(block), "serve_base_docs": serve_base,
            "serve_batch_docs": serve_batch, "queries": queries}


def _index_docs(rng: np.random.Generator, draw, words: np.ndarray, n: int, first_id: int) -> pa.Table:
    """`n` Zipfian docs of 20-79 tokens with ids from `first_id` on."""
    lens = rng.integers(20, 80, n)
    toks = words[draw(int(lens.sum()))]
    cuts = np.concatenate([[0], np.cumsum(lens)])
    return pa.table({
        "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "text": [" ".join(toks[cuts[i]:cuts[i + 1]]) for i in range(n)],
    })


def _write_queries(rng: np.random.Generator, vocab: int, n: int, path: str) -> None:
    """A query log mixing one rare term (rank 300 or later) with zero to
    two of the 40 most common words."""
    log = []
    for q in range(n):
        terms = {word(int(rng.integers(300, vocab)))}
        for _ in range(int(rng.integers(0, 3))):
            terms.add(word(int(rng.integers(0, 40))))
        log.append({"query_id": q, "terms": sorted(terms)})
    with open(path, "w") as f:
        json.dump(log, f)


def gen_index(root: str, seed: int, base: int, batch: int, queries: int, vocab: int) -> dict:
    """Retrieval corpus, append batches and a query log; batches carry
    fresh ids."""
    rng = np.random.default_rng([seed, 3])
    draw = zipf_sampler(rng, vocab)
    words = np.array([word(i) for i in range(vocab)], dtype=object)
    _write(_index_docs(rng, draw, words, base, 1), f"{root}/base", N_FILES)
    for k in range(APPENDS_PER_ROUND):
        _write(_index_docs(rng, draw, words, batch, 10_000_000 * (k + 1)), f"{root}/batch{k}")
    _write_queries(rng, vocab, queries, f"{root}/queries.json")
    return {"base_docs": base, "batch_docs": batch, "batches": APPENDS_PER_ROUND, "queries": queries}


GENERATORS = {"mapreduce_etl": gen_star, "llm_dedup": gen_corpus, "index_serve": gen_index}


def ensure_inputs(data_root: str, workload: str, seed: int, size: str) -> tuple[str, dict]:
    """Generate the workload's inputs for (seed, size) unless a complete
    copy exists; returns (directory, description)."""
    params = SIZES[workload][size]
    # the parameters are part of the name, so a changed size never reuses old files
    tag = "-".join(f"{v}" for v in params.values())
    d = os.path.join(data_root, f"{workload}-{size}-{tag}-seed{seed}")
    done = os.path.join(d, "_INPUTS.json")
    if os.path.exists(done):
        with open(done) as f:
            return d, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    desc = GENERATORS[workload](tmp, seed, **params)
    with open(os.path.join(tmp, "_INPUTS.json"), "w") as f:
        json.dump(desc, f)
    os.rename(tmp, d)
    return d, desc
