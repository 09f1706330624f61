"""Expected results computed apart from the program, and the checks that
compare each pass's outputs with them.

Every expectation is recomputed from the generated input files — with
DuckDB SQL, pure-Python union-find, or the generator's planted ground
truth — never from a stored copy of an earlier program output. A check
returns a list of failure messages; an empty list means the output holds.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
from gen import THRESHOLD_DEN, THRESHOLD_NUM, TOP_K

JACCARD_TOL = 0.5e-4 + 1e-9  # programs report Jaccard rounded to 4 places


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")  # checks run while Spark is idle
    con.execute("SET memory_limit = '512MB'")  # keeps the harness's own footprint small
    con.execute("SET enable_progress_bar = false")
    return con


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _diff(con, got_sql: str, want_sql: str, what: str) -> list[str]:
    n = con.execute(
        f"SELECT count(*) FROM (({got_sql}) EXCEPT ALL ({want_sql})"
        f" UNION ALL (({want_sql}) EXCEPT ALL ({got_sql})))"
    ).fetchone()[0]
    return [f"{what}: {n} rows differ from the DuckDB recomputation"] if n else []


# ---------------------------------------------------------------------------
# mapreduce_etl
# ---------------------------------------------------------------------------


def _etl_views(con, inputs: str) -> None:
    for t in ("sales", "customers", "products", "stores"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {_parquet(f'{inputs}/{t}')}")
    con.execute(
        "CREATE OR REPLACE VIEW clean AS SELECT *, qty * price_cents - discount_cents"
        " AS amount_cents FROM sales WHERE qty > 0"
    )


ETL_EXPECTED = {
    "daily": "SELECT store_id, day, CAST(sum(amount_cents) AS BIGINT) AS revenue_cents,"
             " count(*) AS n_sales FROM clean GROUP BY store_id, day",
    "segcat": "SELECT segment, category, CAST(sum(amount_cents) AS BIGINT) AS revenue_cents,"
              " count(*) AS n_sales, count(DISTINCT cust_id) AS n_customers"
              " FROM clean JOIN customers USING (cust_id) JOIN products USING (prod_id)"
              " GROUP BY segment, category",
    "top3": "SELECT store_id, sale_id, amount_cents FROM (SELECT store_id, sale_id, amount_cents,"
            " row_number() OVER (PARTITION BY store_id ORDER BY amount_cents DESC, sale_id) AS r"
            " FROM clean) WHERE r <= 3",
    "secsort": "SELECT cust_id, day, sale_id FROM clean",
    "routed": "SELECT channel, sale_id, store_id, amount_cents FROM clean JOIN stores USING (store_id)",
}


class EtlOracle:
    def __init__(self, inputs: str):
        self.con = connect()
        _etl_views(self.con, inputs)
        for name, sql in ETL_EXPECTED.items():
            self.con.execute(f"CREATE TABLE want_{name} AS {sql}")

    def check(self, out: dict) -> list[str]:
        """`out` maps each output name to its directory, plus the
        round-trip counts and the dux channel directories."""
        con, errs = self.con, []
        for name in ("daily", "segcat", "top3"):
            errs += _diff(con, f"SELECT * FROM {_parquet(out[name])}",
                          f"SELECT * FROM want_{name}", name)
        if out["rows_written"] != out["reread_rows"]:
            errs.append(f"round trip: rows_written {out['rows_written']} != re-read {out['reread_rows']}")
        if out["rows_written"] != con.execute("SELECT count(*) FROM want_daily").fetchone()[0]:
            errs.append("round trip: rows_written differs from the expected row count")
        errs += _check_secondary_sort(con, out["secsort"])
        # the dux outputs must partition the routed rows: each channel's
        # file holds exactly that channel's rows, so their union is the input
        got = " UNION ALL ".join(
            f"SELECT '{ch}' AS channel, * FROM {_parquet(d)}" for ch, d in out["dux"].items()
        )
        errs += _diff(con, f"SELECT channel, sale_id, store_id, amount_cents FROM ({got})",
                      "SELECT * FROM want_routed", "dux outputs")
        return errs


def _check_secondary_sort(con, path: str) -> list[str]:
    """Secondary-sort properties: each file is in (cust_id, day, sale_id)
    order, so a customer's rows are contiguous and ordered by the secondary
    key; no customer spans two files; the row multiset equals the input."""
    errs, n_owned, owners = [], 0, []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        t = pq.read_table(f, columns=["cust_id", "day", "sale_id"])
        c, d, s = (t.column(i).to_numpy() for i in range(3))
        step_down = (c[1:] < c[:-1]) | ((c[1:] == c[:-1]) & (
            (d[1:] < d[:-1]) | ((d[1:] == d[:-1]) & (s[1:] < s[:-1]))))
        if step_down.any():
            i = int(np.flatnonzero(step_down)[0])
            errs.append(f"secsort: {os.path.basename(f)} out of order at row {i + 1} (customer {c[i + 1]})")
        u = np.unique(c)
        n_owned += len(u)
        owners.append(u)
    if owners and len(np.unique(np.concatenate(owners))) != n_owned:
        errs.append("secsort: a customer's rows are split across files")
    errs += _diff(con, f"SELECT cust_id, day, sale_id FROM {_parquet(path)}",
                  "SELECT * FROM want_secsort", "secsort")
    return errs


# ---------------------------------------------------------------------------
# llm_dedup
# ---------------------------------------------------------------------------

# Word 3-gram shingles exactly as specified for the dedup operators:
# lower-case, trim, split on whitespace runs, drop empty tokens; n-token
# windows joined by one space; a doc shorter than n is one shingle.
SHINGLES_SQL = """
CREATE TABLE shingles AS
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS w
  FROM docs
)
SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, unnest(CASE WHEN len(w) >= 3
      THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i + 2], ' '))
      ELSE [array_to_string(w, ' ')] END) AS s
  FROM t
)
"""

# Exact all-pairs Jaccard by inverted index. Shingles with identical
# posting lists are merged into one weighted list first. Pairs inside
# small lists are enumerated and their shared weights summed. A long list
# (a boilerplate block repeated by thousands of docs) is not enumerated
# pair by pair into the sum: a pair that shares no small list has
# inter <= the smaller of the two docs' total long-list weight W, and
# Jaccard >= 4/5 needs 9 * inter >= 4 * (n_a + n_b), so only pairs passing
# 9 * min(W_a, W_b) >= 4 * (n_a + n_b) are kept, then scored exactly.
# The steps are tables, not CTEs: an inlined CTE would number the lists
# anew on each side of a self-join.
LONG_LIST = 200
EXACT_PAIRS_SQL = [
    "CREATE TABLE sizes AS SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id",
    "CREATE TABLE lists AS SELECT row_number() OVER () AS g, ids, count(*) AS w FROM"
    " (SELECT list(doc_id ORDER BY doc_id) AS ids FROM shingles GROUP BY s HAVING count(*) > 1)"
    " GROUP BY ids",
    "CREATE TABLE members AS SELECT g, w, len(ids) AS m, unnest(ids) AS d FROM lists",
    "CREATE TABLE short_pairs AS SELECT a.d AS id_a, b.d AS id_b, sum(a.w) AS inter"
    f" FROM members a JOIN members b ON a.g = b.g AND a.d < b.d WHERE a.m <= {LONG_LIST}"
    " GROUP BY a.d, b.d",
    "CREATE TABLE long_m AS SELECT g, w, d, n, sum(w) OVER (PARTITION BY d) AS wd"
    f" FROM members JOIN sizes ON doc_id = d WHERE m > {LONG_LIST}",
    "CREATE TABLE cand AS SELECT id_a, id_b FROM short_pairs UNION"
    " SELECT a.d, b.d FROM long_m a JOIN long_m b ON a.g = b.g AND a.d < b.d"
    " WHERE 9 * least(a.wd, b.wd) >= 4 * (a.n + b.n)",
    f"""CREATE TABLE exact_pairs AS
    WITH long_shared AS (
      SELECT c.id_a, c.id_b, sum(a.w) AS inter FROM cand c
      JOIN long_m a ON a.d = c.id_a JOIN long_m b ON b.d = c.id_b AND b.g = a.g
      GROUP BY c.id_a, c.id_b
    ), scored AS (
      SELECT c.id_a, c.id_b, coalesce(s.inter, 0) + coalesce(l.inter, 0) AS inter
      FROM cand c LEFT JOIN short_pairs s USING (id_a, id_b) LEFT JOIN long_shared l USING (id_a, id_b)
    )
    SELECT id_a, id_b, inter, sa.n + sb.n - inter AS uni
    FROM scored JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
    WHERE {THRESHOLD_DEN} * inter >= {THRESHOLD_NUM} * (sa.n + sb.n - inter)""",
]


def dedup_expected(inputs: str) -> str:
    """Exact pairs for the corpus, computed once per (seed, size) and kept
    beside the inputs they derive from."""
    path = os.path.join(inputs, "_expected_pairs.parquet")
    if not os.path.exists(path):
        con = connect()
        con.execute(f"CREATE VIEW docs AS SELECT * FROM {_parquet(inputs + '/docs')}")
        con.execute(SHINGLES_SQL)
        for stmt in EXACT_PAIRS_SQL:
            con.execute(stmt)
        con.execute(f"COPY (SELECT * FROM exact_pairs ORDER BY id_a, id_b) TO '{path}.tmp' (FORMAT parquet)")
        con.close()
        os.rename(path + ".tmp", path)
    return path


class UnionFind:
    def __init__(self, nodes):
        self.parent = {n: n for n in nodes}

    def find(self, x):
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)  # the root is the component's min id

    def labels(self) -> dict:
        return {n: self.find(n) for n in self.parent}


class DedupOracle:
    def __init__(self, inputs: str):
        t = pq.read_table(dedup_expected(inputs)).to_pydict()
        self.exact = {(a, b): i / u for a, b, i, u in zip(t["id_a"], t["id_b"], t["inter"], t["uni"])}
        self.doc_ids = pq.read_table(f"{inputs}/docs", columns=["doc_id"]).column(0).to_pylist()
        uf = UnionFind(self.doc_ids)
        for a, b in self.exact:
            uf.union(a, b)
        self.components = uf.labels()
        with open(f"{inputs}/planted.json") as f:
            planted = json.load(f)
        self.planted = [
            (p["id_a"], p["id_b"]) for p in planted["pairs"]
            if THRESHOLD_DEN * p["jaccard"] >= THRESHOLD_NUM - 1e-12
        ]

    def _pairs(self, rows, what: str, exact: bool) -> list[str]:
        got = {(r[0], r[1]): r[2] for r in rows}
        errs = []
        if len(got) != len(rows):
            errs.append(f"{what}: duplicate pairs")
        extra = [p for p in got if p not in self.exact]
        if extra:
            errs.append(f"{what}: {len(extra)} pairs are not exact pairs, e.g. {extra[0]}")
        off = [p for p, j in got.items() if p in self.exact and abs(j - self.exact[p]) > JACCARD_TOL]
        if off:
            errs.append(f"{what}: {len(off)} Jaccard values differ, e.g. {off[0]}")
        if exact:
            missing = [p for p in self.exact if p not in got]
            if missing:
                errs.append(f"{what}: {len(missing)} exact pairs missing, e.g. {missing[0]}")
        return errs

    def check(self, out: dict) -> list[str]:
        errs = self._pairs(out["minhash"], "minhash pairs", exact=False)
        errs += self._pairs(out["prefix"], "prefix pairs", exact=True)
        pf = {(r[0], r[1]) for r in out["prefix"]}
        lost = [p for p in self.planted if p not in pf]
        if lost:
            errs.append(f"prefix pairs: {len(lost)} planted pairs at/above threshold missing, e.g. {lost[0]}")
        errs += self._labels(dict(out["components"]), "bigstar components")
        surv = {r[0]: (r[1], r[2]) for r in out["survivors"]}
        errs += self._labels({n: c for n, (c, _) in surv.items()}, "survivor components")
        bad = [n for n, (c, s) in surv.items() if s != (n == self.components.get(n))]
        if bad:
            errs.append(f"survivor components: {len(bad)} docs with the wrong survivor flag, e.g. {bad[0]}")
        return errs

    def _labels(self, got: dict, what: str) -> list[str]:
        if set(got) != set(self.components):
            return [f"{what}: node set differs from the corpus ({len(got)} vs {len(self.components)})"]
        wrong = [n for n, c in got.items() if c != self.components[n]]
        return [f"{what}: {len(wrong)} labels differ from union-find, e.g. {wrong[0]}"] if wrong else []


# ---------------------------------------------------------------------------
# index_serve
# ---------------------------------------------------------------------------

K1, B = 1.2, 0.75
SCORE_TOL = 4e-6  # per-term micro rounding (<= 0.5e-6 each), a few terms per query


class IndexOracle:
    """Okapi BM25 over the base docs plus the append batches applied so far,
    recomputed in DuckDB: tf per (term, doc) from whitespace tokens of the
    lower-cased text, df per term, N and avgdl over every doc (empty docs
    included). `dirs` is the base docs' directory and then each batch's.
    `scores[state][query_id]` holds the top (k + 10) docs as
    [(doc_id, score)], score descending; state s means s batches appended."""

    def __init__(self, dirs: list[str], queries: list[dict], k: int):
        self.k = k
        con = connect()
        con.execute("CREATE TABLE q (query_id BIGINT, term VARCHAR)")
        con.executemany("INSERT INTO q VALUES (?, ?)",
                        [(x["query_id"], t) for x in queries for t in x["terms"]])
        self.scores = [self._bm25(con, dirs[:state + 1], queries) for state in range(len(dirs))]
        con.close()

    def _bm25(self, con, dirs: list[str], queries: list[dict]) -> dict:
        union = " UNION ALL ".join(f"SELECT doc_id, text FROM {_parquet(d)}" for d in dirs)
        con.execute(
            "CREATE OR REPLACE TABLE toks AS SELECT doc_id, list_filter("
            f"regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS w FROM ({union})"
        )
        con.execute(
            "CREATE OR REPLACE TABLE tf AS SELECT term, doc_id, count(*) AS tf FROM"
            " (SELECT doc_id, unnest(w) AS term FROM toks) GROUP BY term, doc_id"
        )
        n_docs, avgdl = con.execute("SELECT count(*), sum(len(w)) / count(*) FROM toks").fetchone()
        rows = con.execute(f"""
            WITH dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            scored AS (
              SELECT q.query_id, tf.doc_id,
                     sum(ln(1 + ({n_docs} - dfs.df + 0.5) / (dfs.df + 0.5))
                         * (tf.tf * ({K1} + 1))
                         / (tf.tf + {K1} * ((1 - {B}) + {B} * len(d.w) / {avgdl}))) AS score
              FROM q JOIN tf USING (term) JOIN dfs USING (term) JOIN toks d USING (doc_id)
              GROUP BY q.query_id, tf.doc_id)
            SELECT query_id, doc_id, score FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS r
              FROM scored) WHERE r <= {self.k + 10} ORDER BY query_id, r
        """).fetchall()
        out: dict = {x["query_id"]: [] for x in queries}
        for q, d, sc in rows:
            out[q].append((d, sc))
        return out

    def check(self, state: int, query_id: int, got: list[tuple[int, int]], what: str) -> list[str]:
        """`got` is the program's [(doc_id, score_micro)] in its rank order.
        Each score must equal the DuckDB score of that doc to within the
        micro rounding; the ranking must be (score desc, id asc); and no
        doc left out may score clearly above the lowest one returned, so
        near-ties at rank k are not held against either engine."""
        want = self.scores[state][query_id]
        ref = dict(want)
        if len(got) != min(self.k, len(want)):
            return [f"{what}: {len(got)} results, expected {min(self.k, len(want))}"]
        for d, sm in got:
            if d not in ref or abs(sm / 1e6 - ref[d]) > SCORE_TOL:
                return [f"{what}: doc {d} scored {sm / 1e6:.6f}, expected {ref.get(d)}"]
        if got != sorted(got, key=lambda r: (-r[1], r[0])):
            return [f"{what}: results not in (score desc, id) order"]
        floor = min((sm for _, sm in got), default=0) / 1e6
        kept = {d for d, _ in got}
        left = [d for d, sc in want if d not in kept and sc > floor + SCORE_TOL]
        return [f"{what}: doc {left[0]} scores above the returned top-{self.k}"] if left else []

    def check_round(self, out: dict) -> list[str]:
        """Every single and batched probe of one serving round (see
        workloads.Serving) against the index state it ran on."""
        errs = []
        for state, qid, rows in out["singles"]:
            errs += self.check(state, qid, rows, f"probe q{qid} state {state}")
        for state, qids, rows in out["batches"]:
            per_q: dict = {q: [] for q in qids}
            for q, d, _n, sm, _rank in sorted(rows, key=lambda r: (r[0], r[4])):
                per_q.setdefault(q, []).append((d, sm))
            for q in qids:
                errs += self.check(state, q, per_q[q], f"batched probe q{q} state {state}")
        return errs


def serving_oracle(inputs: str, workload: str) -> IndexOracle:
    base, batches = gen.SERVING_DIRS[workload]
    with open(f"{inputs}/queries.json") as f:
        queries = json.load(f)
    return IndexOracle([f"{inputs}/{d}" for d in (base, *batches)], queries, TOP_K)


def checks(workload: str, inputs: str):
    """The check of one pass's outputs for `workload`: builds every
    expectation from the inputs now and returns a function from a pass's
    outputs to its failure messages."""
    if workload == "mapreduce_etl":
        return EtlOracle(inputs).check
    serving = serving_oracle(inputs, workload)
    if workload == "index_serve":
        return serving.check_round
    dedup = DedupOracle(inputs)
    return lambda out: dedup.check(out) + serving.check_round(out["serve"])
