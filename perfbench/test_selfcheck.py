"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/test_selfcheck.py -q

The check tests need no Spark: they build a known-good output from the
independent computations, show the check accepts it, then break one value
and show the check rejects it. The end-to-end test runs every workload on
tiny inputs through the same command the benchmark uses.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402


@pytest.fixture(scope="module")
def etl_case(tmp_path_factory):
    base = tmp_path_factory.mktemp("etl")
    inputs, _ = gen.ensure_inputs(str(base / "data"), "mapreduce_etl", 7, "tiny")
    orc = oracle.EtlOracle(inputs)
    out = str(base / "out")
    con = orc.con

    def dump(sql: str, name: str) -> str:
        os.makedirs(f"{out}/{name}", exist_ok=True)
        con.execute(f"COPY ({sql}) TO '{out}/{name}/part-0.parquet' (FORMAT parquet)")
        return f"{out}/{name}"

    good = {name: dump(f"SELECT * FROM want_{name}", name) for name in ("daily", "segcat", "top3")}
    good["secsort"] = dump("SELECT * FROM want_secsort ORDER BY cust_id, day, sale_id", "secsort")
    good["dux"] = {
        ch: dump(f"SELECT sale_id, store_id, amount_cents FROM want_routed WHERE channel = '{ch}'",
                 f"dux_{ch}")
        for ch in gen.CHANNELS
    }
    n_daily = con.execute("SELECT count(*) FROM want_daily").fetchone()[0]
    good["rows_written"] = good["reread_rows"] = n_daily
    return orc, good, dump


def test_etl_expectations_are_not_empty(etl_case):
    orc, _, _ = etl_case
    for name in oracle.ETL_EXPECTED:
        assert orc.con.execute(f"SELECT count(*) FROM want_{name}").fetchone()[0] > 0, name


def test_etl_check_accepts_the_recomputation(etl_case):
    orc, good, _ = etl_case
    assert orc.check(good) == []


def test_etl_check_rejects_an_aggregate_off_by_a_cent(etl_case):
    orc, good, dump = etl_case
    bad = dict(good, daily=dump(
        "SELECT store_id, day, revenue_cents + (row_number() OVER () = 1)::BIGINT AS revenue_cents,"
        " n_sales FROM want_daily", "daily_bad"))
    assert any(e.startswith("daily") for e in orc.check(bad))


def test_etl_check_rejects_a_broken_secondary_sort(etl_case):
    orc, good, dump = etl_case
    bad = dict(good, secsort=dump("SELECT * FROM want_secsort ORDER BY cust_id, day DESC, sale_id",
                                  "secsort_bad"))
    assert any(e.startswith("secsort") for e in orc.check(bad))


def test_etl_check_rejects_a_row_routed_to_the_wrong_output(etl_case):
    orc, good, dump = etl_case
    a, b = gen.CHANNELS[:2]
    moved = dump(f"SELECT sale_id, store_id, amount_cents FROM want_routed WHERE channel IN ('{a}', '{b}')"
                 f" AND NOT (channel = '{a}' AND sale_id = (SELECT min(sale_id) FROM want_routed"
                 f" WHERE channel = '{a}'))", "dux_moved")
    first = dump(f"SELECT sale_id, store_id, amount_cents FROM want_routed WHERE channel = '{a}'"
                 f" AND sale_id <> (SELECT min(sale_id) FROM want_routed WHERE channel = '{a}')", "dux_first")
    bad = dict(good, dux=dict(good["dux"], **{a: first, b: moved}))
    assert any(e.startswith("dux") for e in orc.check(bad))


def test_etl_check_rejects_a_round_trip_count_mismatch(etl_case):
    orc, good, _ = etl_case
    assert orc.check(dict(good, reread_rows=good["rows_written"] - 1))


@pytest.fixture(scope="module")
def dedup_case(tmp_path_factory):
    inputs, _ = gen.ensure_inputs(str(tmp_path_factory.mktemp("dedup")), "llm_dedup", 7, "tiny")
    orc = oracle.DedupOracle(inputs)
    pairs = sorted((a, b, round(j, 4)) for (a, b), j in orc.exact.items())
    good = {
        "minhash": pairs[::2],
        "prefix": pairs,
        "components": sorted(orc.components.items()),
        "survivors": [(n, c, n == c) for n, c in sorted(orc.components.items())],
    }
    return orc, good


def test_dedup_expectations_are_not_empty(dedup_case):
    orc, good = dedup_case
    assert good["prefix"] and orc.planted
    assert len(set(orc.components.values())) < len(orc.components)


def test_dedup_check_accepts_the_recomputation(dedup_case):
    orc, good = dedup_case
    assert orc.check(good) == []


def test_dedup_check_rejects_a_dropped_pair(dedup_case):
    orc, good = dedup_case
    assert any(e.startswith("prefix pairs") for e in orc.check(dict(good, prefix=good["prefix"][1:])))


def test_dedup_check_rejects_a_perturbed_jaccard(dedup_case):
    orc, good = dedup_case
    a, b, j = good["minhash"][0]
    bad = dict(good, minhash=[(a, b, j - 0.001)] + good["minhash"][1:])
    assert any(e.startswith("minhash pairs") for e in orc.check(bad))


def test_dedup_check_rejects_a_pair_outside_the_exact_set(dedup_case):
    orc, good = dedup_case
    ids = sorted(orc.components)
    stray = next((a, b, 0.9) for a in ids for b in ids if a < b and (a, b) not in orc.exact)
    assert any(e.startswith("minhash pairs") for e in orc.check(dict(good, minhash=good["minhash"] + [stray])))


def test_dedup_check_rejects_wrong_components_and_survivors(dedup_case):
    orc, good = dedup_case
    merged = next(n for n, c in orc.components.items() if n != c)
    comps = [(n, n if n == merged else c) for n, c in good["components"]]
    assert any(e.startswith("bigstar") for e in orc.check(dict(good, components=comps)))
    surv = [(n, c, not s if n == merged else s) for n, c, s in good["survivors"]]
    assert any(e.startswith("survivor components") for e in orc.check(dict(good, survivors=surv)))


@pytest.fixture(scope="module")
def index_case(tmp_path_factory):
    inputs, _ = gen.ensure_inputs(str(tmp_path_factory.mktemp("index")), "index_serve", 7, "tiny")
    with open(f"{inputs}/queries.json") as f:
        queries = json.load(f)
    dirs = [f"{inputs}/base"] + [f"{inputs}/batch{i}" for i in range(gen.APPENDS_PER_ROUND)]
    return oracle.IndexOracle(dirs, queries, 10), queries


def _top(orc, state, qid):
    return [(d, round(sc * 1e6)) for d, sc in orc.scores[state][qid][: orc.k]]


def test_index_expectations_are_not_empty(index_case):
    orc, queries = index_case
    assert all(orc.scores[s][q["query_id"]] for s in range(len(orc.scores)) for q in queries[:5])
    assert orc.scores[0] != orc.scores[-1]  # appends change the answers


def test_index_check_accepts_the_recomputation(index_case):
    orc, queries = index_case
    for s in range(len(orc.scores)):
        for q in queries:
            assert orc.check(s, q["query_id"], _top(orc, s, q["query_id"]), "q") == []


def test_index_check_rejects_a_perturbed_score(index_case):
    orc, queries = index_case
    qid = queries[0]["query_id"]
    got = _top(orc, 0, qid)
    got[-1] = (got[-1][0], got[-1][1] - 100)
    assert orc.check(0, qid, got, "q")


def test_index_check_rejects_a_stale_state(index_case):
    orc, queries = index_case
    stale = [q["query_id"] for q in queries if _top(orc, 0, q["query_id"]) != _top(orc, 2, q["query_id"])]
    assert stale and orc.check(2, stale[0], _top(orc, 0, stale[0]), "q")


def test_checker_process_accepts_good_and_rejects_bad_outputs(tmp_path):
    """The checks as a run makes them: in their own process, through
    checker.Checker, for the dedup outputs and the serving round."""
    from checker import Checker

    inputs, _ = gen.ensure_inputs(str(tmp_path), "llm_dedup", 7, "tiny")
    orc, idx = oracle.DedupOracle(inputs), oracle.serving_oracle(inputs, "llm_dedup")
    pairs = sorted((a, b, round(j, 4)) for (a, b), j in orc.exact.items())
    qid = next(q for q, top in idx.scores[1].items() if top)
    rows = _top(idx, 1, qid)
    good = {
        "minhash": pairs,
        "prefix": pairs,
        "components": sorted(orc.components.items()),
        "survivors": [(n, c, n == c) for n, c in sorted(orc.components.items())],
        "serve": {"singles": [(1, qid, rows)], "batches": []},
    }
    off = rows[:-1] + [(rows[-1][0], rows[-1][1] - 100)]
    checker = Checker("llm_dedup", inputs)
    try:
        assert checker.check(good) == []
        assert any(e.startswith("prefix pairs") for e in checker.check(dict(good, prefix=pairs[1:])))
        assert any(e.startswith(f"probe q{qid}")
                   for e in checker.check(dict(good, serve={"singles": [(1, qid, off)], "batches": []})))
        with pytest.raises(RuntimeError):
            checker.check({})  # a check that raises is reported, and the process goes on
        assert checker.check(good) == []
    finally:
        checker.close()
    assert checker.proc.returncode == 0


@pytest.mark.parametrize("workload", ["mapreduce_etl", "llm_dedup", "index_serve"])
def test_tiny_run_end_to_end(workload):
    """The benchmark command itself on tiny inputs: every pass checked,
    nothing failed, every end-to-end metric printed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = {m["name"] for m in bench["end_to_end"]}
    if workload == "index_serve":  # not a BENCHMARK.json workload; see README
        names = {"setup_s", "first_pass_cpu_s", "pass_cpu_s", "peak_rss_mb",
                 "index_build_s", "append_s", "probe_p50_ms", "batch_qps"}
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "0", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert set(result["metrics"]) == names
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_benchmark_json_lists_the_printed_per_layer_metrics():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


def test_bare_directory_fails_without_a_result(tmp_path):
    """Without the package beside it the command exits non-zero and
    prints no result line."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "llm_dedup", "--seed", "1",
         "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""
