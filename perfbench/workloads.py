"""The benchmark workloads. Each pass calls the package's public
functions only, inside spans named after the layer it enters; outputs are
collected or written by the pass and checked afterwards, outside its
timing, by the checking process (checker.py, oracle.checks)."""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from pyspark.sql import functions as F

from parkour_spark import artifacts
from parkour_spark.dataset import Dataset
from parkour_spark.operators import agg, dedup, graph, joins, sort, textindex
from parkour_spark.plans.pipeline import Pipeline
from parkour_spark.sources import dux
from parkour_spark.sources.readers import read_any

import gen


class Workload:
    name = ""
    ops_per_pass = 0
    warmup_passes = 0
    # At least this many measured passes, chosen so that --seconds (8 in
    # BENCHMARK.json) never decides the count: passes get faster for a
    # while, so a count that flips between runs moves the median.
    min_measured = 2
    common_metrics = ("setup_s", "first_pass_cpu_s", "pass_cpu_s", "peak_rss_mb")

    def __init__(self, spark, inputs: str, out_root: str, tracer):
        self.spark, self.inputs, self.tr = spark, inputs, tracer
        self.out_root = out_root

    def read(self, table: str):
        with self.tr.span("sources.read_any", "sources", "read"):
            return read_any(self.spark, f"{self.inputs}/{table}")

    def prepare(self) -> None:
        """Untimed set-up before each pass."""

    def run_pass(self) -> dict:
        raise NotImplementedError

    def metrics(self, passes: list[dict]) -> dict[str, tuple[float, str]]:
        """End-to-end metrics of this workload beyond the common ones."""
        return {}


class MapReduceEtl(Workload):
    """Star-schema ETL job graph: map -> reduce with partial aggregation,
    a shuffle join and a broadcast join, top-k per group, a secondary
    sort, a named multi-output write and a write -> read round trip."""

    name = "mapreduce_etl"
    ops_per_pass = 6  # daily round trip, segcat, top3, secsort, dux, rows_written

    def _ds(self, name: str) -> Dataset:
        return Dataset(self.spark, path=f"{self.out_root}/{name}")

    def run_pass(self) -> dict:
        tr = self.tr
        shutil.rmtree(self.out_root, ignore_errors=True)
        sales, customers = self.read("sales"), self.read("customers")
        products, stores = self.read("products"), self.read("stores")

        with tr.span("pipeline.input+map", "pipeline", "build"):
            clean = Pipeline.input(sales).map(
                lambda d: d.where(F.col("qty") > 0).withColumn(
                    "amount_cents", F.col("qty") * F.col("price_cents") - F.col("discount_cents")
                )
            )
        with tr.span("pipeline.reduce", "pipeline", "build"):
            daily = clean.reduce(
                ["store_id", "day"],
                F.sum("amount_cents").alias("revenue_cents"),
                F.count(F.lit(1)).alias("n_sales"),
            )
        with tr.span("pipeline.output", "pipeline", "action"):
            daily_out = daily.output(self._ds("daily"))
        with tr.span("dataset.read+count", "dataset", "action"):
            reread = daily_out.df.count()

        fact = clean.df
        with tr.span("joins.equi_join", "joins", "build"):
            enriched = joins.equi_join(fact, customers, "cust_id")
        with tr.span("joins.broadcast_join", "joins", "build"):
            enriched = joins.broadcast_join(enriched, products, "prod_id")
        with tr.span("agg.group_reduce", "agg", "build"):
            segcat = agg.group_reduce(
                enriched, ["segment", "category"],
                F.sum("amount_cents").alias("revenue_cents"),
                F.count(F.lit(1)).alias("n_sales"),
                F.countDistinct("cust_id").alias("n_customers"),
            )
        with tr.span("dataset.write", "dataset", "action", family="joins"):
            w_segcat = self._ds("segcat").write(segcat)

        with tr.span("agg.top_k_per_group", "agg", "build"):
            top3 = agg.top_k_per_group(
                fact, ["store_id"], [F.col("amount_cents").desc(), F.col("sale_id")], 3
            ).select("store_id", "sale_id", "amount_cents")
        with tr.span("dataset.write", "dataset", "action", family="agg"):
            w_top3 = self._ds("top3").write(top3)

        with tr.span("sort.repartition_by", "sort", "build"):
            by_cust = sort.repartition_by(fact.select("cust_id", "day", "sale_id"), None, "cust_id")
        with tr.span("sort.sort_within_partitions", "sort", "build"):
            secsort = sort.sort_within_partitions(by_cust, "cust_id", "day", "sale_id")
        with tr.span("dataset.write", "dataset", "action", family="sort"):
            w_sec = self._ds("secsort").write(secsort)

        with tr.span("joins.broadcast_join", "joins", "build"):
            routed = joins.broadcast_join(fact, stores, "store_id")
        outputs = {
            ch: (lambda d, ch=ch: d.where(F.col("channel") == ch).select("sale_id", "store_id", "amount_cents"),
                 self._ds(f"dux_{ch}"))
            for ch in gen.CHANNELS
        }
        with tr.span("dux.write_named", "sources", "action", family="sources"):
            w_dux = dux.write_named(routed, outputs)

        written = [daily_out, w_segcat, w_top3, w_sec, *w_dux.values()]
        return {
            "daily": f"{self.out_root}/daily",
            "segcat": f"{self.out_root}/segcat",
            "top3": f"{self.out_root}/top3",
            "secsort": f"{self.out_root}/secsort",
            "dux": {ch: f"{self.out_root}/dux_{ch}" for ch in gen.CHANNELS},
            "rows_written": daily_out.metrics["rows_written"],
            "reread_rows": reread,
            "layer_counts": {
                "dataset.rows_written": sum(w.metrics["rows_written"] for w in written),
                "sources.files_written": sum(
                    len(glob.glob(f"{self.out_root}/dux_{ch}/*.parquet")) for ch in gen.CHANNELS
                ),
            },
        }


class LlmDedup(Workload):
    """Near-duplicate detection over a seeded corpus: MinHash-LSH pairs,
    exact prefix-filter pairs, big-star connected components and
    keep-min-id survivors over the exact pair graph; then one serving
    round (see Serving) of a small persisted BM25 index over the same
    vocabulary: an append, then a probe of the new state. The round puts
    the index and artifacts layers in a recurring workload at ~4 s a
    pass."""

    name = "llm_dedup"

    def __init__(self, *a):
        super().__init__(*a)
        self.serving = Serving(self, base_singles=0, singles=1, batch=0)
        self.ops_per_pass = 4 + self.serving.ops

    def prepare(self) -> None:
        self.serving.restore()

    def run_pass(self) -> dict:
        tr, spark = self.tr, self.spark
        docs = self.read("docs")
        with tr.span("dedup.minhash_dedup_pairs", "dedup", "build"):
            mh = dedup.minhash_dedup_pairs(docs)
        with tr.span("collect", "dedup", "action", family="dedup"):
            mh_rows = [tuple(r) for r in mh.collect()]
        with tr.span("dedup.prefix_filter_pairs", "dedup", "build"):
            pf = dedup.prefix_filter_pairs(
                docs, threshold_num=gen.THRESHOLD_NUM, threshold_den=gen.THRESHOLD_DEN
            )
        with tr.span("collect", "dedup", "action", family="dedup"):
            pf_rows = [tuple(r) for r in pf.collect()]
        edges = pf.select("id_a", "id_b")
        nodes = docs.select(F.col("doc_id").alias("id"))
        with tr.span("graph.connected_components_bigstar", "graph", "build"):
            cc = graph.connected_components_bigstar(nodes, edges)
        with tr.span("collect", "graph", "action", family="graph"):
            cc_rows = [tuple(r) for r in cc.collect()]
        with tr.span("graph.dedup_survivors", "graph", "build"):
            surv = graph.dedup_survivors(docs.select("doc_id"), edges)
        with tr.span("collect", "graph", "action", family="graph"):
            surv_rows = [tuple(r) for r in surv.collect()]
        # the operators' persists are caller-owned (jaccard_verify contract)
        spark.catalog.clearCache()
        serve = self.serving.run_round()
        return {
            "minhash": mh_rows,
            "prefix": pf_rows,
            "components": cc_rows,
            "survivors": surv_rows,
            "serve": serve,
            "timings": serve["timings"],
            "layer_counts": {
                "dedup.verified_pairs": len(mh_rows) + len(pf_rows),
                "graph.components": len({c for _, c in cc_rows}),
                **serve["layer_counts"],
            },
        }


class Serving:
    """Closed-loop serving of one persisted BM25 index (operators.textindex).
    A round runs `base_singles` single probes one after another on the
    base state, appends a batch, runs `singles` single probes on the new
    state, and so on through every batch; it ends with one batched probe
    on the final state (none when `batch` is 0). The base index is
    restored, untimed, before each round, so every round repeats the same
    operations on the same states. The first round builds the index."""

    def __init__(self, w: Workload, base_singles: int, singles: int, batch: int):
        self.spark, self.tr, self.read = w.spark, w.tr, w.read
        self.base, self.batches = gen.SERVING_DIRS[w.name]
        self.base_singles, self.singles, self.batch = base_singles, singles, batch
        with open(f"{w.inputs}/queries.json") as f:
            self.queries = json.load(f)
        self.path = f"{w.out_root}/index"
        self.saved = f"{w.out_root}/index_base"
        self.rounds = 0
        self.calls = {"tiny_reads": 0, "tiny_read_s": 0.0, "tiny_read_fallbacks": 0, "publish_s": 0.0}
        if self.tr.job_groups:
            self._wrap_artifacts()

    @property
    def ops(self) -> int:
        """Checked operations per round: each probe, each batched query
        and each append."""
        return self.base_singles + len(self.batches) * (self.singles + 1) + self.batch

    def _wrap_artifacts(self) -> None:
        """Traced runs only: count and time the index's control-record reads
        and atomic publishes by wrapping the two artifacts functions (the
        program's files are untouched; the wrapper calls the original)."""
        calls, read, publish = self.calls, artifacts.read_tiny_rows_arrow, artifacts.publish_swap

        def read_tiny_rows_arrow(*a, **kw):
            t = time.perf_counter()
            rows = read(*a, **kw)
            calls["tiny_reads"] += 1
            calls["tiny_read_s"] += time.perf_counter() - t
            calls["tiny_read_fallbacks"] += rows is None
            return rows

        def publish_swap(*a, **kw):
            t = time.perf_counter()
            try:
                return publish(*a, **kw)
            finally:
                calls["publish_s"] += time.perf_counter() - t

        artifacts.read_tiny_rows_arrow = read_tiny_rows_arrow
        artifacts.publish_swap = publish_swap

    def restore(self) -> None:
        if self.rounds:
            shutil.rmtree(self.path, ignore_errors=True)
            shutil.copytree(self.saved, self.path)

    def _singles(self, state: int, q0: int, out: dict) -> int:
        tr, spark, timings = self.tr, self.spark, out["timings"]
        n, count = len(self.queries), self.singles if state else self.base_singles
        for i in range(count):
            q = self.queries[(q0 + i) % n]
            t = time.perf_counter()
            with tr.span("textindex.text_index_probe_bm25", "textindex", "build"):
                df = textindex.text_index_probe_bm25(spark, self.path, q["terms"], k=gen.TOP_K)
            with tr.span("textindex.probe.collect", "textindex", "action"):
                rows = [(r[0], r[2]) for r in df.collect()]
            timings["probe_ms"].append((time.perf_counter() - t) * 1000)
            out["singles"].append((state, q["query_id"], rows))
        return q0 + count

    def _batched(self, state: int, q0: int, out: dict) -> None:
        tr, spark, n = self.tr, self.spark, len(self.queries)
        qs = [self.queries[(q0 + j) % n] for j in range(self.batch)]
        t = time.perf_counter()
        with tr.span("textindex.text_index_probe_bm25_multi", "textindex", "build"):
            df = textindex.text_index_probe_bm25_multi(
                spark, self.path, [(q["query_id"], q["terms"]) for q in qs], k=gen.TOP_K)
        with tr.span("textindex.batch.collect", "textindex", "action"):
            rows = df.collect()
        out["timings"]["batch_s"].append(time.perf_counter() - t)
        out["batches"].append((state, [q["query_id"] for q in qs], [tuple(r) for r in rows]))

    def run_round(self) -> dict:
        tr = self.tr
        for k in self.calls:
            self.calls[k] = 0
        timings = {"probe_ms": [], "batch_s": [], "append_s": []}
        out = {"singles": [], "batches": [], "timings": timings}
        if not self.rounds:
            docs = self.read(self.base)
            t = time.perf_counter()
            with tr.span("textindex.text_index_build", "textindex", "build"):
                textindex.text_index_build(docs, self.path)
            timings["build_s"] = time.perf_counter() - t
            shutil.copytree(self.path, self.saved)
        q0 = self.rounds * (self.base_singles + len(self.batches) * self.singles + self.batch)
        for state, batch in enumerate(self.batches):
            q0 = self._singles(state, q0, out)
            new = self.read(batch)
            t = time.perf_counter()
            with tr.span("textindex.text_index_append", "textindex", "action", family="textindex"):
                textindex.text_index_append(new, self.path)
            timings["append_s"].append(time.perf_counter() - t)
        q0 = self._singles(len(self.batches), q0, out)
        if self.batch:
            self._batched(len(self.batches), q0, out)
        self.rounds += 1
        self.spark.catalog.clearCache()
        out["layer_counts"] = {f"artifacts.{k}": v for k, v in self.calls.items()}
        return out

    def metrics(self, passes: list[dict]) -> dict[str, tuple[float, str]]:
        """Serving figures: the one cold build, and medians over the
        measured rounds."""
        from statistics import median, quantiles

        measured = [p["timings"] for p in passes if p["ok"] and p["kind"] == "measured"]
        probes = [x for m in measured for x in m["probe_ms"]]
        batches = [x for m in measured for x in m["batch_s"]]
        out = {
            "index_build_s": (passes[0]["timings"]["build_s"], "s"),
            "append_s": (median([x for m in measured for x in m["append_s"]]), "s"),
            "probe_p50_ms": (median(probes), "ms"),
        }
        if batches:
            out["batch_qps"] = (self.batch / median(batches), "1/s")
        if len(probes) >= 100:  # ten samples beyond the 90th percentile
            out["probe_p90_ms"] = (quantiles(probes, n=10)[-1], "ms")
        return out


class IndexServe(Workload):
    """Persisted BM25 index serving alone: the first pass builds the index;
    every pass is one serving round (see Serving) over two append batches."""

    name = "index_serve"
    warmup_passes = 1
    common_metrics = ("setup_s", "first_pass_cpu_s", "pass_cpu_s", "peak_rss_mb")

    def __init__(self, *a):
        super().__init__(*a)
        self.serving = Serving(self, base_singles=5, singles=5, batch=20)
        self.ops_per_pass = self.serving.ops

    def prepare(self) -> None:
        self.serving.restore()

    def run_pass(self) -> dict:
        return self.serving.run_round()

    def metrics(self, passes: list[dict]) -> dict[str, tuple[float, str]]:
        return self.serving.metrics(passes)


WORKLOADS = {w.name: w for w in (MapReduceEtl, LlmDedup, IndexServe)}
