"""One benchmark run: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload mapreduce_etl --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates (or reuses) the seeded
inputs, starts a session on local[n] (n = usable cores, at most 4), runs
one cold pass, a fixed number of warm-up passes and then measured passes
until --seconds of passes have elapsed, checks every pass's outputs
against independent computations, and prints one JSON object as its last
line. With --trace 1 the same passes run with the Spark UI on and
per-call job groups; the line then carries the per-layer metrics and the
full trace (spans, per-call charges) is written under .bench_out/.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import socket
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import gen  # noqa: E402
import measure as tr  # noqa: E402
from checker import Checker  # noqa: E402

DEADLINE_S = 150  # stop starting passes after this, to exit within 180 s


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--cores", type=int, default=0, help="local[n]; 0 = usable cores, at most 4")
    return p.parse_args(argv)


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def session_conf(work_dir: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": str(free_port()),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, close the gateway JVM and wait for every process
    this run started to end."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        left = [p for p in _descendants() if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for p in _descendants():
        if p != os.getpid():
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _descendants() -> list[int]:
    kids, out, stack = tr._children(), [], [os.getpid()]
    while stack:
        pid = stack.pop()
        for k in kids.get(pid, ()):
            try:
                with open(f"/proc/{k}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        continue  # a zombie has ended; its parent reaps it
            except OSError:
                continue
            out.append(k)
            stack.append(k)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec("parkour_spark") is None:
        print("perfbench: the parkour_spark package is not in the working directory", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cls = workloads.WORKLOADS[args.workload]
    cores = args.cores or min(4, len(os.sched_getaffinity(0)))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    bench_out = os.path.join(ROOT, ".bench_out")
    work_dir = os.path.join(bench_out, run_id)
    os.makedirs(work_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")

    # inputs and their expected results: made before the clock starts
    inputs, described = gen.ensure_inputs(os.path.join(ROOT, ".bench_data"), args.workload, args.seed, args.size)
    checker = Checker(args.workload, inputs)
    try:
        return measure_run(args, cls, cores, run_id, bench_out, work_dir, inputs, described, checker)
    finally:
        checker.close()


def measure_run(args, cls, cores, run_id, bench_out, work_dir, inputs, described, checker) -> int:
    loadavg_1m = os.getloadavg()[0]
    tree = tr.ProcessTree(interval_s=0.1 if args.trace else 0.25).start()
    t0 = time.perf_counter()
    from parkour_spark.session import build_session

    conf = session_conf(work_dir, bool(args.trace))
    spark = build_session(app_name=run_id, master=f"local[{cores}]", extra_conf=conf)
    t_session = time.perf_counter()
    spark.range(1).count()
    setup_s = time.perf_counter() - t0
    session_start_s = t_session - t0

    tracer = tr.Tracer(spark, run_id, job_groups=bool(args.trace))
    tracer.session_start_s = session_start_s
    try:
        w = cls(spark, inputs, os.path.join(work_dir, "out"), tracer)
        passes = run_passes(w, checker, tracer, tree, spark, args, t0)
        status = None
        if args.trace:
            status = tr.SparkRest(int(conf["spark.ui.port"])).fetch()
    finally:
        tree.stop()
        jvm_peak_mb = tr.jvm_hwm_mb(tree.snapshot()["jvm_pid"])
        checker.close()  # before stop_spark, which waits for every child to end
        stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    ok = [p for p in passes if p["ok"]]
    measured = [p for p in ok if p["kind"] == "measured"]
    attempted = len(passes) * w.ops_per_pass
    failed = sum(p["failed_ops"] for p in passes)
    if len(measured) < cls.min_measured or not passes[0]["ok"]:
        print("perfbench: no measured pass completed", file=sys.stderr)
        return 1
    result = {  # correct: every operation that did not fail passed its checks
        "correct": all(not p["errors"] for p in passes),
        "attempted": attempted,
        "failed": failed,
    }
    if args.trace:
        per_layer, detail = layer_metrics(tracer, status, passes, tree)
        untraced = os.path.join(bench_out, f"result-{args.workload}-seed{args.seed}.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = tr.median([p["wall_s"] for p in json.load(f)["passes"]
                                  if p["ok"] and p["kind"] == "measured"])
            detail["tracing_overhead_s"] = detail["layers"]["trace.pass_s"] - base
        detail.update({"run": run_id, "inputs": described, "cores": cores,
                       "jvm_hwm_mb": jvm_peak_mb, "spans": tracer.spans, "passes": passes})
        with open(os.path.join(bench_out, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(detail, f, indent=1, default=str)
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        common = {
            "setup_s": (setup_s, "s"),
            # the cold pass's CPU, not its wall time: on a shared host whole
            # runs slow down together, and the wall time spread 0.252 over
            # ten llm_dedup runs of the same code (README, "Reference figures")
            "first_pass_cpu_s": (passes[0]["cpu_s"], "s"),
            # no wall time of a steady pass either, for the same reason: it
            # spread 0.165 and 0.372 over two sets of ten llm_dedup runs of
            # the same code (README, "End-to-end metrics"); it stays in
            # the run's record and is trace.pass_s in a traced run
            "pass_cpu_s": (tr.median([p["cpu_s"] for p in measured]), "s"),
            "peak_rss_mb": (tree.peak_rss_kb / 1024, "MB"),
        }
        metrics = {k: common[k] for k in cls.common_metrics}
        metrics.update(w.metrics(passes))
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        record = {"session.start_s": session_start_s, "passes": passes, "result": result,
                  "first_pass_s": passes[0]["wall_s"], "loadavg_1m": loadavg_1m,
                  "pass_s": tr.median([p["wall_s"] for p in measured]),
                  "cores": cores, "inputs": described}
        if hasattr(w, "serving"):  # the serving figures of a round, by name
            record["serving"] = {k: v for k, (v, _u) in w.serving.metrics(passes).items()}
        with open(os.path.join(bench_out, f"result-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
    print(json.dumps(result))
    return 0


def run_passes(w, checker, tracer, tree, spark, args, t_start: float) -> list[dict]:
    """The cold pass, `w.warmup_passes` warm-up passes, then measured
    passes until their wall time reaches --seconds (at least
    `w.min_measured`). Every pass is checked; checks are not timed."""
    passes: list[dict] = []
    measured_s = 0.0
    while True:
        n = len(passes)
        if n == 0:
            kind = "first"
        elif n <= w.warmup_passes:
            kind = "warmup"
        else:
            kind = "measured"
            n_measured = n - 1 - w.warmup_passes
            if n_measured >= w.min_measured and measured_s >= args.seconds:
                break
            if n_measured >= w.min_measured and time.perf_counter() - t_start > DEADLINE_S:
                break
        tracer.pass_index = n
        rec = {"index": n, "kind": kind, "ok": False, "errors": [], "failed_ops": 0}
        gc0 = tr.jvm_gc_seconds(spark) if args.trace else 0.0
        try:
            w.prepare()
            before = tree.open_window()
            steal0 = tr.host_steal_s()
            t = time.perf_counter()
            with tracer.span("pass", "harness", "pass"):
                out = w.run_pass()
            rec["wall_s"] = time.perf_counter() - t
            rec["host_steal_s"] = tr.host_steal_s() - steal0
            after, rec["rss_peak_mb"] = tree.close_window()
            rec["cpu_s"] = after["total_cpu"] - before["total_cpu"]
            rec["jvm_cpu_s"] = after["jvm_cpu"] - before["jvm_cpu"]
            rec["worker_cpu_s"] = after["worker_cpu"] - before["worker_cpu"]
            if args.trace:
                rec["jvm_gc_s"] = tr.jvm_gc_seconds(spark) - gc0
            t_check = time.perf_counter()
            rec["errors"] = checker.check(out)
            rec["check_s"] = time.perf_counter() - t_check
            # each message names its operation before the colon
            rec["failed_ops"] = min(len({e.split(":")[0] for e in rec["errors"]}), w.ops_per_pass)
            rec["layer_counts"] = out.get("layer_counts", {})
            rec["timings"] = out.get("timings", {})
            rec["ok"] = True
        except Exception:  # the pass's operations failed; the run goes on
            rec["exception"] = traceback.format_exc()
            rec["failed_ops"] = w.ops_per_pass
            print(rec["exception"], file=sys.stderr)
        for e in rec["errors"]:
            print(f"perfbench: pass {n} check failed: {e}", file=sys.stderr)
        passes.append(rec)
        if kind == "measured" and rec["ok"]:
            measured_s += rec["wall_s"]
        if not rec["ok"] and kind == "first":
            break
    return passes


OPERATOR_LAYERS = ("agg", "joins", "sort", "dedup", "graph", "textindex")
# spans whose duration is a named per-layer time of its own
NAMED_SPANS = {"dux.write_named": "sources.dux_write_s", "dataset.write": "dataset.write_s",
               "dataset.read+count": "dataset.reread_s",
               "textindex.text_index_build": "textindex.build_s",
               "textindex.text_index_append": "textindex.append_s",
               "textindex.text_index_probe_bm25": "textindex.probe_build_s",
               "textindex.probe.collect": "textindex.probe_action_s",
               "textindex.text_index_probe_bm25_multi": "textindex.batch_probe_build_s",
               "textindex.batch.collect": "textindex.batch_probe_action_s"}
PROBE_SPANS = ("textindex.text_index_probe_bm25", "textindex.probe.collect")
CHARGES = ("jobs", "task_cpu_s", "shuffle_write_mb", "spill_mb")

# The per-layer metrics every traced run prints (BENCHMARK.json
# "per_layer"). A layer a workload does not call reads 0 there; times that
# only one workload's layers produce live in the trace file instead, so no
# printed time is a constant 0.
PER_LAYER = {
    "session.start_s": "s", "sources.read_s": "s", "sources.files_written": "count",
    "dataset.rows_written": "count", "pipeline.jobs": "count",
    **{f"{f}.{m}": u for f in ("agg", "joins", "sort")
       for m, u in (("jobs", "count"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("peak_mem_mb", "MB"))},
    "dedup.jobs": "count", "dedup.shuffle_write_mb": "MB", "dedup.spill_mb": "MB",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count", "dedup.verify_yield": "ratio",
    "graph.jobs": "count", "graph.components": "count",
    "textindex.jobs": "count", "textindex.jobs_per_probe": "count", "textindex.files_per_probe": "count",
    "artifacts.tiny_reads": "count", "artifacts.tiny_read_fallbacks": "count",
    "operators.build_s": "s", "operators.action_s": "s", "operators.task_cpu_s": "s",
    "python_worker.peak_rss_mb": "MB", "python_worker.spawned": "count",
    "jvm.cpu_s": "s", "jvm.gc_s": "s", "trace.pass_s": "s",
}


def pass_layers(spans: list[dict], charges: dict, p: dict) -> dict[str, float]:
    """Layer figures of one pass. A span's time counts to its layer and
    phase (`dedup.build_s`, `sources.read_s`, ...) and an action's also to
    the operator family it executes; the Spark work of a span's job group
    is charged to that family (actions) or layer (builds)."""
    m: dict[str, float] = {}

    def add(k, v):
        m[k] = m.get(k, 0.0) + v

    for s in spans:
        d = s["end"] - s["start"]
        if s["layer"] != "textindex":  # its spans are all named below
            add(f"{s['layer']}.{s['phase']}_s", d)
        if s["phase"] == "action" and s["family"] != s["layer"]:
            add(f"{s['family']}.action_s", d)
        if s["name"] in NAMED_SPANS:
            add(NAMED_SPANS[s["name"]], d)
        if s["name"] == PROBE_SPANS[0]:
            add("textindex.probes", 1)
        owner = s["family"] if s["phase"] == "action" else s["layer"]
        if owner in OPERATOR_LAYERS:
            add(f"operators.{s['phase']}_s", d)
        c = charges.get(s["group"]) if s["group"] else None
        if c is None:
            continue
        for k in CHARGES:
            add(f"{owner}.{k}", c[k])
        add(f"{owner}.spill_mb", c["sql_spill_mb"])
        add(f"{owner}.files_read", c["files_read"])
        m[f"{owner}.peak_mem_mb"] = max(m.get(f"{owner}.peak_mem_mb", 0.0), c["peak_mem_mb"])
        if owner in OPERATOR_LAYERS:
            add("operators.task_cpu_s", c["task_cpu_s"])
        if s["name"] in PROBE_SPANS:
            add("textindex.probe_jobs", c["jobs"])
            add("textindex.probe_files", c["files_read"])
        if s["layer"] == "dedup" and s["phase"] == "build":
            # the eager persist+count inside each dedup call scans the cached
            # candidate pairs first: that scan's rows are the candidates
            scans = [r for n, r in c["rows"] if n.startswith("InMemoryTableScan")]
            add("dedup.candidate_pairs", scans[0] if scans else 0)
    for k, v in p["layer_counts"].items():
        add(k, v)
    m["jvm.cpu_s"] = p["jvm_cpu_s"]
    m["jvm.gc_s"] = p["jvm_gc_s"]
    m["python_worker.cpu_s"] = p["worker_cpu_s"]
    m["trace.pass_s"] = p["wall_s"]
    if m.get("textindex.probes"):
        m["textindex.jobs_per_probe"] = m.pop("textindex.probe_jobs") / m["textindex.probes"]
        m["textindex.files_per_probe"] = m.pop("textindex.probe_files") / m["textindex.probes"]
    if m.get("dedup.candidate_pairs"):
        m["dedup.verify_yield"] = m["dedup.verified_pairs"] / m["dedup.candidate_pairs"]
    return m


def layer_metrics(tracer, status, passes, tree) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run: the median over measured passes
    of each pass's layer figures, plus whole-run process-tree figures.
    Returns (the PER_LAYER line, every layer figure for the trace file)."""
    charges = tr.charge_groups(status)
    per_pass = [
        pass_layers([s for s in tracer.spans if s["pass"] == p["index"] and s["phase"] != "pass"],
                    charges, p)
        for p in passes if p["ok"] and p["kind"] == "measured"
    ]
    keys = sorted({k for m in per_pass for k in m})
    every = {k: tr.median([m.get(k, 0.0) for m in per_pass]) for k in keys}
    first = passes[0]
    first_layers = pass_layers(
        [s for s in tracer.spans if s["pass"] == 0 and s["phase"] != "pass"], charges, first
    ) if first["ok"] else {}
    if "textindex.build_s" in first_layers:  # the index is built in the first pass only
        every["textindex.build_s"] = first_layers["textindex.build_s"]
    every["session.start_s"] = tracer.session_start_s
    every["python_worker.peak_rss_mb"] = tree.peak_worker_rss_kb / 1024
    every["python_worker.spawned"] = len(tree.worker_pids)
    line = {k: (every.get(k, 0), u) for k, u in PER_LAYER.items()}
    return line, {"layers": every, "first_pass_layers": first_layers, "charges": charges}


if __name__ == "__main__":
    sys.exit(main())
