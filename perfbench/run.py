"""Whole-pipeline benchmark for gmt_dbt_spark on ``local[4]``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run generates its inputs from ``--seed`` under ``.perfbench_work/``
in the checkout, starts a session with ``session.get_spark`` and runs
one warm-up pass whose outputs are checked against DuckDB.  Session
start plus warm-up is ``setup_s``.  It then times
``ceil(--seconds / nominal pass length)`` whole passes of the
workload's operations (the same work on every commit) and prints one
JSON object as the last line of standard output.  ``pass_s`` is the
sum over operations of each
operation's median latency.  ``--trace 0`` reports the end-to-end
metrics of ``BENCHMARK.json``; ``--trace 1`` traces the timed
operations and reports the per-layer metrics instead.

Workloads (``perfbench/record.json`` has sizes, predictions, baseline):

* ``elt_pipeline`` — ``ingest_directory`` over a Yelp-shaped tree, two
  runs of an 11-model ``ModelProject`` (the second reads the reviews
  with a newer batch applied and takes the incremental MERGE path),
  then upsert batches through ``final_load(..., "Update")``.
* ``llm_stream`` — LLM-curation query builders (time on the driver:
  build-time jobs and plan construction) and bounded micro-batch stream
  replays, each run to the noop sink.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MODELS = os.path.join(HERE, "models")
CORES = 4
MB = 1024.0 * 1024.0

LLM_QUERIES = ["pipeline_text_curation", "dedup_clusters", "dedup_simhash", "sim_topk_ivf"]
STREAM_QUERIES = ["stream_dedup", "stream_upsert_sink"]
# Generated warehouse: lineitem has 6e6 * TABLE_SCALE rows, documents DOCS.
TABLE_SCALE = 0.01
DOCS = 1000
ELT_REVIEWS = 12_000
ELT_UPSERTS = 2  # upsert batches; one more review batch feeds the second model run
STG_REVIEW = "yelp_academic_dataset_review"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "peak_rss_mb": "MB",
    "heap_live_mb": "MB",
}


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def vm_hwm_mb(pid) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_times() -> list[int]:
    """Host CPU jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


class Bench:
    """One benchmark run: inputs, session, warm-up, checks, timed operations."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        from spans import Recorder

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.rec = Recorder(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.latency: dict[str, list[float]] = {}  # timed operations only
        self.info: dict = {}

    def op(self, name: str, fn, timed: bool) -> None:
        """Run one operation; a raising operation counts as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as e:  # noqa: BLE001 - boundary: record and continue
            self.failed += 1
            self.problems.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        if timed:
            self.latency.setdefault(name, []).append(time.perf_counter() - t0)

    def start(self) -> None:
        from gmt_dbt_spark.session import get_spark

        with self.rec.span("session", "get_spark") as sp:
            self.spark = get_spark("perfbench", cpus=CORES)
        self.session_s = sp.wall_s
        self.rec.attach(self.spark.sparkContext)

    def stop(self) -> None:
        """Stop the session and its JVM, and wait until the JVM has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return vm_hwm_mb("self") + (vm_hwm_mb(proc.pid) if proc is not None else 0.0)

    def jvm_heap_mb(self) -> tuple[float, float]:
        """JVM heap: summed peak use of its pools over the run, and use after a full GC.
        Unlike peak RSS, neither is set by the heap cap until the live data nears it."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        peak = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
                   if p.getType().name() == "HEAP")
        # Free Python's references to JVM objects, collect, give Spark's
        # ContextCleaner time to drop the blocks of RDDs found unreachable
        # (local checkpoints), and collect again.
        gc.collect()
        mem = mf.getMemoryMXBean()
        mem.gc()
        time.sleep(1.0)
        mem.gc()
        return peak / MB, mem.getHeapMemoryUsage().getUsed() / MB

    def run(self) -> dict:
        wl = WORKLOADS[self.workload](self)
        cpu0 = cpu_times()
        wl.generate()
        t0 = time.perf_counter()
        self.start()
        status, self.rec.status = self.rec.status, None  # the warm-up is not traced
        for name, fn in wl.ops("warm", collect=True):
            self.op(name, fn, timed=False)
        self.rec.status = status
        setup_s = time.perf_counter() - t0
        wl.check()

        # A fixed number of whole passes, derived from --seconds and the
        # workload's nominal pass length: every operation gets the same
        # number of samples, and a slow host does not change the work.
        passes = max(1, math.ceil(self.seconds / wl.nominal_pass_s))
        for k in range(passes):
            for name, fn in wl.ops(k, traced=self.trace):
                self.op(name, fn, timed=True)
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        all_lat = [t for ts in self.latency.values() for t in ts]
        e2e = {
            "setup_s": setup_s,
            "pass_s": sum(statistics.median(ts) for ts in self.latency.values()),
            "query_p50_s": percentile(all_lat, 50),
            "query_p90_s": percentile(all_lat, 90),
            "peak_rss_mb": self.peak_rss_mb(),
        }
        heap_peak, e2e["heap_live_mb"] = self.jvm_heap_mb()
        self.info.update(
            passes=passes, operations=len(all_lat), session_s=round(self.session_s, 3),
            error_rate=self.failed / self.attempted,
            # share of CPU time the hypervisor gave to other guests
            host_steal=round(cpu[7] / max(sum(cpu), 1), 4),
            jvm_heap_peak_mb=round(heap_peak, 1),
            op_median_s={n: round(statistics.median(ts), 4) for n, ts in self.latency.items()},
        )
        if not self.trace:
            return {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        layer = wl.layer_metrics()
        layer["session.start_s"] = (self.session_s, "s")
        layer["jvm.heap_peak_mb"] = (heap_peak, "MB")
        # Tracing overhead = this pass_s minus pass_s of an untraced run.
        layer["trace.pass_s"] = (e2e["pass_s"], "s")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        self.rec.dump(os.path.join(out_dir, f"spans-{self.workload}-{self.seed}.json"))
        return {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}


# ---------------------------------------------------------------- workloads


def _sum(rec, spans, attr: str) -> float:
    return sum(getattr(j, attr) for s in spans for j in rec.span_jobs(s))


def _njobs(rec, spans) -> int:
    return sum(len(rec.span_jobs(s)) for s in spans)


def _wall(spans) -> float:
    return sum(s.wall_s for s in spans)


def _per_op(rec, layer: str, fn, names=None) -> float:
    """Sum over operations of the median over repetitions of fn([span]),
    for the traced spans of one layer (an operation = a span name)."""
    groups: dict[str, list[float]] = {}
    for s in rec.find(layer, traced=True):
        if names is None or s.name in names:
            groups.setdefault(s.name, []).append(fn([s]))
    return sum(statistics.median(v) for v in groups.values())


def _per_rep(rec, layer: str, fn) -> float:
    """Median over all traced spans of one layer of fn([span])."""
    vals = [fn([s]) for s in rec.find(layer, traced=True)]
    return statistics.median(vals) if vals else 0.0


class LlmStream:
    """Registry query builders run to the noop sink, one operation per query."""

    queries = LLM_QUERIES + STREAM_QUERIES
    nominal_pass_s = 8.0  # warm pass on a quiet 4-vCPU host

    def __init__(self, bench: Bench):
        self.b = bench
        self.sf = os.path.join(bench.work, "sf")
        self.outputs: dict = {}

    def generate(self) -> None:
        from gen import write_tables

        self.b.info["rows"] = write_tables(self.sf, self.b.seed, TABLE_SCALE, DOCS)

    def ops(self, k, collect: bool = False, traced: bool = False):
        from gmt_dbt_spark.registry import all_queries

        qs = all_queries()
        rec, spark, tag = self.b.rec, self.b.spark, {"pass": k, "traced": traced}
        for name in self.queries:
            def one(name=name):
                outer = "streaming" if name in STREAM_QUERIES else "op"
                with rec.span(outer, name, **tag):
                    with rec.span("registry.build", name, **tag):
                        df = qs[name](spark, self.sf)
                    with rec.span("registry.exec", name, **tag):
                        if collect:
                            self.outputs[name] = df.toPandas()
                        else:
                            df.write.format("noop").mode("overwrite").save()

            yield name, one

    def check(self) -> None:
        from checks import compare, oracle_connection
        from tools.selfcheck import oracle_frame_via_pandas
        from gmt_dbt_spark.catalog import TABLES
        from gmt_dbt_spark.registry import all_oracles

        oracles = all_oracles()
        con = oracle_connection(self.sf, TABLES)
        try:
            for name in self.queries:
                pdf = self.outputs.get(name)
                if pdf is None:
                    continue  # already counted as a failed operation
                why = (compare(pdf, oracle_frame_via_pandas(con, oracles[name]))
                       if name in oracles else None)
                if why:
                    self.b.failed += 1
                    self.b.problems.append(f"{name}: wrong output: {why}")
        finally:
            con.close()
        self.outputs.clear()

    def layer_metrics(self) -> dict:
        rec = self.b.rec
        out: dict = {}
        build, ex, st = "registry.build", "registry.exec", "streaming"

        def jobs(spans):
            return _njobs(rec, spans)

        def run_s(spans):
            return _sum(rec, spans, "exec_run_s")

        def jobs_s(spans):
            return sum(rec.jobs_s(s) for s in spans)

        out[f"{build}.wall_s"] = (_per_op(rec, build, _wall), "s")
        out[f"{build}.jobs"] = (_per_op(rec, build, jobs), "count")
        out[f"{build}.jobs_s"] = (_per_op(rec, build, jobs_s), "s")
        out[f"{build}.py_s"] = (_per_op(rec, build, lambda s: _wall(s) - jobs_s(s)), "s")
        out[f"{build}.exec_run_s"] = (_per_op(rec, build, run_s), "s")
        ewall, erun = _per_op(rec, ex, _wall), _per_op(rec, ex, run_s)
        out[f"{ex}.wall_s"] = (ewall, "s")
        out[f"{ex}.jobs"] = (_per_op(rec, ex, jobs), "count")
        for attr, unit in (("stages", "count"), ("tasks", "count"), ("input_mb", "MB"),
                           ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
                           ("spill_mb", "MB")):
            out[f"{ex}.{attr}"] = (_per_op(rec, ex, lambda s, a=attr: _sum(rec, s, a)), unit)
        out[f"{ex}.exec_run_s"] = (erun, "s")
        out[f"{ex}.core_util"] = (erun / (ewall * CORES) if ewall else 0.0, "ratio")
        replay, srun = _per_op(rec, st, _wall), _per_op(rec, st, run_s)
        out[f"{st}.replay_s"] = (replay, "s")
        out[f"{st}.jobs"] = (_per_op(rec, st, jobs), "count")
        out[f"{st}.exec_run_s"] = (srun, "s")
        out[f"{st}.core_util"] = (srun / (replay * CORES) if replay else 0.0, "ratio")
        out[f"{st}.idle_s"] = (_per_op(rec, st, lambda s: _wall(s) - jobs_s(s)), "s")
        for name in self.queries:
            out[f"{build}.wall_s.{name}"] = (_per_op(rec, build, _wall, {name}), "s")
            out[f"{build}.jobs.{name}"] = (_per_op(rec, build, jobs, {name}), "count")
        return out


class EltPipeline:
    """ingest → dbt run ×2 (the second, over newer reviews, MERGEs the
    incremental model) → upserts."""

    nominal_pass_s = 8.0  # warm pass on a quiet 4-vCPU host

    def __init__(self, bench: Bench):
        self.b = bench
        self.root = os.path.join(bench.work, "yelp")
        self.src = os.path.join(self.root, "src")
        self.batches: list[str] = []

    def generate(self) -> None:
        from gen import tree_bytes, write_yelp_tree

        self.sizes = write_yelp_tree(self.root, self.b.seed, ELT_REVIEWS, ELT_UPSERTS + 1)
        bdir = os.path.join(self.root, "batches")
        self.delta, *self.batches = [os.path.join(bdir, f) for f in sorted(os.listdir(bdir))]
        self.in_mb = tree_bytes(self.src) / MB
        self.n_files = sum(len(f) for _d, _s, f in os.walk(self.src))
        self.b.info["elt"] = dict(self.sizes, src_mb=round(self.in_mb, 2))

    def _register_staging(self, stg: str, delta: str | None) -> None:
        """Expose each ingested table as ``stg_<name>``, as ``gmt_dbt_spark run`` does.
        With ``delta``, the review rows of that batch replace or add to the
        ingested reviews, as newly arrived source data would."""
        spark = self.b.spark
        for name in sorted(os.listdir(stg)):
            df = spark.read.parquet(os.path.join(stg, name))
            if delta and name == STG_REVIEW:
                new = spark.read.schema(df.schema).json(delta)
                df = df.join(new, "review_id", "left_anti").unionByName(new)
            df.createOrReplaceTempView(f"stg_{name}")

    def ops(self, k, collect: bool = False, traced: bool = False):
        from gmt_dbt_spark.operators.upsert import final_load
        from gmt_dbt_spark.plans.models import ModelProject, load_models_dir
        from gmt_dbt_spark.sources.readers import ingest_directory, scan_json

        b, rec, tag = self.b, self.b.rec, {"pass": k, "traced": traced}
        wh = os.path.join(b.work, f"wh-{k}")
        stg = os.path.join(wh, "stg")
        target = os.path.join(wh, "bronze_review")
        shutil.rmtree(wh, ignore_errors=True)
        self.warm_wh = wh

        def ingest():
            with rec.span("sources.ingest", "ingest", **tag):
                ingest_directory(b.spark, self.src, stg)

        def dbt_run(i, delta=None):
            with rec.span("plans.models", f"run{i}", **tag):
                self._register_staging(stg, delta)
                with rec.span("plans.models.compile", f"run{i}", **tag):
                    project = ModelProject(b.spark, *load_models_dir(MODELS),
                                           warehouse_dir=wh, threads=4)
                with rec.span("plans.models.run", f"run{i}", **tag):
                    project.run()

        def upsert(i, path):
            with rec.span("operators.upsert", f"batch{i}", **tag):
                schema = b.spark.read.parquet(target).schema
                final_load(b.spark, scan_json(b.spark, path, schema=schema), target,
                           os.path.join(wh, "_staging_review"), ["review_id"], "Update")

        try:
            yield "ingest", ingest
            yield "dbt_run_1", lambda: dbt_run(1)
            yield "dbt_run_2", lambda: dbt_run(2, self.delta)
            for i, path in enumerate(self.batches):
                yield f"upsert_{i}", lambda i=i, path=path: upsert(i, path)
        finally:
            if not collect:
                shutil.rmtree(wh, ignore_errors=True)

    def check(self) -> None:
        import duckdb

        from checks import compare, elt_expected

        con = duckdb.connect()
        try:
            for name, sql in elt_expected(self.src, self.delta, self.batches).items():
                try:
                    got = self.b.spark.read.parquet(os.path.join(self.warm_wh, name)).toPandas()
                except Exception as e:  # noqa: BLE001 - a missing output is a wrong output
                    why = f"{type(e).__name__}: {str(e)[:200]}"
                else:
                    why = compare(got, con.execute(sql).df())
                if why:
                    self.b.failed += 1
                    self.b.problems.append(f"{name}: wrong output: {why}")
        finally:
            con.close()
        from gen import tree_bytes

        self.out_stg_mb = tree_bytes(os.path.join(self.warm_wh, "stg")) / MB
        self.out_models_mb = tree_bytes(self.warm_wh) / MB - self.out_stg_mb
        shutil.rmtree(self.warm_wh, ignore_errors=True)

    def layer_metrics(self) -> dict:
        rec = self.b.rec
        out: dict = {}

        def jobs(spans):
            return _njobs(rec, spans)

        def run_s(spans):
            return _sum(rec, spans, "exec_run_s")

        lay = "sources.ingest"
        iw, ir, ij = (_per_op(rec, lay, f) for f in (_wall, run_s, jobs))
        out[f"{lay}.wall_s"] = (iw, "s")
        out[f"{lay}.jobs"] = (ij, "count")
        out[f"{lay}.jobs_per_file"] = (ij / self.n_files, "ratio")
        out[f"{lay}.exec_run_s"] = (ir, "s")
        out[f"{lay}.core_util"] = (ir / (iw * CORES) if iw else 0.0, "ratio")
        out[f"{lay}.in_mb"] = (self.in_mb, "MB")
        out[f"{lay}.out_mb"] = (self.out_stg_mb, "MB")
        out[f"{lay}.out_per_in"] = (self.out_stg_mb / self.in_mb, "ratio")
        lay = "plans.models"
        mw, mr = _per_op(rec, f"{lay}.run", _wall), _per_op(rec, lay, run_s)
        out[f"{lay}.compile_s"] = (_per_op(rec, f"{lay}.compile", _wall), "s")
        out[f"{lay}.run_s"] = (mw, "s")
        out[f"{lay}.jobs"] = (_per_op(rec, lay, jobs), "count")
        out[f"{lay}.exec_run_s"] = (mr, "s")
        out[f"{lay}.core_util"] = (mr / (mw * CORES) if mw else 0.0, "ratio")
        out[f"{lay}.out_mb"] = (self.out_models_mb, "MB")
        lay = "operators.upsert"
        out[f"{lay}.batch_s"] = (_per_rep(rec, lay, _wall), "s")
        out[f"{lay}.jobs"] = (_per_rep(rec, lay, jobs), "count")
        out[f"{lay}.exec_run_s"] = (_per_rep(rec, lay, run_s), "s")
        out[f"{lay}.shuffle_mb"] = (_per_rep(
            rec, lay, lambda s: _sum(rec, s, "shuffle_read_mb") + _sum(rec, s, "shuffle_write_mb")
        ), "MB")
        # Rows the batch's jobs wrote (staging table and target), per staged row.
        out[f"{lay}.rewrite_amp"] = (_per_rep(
            rec, lay, lambda s: _sum(rec, s, "output_records")) / self.sizes["batch_rows"], "ratio")
        return out


WORKLOADS = {"elt_pipeline": EltPipeline, "llm_stream": LlmStream}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and unit, in BENCHMARK.json order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # Both JVMs spark-submit starts (launcher and driver) read this; without
    # perf data the JVM writes nothing to the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    try:
        import gmt_dbt_spark.session  # noqa: F401
        import tools.selfcheck  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        metrics = bench.run()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        # A layer the workload does not reach reports 0.
        metrics = {n: metrics.get(n, {"value": 0.0, "unit": u})
                   for n, u in per_layer_units().items()}
    for p in bench.problems:
        print(f"problem: {p}")
    print(f"info: {json.dumps(bench.info, sort_keys=True)}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
