#!/usr/bin/env python3
"""End-to-end benchmark of the package on seeded, generated inputs.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

One run, in one fresh process:

1. set-up: the workload's inputs are written from the seed, one parquet
   file per table as in the fixture (not timed); then the session starts
   with ``session.get_spark`` and the package rewrites the inputs for
   parallel scans with ``sources.layout.rewrite_for_parallel_scan``, as
   ``bench.py`` does; ``setup_s`` is the time of these two;
2. the cold pass: each query is built with
   ``queries.QUERIES[name](spark, input_dir)`` and collected, and after its
   span ends the result is compared with the query's DuckDB oracle
   (``checks.py``);
3. warm passes, the same queries written to the noop sink: at least
   ``WARM_PASSES`` of them and until ``--seconds`` have passed. ``cpu_s``
   is the median over them of the CPU seconds the JVM tree spent in a
   pass, less those of the JVM's JIT compiler threads.

Queries run in an order the seed fixes, the same in every pass. The last
stdout line is one JSON object: ``correct`` (no result differed from its
oracle), ``attempted`` (query executions), ``failed`` (executions that
raised or whose result differed from the oracle) and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Stderr ends with set-up, cold and warm seconds and each
warm pass's CPU and JIT CPU seconds, then each query's seconds. The traced run
also writes a per-query breakdown to ``.perfbench_out/trace_<workload>.json``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "apachebeam_python_spark"

sys.path.insert(0, HERE)
import gen  # noqa: E402
from checks import Oracle, canon, diff  # noqa: E402
from probes import LayerTracer, ProcTree, RssSampler, StatusStore, StreamCounter, rebind  # noqa: E402

#: the fixture's sf0.01 row counts
SF001 = gen.Sizes(orders=15_000, events=10_000, documents=500, embeddings=500)
#: workload -> (queries, input sizes). neardup has twice the sf0.01
#: documents: its warm pass then takes ~8 s here, which with set-up and the
#: checked cold pass keeps a run near a minute (perfbench/README.md).
WORKLOADS = {
    "relational": (
        ["q_pricing_summary", "q_star_join", "q_ivm_join", "q_session_window",
         "q_lake_merge", "q_stream_tumbling"],
        SF001,
    ),
    "neardup": (
        ["q_setsim_join", "q_dedup_clusters", "q_pagerank"],
        gen.Sizes(orders=15_000, events=10_000, documents=1_000, embeddings=500),
    ),
}
#: queries whose rows are similar pairs: operators.candidate_pairs counts the
#: rows out of each one's largest join, operators.pair_yield is result rows
#: over those candidates
PAIR_QUERIES = {"q_setsim_join"}
#: warm passes per run, at least; more if ``--seconds`` has not passed
WARM_PASSES = 3
DRIVER_MEM = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def hygiene(run_dir: str) -> None:
    """Environment for a run that stays inside the checkout and fits the host."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(min(4, len(os.sched_getaffinity(0)))),
        # get_spark pins -Xms to this; its 16g default cannot start on a
        # 15 GB host without swap
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        # compiler threads that exit would take their CPU time out of
        # ProcTree.jit_cpu_s
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
        PYSPARK_PYTHON=sys.executable,
    )
    for k in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DURABLE_CHECKPOINT", "SPARK_GRAFT_STATE_STORE"):
        os.environ.pop(k, None)


def import_package():
    """Import the package from this checkout, never from elsewhere."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(f"perfbench: no {PACKAGE}/ next to perfbench/ in {ROOT}")
    sys.path.insert(0, ROOT)
    import apachebeam_python_spark as pkg
    from apachebeam_python_spark import queries, session
    from apachebeam_python_spark.operators import dedup, graph
    from apachebeam_python_spark.queries import scans
    from apachebeam_python_spark.sources import laketable, layout

    if os.path.dirname(os.path.abspath(pkg.__file__)) != os.path.join(ROOT, PACKAGE):
        raise SystemExit(f"perfbench: {PACKAGE} resolved outside {ROOT}")
    return queries, session, dedup, graph, scans, laketable, layout


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.queries, self.sizes = WORKLOADS[args.workload]
        self.order = list(self.queries)
        random.Random(args.seed).shuffle(self.order)
        self.raw_dir = os.path.join(run_dir, "raw")  # as generated; the oracle reads these
        self.input_dir = os.path.join(run_dir, "input")  # after the layout rewrite
        self.attempted = self.failed = self.mismatches = 0
        self.result_rows: dict[str, int] = {}
        self.errors: list[str] = []
        self.spark = None
        self.tree = None
        self.tracer = None
        self.streams = None

    # -- set-up -------------------------------------------------------------
    def setup(self):
        (self.Q, self.session, self.dedup, self.graph, scans,
         self.laketable, layout) = import_package()
        # the lake, sink and checkpoint queries write under scans._scratch_dir
        # (a fixed path in the package); keep them inside this run's directory
        scratch = os.path.join(self.run_dir, "scratch")

        def run_scratch() -> str:
            os.makedirs(scratch, exist_ok=True)
            return scratch

        rebind(PACKAGE, scans._scratch_dir, run_scratch)

        t0 = time.perf_counter()
        gen.write(self.args.seed, self.sizes, self.raw_dir)
        self.prep_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.spark = self.session.get_spark("perfbench")
        self.start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tree = ProcTree(self.spark.sparkContext._gateway.proc.pid)
        self.sampler = RssSampler(self.tree)
        self.sampler.start()
        t0 = time.perf_counter()
        layout.rewrite_for_parallel_scan(self.spark, self.raw_dir, self.input_dir,
                                         self.session.TABLES)
        self.rewrite_s = time.perf_counter() - t0
        self.setup_s = self.start_s + self.rewrite_s
        self.store = StatusStore(self.spark)
        if self.args.trace:
            self.trace_layers()

    def trace_layers(self):
        t = self.tracer = LayerTracer(PACKAGE)
        t.wrap("session.checkpoint", self.session.checkpoint)
        t.wrap("session.broadcast_probe", self.session.broadcast_if_small)
        for name in ("create_table", "append", "overwrite", "delete_where",
                     "delete_where_mor", "merge", "merge_apply", "append_stream_batch"):
            t.wrap("sources.lake_write", getattr(self.laketable, name))
        t.wrap("sources.lake_commit", self.laketable._commit)
        for name in ("read_table", "read_changes"):
            t.wrap("sources.lake_read", getattr(self.laketable, name))
        t.wrap("operators.cache", self.dedup.register_cache)
        t.wrap("operators.components", self.dedup.connected_components)
        for name in ("pagerank", "dag_depths", "hop_distances", "closure_census",
                     "kcore_census", "lpa_labels"):
            t.wrap("operators.graph", getattr(self.graph, name))
        self.streams = StreamCounter()
        self.spark.streams.addListener(self.streams)

    # -- passes -------------------------------------------------------------
    def one_pass(self, oracle=None) -> dict:
        """Build every query once and write it to the noop sink; returns the
        pass record. With an ``oracle`` the sink is ``collect()`` instead and
        each result is compared with the oracle after its span ends."""
        rec = {"queries": {}}
        scratch_before = time.time()
        layers0 = self.tracer.snapshot() if self.tracer else None
        streams0 = self.streams.snapshot() if self.streams else None
        self.store.mark()
        for name in self.order:
            self.attempted += 1
            q = {}
            t0 = time.perf_counter()
            jobs0 = self.store.jobs_started()
            try:
                df = self.Q.QUERIES[name](self.spark, self.input_dir)
                t1 = time.perf_counter()
                q["build_jobs"] = self.store.jobs_started() - jobs0
                if oracle is None:
                    df.write.mode("overwrite").format("noop").save()
                else:
                    rows = df.collect()
                t2 = time.perf_counter()
                q["build_s"], q["exec_s"] = t1 - t0, t2 - t1
                if oracle is not None:
                    self.check(oracle, name, canon(df.columns, rows))
            except Exception:  # a failing query is a failed operation, not a crash
                self.failed += 1
                self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
                q["failed"] = True
            if self.tracer:
                q["cache_mb"] = self.cached_mb()
                q["sql"] = self.store.sql_nodes()
            rec["queries"][name] = q
        # the pass time is the sum of the query spans, so the status-store
        # reads between queries in a traced run are not part of it
        rec["wall_s"] = sum(q.get("build_s", 0.0) + q.get("exec_s", 0.0)
                            for q in rec["queries"].values())
        self.dedup.release_signature_caches()
        rec["spark"] = self.store.stage_delta()
        if self.tracer:
            rec["layers"] = delta(self.tracer.snapshot(), layers0)
            rec["streams"] = {k: v - streams0.get(k, 0.0) for k, v in self.stream_totals().items()}
            rec["lake_mb_written"] = written_mb(os.path.join(self.run_dir, "scratch"), scratch_before)
        return rec

    def cached_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def stream_totals(self) -> dict:
        # progress events arrive on the listener bus after the stream returns
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return self.streams.snapshot()

    def measure(self):
        """The cold pass, which also checks every result, then warm passes."""
        oracle = Oracle(self.raw_dir, self.session.TABLES)
        try:
            self.cold = self.one_pass(oracle)
        finally:
            oracle.close()
        self.warm = []
        t0 = time.perf_counter()
        while len(self.warm) < WARM_PASSES or time.perf_counter() - t0 < self.args.seconds:
            cpu0, jit0 = self.tree.cpu_s(), self.tree.jit_cpu_s()
            self.warm.append(self.one_pass())
            self.warm[-1]["jit_cpu_s"] = self.tree.jit_cpu_s() - jit0
            self.warm[-1]["cpu_s"] = self.tree.cpu_s() - cpu0 - self.warm[-1]["jit_cpu_s"]
        self.peak_rss = self.sampler.stop()

    def check(self, oracle, name: str, got) -> None:
        self.result_rows[name] = sum(got[1].values())
        bad = diff(name, got, oracle.rows(self.Q.ORACLES[name]))
        if bad:
            self.mismatches += 1
            self.failed += 1
            self.errors.append(bad)

    # -- results ------------------------------------------------------------
    def warm_s(self, name: str) -> float:
        """The median warm time of one query (build plus noop write)."""
        return median([sum(p["queries"][name].get(k, 0.0) for k in ("build_s", "exec_s"))
                       for p in self.warm])

    def warm_pass_s(self) -> float:
        """The sum over queries of each query's median warm time, so one
        slow execution of one query does not move it."""
        return sum(self.warm_s(name) for name in self.order)

    def end_to_end(self) -> dict:
        # pass wall times are in the trace and on stderr: on a host whose
        # CPU time is partly stolen by other guests they spread wider between
        # runs than any bound BENCHMARK.json may set. JIT compilation is
        # left out of cpu_s: it still falls from pass to pass long after the
        # work has levelled off (perfbench/README.md)
        return {
            "setup_s": (self.setup_s, "s"),
            "cpu_s": (median([p["cpu_s"] for p in self.warm]), "s"),
            "shuffle_mb": (median([p["spark"]["shuffle_write_mb"] for p in self.warm]), "MB"),
        }

    def per_layer(self) -> dict:
        n = len(self.warm)
        slots = int(os.environ["SPARK_GRAFT_CPUS"])

        def per_pass(f):
            return sum(f(p) for p in self.warm) / n

        def q_sum(key):
            return per_pass(lambda p: sum(q.get(key, 0.0) for q in p["queries"].values()))

        def layer(group, i):
            return per_pass(lambda p: p["layers"].get(group, (0, 0.0))[i])

        def sql(pred, metric, agg=sum):
            return per_pass(lambda p: agg(
                [m.get(metric, 0.0) for q in p["queries"].values()
                 for name, m in q.get("sql", ()) if pred(name, m)] or [0.0]))

        out = {
            "queries.build_s": (q_sum("build_s"), "s"),
            "queries.build_jobs": (q_sum("build_jobs"), "count"),
            "queries.exec_s": (q_sum("exec_s"), "s"),
        }
        for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                        ("task_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
                        ("input_mb", "MB"), ("shuffle_read_mb", "MB"),
                        ("shuffle_fetch_wait_s", "s"), ("spill_mb", "MB")):
            out[f"spark.{k}"] = (per_pass(lambda p, k=k: p["spark"][k]), unit)
        out["spark.idle_slot_s"] = (
            per_pass(lambda p: slots * p["wall_s"] - p["spark"]["task_s"]), "s")
        out["spark.jit_cpu_s"] = (per_pass(lambda p: p["jit_cpu_s"]), "s")
        out["spark.broadcast_mb"] = (
            sql(lambda name, m: "BroadcastExchange" in name, "data size"), "MB")
        out["session.start_s"] = (self.start_s, "s")
        out["session.checkpoint_calls"] = (layer("session.checkpoint", 0), "count")
        out["session.checkpoint_s"] = (layer("session.checkpoint", 1), "s")
        out["session.broadcast_probe_calls"] = (layer("session.broadcast_probe", 0), "count")
        out["session.broadcast_probe_s"] = (layer("session.broadcast_probe", 1), "s")
        out["bench.input_prep_s"] = (self.prep_s, "s")
        out["sources.layout_rewrite_s"] = (self.rewrite_s, "s")
        out["sources.lake_commits"] = (layer("sources.lake_commit", 0), "count")
        out["sources.lake_commit_s"] = (layer("sources.lake_commit", 1), "s")
        out["sources.lake_write_s"] = (layer("sources.lake_write", 1), "s")
        out["sources.lake_reads"] = (layer("sources.lake_read", 0), "count")
        out["sources.lake_mb_written"] = (per_pass(lambda p: p["lake_mb_written"]), "MB")
        out["operators.cache_tables"] = (layer("operators.cache", 0), "count")
        out["operators.cache_peak_mb"] = (
            max(q.get("cache_mb", 0.0) for p in self.warm for q in p["queries"].values()), "MB")
        out["operators.graph_s"] = (layer("operators.graph", 1), "s")
        out["operators.components_s"] = (layer("operators.components", 1), "s")
        cand = {name: per_pass(lambda p, name=name: max(
            [m.get("number of output rows", 0.0) for node, m in p["queries"][name].get("sql", ())
             if "Join" in node] or [0.0])) for name in self.order if name in PAIR_QUERIES}
        out["operators.candidate_pairs"] = (sum(cand.values()), "count")
        denom = sum(cand.values())
        out["operators.pair_yield"] = (
            sum(self.result_rows.get(n, 0) for n in cand) / denom if denom else 0.0, "ratio")
        def py(name, m):
            return "time to run Python workers" in m

        out["functions.python_run_s"] = (sql(py, "time to run Python workers"), "s")
        out["functions.python_start_s"] = (sql(py, "time to start Python workers"), "s")
        out["functions.python_rows"] = (sql(py, "number of output rows"), "count")
        out["functions.python_mb_returned"] = (sql(py, "data returned from Python workers"), "MB")
        for k, unit in (("batches", "count"), ("batch_s", "s"), ("add_batch_s", "s"),
                        ("commit_s", "s"), ("state_rows", "count")):
            out[f"streaming.{k}"] = (per_pass(lambda p, k=k: p["streams"].get(k, 0.0)), unit)
        out["spark.peak_rss_mb"] = (self.peak_rss, "MB")
        out["trace.cold_pass_s"] = (self.cold["wall_s"], "s")
        out["trace.pass_s"] = (self.warm_pass_s(), "s")
        return out

    def summary(self) -> str:
        """One stderr line per query: cold and median warm seconds."""
        cpus = "/".join(f"{p['cpu_s']:.1f}+{p['jit_cpu_s']:.1f}" for p in self.warm)
        lines = [f"{self.args.workload} seed={self.args.seed} warm_passes={len(self.warm)} "
                 f"inputs={self.prep_s:.2f}s start={self.start_s:.2f}s "
                 f"rewrite={self.rewrite_s:.2f}s "
                 f"setup={self.setup_s:.2f}s cold={self.cold['wall_s']:.2f}s "
                 f"pass={self.warm_pass_s():.2f}s "
                 f"cpu+jit/pass={cpus}s"]
        for name in self.order:
            cold = sum(self.cold["queries"][name].get(k, 0.0) for k in ("build_s", "exec_s"))
            lines.append(f"  {name:28s} cold {cold:6.2f}s  warm {self.warm_s(name):6.2f}s")
        return "\n".join(lines)

    def write_breakdown(self) -> None:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        per_query = {}
        for name in self.order:
            qs = [p["queries"][name] for p in self.warm]
            per_query[name] = {
                k: median([q.get(k, 0.0) for q in qs]) for k in ("build_s", "exec_s", "build_jobs")
            }
            per_query[name]["result_rows"] = self.result_rows.get(name)
        with open(os.path.join(out_dir, f"trace_{self.args.workload}.json"), "w") as f:
            json.dump({"workload": self.args.workload, "seed": self.args.seed,
                       "order": self.order, "warm_passes": len(self.warm),
                       "per_query": per_query}, f, indent=1)

    # -- teardown -----------------------------------------------------------
    def close(self) -> None:
        """Stop Spark and wait for the JVM and every Python worker to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = gateway.proc
        pids = [p for p in self.tree.pids() if p != os.getpid()]
        try:
            if self.tracer:
                self.tracer.unwrap()
            self.spark.stop()
        finally:
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
            deadline = time.time() + 15
            for pid in pids:
                while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                    time.sleep(0.05)
                if os.path.exists(f"/proc/{pid}"):
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass


def delta(now: dict, before: dict) -> dict:
    return {g: (c - before.get(g, (0, 0.0))[0], s - before.get(g, (0, 0.0))[1])
            for g, (c, s) in now.items()}


def written_mb(path: str, since: float) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except OSError:
                continue
            if st.st_mtime >= since:
                total += st.st_size
    return total / 2**20


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    hygiene(run_dir)
    run = Run(args, run_dir)
    try:
        run.setup()
        run.measure()
        metrics = run.per_layer() if args.trace else run.end_to_end()
        if args.trace:
            run.write_breakdown()
    finally:
        run.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:  # another run is still using it
            pass
    for e in run.errors:
        print(e, file=sys.stderr)
    print(run.summary(), file=sys.stderr)
    print(json.dumps({
        "correct": run.mismatches == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
