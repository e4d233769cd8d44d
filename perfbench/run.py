#!/usr/bin/env python3
"""KG-construction benchmark for kgforge.

    python3 perfbench/run.py --workload ingest-full --seed 1 --seconds 10 --trace 0

Generates a seeded source-code corpus, drives ``kgforge.pipeline.run_insert``
and ``kgforge.rag.LightRAG.query_text`` from outside, checks their outputs
and prints one report line per metric (name, value, unit, samples), then
one JSON object as the last line.  ``--trace 1`` replays the same calls
with a span per layer and prints the per-layer metrics instead.  Exits
non-zero when an output check fails.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

N_FILES = 60
DRIVER_MEMORY = "3g"
WORKLOADS = ("ingest-full", "query")


class ProcessTree:
    """This process and all its descendants (Spark JVM, Python daemon
    and workers): samples their summed RSS, sums their CPU time, and
    remembers every descendant it saw, so the benchmark can wait for
    each to end."""

    PAGE = os.sysconf("SC_PAGE_SIZE")
    TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, interval=0.2):
        self.interval = interval
        self.peak = 0
        self.seen = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _procs():
        kids, start, cpu = defaultdict(list), {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            kids[int(fields[1])].append(int(d))
            start[int(d)] = fields[19]
            # utime, stime, cutime, cstime: reaped workers count too
            cpu[int(d)] = sum(int(x) for x in fields[11:15])
        return kids, start, cpu

    def cpu_s(self):
        kids, _, cpu = self._procs()
        todo, ticks = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, ()))
            ticks += cpu.get(pid, 0)
        return ticks / self.TICK

    def sample(self):
        kids, start, _ = self._procs()
        todo, rss = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    rss += int(fh.read().split()[1]) * self.PAGE
            except OSError:
                continue
            if pid != os.getpid():
                self.seen[pid] = start.get(pid)
        self.peak = max(self.peak, rss)

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self):
        self.sample()
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join()

    def alive(self):
        _, start, _ = self._procs()
        return [p for p, s in self.seen.items() if start.get(p) == s]

    def wait_all_ended(self, timeout=60.0):
        deadline = time.monotonic() + timeout
        while self.alive() and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in self.alive():
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        while self.alive() and time.monotonic() < deadline + 10:
            time.sleep(0.2)


def start_session(work):
    """A local[nproc] session sized for a small box: the driver heap is
    DRIVER_MEMORY instead of build_session's 48g default, shuffles and
    store buckets use one partition per core, AQE is off, and every
    scratch file lands under ``work``."""
    from kgforge.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    spark = build_session(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                # C1 only: a run lasts about a minute, too short for
                # C2 compiles to pay back the cores they take
                "-XX:TieredStopAtLevel=1",
            "spark.ui.showConsoleProgress": "false",
            # MB-sized shuffles at one partition per core leave AQE
            # nothing to coalesce or split; it only adds a re-planning
            # round per stage (a cold ingest 44 s -> 35 s, warm
            # 22 s -> 14 s on a 4-core VM)
            "spark.sql.adaptive.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, nproc


def stop_session(spark):
    """Stop Spark and end its JVM (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def percentile_tail(values):
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    n = len(values)
    if n < 11:
        return None
    p = int(100 * (n - 10) / n)
    ordered = sorted(values)
    return p, ordered[min(n - 1, int(n * p / 100))]


def steal_ticks():
    """(steal, total) CPU ticks of the machine: time the hypervisor
    gave this VM's CPUs to someone else."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


class Bench:
    def __init__(self, args, work, procs):
        self.args = args
        self.work = work
        self.procs = procs
        self.trace = bool(args.trace)
        self.failures = []
        self.report = []
        self.n_stores = 0
        self.last_store = None

    def new_store(self):
        from kgforge.store import ParquetTableStore

        self.n_stores += 1
        root = os.path.join(self.work, "stores", f"s{self.n_stores}")
        return ParquetTableStore(self.spark, root, n_buckets=self.nproc)

    def repos(self, corpus):
        from kgforge.schemas import REPOS_SCHEMA

        cols = REPOS_SCHEMA.fieldNames()
        return self.spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in corpus.rows], REPOS_SCHEMA
        )

    def insert(self, corpus, store, config, traced):
        """One ingest; in a traced insert, spans go to ``self.tracer``
        and store bytes are counted."""
        from kgforge.pipeline import run_insert

        from perfbench import trace

        repos = self.repos(corpus)
        if not traced:
            return run_insert(self.spark, repos, store, config)
        before = trace.store_dirs(store.root)
        trace.traced_insert(self.spark, repos, store, config, self.tracer)
        self.bytes_written += trace.bytes_written(
            before, trace.store_dirs(store.root)
        )
        self.input_bytes += corpus.input_bytes()
        return None

    def metric(self, name, value, unit, n=1):
        self.report.append((name, value, unit, n))

    # ---------------------------------------------------------------- run

    def run(self):
        from kgforge.pipeline import PipelineConfig

        from perfbench import corpus as gen
        from perfbench import trace

        t0 = time.perf_counter()
        self.spark, self.nproc = start_session(self.work)
        self.session_start_s = time.perf_counter() - t0
        self.tracer = trace.Tracer()
        self.counter = trace.SparkCounter(self.spark)
        self.bytes_written = self.input_bytes = 0
        self.corpus = gen.generate(self.args.seed, N_FILES)
        self.config = PipelineConfig()
        self.op_metrics = []
        try:
            if self.args.workload == "query":
                self.setup_query()
            self.setup_s = time.perf_counter() - t0
            self.measure(
                self.op_query if self.args.workload == "query"
                else self.op_ingest_full
            )
            self.check()
            if self.trace and self.args.workload == "ingest-full":
                self.ingest_llm()
                self.read_back()
            if self.trace and self.args.workload == "query":
                # untraced repeat of the traced first query
                self.query(self.mix[0][1], traced=False)
                if not self.repeats:
                    self.failures.append("no query was repeated")
        finally:
            stop_session(self.spark)

    def measure(self, op):
        """Closed loop, one client: run operations back to back until
        ``--seconds`` have passed (at least one).  In a traced run every
        operation is traced."""
        self.latency, self.cpu = [], []
        self.attempted = self.failed = 0
        self.counter.start()
        steal0 = steal_ticks()
        start = time.perf_counter()
        while True:
            t, c = time.perf_counter(), self.procs.cpu_s()
            self.attempted += 1
            try:
                op(self.attempted - 1, self.trace)
            except Exception as exc:  # noqa: BLE001 — counted as a failed op
                self.failed += 1
                self.failures.append(f"op {self.attempted - 1}: "
                                     f"{type(exc).__name__}: {exc}")
            else:
                self.latency.append(time.perf_counter() - t)
                self.cpu.append(self.procs.cpu_s() - c)
            if time.perf_counter() - start >= self.args.seconds:
                break
        steal1 = steal_ticks()
        self.steal_share = ((steal1[0] - steal0[0])
                            / max(1, steal1[1] - steal0[1]))
        self.jobs = {k: v / self.attempted
                     for k, v in self.counter.stop().items()}

    # ------------------------------------------------------- ingest-full

    def op_ingest_full(self, i, traced):
        """One ingest of the whole corpus into a fresh store.  The first
        one in a run meets a cold JVM, as a batch ingest job does."""
        store = self.new_store()
        self.op_metrics.append(
            self.insert(self.corpus, store, self.config, traced)
        )
        if self.last_store is not None:
            shutil.rmtree(self.last_store.root, ignore_errors=True)
        self.last_store = store

    # ------------------------------------------------------------- query

    def setup_query(self):
        """Build the graph with the heuristic extractor."""
        from kgforge.rag import LightRAG

        from perfbench import corpus as gen

        self.last_store = self.new_store()
        self.op_metrics.append(self.insert(
            self.corpus, self.last_store, self.config, self.trace
        ))
        self.rag = LightRAG(self.spark, self.last_store.root)
        self.mix = gen.query_mix(self.corpus, 1000)
        self.answers = {}
        self.repeats = 0

    def query(self, text, traced):
        from perfbench import trace

        if traced:
            out = trace.traced_query(self.rag, text, self.tracer)
        else:
            out = self.rag.query_text([{"role": "user", "message": text}])
        seen = self.answers.setdefault(text, out)
        self.repeats += seen is not out
        if seen != out:
            self.failures.append(f"query {text!r}: repeated answer differs")
        return out

    def op_query(self, i, traced):
        self.query(self.mix[i % len(self.mix)][1], traced)

    # ------------------------------------------------------------ checks

    def check(self):
        from perfbench import checks

        store = self.last_store
        self.failures += checks.content_sha(store, self.corpus)
        graph_failures, self.graph = checks.graph_matches_heuristic(store)
        self.failures += graph_failures
        n = len(self.corpus.rows)
        for m in self.op_metrics:
            if m is not None and m["docs_processed"] != n:
                self.failures.append(
                    f"docs_processed {m['docs_processed']} != {n}"
                )
        shapes = {
            (m["n_chunks"], m["n_nodes"], m["n_edges"])
            for m in self.op_metrics if m is not None
        }
        if len(shapes) > 1:
            self.failures.append(f"ingests disagree on graph size: {shapes}")
        if self.args.workload == "query":
            self.check_query()

    def check_query(self):
        nodes = self.graph[0]
        hits = defaultdict(lambda: [0, 0])
        for kind, text in set(self.mix):
            for w in text.split():
                hits[kind][0] += w.upper() in nodes
                hits[kind][1] += 1
        for kind, (hit, total) in sorted(hits.items()):
            self.metric(f"query_keyword_hit_share.{kind}", hit / total,
                        "ratio", total)

    def ingest_llm(self):
        """Traced ingest-full runs also ingest the corpus through the
        simulated-LLM extractor (the fused chunk+extract UDF and the
        JSON wire); its graph must equal the heuristic one."""
        from kgforge.pipeline import PipelineConfig

        from perfbench import checks, llmsim

        calls, busy = llmsim.register(self.spark)
        store = self.new_store()
        chunk_wall = self.tracer.wall("chunking.chunk")
        self.insert(self.corpus, store,
                    PipelineConfig(extractor=llmsim.EXTRACTOR), traced=True)
        self.llm_chunk_wall = self.tracer.wall("chunking.chunk") - chunk_wall
        self.llm_calls, self.llm_busy = calls.value, busy.value
        n_chunks = store.read("chunks").count()
        # one extraction call and one glean call per chunk
        if self.llm_calls != 2 * n_chunks:
            self.failures.append(
                f"llm calls {self.llm_calls} != 2 x {n_chunks} chunks"
            )
        failures, graph = checks.graph_matches_heuristic(store)
        self.failures += failures
        if checks.digest(graph) != checks.digest(self.graph):
            self.failures.append("llm graph digest != heuristic digest")

    # ----------------------------------------------------------- results

    def end_to_end(self, rss_peak):
        lat = self.latency
        n = len(lat)
        self.metric("setup_s", self.setup_s, "s")
        self.metric("session.start_s", self.session_start_s, "s")
        if lat:
            self.metric("op_latency_p50_s", statistics.median(lat), "s", n)
            self.metric("op_cpu_p50_s", statistics.median(self.cpu), "s", n)
        tail = percentile_tail(lat)
        if tail:
            self.metric(f"op_latency_tail_s.p{tail[0]}", tail[1], "s", n)
        else:
            self.report.append(("op_latency_tail_s", "n/a (needs >= 11 "
                                "samples)", "s", n))
        if lat and self.args.workload == "ingest-full":
            self.metric("files_per_s", len(self.corpus.rows) /
                        statistics.median(lat), "1/s", n)
        if lat and self.args.workload == "query":
            self.metric("queries_per_s", n / sum(lat), "1/s", n)
        self.metric("ops_failed_ratio", self.failed / self.attempted,
                    "ratio", self.attempted)
        self.metric("peak_rss_gib", rss_peak / 2**30, "GiB")
        self.metric("host_steal_share", self.steal_share, "ratio")
        for k, v in self.jobs.items():
            self.metric(f"spark.{k}", v, "count", self.attempted)

    def per_layer(self):
        tr = self.tracer
        st = tr.self_times()
        c = tr.counts
        s = lambda name: st.get(name, 0.0)  # noqa: E731
        calls = busy = chunk_wall = 0
        if self.args.workload == "ingest-full":
            calls, busy = self.llm_calls, self.llm_busy
            chunk_wall = self.llm_chunk_wall
        rows = [
            ("session.start_s", self.session_start_s, "s"),
            ("checkpoint.sha_gate_s", s("checkpoint.sha_gate"), "s"),
            ("checkpoint.docs_pending", c["checkpoint.docs_pending"], "count"),
            ("chunking.chunk_s", s("chunking.chunk"), "s"),
            ("chunking.chunks_out", c["chunking.chunks_out"], "count"),
            ("extraction.extract_s", s("extraction.extract"), "s"),
            ("extraction.entity_mentions",
             c["extraction.entity_mentions"], "count"),
            ("extraction.relationship_mentions",
             c["extraction.relationship_mentions"], "count"),
            ("llm.calls", calls, "count"),
            ("llm.busy_s", busy, "s"),
            ("llm.overlap", busy / chunk_wall if chunk_wall else 0.0,
             "ratio"),
            ("canonicalize.explode_s", s("canonicalize.explode"), "s"),
            ("merge.reduce_s", s("merge.reduce"), "s"),
            ("merge.nodes_out", c["merge.nodes_out"], "count"),
            ("merge.edges_out", c["merge.edges_out"], "count"),
            ("merge.mentions_per_key",
             c["merge.mentions"] / max(1, c["merge.keys"]), "ratio"),
            ("store.stage_s", s("store.stage"), "s"),
            ("store.commit_s", s("store.commit"), "s"),
            ("store.read_s", s("store.read"), "s"),
            ("store.buckets_touched", c["store.buckets_touched"], "count"),
            ("store.bytes_written", self.bytes_written, "bytes"),
            ("store.write_amplification",
             self.bytes_written / max(1, self.input_bytes), "ratio"),
            ("embedding.embed_s", s("embedding.embed"), "s"),
            ("embedding.rows", c["embedding.rows"], "count"),
            ("embedding.top_k_s", s("embedding.top_k"), "s"),
            ("query.plan_s", s("query.query"), "s"),
            ("query.exec_s", s("query.render_query_result"), "s"),
            ("query.rows_returned", c["query.rows_returned"], "count"),
            ("spark.jobs", self.jobs["jobs"], "count"),
            ("spark.tasks", self.jobs["tasks"], "count"),
            ("spark.failed_tasks", self.jobs["failed_tasks"], "count"),
            # minus op_latency_p50_s of an untraced run of the same
            # seed: the tracing overhead
            ("trace.op_latency_s", statistics.median(self.latency), "s"),
        ]
        for name, value, unit in rows:
            n = self.attempted if name.startswith(("spark.", "trace.")) else 1
            self.metric(name, value, unit, n)

    def read_back(self):
        """Traced ingest-full runs also query the graph they built, so
        the read-path layers are timed on every workload."""
        from kgforge.rag import LightRAG

        from perfbench import corpus as gen
        from perfbench import trace

        rag = LightRAG(self.spark, self.last_store.root)
        trace.traced_query(rag, gen.query_mix(self.corpus, 1)[0][1],
                           self.tracer)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None):
    args = parse_args(argv)
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(dir=WORK_ROOT)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark's JVM, its Python workers and tempfile all write under work
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)

    procs = ProcessTree()
    procs.start()
    bench = Bench(args, work, procs)
    try:
        bench.run()
    finally:
        procs.stop()
        procs.wait_all_ended()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        bench.per_layer()
    else:
        bench.end_to_end(procs.peak)
    for name, value, unit, n in bench.report:
        shown = f"{value:.6g}" if isinstance(value, float) else value
        print(f"metric {name} = {shown} {unit} (n={n})")
    for msg in bench.failures:
        print(f"CHECK FAILED: {msg}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        wanted = {
            m["name"]
            for m in json.load(fh)["per_layer" if args.trace else "end_to_end"]
        }
    metrics = {
        name: {"value": value, "unit": unit}
        for name, value, unit, _ in bench.report if name in wanted
    }
    correct = not bench.failures
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
