"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side of each layer call: the
traced replays below call the same public functions as
``kgforge.pipeline.run_insert`` and ``kgforge.rag.LightRAG.query``, in
the same order, and force each boundary with an action so that a
span's time belongs to its layer.  The five table stagings that
``run_insert`` overlaps on threads run one after another here, so a
traced operation is slower than an untraced one; the difference
between a traced and an untraced run is the tracing overhead.

Counts are taken at the same boundaries: Spark jobs and tasks from the
status tracker (``run_insert`` submits jobs from threads that carry no
job group, so job ids are diffed instead), store bytes from the
generation directories an operation created.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import functions as F

from kgforge import checkpoint as ckpt
from kgforge import pipeline as pl
from kgforge import query as q
from kgforge.chunking import doc_id_col
from kgforge.embedding import embed_text, top_k


class Tracer:
    """In-memory spans ``[name, start, end, parent]`` plus counters."""

    def __init__(self):
        self.spans = []
        self.counts = defaultdict(float)
        self._stack = []

    @contextmanager
    def span(self, name):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def count(self, name, value):
        self.counts[name] += value

    def self_times(self):
        """Seconds per span name: duration minus the time its child
        spans cover (children run one after another, never overlap)."""
        child = defaultdict(float)
        for _, start, end, parent in self.spans:
            if parent is not None:
                child[parent] += end - start
        out = defaultdict(float)
        for i, (name, start, end, _) in enumerate(self.spans):
            out[name] += (end - start) - child[i]
        return dict(out)

    def wall(self, name):
        return sum(e - s for n, s, e, _ in self.spans if n == name)


class SparkCounter:
    """Spark jobs, completed tasks and failed tasks since ``start()``."""

    def __init__(self, spark):
        self.st = spark.sparkContext.statusTracker()
        self._before = set()

    def _job_ids(self):
        return set(self.st.getJobIdsForGroup(None))

    def start(self):
        self._before = self._job_ids()

    def stop(self):
        jobs = sorted(self._job_ids() - self._before)
        tasks = failed = 0
        for j in jobs:
            info = self.st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = self.st.getStageInfo(s)
                if stage:
                    tasks += stage.numCompletedTasks
                    failed += stage.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


def store_dirs(root):
    """Bytes per generation directory (``<table>/<dir>``) of a store."""
    out = {}
    for table in os.listdir(root):
        tdir = os.path.join(root, table)
        if table.startswith("_") or not os.path.isdir(tdir):
            continue
        for d in os.listdir(tdir):
            path = os.path.join(tdir, d)
            out[f"{table}/{d}"] = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, files in os.walk(path) for f in files
            )
    return out


def bytes_written(before, after):
    return sum(n for d, n in after.items() if d not in before)


def traced_insert(spark, repos, store, config, tr):
    """``run_insert`` with a span around every layer call."""
    repos_ids = repos.withColumn("doc_id", doc_id_col()).withColumn(
        "content_sha", F.sha2(F.col("content"), 256)
    )
    with tr.span("store.read"):
        existing_ckpt = store.read("checkpoint")
        existing_nodes = store.read("nodes")
        existing_edges = store.read("edges")
    with tr.span("checkpoint.sha_gate"):
        todo = ckpt.sha_gate(repos_ids, existing_ckpt).persist()
        n_todo = todo.count()
    tr.count("checkpoint.docs_pending", n_todo)
    if n_todo == 0:
        todo.unpersist()
        return
    with tr.span("chunking.chunk"):
        # on the fused LLM path this UDF also runs the extractor
        raw, rejects = pl.extract_exploded(
            todo.drop("doc_id", "content_sha"), config
        )
        raw = raw.persist()
        tr.count("chunking.chunks_out", raw.count())
    with tr.span("extraction.extract"):
        exploded = pl.parse_extraction(raw).persist()
        n_ent, n_rel = exploded.select(
            F.sum(F.size("extraction.entities")),
            F.sum(F.size("extraction.relationships")),
        ).first()
    tr.count("extraction.entity_mentions", n_ent or 0)
    tr.count("extraction.relationship_mentions", n_rel or 0)
    with tr.span("canonicalize.explode"):
        ents, rels = pl.mentions_of(exploded, config)
        ents, rels = ents.persist(), rels.persist()
        n_mentions = ents.count() + rels.count()
    with tr.span("merge.reduce"):
        known_node_ids = None
        if existing_nodes is not None:
            known_node_ids = existing_nodes.select("entity_id")
            existing_nodes = existing_nodes.join(
                ents.select(F.col("entity_name").alias("entity_id"))
                .distinct(),
                "entity_id", "left_semi",
            )
        if existing_edges is not None:
            existing_edges = existing_edges.join(
                rels.select("src", "dst").distinct(),
                ["src", "dst"], "left_semi",
            )
        nodes, edges = pl.build_graph(
            ents, rels, existing_nodes=existing_nodes,
            existing_edges=existing_edges, config=config,
            known_node_ids=known_node_ids, persist=True,
        )
        nodes, edges = nodes.persist(), edges.persist()
        n_keys = nodes.count() + edges.count()
    tr.count("merge.nodes_out", nodes.count())
    tr.count("merge.edges_out", edges.count())
    tr.count("merge.mentions", n_mentions)
    tr.count("merge.keys", n_keys)

    chunks = pl.chunks_of(exploded)
    rejected = (
        todo.filter(F.col("lang") == "go")
        .select("doc_id", "repo", "lang", "content_sha", "path", "commit")
        .join(chunks.select("doc_id").distinct(), "doc_id", "left_anti")
        .withColumn("status", F.lit("go-parse-error"))
    )
    ckpt_rows = ckpt.build_checkpoint_rows(
        todo.select("doc_id", "repo", "lang", "content_sha"),
        ckpt.fused_metric_counts(exploded), now=config.now,
    )
    staged = []
    for name, df, keys in [
        ("chunks", chunks, ["chunk_id"]),
        ("edges", edges, ["src", "dst"]),
        ("nodes", nodes, ["entity_id"]),
        ("rejects", rejected, ["doc_id"]),
        ("checkpoint", ckpt_rows, ["doc_id"]),
    ]:
        with tr.span("store.stage"):
            staged.append(store.stage_upsert(name, df, keys))
    emb = None
    if config.with_embeddings:
        with tr.span("embedding.embed"):
            emb = pl.embedding_rows(nodes, edges).persist()
            tr.count("embedding.rows", emb.count())
        with tr.span("store.stage"):
            staged.append(store.stage_upsert("embeddings", emb, ["id", "kind"]))
    with tr.span("store.commit"):
        store.commit(staged)
    tr.count("store.buckets_touched", sum(s.buckets_touched for s in staged))
    for df in (todo, raw, exploded, ents, rels, nodes, edges, emb):
        if df is not None:
            df.unpersist()


def traced_query(rag, text, tr):
    """``LightRAG.query_text`` (no chat: the text is both keyword
    sets) with spans around the read-path calls.  ``embedding.top_k``
    is forced on its own, so its time is not hidden in the render."""
    store = rag.store
    with tr.span("store.read"):
        nodes, edges, chunks, embeddings = (
            store.read(t) for t in ("nodes", "edges", "chunks", "embeddings")
        )
    with tr.span("embedding.top_k"):
        top_k(
            embeddings.filter(F.col("kind") == "entity"),
            embed_text(text), rag.top_k,
        ).collect()
    with tr.span("query.query"):
        result = q.query(text, text, nodes, edges, chunks, embeddings,
                         rag.top_k)
    with tr.span("query.render_query_result"):
        out = q.render_query_result(result)
    tr.count("query.rows_returned", rows_returned(out))
    return out


def rows_returned(rendered):
    """Data rows of a rendered query result: three CSV sections, each
    a title, an opening fence, a header and a closing fence."""
    return len(rendered.strip("\n").split("\n")) - 3 * 4
