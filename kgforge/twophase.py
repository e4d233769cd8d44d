"""Two-phase ingest: chunk now, extract later (SURVEY.md §3.3).

The reference decouples chunking from extraction via the unprocessed
queue (InsertChunk insert.go:102-140, InsertChunks insert.go:67-100,
ProcessUnprocessedChunk insert.go:142-171, queue rag.go:86-96).

Batch-engine shape: a ``pending`` table of chunk ids.

- :func:`insert_chunks_only` (phase A): chunk the corpus, persist the
  chunks table, enqueue every chunk as pending — no extraction, no
  LLM cost.  Also accepts PRE-CHUNKED rows (the InsertChunks path,
  S9) via ``prechunked=True``.
- :func:`process_pending` (phase B): read pending chunk ids, extract
  + merge ONLY those chunks, mark done.  Re-running after a crash
  picks up exactly the still-pending set; keyed upserts keep it
  idempotent.  ``limit`` processes the queue in bounded slices (the
  work-queue consumption pattern).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.canonicalize import explode_mentions
from kgforge.chunking import build_chunks
from kgforge.extraction import extraction_col
from kgforge.pipeline import PipelineConfig, embedding_rows, merge_into_graph
from kgforge.store import ParquetTableStore


def insert_chunks_only(
    spark: SparkSession,
    source: DataFrame,
    store: ParquetTableStore,
    config: Optional[PipelineConfig] = None,
    prechunked: bool = False,
) -> dict:
    """Phase A: chunk + enqueue, no extraction.

    ``source`` is either a repos-shaped corpus, or (``prechunked``)
    already-chunked rows in CHUNKS_SCHEMA (the reference's
    InsertChunks external-chunker path, insert.go:67-100).
    """
    config = config or PipelineConfig()
    staged = []
    if prechunked:
        chunks = source
    else:
        chunks, rejects = build_chunks(
            source, config.chunk_max_tokens, config.chunk_overlap_tokens
        )
        staged.append(
            store.stage_upsert(
                "rejects",
                rejects.withColumn("status", F.lit("go-parse-error")),
                ["doc_id"],
            )
        )
    chunks = chunks.persist()
    n = chunks.count()
    staged.append(store.stage_upsert("chunks", chunks, ["chunk_id"]))
    pending = chunks.select(
        "chunk_id",
        "doc_id",
        "repo",
        "lang",
        F.lit("pending").alias("status"),
        F.lit(config.now).alias("enqueued_at"),
    )
    staged.append(store.stage_upsert("pending", pending, ["chunk_id"]))
    # chunks + queue become visible together (no chunk without its
    # pending row, so phase B can never miss work).
    store.commit(staged)
    chunks.unpersist()
    return {"n_chunks": n}


def process_pending(
    spark: SparkSession,
    store: ParquetTableStore,
    config: Optional[PipelineConfig] = None,
    limit: Optional[int] = None,
) -> dict:
    """Phase B: extract + merge the pending chunk set, mark done.

    The pending read + semi-join replaces the reference's
    KVUnprocessedKeys scan (bolt.go:124-143); docID recovery from the
    chunk id (insert.go:156-162) is unnecessary because the chunks
    table carries doc_id as a real column.
    """
    config = config or PipelineConfig()
    pending = store.read("pending")
    if pending is None:
        return {"n_processed": 0}
    todo_ids = pending.filter(F.col("status") == "pending").select(
        "chunk_id"
    )
    if limit is not None:
        todo_ids = todo_ids.orderBy("chunk_id").limit(limit)
    todo_ids = todo_ids.persist()
    n_todo = todo_ids.count()
    if n_todo == 0:
        todo_ids.unpersist()
        return {"n_processed": 0}

    chunks = store.read("chunks").join(todo_ids, "chunk_id", "left_semi")
    extracted = chunks.withColumn(
        "extraction", extraction_col(F.col("content"), config.extractor)
    )
    ents, rels = explode_mentions(extracted, config.entity_types)
    ents = ents.persist()
    rels = rels.persist()

    nodes, edges = merge_into_graph(store, ents, rels, config)
    # Stage graph + embeddings + queue-status writes, then commit them
    # together: a crash can no longer leave edges merged but the chunk
    # still "pending" (which would double-add the additive edge weight
    # on redelivery — the streaming path's exactly-once-effective
    # contract depends on this).
    staged = [
        store.stage_upsert("nodes", nodes, ["entity_id"]),
        store.stage_upsert("edges", edges, ["src", "dst"]),
    ]
    if config.with_embeddings:
        staged.append(
            store.stage_upsert(
                "embeddings", embedding_rows(nodes, edges), ["id", "kind"]
            )
        )

    done = (
        store.read("pending")
        .join(todo_ids, "chunk_id", "left_semi")
        .withColumn("status", F.lit("done"))
    )
    staged.append(store.stage_upsert("pending", done, ["chunk_id"]))
    store.commit(staged)
    out = {
        "n_processed": n_todo,
        "n_nodes": nodes.count(),
        "n_edges": edges.count(),
    }
    for df in (todo_ids, ents, rels, nodes, edges):
        df.unpersist()
    return out
