"""Spark schemas for the KG-construction engine.

Maps the reference's Go structs (SURVEY.md §1.1) onto Spark
StructTypes:

- ``Source`` (chunk)           -> CHUNK_SCHEMA       (rag.go:109-114)
- ``GraphEntity`` (node)       -> NODE_SCHEMA        (rag.go:181-187,
  Kuzu DDL storage/kuzu.go:51-59)
- ``GraphRelationship`` (edge) -> EDGE_SCHEMA        (rag.go:192-200,
  storage/kuzu.go:61-69)
- extraction result            -> EXTRACTION_SCHEMA  (llmResult,
  insert.go:319-322)
- input corpus per BASELINE.json input_hint -> REPOS_SCHEMA
- checkpoint / lineage table   -> CHECKPOINT_SCHEMA  (unprocessed
  queue, rag.go:86-96 + per-partition lineage per the north rule)

The reference packs list fields into ``"<SEP>"``-joined strings at the
storage boundary (insert.go:62, 522-538).  Internally we keep arrays
(ArrayType) and only render ``<SEP>`` strings at fixture-comparison /
export boundaries.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# The reference joins multi-valued fields with this separator
# (insert.go:62).
SEP = "<SEP>"

# Input corpus (BASELINE.json input_hint): Iceberg/parquet table of
# source-code repositories, partitioned by (repo, lang).
REPOS_SCHEMA = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("content", StringType(), True),
    ]
)

# One chunk row (Source, rag.go:109-114) + lineage columns.
# chunk_id = "<doc_id>-chunk-<order_index>" (rag.go:264-266).
# content_sha = sha256 of the PARENT document content — the per-row
# ingest invariant (ContentChunk.TextHash is sha256, rag.go:147-148).
CHUNKS_SCHEMA = StructType(
    [
        StructField("chunk_id", StringType(), False),
        StructField("doc_id", StringType(), False),
        StructField("repo", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("order_index", IntegerType(), False),
        StructField("content", StringType(), False),
        StructField("token_size", IntegerType(), False),
        StructField("content_sha", StringType(), False),
    ]
)

# Element type returned by a chunker UDF before posexplode.
CHUNK_ELEMENT_SCHEMA = StructType(
    [
        StructField("content", StringType(), False),
        StructField("token_size", IntegerType(), False),
        StructField("order_index", IntegerType(), False),
    ]
)

# Raw extraction output per chunk: the llmResult JSON shape
# (insert.go:319-322; field tags rag.go:181-200).
ENTITY_MENTION_SCHEMA = StructType(
    [
        StructField("entity_name", StringType(), True),
        StructField("entity_type", StringType(), True),
        StructField("entity_description", StringType(), True),
    ]
)
RELATIONSHIP_MENTION_SCHEMA = StructType(
    [
        StructField("source_entity", StringType(), True),
        StructField("target_entity", StringType(), True),
        StructField("relationship_description", StringType(), True),
        StructField("relationship_keywords", ArrayType(StringType()), True),
        StructField("relationship_strength", DoubleType(), True),
    ]
)
EXTRACTION_SCHEMA = StructType(
    [
        StructField("entities", ArrayType(ENTITY_MENTION_SCHEMA), True),
        StructField(
            "relationships", ArrayType(RELATIONSHIP_MENTION_SCHEMA), True
        ),
    ]
)

# Materialized node table (GraphEntity, rag.go:181-187; Kuzu DDL
# storage/kuzu.go:51-59).  descriptions/source_ids kept as sorted
# arrays internally; `<SEP>` strings only at export.
# Hot-key bound (VERDICT r3): source_ids is a bounded sorted SAMPLE
# (ascending prefix + exact max — see merge.DEFAULT_MAX_SOURCES);
# n_sources carries the EXACT distinct count, so count/min/max stay
# exact even for a mega-entity whose full id list would OOM a reducer.
NODES_SCHEMA = StructType(
    [
        StructField("entity_id", StringType(), False),
        StructField("entity_type", StringType(), False),
        StructField("descriptions", ArrayType(StringType()), False),
        StructField("source_ids", ArrayType(StringType()), False),
        StructField("n_sources", LongType(), False),
        StructField("created_at", TimestampType(), True),
    ]
)

# Materialized edge table (GraphRelationship, rag.go:192-200; Kuzu DDL
# storage/kuzu.go:61-69).  Undirected: stored once on the canonical
# pair (least, greatest) instead of Kuzu's double write
# (kuzu.go:226-235).
EDGES_SCHEMA = StructType(
    [
        StructField("src", StringType(), False),
        StructField("dst", StringType(), False),
        StructField("weight", DoubleType(), False),
        StructField("descriptions", ArrayType(StringType()), False),
        StructField("keywords", ArrayType(StringType()), False),
        StructField("source_ids", ArrayType(StringType()), False),
        StructField("n_sources", LongType(), False),
        StructField("created_at", TimestampType(), True),
    ]
)

# Embedding table (ContentEmbedding, rag.go:163-176; vector plane
# rag.go:64-82).  kind ∈ {entity, relationship, chunk}.
# Relationship rows carry src/dst as REAL columns (null for entities):
# recovering the edge key by splitting a delimiter-joined id would
# reintroduce the reference's 'SOURCE-TARGET' '-'-split ambiguity
# (insert.go:583) for names containing the delimiter.  The id itself
# is length-prefixed ("<len(src)>|<src>|<dst>") so distinct edges can
# never collide on the upsert key.
EMBEDDINGS_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("vector", ArrayType(FloatType()), False),
        StructField("model", StringType(), True),
        StructField("created_at", TimestampType(), True),
        StructField("src", StringType(), True),
        StructField("dst", StringType(), True),
    ]
)

# Checkpoint / lineage table: the unprocessed queue (rag.go:86-96,
# storage/bolt.go:83-143) generalized to per-partition lineage +
# metrics per the north rule.
CHECKPOINT_SCHEMA = StructType(
    [
        StructField("partition_id", StringType(), False),
        StructField("repo", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("doc_id", StringType(), False),
        StructField("content_sha", StringType(), False),
        StructField("status", StringType(), False),  # pending | done
        StructField("n_chunks", IntegerType(), True),
        StructField("n_entities", IntegerType(), True),
        StructField("n_relationships", IntegerType(), True),
        StructField("updated_at", TimestampType(), True),
    ]
)

# Multimodal asset table: opaque binary payload + typed metadata
# (training-data pipeline extension; decode is stubbed, plumbing real).
ASSETS_SCHEMA = StructType(
    [
        StructField("asset_id", StringType(), False),
        StructField("kind", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)
