"""Pipeline-level tests: sha gate, resume idempotence (F6), lineage."""

import pytest
from pyspark.sql import functions as F

from kgforge.pipeline import PipelineConfig, run_insert
from kgforge.store import ParquetTableStore


@pytest.fixture()
def store(spark, tmp_path):
    return ParquetTableStore(spark, str(tmp_path / "tables"))


def _corpus(spark):
    rows = [
        ("example.com/calc", "add.go", "c1", "go",
         "package example\n\nfunc Add(a, b int) int {\n\treturn a + b\n}"),
        ("example.com/calc", "doc.txt", "c1", "text",
         "analytics engines shuffle partitions between executors nightly"),
        ("example.com/web", "notes.txt", "c2", "text",
         "vectorized execution pipelines stream batches through operators"),
    ]
    return spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string",
    )


def test_run_and_skip_unchanged(spark, store):
    cfg = PipelineConfig()
    m1 = run_insert(spark, _corpus(spark), store, cfg)
    assert m1["docs_processed"] == 3 and m1["n_chunks"] >= 4
    # second run: sha gate skips everything (S2, rag_test.go:585-624)
    m2 = run_insert(spark, _corpus(spark), store, cfg)
    assert m2["docs_processed"] == 0 and m2["docs_skipped"] == 3


def test_changed_content_reprocessed(spark, store):
    cfg = PipelineConfig()
    run_insert(spark, _corpus(spark), store, cfg)
    changed = _corpus(spark).withColumn(
        "content",
        F.when(
            F.col("path") == "doc.txt",
            F.lit("completely different wording about buffers caches"),
        ).otherwise(F.col("content")),
    )
    m = run_insert(spark, changed, store, cfg)
    assert m["docs_processed"] == 1  # only the hash-changed file


def test_resume_from_checkpoint_converges(spark, store):
    """F6: delete done rows for one partition, rerun -> only that
    partition re-extracts and the final graph state is unchanged
    (keyed-upsert idempotence)."""
    cfg = PipelineConfig()
    run_insert(spark, _corpus(spark), store, cfg)

    def graph_state():
        nodes = {
            (r.entity_id, r.entity_type, tuple(r.descriptions),
             tuple(r.source_ids))
            for r in store.read("nodes").collect()
        }
        edges = {
            (r.src, r.dst, r.weight, tuple(sorted(r.keywords)),
             tuple(r.source_ids))
            for r in store.read("edges").collect()
        }
        return nodes, edges

    before = graph_state()

    # simulate a lost partition: drop its checkpoint rows
    ckpt = store.read("checkpoint")
    store.overwrite(
        "checkpoint",
        ckpt.filter(F.col("repo") != "example.com/web"),
        keys=["doc_id"],
    )
    m = run_insert(spark, _corpus(spark), store, cfg)
    assert m["docs_processed"] == 1  # only the dropped partition's doc

    after = graph_state()
    # weights for re-processed docs re-add per reference semantics
    # (insert.go:595-615) — but node/edge KEYS and list fields converge.
    assert {n[0] for n in after[0]} == {n[0] for n in before[0]}
    assert {(e[0], e[1]) for e in after[1]} == {
        (e[0], e[1]) for e in before[1]
    }
    # descriptions/source_ids stay deduped after re-run
    nodes_after = {n[0]: n for n in after[0]}
    nodes_before = {n[0]: n for n in before[0]}
    for k in nodes_before:
        assert nodes_after[k][2] == nodes_before[k][2]
        assert nodes_after[k][3] == nodes_before[k][3]


def test_checkpoint_lineage_and_metrics(spark, store):
    run_insert(spark, _corpus(spark), store, PipelineConfig())
    rows = {r.doc_id: r for r in store.read("checkpoint").collect()}
    assert len(rows) == 3
    for r in rows.values():
        assert r.status == "done"
        assert r.partition_id == f"{r.repo}/{r.lang}"
        assert len(r.content_sha) == 64
        assert r.n_chunks >= 1
        assert r.n_entities >= 0 and r.n_relationships >= 0
    go_doc = rows["example.com/calc:add.go@c1"]
    assert go_doc.n_chunks == 2  # header + func per the Go scanner


def test_embeddings_written(spark, store):
    run_insert(spark, _corpus(spark), store, PipelineConfig())
    emb = store.read("embeddings")
    kinds = {r.kind for r in emb.select("kind").distinct().collect()}
    assert kinds == {"entity", "relationship"}
    one = emb.limit(1).collect()[0]
    assert len(one.vector) == 64


def test_incremental_merge_preserves_untouched_rows(spark, store):
    """Delta runs only re-aggregate touched keys; disjoint existing
    rows (incl. earlier placeholders) survive byte-identical and no
    duplicate placeholders are created for known entities."""
    import json

    from kgforge.canonicalize import DEFAULT_ENTITY_TYPES
    from kgforge.extraction import EXTRACTORS, FixtureExtractor

    def corpus(path, marker):
        return spark.createDataFrame(
            [("r", path, "c", "text", f"text with {marker} inside")],
            "repo string, path string, commit string, lang string, "
            "content string",
        )

    p1 = {
        "entities": [{"entity_name": "Alpha", "entity_type": "person",
                      "entity_description": "a"}],
        "relationships": [{"source_entity": "Alpha",
                           "target_entity": "Ghost",
                           "relationship_description": "r1",
                           "relationship_keywords": ["K1"],
                           "relationship_strength": 1.0}],
    }
    p2 = {
        "entities": [{"entity_name": "Beta", "entity_type": "person",
                      "entity_description": "b"}],
        "relationships": [{"source_entity": "Beta",
                           "target_entity": "Ghost",
                           "relationship_description": "r2",
                           "relationship_keywords": ["K2"],
                           "relationship_strength": 1.0}],
    }
    EXTRACTORS["_inc"] = lambda: FixtureExtractor(
        {"MARK-ONE": p1, "MARK-TWO": p2}
    )
    try:
        cfg = PipelineConfig(extractor="_inc",
                             entity_types=DEFAULT_ENTITY_TYPES)
        run_insert(spark, corpus("one.txt", "MARK-ONE"), store, cfg)
        nodes1 = {r.entity_id: r for r in store.read("nodes").collect()}
        assert nodes1["GHOST"].entity_type == "UNKNOWN"

        run_insert(spark, corpus("two.txt", "MARK-TWO"), store, cfg)
        nodes2 = {r.entity_id: r for r in store.read("nodes").collect()}
        # ALPHA untouched by run 2 -> identical row
        assert nodes2["ALPHA"].descriptions == nodes1["ALPHA"].descriptions
        assert nodes2["ALPHA"].source_ids == nodes1["ALPHA"].source_ids
        # GHOST existed -> no duplicate placeholder, still one row
        assert sum(1 for k in nodes2 if k == "GHOST") == 1
        assert set(nodes2) == {"ALPHA", "BETA", "GHOST"}
        edges = {(r.src, r.dst): r for r in store.read("edges").collect()}
        assert set(edges) == {("ALPHA", "GHOST"), ("BETA", "GHOST")}
    finally:
        del EXTRACTORS["_inc"]


def test_unembedded_chunks_backfill(spark, store):
    """GetUnembeddedChunks (chunk_storage.go:9-30) + backfill loop:
    after run_insert (which embeds only entities/relationships), every
    chunk is unembedded; one backfill pass embeds all; a second is a
    no-op."""
    from kgforge.embedding import backfill_chunk_embeddings, unembedded_chunks
    from kgforge.pipeline import run_insert, PipelineConfig

    docs = spark.createDataFrame(
        [("r1", f"f{a}.txt", "c", "text", f"doc {a} about spark engines")
         for a in range(5)],
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    run_insert(spark, docs, store, PipelineConfig())
    assert unembedded_chunks(
        store.read("chunks"), store.read("embeddings")
    ).count() == 5
    assert backfill_chunk_embeddings(store) == 5
    assert unembedded_chunks(
        store.read("chunks"), store.read("embeddings")
    ).count() == 0
    assert backfill_chunk_embeddings(store) == 0


@pytest.mark.parametrize("extractor", ["heuristic", "fixture"])
def test_fused_udf_matches_standalone_chunker(spark, extractor):
    """Regression guard: the ingest chunk frame — chunk-only for the
    heuristic extractor, fused chunk+extract for opaque ones — must
    hold exactly the chunks build_chunks produces, including Go
    dispatch and reject routing."""
    from kgforge.chunking import build_chunks
    from kgforge.pipeline import (
        PipelineConfig,
        chunks_of,
        extract_exploded,
        parse_extraction,
    )

    repos = spark.createDataFrame(
        [
            ("r1", "a.go", "c", "go",
             "package a\n\nfunc F() int {\n\treturn 1\n}"),
            ("r1", "b.txt", "c", "text", "plain text about spark " * 40),
            ("r1", "c.md", "c", "markdown", "# T\n\nBody text here."),
            ("r1", "bad.go", "c", "go", "not valid go"),
        ],
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    cfg = PipelineConfig(
        extractor=extractor, chunk_max_tokens=64, chunk_overlap_tokens=16
    )
    exploded, rejects_f = extract_exploded(repos, cfg)
    assert ("extraction_json" in exploded.columns) == (
        extractor == "fixture"
    )
    fused_chunks = chunks_of(parse_extraction(exploded))
    plain_chunks, rejects_p = build_chunks(repos, 64, 16)

    cols = ["chunk_id", "order_index", "content", "token_size",
            "content_sha"]
    f = sorted(tuple(r) for r in fused_chunks.select(*cols).collect())
    p = sorted(tuple(r) for r in plain_chunks.select(*cols).collect())
    assert f == p and len(f) > 3
    assert (
        {r.doc_id for r in rejects_f.collect()}
        == {r.doc_id for r in rejects_p.collect()}
        == {"r1:bad.go@c"}
    )


def test_crash_mid_commit_then_rerun_converges_exactly(spark, tmp_path):
    """End-to-end durability: kill run_insert at the manifest pointer
    swap (after ALL staging, the last possible instant), then re-run.
    The sha-gate re-admits every doc because the checkpoint never
    became visible — and because the graph tables ALSO never became
    visible, the re-run converges to exactly a clean single run's
    state: no double-counted additive edge weights (the failure mode
    the old multi-rename commit window allowed)."""
    import pytest as _pytest

    from kgforge.pipeline import PipelineConfig, run_insert
    from kgforge.store import ParquetTableStore

    def docs(spark):
        rows = [
            ("r1", f"f{a}.txt", "HEAD", "text",
             f"document {a} about spark tables joining streams")
            for a in range(12)
        ]
        return spark.createDataFrame(
            rows,
            "repo string, path string, commit string, lang string, "
            "content string",
        )

    cfg = PipelineConfig(chunk_max_tokens=512, chunk_overlap_tokens=0)

    # reference: one clean run
    ref_store = ParquetTableStore(spark, str(tmp_path / "ref"))
    run_insert(spark, docs(spark), ref_store, cfg)
    ref_edges = {
        (r.src, r.dst): r.weight
        for r in ref_store.read("edges").collect()
    }

    # crash run: fail the atomic pointer swap once
    store = ParquetTableStore(spark, str(tmp_path / "crash"))
    real_replace = store._replace
    state = {"fail": True}

    def flaky(src, dst):
        if state["fail"]:
            state["fail"] = False
            raise OSError("simulated crash at commit")
        return real_replace(src, dst)

    store._replace = flaky
    with _pytest.raises(OSError):
        run_insert(spark, docs(spark), store, cfg)
    # nothing became visible
    assert store.read("edges") is None
    assert store.read("checkpoint") is None

    # resume: plain re-run converges to the clean-run state exactly
    m = run_insert(spark, docs(spark), store, cfg)
    assert m["docs_processed"] == 12
    got = {
        (r.src, r.dst): r.weight for r in store.read("edges").collect()
    }
    assert got == ref_edges  # no double-counted weights
    # and a third run is a pure no-op
    m2 = run_insert(spark, docs(spark), store, cfg)
    assert m2["docs_processed"] == 0


def test_lang_partitioned_corpus_scan_prunes(spark, tmp_path):
    """north rule: the input corpus is an Iceberg-style table with
    explicit (repo, lang) partitioning — a lang-restricted ingest must
    PRUNE the scan to the lang's partition directories (PartitionFilters
    on the file scan), not read-then-filter 100 TB."""
    import re

    from kgforge.chunking import build_chunks
    from kgforge.corpus import synthesize_corpus

    path = str(tmp_path / "repos")
    synthesize_corpus(spark, n_files=200).write.partitionBy(
        "lang"
    ).parquet(path)
    src = spark.read.parquet(path).filter(F.col("lang") == "go")
    chunks, _rejects = build_chunks(src)
    plan = chunks._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*lang", plan), plan
    got = chunks.select("lang").distinct().collect()
    assert [r.lang for r in got] == ["go"]


def test_repeated_deltas_equal_one_ingest(spark, tmp_path):
    """Four insert-only ingests (6 + 2 + 2 + 2 files sharing words)
    into one store end in the graph one ingest of all 12 files builds.
    The third ingest used to raise a schema evolution conflict on
    edges.source_ids: the second merge loosened the stored array's
    element nullability, and the check compared nullability too."""
    words = ["spark", "shuffle", "partition", "executor", "stream",
             "batch", "operator", "vector", "window", "column"]
    rows = [
        ("r", f"f{i}.txt", "c", "text",
         " ".join(words[(3 * i + j) % len(words)] for j in range(5)))
        for i in range(12)
    ]

    def docs(n):
        return spark.createDataFrame(
            rows[:n],
            "repo string, path string, commit string, lang string, "
            "content string",
        )

    def graph(store):
        nodes = {
            (r.entity_id, r.n_sources)
            for r in store.read("nodes").collect()
        }
        edges = {
            (r.src, r.dst, r.weight, r.n_sources)
            for r in store.read("edges").collect()
        }
        return nodes, edges

    cfg = PipelineConfig()
    delta = ParquetTableStore(spark, str(tmp_path / "delta"), n_buckets=4)
    done = 0
    for n in (6, 8, 10, 12):
        m = run_insert(spark, docs(n), delta, cfg)
        assert m["docs_processed"] == n - done
        done = n
    full = ParquetTableStore(spark, str(tmp_path / "full"), n_buckets=4)
    run_insert(spark, docs(12), full, cfg)
    assert graph(delta) == graph(full)
