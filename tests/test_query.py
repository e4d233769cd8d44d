"""Query-path tests — port of query_test.go (FIXTURES.md F5).

Seeded graph: ENTITY1/PERSON, ENTITY2/ORGANIZATION, one edge, one
chunk; embeddings from the deterministic hash embedder so the query
'Entity1' retrieves ENTITY1 (entity search) and the (ENTITY1,
ENTITY2) edge (relationship search).
"""

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kgforge import query as q
from kgforge.embedding import MODEL_NAME, embed_text
from kgforge.schemas import (
    CHUNKS_SCHEMA,
    EDGES_SCHEMA,
    EMBEDDINGS_SCHEMA,
    NODES_SCHEMA,
)

NOW = dt.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def graph(spark):
    nodes = spark.createDataFrame(
        [
            ("ENTITY1", "PERSON", ["Description of Entity1"],
             ["doc-1-chunk-0"], 1, NOW),
            ("ENTITY2", "ORGANIZATION", ["Description of Entity2"],
             ["doc-1-chunk-0"], 1, NOW),
        ],
        NODES_SCHEMA,
    )
    edges = spark.createDataFrame(
        [
            ("ENTITY1", "ENTITY2", 1.0, ["Entity1 related to Entity2"],
             ["RELATED_TO", "RELATED", "TO"], ["doc-1-chunk-0"], 1, NOW),
        ],
        EDGES_SCHEMA,
    )
    chunks = spark.createDataFrame(
        [
            ("doc-1-chunk-0", "doc-1", None, "text", 0,
             "Content about Entity1 and Entity2", 7, "x" * 64),
        ],
        CHUNKS_SCHEMA,
    )
    embeddings = spark.createDataFrame(
        [
            ("ENTITY1", "entity", "ENTITY1 Description of Entity1",
             embed_text("ENTITY1 Description of Entity1"), MODEL_NAME, NOW,
             None, None),
            ("ENTITY2", "entity", "ENTITY2 Description of Entity2",
             embed_text("ENTITY2 Description of Entity2"), MODEL_NAME, NOW,
             None, None),
            ("7|ENTITY1|ENTITY2", "relationship",
             "RELATED_TO ENTITY1 ENTITY2",
             embed_text("RELATED_TO ENTITY1 ENTITY2"), MODEL_NAME, NOW,
             "ENTITY1", "ENTITY2"),
        ],
        EMBEDDINGS_SCHEMA,
    )
    return nodes, edges, chunks, embeddings


def test_local_context(spark, graph):
    nodes, edges, chunks, embeddings = graph
    res = q.query("Entity1", "", nodes, edges, chunks, embeddings, k=1)
    e = res["local_entities"]
    assert len(e) == 1 and e[0].name == "ENTITY1"
    assert e[0].ref_count == 1  # degree of ENTITY1
    r = res["local_relationships"]
    assert len(r) == 1 and (r[0].source, r[0].target) == (
        "ENTITY1", "ENTITY2",
    )
    assert r[0].ref_count == 2  # deg(src)+deg(dst)
    assert "RELATED_TO" in r[0].keywords
    s = res["local_sources"]
    assert len(s) == 1 and s[0].content == "Content about Entity1 and Entity2"


def test_global_context(spark, graph):
    nodes, edges, chunks, embeddings = graph
    res = q.query(
        "", "related entities", nodes, edges, chunks, embeddings, k=1
    )
    r = res["global_relationships"]
    assert len(r) == 1
    assert r[0].weight == 1.0
    e = res["global_entities"]
    assert {x.name for x in e} == {"ENTITY1", "ENTITY2"}
    s = res["global_sources"]
    assert len(s) == 1 and s[0].ref_count == 1


def test_empty_keywords_no_error(spark, graph):
    nodes, edges, chunks, embeddings = graph
    res = q.query("", " ", nodes, edges, chunks, embeddings)
    ents, rels, srcs = (
        res["local_entities"], res["local_relationships"],
        res["local_sources"],
    )
    assert len(ents) == 0 and len(rels) == 0 and len(srcs) == 0
    assert not any(res.values())


def test_render_csv_headers_and_order(spark, graph):
    """query_test.go:310-451: pinned headers + ref_count-desc order."""
    nodes, edges, chunks, embeddings = graph
    res = q.query("Entity1", "related", nodes, edges, chunks, embeddings, 2)
    out = q.render_query_result(res)
    assert "-----Entities-----" in out
    assert "id,name,type,description,ref_count,created_at" in out
    assert (
        "id,source,target,keywords,description,weight,ref_count,created_at"
        in out
    )
    assert "id,content,ref_count" in out
    # ref_count descending within the entities section
    ent_section = out.split("-----Entities-----")[1].split(
        "-----Relationships-----"
    )[0]
    refs = []
    for line in ent_section.splitlines():
        if line.startswith('"'):
            refs.append(int(line.split('","')[-2].strip('"')))
    assert refs == sorted(refs, reverse=True)


def test_degrees_undirected(spark, graph):
    _, edges, _, _ = graph
    d = {r.entity_id: r.degree for r in q.degrees(edges).collect()}
    assert d == {"ENTITY1": 1, "ENTITY2": 1}


def test_rag_facade_end_to_end(spark, tmp_path):
    """User-level round trip: insert a corpus, ask a question, get the
    reference-style CSV context (Insert + Query entry points)."""
    from kgforge.rag import LightRAG, extract_query_and_histories
    import pytest as _pytest

    rag = LightRAG(spark, str(tmp_path / "rag-store"))
    corpus = spark.createDataFrame(
        [
            ("r1", "a.txt", "c", "text",
             "stream processors shuffle partitions across executors"),
            ("r1", "b.txt", "c", "text",
             "columnar scans filter partitions using zone maps"),
        ],
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    m = rag.insert(corpus)
    assert m["docs_processed"] == 2

    out = rag.query_text(
        [
            {"role": "assistant", "message": "hello"},
            {"role": "user", "message": "partitions shuffle"},
        ]
    )
    assert "-----Entities-----" in out and "PARTITIONS" in out

    qt, hist = extract_query_and_histories(
        [{"role": "user", "message": "q1"},
         {"role": "assistant", "message": "a"},
         {"role": "user", "message": "q2"}]
    )
    assert qt == "q2" and len(hist) == 2
    with _pytest.raises(ValueError):
        extract_query_and_histories([{"role": "assistant", "message": "x"}])


def test_global_context_pipe_in_entity_name(spark):
    """Edge keys with '|' inside entity names must resolve exactly —
    the embeddings table carries src/dst columns, never split-on-'|'
    (the reference's '-'-split bug class, insert.go:583)."""
    nodes = spark.createDataFrame(
        [
            ("A|B", "PERSON", ["d1"], ["c-0"], 1, NOW),
            ("C", "PERSON", ["d2"], ["c-0"], 1, NOW),
        ],
        NODES_SCHEMA,
    )
    edges = spark.createDataFrame(
        [("A|B", "C", 1.0, ["A|B relates to C"], ["REL"], ["c-0"], 1,
          NOW)],
        EDGES_SCHEMA,
    )
    chunks = spark.createDataFrame(
        [("c-0", "doc-1", None, "text", 0, "content", 1, "x" * 64)],
        CHUNKS_SCHEMA,
    )
    text = "REL A|B C"
    embeddings = spark.createDataFrame(
        [("3|A|B|C", "relationship", text, embed_text(text), MODEL_NAME,
          NOW, "A|B", "C")],
        EMBEDDINGS_SCHEMA,
    )
    res = q.query("", "REL", nodes, edges, chunks, embeddings, k=1)
    r = res["global_relationships"]
    assert len(r) == 1 and (r[0].source, r[0].target) == ("A|B", "C")
    assert {x.name for x in res["global_entities"]} == {"A|B", "C"}


def test_render_query_result_byte_exact_golden():
    """Q11/Q12 byte-level parity fixture (VERDICT r2 item 8),
    mirroring query_test.go:310-451 ('Result with sorting by reference
    count') plus %q edge cases: embedded quotes, newline, tab,
    printable unicode kept literal, control byte hex-escaped
    (query.go:563-592 combineContexts + the three String() renderers:
    weight FormatFloat('f',2), row ids %q-quoted, later/local context
    wins, ref_count descending)."""
    from kgforge.query import render_query_result

    result = {
        "global_entities": [
            Row(name="GlobalEntityLow", type="PERSON",
                description='Low "ref" count\nentity', ref_count=1,
                created_at="2023-01-01 00:00:00 +0000 UTC")],
        "local_entities": [
            Row(name="LocalEntityHigh", type="ORGANIZATION",
                description="High réf \U0001f680 entity\x01", ref_count=5,
                created_at="2023-01-02 00:00:00 +0000 UTC")],
        "global_relationships": [
            Row(source="SourceLow", target="TargetLow", keywords="low_ref",
                description="Low ref count relationship", weight=0.5,
                ref_count=2, created_at="2023-01-03 00:00:00 +0000 UTC")],
        "local_relationships": [
            Row(source="SourceHigh", target="TargetHigh",
                keywords="high_ref",
                description="High ref count relationship", weight=0.8,
                ref_count=7, created_at="2023-01-04 00:00:00 +0000 UTC")],
        "global_sources": [
            Row(content="Low ref\tsource", source_id="src-l", ref_count=3)],
        "local_sources": [
            Row(content="High ref source", source_id="src-h", ref_count=10)],
    }
    got = render_query_result(result)
    expected = (
        "\n-----Entities-----\n```csv\n"
        "id,name,type,description,ref_count,created_at\n"
        '"0","LocalEntityHigh","ORGANIZATION",'
        '"High réf \U0001f680 entity\\x01","5",'
        '"2023-01-02 00:00:00 +0000 UTC"\n'
        '"1","GlobalEntityLow","PERSON",'
        '"Low \\"ref\\" count\\nentity","1",'
        '"2023-01-01 00:00:00 +0000 UTC"\n'
        "\n```\n"
        "-----Relationships-----\n```csv\n"
        "id,source,target,keywords,description,weight,ref_count,"
        "created_at\n"
        '"0","SourceHigh","TargetHigh","high_ref",'
        '"High ref count relationship","0.80","7",'
        '"2023-01-04 00:00:00 +0000 UTC"\n'
        '"1","SourceLow","TargetLow","low_ref",'
        '"Low ref count relationship","0.50","2",'
        '"2023-01-03 00:00:00 +0000 UTC"\n'
        "\n```\n"
        "-----Sources-----\n```csv\n"
        "id,content,ref_count\n"
        '"0","High ref source","src-h","10"\n'
        '"1","Low ref\\tsource","src-l","3"\n'
        "\n```"
    )
    assert got == expected


def test_render_tie_order_independent_of_input_order():
    """Rows tied on ref_count render in one order whatever order the
    contexts hold them in; a local row identical to a global one is
    rendered once."""
    import random

    def ent(name, ref):
        return Row(name=name, type="T", description="d", ref_count=ref,
                   created_at="t")

    def src(sid, ref):
        return Row(content=f"content {sid}", source_id=sid, ref_count=ref)

    glob_e = [ent(n, 2) for n in "QWERTY"] + [ent("Z", 3)]
    loc_e = [ent(n, 2) for n in "ASDFGH"] + [ent("Q", 2)]
    glob_s = [src(s, 1) for s in ("c3", "c1", "c2")]
    loc_s = [src(s, 1) for s in ("c9", "c1")] + [src("c0", 4)]
    rel = Row(source="A", target="B", keywords="k", description="d",
              weight=1.0, ref_count=2, created_at="t")
    rng = random.Random(7)
    outs = set()
    for _ in range(20):
        lists = [list(x) for x in (glob_e, loc_e, glob_s, loc_s)]
        for x in lists:
            rng.shuffle(x)
        outs.add(q.render_query_result({
            "global_entities": lists[0], "local_entities": lists[1],
            "global_relationships": [rel], "local_relationships": [rel],
            "global_sources": lists[2], "local_sources": lists[3],
        }))
    assert len(outs) == 1
    out = outs.pop()
    assert out.count('"Q","T"') == 1 and out.count('"A","B"') == 1
    names = [line.split(",")[1] for line in out.split("\n")
             if line.endswith(',"t"') and '"T"' in line]
    assert names == ['"Z"'] + sorted(f'"{n}"' for n in "QWERTYASDFGH")


@pytest.fixture(scope="module")
def edge_graph(spark):
    """Hand-built graph for query edge cases: a self-loop on A; edge
    endpoints with no node row (GHOST, Z, Q, F); '' and null source
    ids; source id c9 with no chunk row; a null description element;
    '|' in the entity name B|X; A is a local seed AND a global
    endpoint.  Only A and GHOST have entity embeddings and (A, B|X),
    (C, Z) plus one keyless row relationship embeddings, so k=3 seeds
    all of them whatever the scores."""
    nodes = spark.createDataFrame(
        [
            ("A", "PERSON", ["alpha one", None, "alpha two"],
             ["c1", "c2", "", None, "c9"], 4, NOW),
            ("B|X", "ORG", ["pipe name"], ["c1", None], 1, NOW),
            ("C", "PERSON", ["see"], ["c2", "c2", "c3"], 2, NOW),
            ("D", "THING", ["dee"], ["c2", "c4"], 2, NOW),
            ("E", "THING", ["far"], ["c5"], 1, NOW),
        ],
        NODES_SCHEMA,
    )
    edges = spark.createDataFrame(
        [
            ("A", "A", 1.0, ["self"], ["LOOP"], ["c1"], 1, NOW),
            ("A", "B|X", 2.0, ["ab", None], ["K1", None, "K2"],
             ["c1", "c2", ""], 2, NOW),
            ("C", "A", 0.5, ["ca"], ["K3"], ["c3", None], 1, NOW),
            ("C", "Z", 1.5, ["cz"], ["K4"], ["c4", "c9"], 2, NOW),
            ("GHOST", "D", 0.25, ["gd"], ["K5"], ["c2"], 1, NOW),
            ("B|X", "Q", 3.0, ["bq"], ["K6"], ["c5"], 1, NOW),
            ("E", "F", 1.0, ["ef"], ["K7"], ["c5"], 1, NOW),
        ],
        EDGES_SCHEMA,
    )
    chunks = spark.createDataFrame(
        [
            (c, "doc-1", None, "text", i, f"content {c}", 3, "x" * 64)
            for i, c in enumerate(["c1", "c2", "c3", "c4", "c5"])
        ],
        CHUNKS_SCHEMA,
    )

    def emb(i, kind, text, src=None, dst=None):
        return (i, kind, text, embed_text(text), MODEL_NAME, NOW, src, dst)

    embeddings = spark.createDataFrame(
        [
            emb("A", "entity", "A alpha one"),
            emb("GHOST", "entity", "GHOST ghost"),
            emb("1|A|B|X", "relationship", "K1 A B|X", "A", "B|X"),
            emb("2|C|Z", "relationship", "K4 C Z", "C", "Z"),
            emb("3|orphan", "relationship", "orphan rel"),
        ],
        EMBEDDINGS_SCHEMA,
    )
    return nodes, edges, chunks, embeddings


# Expected contexts on edge_graph, produced by the per-section
# DataFrame implementation this module replaced and checked by hand:
# deg(A) = 4 (self-loop counts twice), deg(B|X) = deg(C) = 2, deg of
# GHOST, D and Z = 1; related = {B|X, C, D} (seeds A and GHOST
# excluded), so local c2 = 2 (C) + 1 (D) and c1 = 1 (B|X); c9 has no
# chunk row; GHOST and Z have no node row.
EDGE_LOCAL = {
    "local_entities": [("A", "PERSON", "alpha one<SEP>alpha two", 4, NOW)],
    "local_relationships": [
        ("A", "A", "LOOP", "self", 1.0, 8, NOW),
        ("A", "B|X", "K1<SEP>K2", "ab", 2.0, 6, NOW),
        ("C", "A", "K3", "ca", 0.5, 6, NOW),
        ("GHOST", "D", "K5", "gd", 0.25, 2, NOW),
    ],
    "local_sources": [("content c1", "c1", 1), ("content c2", "c2", 3)],
}
EDGE_GLOBAL = {
    "global_entities": [
        ("A", "PERSON", "alpha one<SEP>alpha two", 4, NOW),
        ("B|X", "ORG", "pipe name", 2, NOW),
        ("C", "PERSON", "see", 2, NOW),
    ],
    "global_relationships": [
        ("A", "B|X", "K1<SEP>K2", "ab", 2.0, 6, NOW),
        ("C", "Z", "K4", "cz", 1.5, 3, NOW),
    ],
    "global_sources": [
        ("content c1", "c1", 1), ("content c2", "c2", 1),
        ("content c4", "c4", 1),
    ],
}


@pytest.mark.parametrize(
    "low,high", [("alpha", "rel"), ("", "rel"), ("alpha", "  "), ("", "")]
)
def test_query_edge_cases(spark, edge_graph, low, high):
    res = q.query(low, high, *edge_graph, k=3)
    expected = {
        **{n: rows if low.strip() else [] for n, rows in EDGE_LOCAL.items()},
        **{n: rows if high.strip() else []
           for n, rows in EDGE_GLOBAL.items()},
    }
    assert {n: sorted(map(tuple, rows)) for n, rows in res.items()} == expected


def test_query_submits_at_most_six_spark_jobs(spark, graph, tmp_path):
    """Answering a query is a fixed handful of fetches: per-section
    collects (22+ jobs) must not come back."""
    tables = []
    for name, df in zip(("nodes", "edges", "chunks", "embeddings"), graph):
        df.write.parquet(str(tmp_path / name))
        tables.append(spark.read.parquet(str(tmp_path / name)))
    sc = spark.sparkContext
    sc.setJobGroup("query-job-count", "q.query")
    try:
        out = q.render_query_result(
            q.query("Entity1", "related", *tables, k=2)
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("query-job-count")
    assert '"ENTITY1","ENTITY2"' in out
    assert 1 <= len(jobs) <= 6


def test_rag_query_reads_one_snapshot(spark, graph, tmp_path):
    """A commit landing while LightRAG.query reads its four tables must
    not mix snapshots: the answer is the pre-commit one."""
    from kgforge.rag import LightRAG
    from kgforge.store import ParquetTableStore

    rag = LightRAG(spark, str(tmp_path / "store"))
    # keep replaced generations on disk, so the pre-commit snapshot is
    # still readable after the commit below
    store = rag.store = ParquetTableStore(
        spark, rag.store.root, retain_history=True
    )
    keys = (["entity_id"], ["src", "dst"], ["chunk_id"], ["id", "kind"])
    for name, df, key in zip(
        ("nodes", "edges", "chunks", "embeddings"), graph, keys
    ):
        store.overwrite(name, df, key)
    conversation = [{"role": "user", "message": "Entity1"}]
    before = rag.query_text(conversation)
    assert "Content about Entity1" in before

    real_manifest = store._manifest

    def manifest_then_commit():
        m = real_manifest()
        store._manifest = real_manifest
        store.overwrite(
            "chunks",
            graph[2].withColumn("content", F.lit("rewritten")),
            ["chunk_id"],
        )
        return m

    store._manifest = manifest_then_commit
    assert rag.query_text(conversation) == before
    assert store._manifest is real_manifest  # the commit did land
    assert "rewritten" in rag.query_text(conversation)
