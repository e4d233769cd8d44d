"""Query-side graph operators (Q3-Q12, SURVEY.md §2.5).

Reference read path (/root/reference/query.go): keyword extraction ->
two concurrent retrievals:

- localContext (query.go:202-264): low-level keywords -> vector top-k
  ENTITIES -> batch node get -> degree counts -> 1-hop relationships
  -> ranked sources;
- globalContext (query.go:266-347): high-level keywords -> vector
  top-k RELATIONSHIPS -> endpoints -> degrees -> ranked entities ->
  ranked sources;

then combineContexts renders CSV sections sorted by ref_count desc
(query.go:563-592, 601-686).

Spark shape: like the reference's batch gets (neo.go:410-472), a
query is a fixed sequence of literal-key fetches, each bounded by the
seeds' 1-hop neighbourhood; the six contexts are then built on the
driver from the rows they return:

1. seeds   -> one collect of both cosine top-k's over ``embeddings``
              (kgforge.embedding.top_k): entity ids L for the
              low-level keywords, relationship keys G = (src, dst) for
              the high-level ones; a blank side is skipped;
2. edges   -> one collect of the edges with src in L, dst in L or
              (src, dst) in G: the 1-hop set and the global selection;
3. degrees -> S = L + those edges' endpoints; the undirected degree of
              each id in S (a self-loop counts twice), counted on the
              JVM over the edges touching S, so at most |S| rows reach
              the driver;
4. nodes   -> one collect of the node rows for S;
5. chunks  -> one collect of (chunk_id, content) for the source ids.

``degrees`` and ``one_hop_edges`` are the set-oriented forms of steps
3 and 2 over whole tables, kept for the standalone graph queries.
"""

from __future__ import annotations

from collections import Counter
from functools import reduce
from operator import or_
from typing import Iterable, List

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from kgforge.embedding import embed_text, top_k
from kgforge.schemas import SEP

TOP_K = 5  # chromem.go:53 / tests' top-5
SCORE_THRESHOLD = 0.2  # milvus.go:31

# Context rows, field for field the reference's QueryResult records.
EntityContext = Row("name", "type", "description", "ref_count", "created_at")
RelationshipContext = Row(
    "source", "target", "keywords", "description", "weight", "ref_count",
    "created_at",
)
SourceContext = Row("content", "source_id", "ref_count")


def degrees(edges: DataFrame) -> DataFrame:
    """Q8: undirected degree per entity — each edge counts for both
    endpoints (neo.go:410-472)."""
    return (
        edges.select(F.explode(F.array("src", "dst")).alias("entity_id"))
        .groupBy("entity_id")
        .agg(F.count("*").alias("degree"))
    )


def one_hop_edges(seeds: DataFrame, edges: DataFrame) -> DataFrame:
    """Q9/Q5a: all edges incident to a seed entity (either endpoint).
    seeds: DataFrame[entity_id].  Broadcast the tiny seed set."""
    s = F.broadcast(seeds.select("entity_id").distinct())
    return (
        edges.join(s, edges.src == s.entity_id, "left_semi")
        .unionByName(edges.join(s, edges.dst == s.entity_id, "left_semi"))
        .dropDuplicates(["src", "dst"])
    )


def _seeds(embeddings: DataFrame, low: str, high: str, k: int):
    """Q7, both sides in one collect: the top-k entity ids for the
    low-level keywords and the top-k relationship (src, dst) keys for
    the high-level ones; a blank side contributes nothing.  Edge keys
    ride the embeddings table as real columns, never recovered by
    splitting the id string (the reference's insert.go:583 bug)."""
    sides = [
        top_k(embeddings.filter(F.col("kind") == kind), embed_text(kw), k)
        .select("kind", "id", "src", "dst")
        for kind, kw in (("entity", low), ("relationship", high))
        if kw.strip()
    ]
    if not sides:
        return set(), set()
    rows = reduce(DataFrame.unionByName, sides).collect()
    local = {r.id for r in rows if r.kind == "entity"}
    pairs = {
        (r.src, r.dst) for r in rows
        if r.kind == "relationship" and r.src is not None
        and r.dst is not None
    }
    return local, pairs


def _join(values):
    """``array_join(values, SEP)``: null elements skipped."""
    return SEP.join(v for v in values if v is not None)


def _source_ids(rows: Iterable[Row]) -> List[str]:
    """Every non-empty source id of ``rows``, once per occurrence."""
    return [s for r in rows for s in r.source_ids if s]


def query(
    low_keywords: str,
    high_keywords: str,
    nodes: DataFrame,
    edges: DataFrame,
    chunks: DataFrame,
    embeddings: DataFrame,
    k: int = TOP_K,
) -> dict:
    """Full read path: the six contexts keyed as the reference's
    QueryResult fields (query.go:36-43), each a list of Rows
    (``EntityContext``, ``RelationshipContext``, ``SourceContext``)."""
    local, pairs = _seeds(embeddings, low_keywords, high_keywords, k)
    hop, sel = [], []
    if local or pairs:
        key = sorted(local)
        incident = F.col("src").isin(key) | F.col("dst").isin(key)
        wanted = reduce(or_, [
            (F.col("src") == s) & (F.col("dst") == d) for s, d in pairs
        ], incident)
        for e in edges.filter(wanted).collect():
            if e.src in local or e.dst in local:
                hop.append(e)
            if (e.src, e.dst) in pairs:
                sel.append(e)

    ids = local | {x for e in hop + sel for x in (e.src, e.dst)}
    deg, node = {}, {}
    if ids:
        key = sorted(ids)
        deg = dict(
            edges.filter(F.col("src").isin(key) | F.col("dst").isin(key))
            .select(F.explode(F.array("src", "dst")).alias("entity_id"))
            .filter(F.col("entity_id").isin(key))
            .groupBy("entity_id").count().collect()
        )
        node = {
            n.entity_id: n
            for n in nodes.filter(F.col("entity_id").isin(key)).collect()
        }

    # local sources: the seeds' ids, +1 per occurrence in a RELATED
    # node (1-hop endpoints minus the seeds) (query.go:419-478);
    # global sources: occurrences across the selected edges
    # (query.go:519-561)
    related = {x for e in hop for x in (e.src, e.dst)} - local
    seeded = set(_source_ids(node[i] for i in local if i in node))
    occ = Counter(_source_ids(node[i] for i in related if i in node))
    global_occ = Counter(_source_ids(sel))
    content = {}
    if seeded or global_occ:
        content = dict(
            chunks.filter(
                F.col("chunk_id").isin(sorted(seeded | set(global_occ)))
            ).select("chunk_id", "content").collect()
        )

    def entities(names):
        return [
            EntityContext(i, node[i].entity_type,
                          _join(node[i].descriptions), deg.get(i, 0),
                          node[i].created_at)
            for i in sorted(names) if i in node
        ]

    def relationships(rows):
        # refCount = degree(src) + degree(dst) (query.go:309-319)
        return [
            RelationshipContext(e.src, e.dst, _join(e.keywords),
                                _join(e.descriptions), e.weight,
                                deg.get(e.src, 0) + deg.get(e.dst, 0),
                                e.created_at)
            for e in rows
        ]

    def sources(counts):
        return [
            SourceContext(content[s], s, n)
            for s, n in sorted(counts.items()) if s in content
        ]

    return {
        "local_entities": entities(local),
        "local_relationships": relationships(hop),
        "local_sources": sources({s: occ[s] for s in seeded}),
        "global_entities": entities({x for e in sel for x in (e.src, e.dst)}),
        "global_relationships": relationships(sel),
        "global_sources": sources(global_occ),
    }


# ---------------------------------------------------------------------------
# Q11/Q12: combine + CSV render (query.go:563-592, 601-686)
# ---------------------------------------------------------------------------


_GO_ESCAPES = {
    "\\": "\\\\", '"': '\\"', "\n": "\\n", "\t": "\\t", "\r": "\\r",
    "\a": "\\a", "\b": "\\b", "\f": "\\f", "\v": "\\v",
}


def _q(value) -> str:
    """Go ``%q`` quoting (strconv.Quote semantics): named escapes for
    control shorthands, ``\\xNN``/``\\uNNNN``/``\\UNNNNNNNN`` for
    other non-printables, printable unicode (accents, emoji) kept
    literal.  Python's ``str.isprintable`` stands in for Go's
    ``unicode.IsPrint`` — they agree on all of Latin-1 and the
    common planes (both exclude Cc/Cf)."""
    s = str(value)
    out = ['"']
    for ch in s:
        esc = _GO_ESCAPES.get(ch)
        if esc is not None:
            out.append(esc)
        elif ch.isprintable():
            out.append(ch)
        else:
            cp = ord(ch)
            if cp < 0x80:
                out.append(f"\\x{cp:02x}")
            elif cp < 0x10000:
                out.append(f"\\u{cp:04x}")
            else:
                out.append(f"\\U{cp:08x}")
    out.append('"')
    return "".join(out)


def _combine(headers: List[str], rows: List[tuple]) -> str:
    """combineContexts: one line per distinct (rendered row, ref_count)
    -- a local row identical to a global one is the same line --
    ref_count desc, ties by rendered row so the order never depends on
    fetch or hash order; CSV with row-number ids."""
    ordered = sorted(set(rows), key=lambda t: (-t[1], t[0]))
    return "".join(
        [",".join(headers) + "\n"]
        + [f"{_q(i)},{row}\n" for i, (row, _) in enumerate(ordered)]
    )


def render_query_result(result: dict) -> str:
    """QueryResult.String (query.go:601-686): three fenced CSV
    sections, global and local rows merged, ref_count descending."""
    def section(name, headers, cells):
        rows = [
            (",".join(_q(c) for c in cells(r)), r.ref_count)
            for r in result[f"global_{name}"] + result[f"local_{name}"]
        ]
        return _combine(["id"] + headers, rows)

    entities = section(
        "entities",
        ["name", "type", "description", "ref_count", "created_at"],
        lambda r: (r.name, r.type, r.description, r.ref_count,
                   r.created_at),
    )
    relationships = section(
        "relationships",
        ["source", "target", "keywords", "description", "weight",
         "ref_count", "created_at"],
        lambda r: (r.source, r.target, r.keywords, r.description,
                   f"{r.weight:.2f}", r.ref_count, r.created_at),
    )
    sources = section(
        "sources", ["content", "ref_count"],
        lambda r: (r.content, r.source_id, r.ref_count),
    )
    fence = "```"
    return (
        f"\n-----Entities-----\n{fence}csv\n{entities}\n{fence}\n"
        f"-----Relationships-----\n{fence}csv\n{relationships}\n{fence}\n"
        f"-----Sources-----\n{fence}csv\n{sources}\n{fence}"
    )
