"""Output checks.  Each returns a list of failure messages (empty when
the check passes)."""

from __future__ import annotations

import hashlib
from collections import Counter

from kgforge.extraction import heuristic_extract


def content_sha(store, corpus):
    """Every checkpoint ``content_sha`` equals sha256 of its input row,
    and every input row is checkpointed."""
    want = corpus.sha_by_doc()
    got = {
        r.doc_id: r.content_sha
        for r in store.read("checkpoint").select("doc_id", "content_sha")
        .collect()
    }
    bad = [d for d in want if got.get(d) != want[d]]
    extra = sorted(set(got) - set(want))
    out = []
    if bad:
        out.append(f"content_sha: {len(bad)} rows differ, e.g. {bad[0]}")
    if extra:
        out.append(f"content_sha: {len(extra)} unknown docs, e.g. {extra[0]}")
    return out


def reference_graph(chunk_texts):
    """Node and edge digests recomputed with
    ``extraction.heuristic_extract`` over the stored chunks: per node
    the number of chunks naming it, per edge its summed strength and
    chunk count."""
    nodes, edges, weight = Counter(), Counter(), Counter()
    for text in chunk_texts:
        ext = heuristic_extract(text)
        for e in ext["entities"]:
            nodes[e["entity_name"]] += 1
        for r in ext["relationships"]:
            key = tuple(sorted((r["source_entity"], r["target_entity"])))
            edges[key] += 1
            weight[key] += r["relationship_strength"]
    return (
        {k: n for k, n in nodes.items()},
        {k: (weight[k], n) for k, n in edges.items()},
    )


def stored_graph(store):
    nodes = {
        r.entity_id: r.n_sources
        for r in store.read("nodes").select("entity_id", "n_sources")
        .collect()
    }
    edges = {
        (r.src, r.dst): (r.weight, r.n_sources)
        for r in store.read("edges").select("src", "dst", "weight",
                                            "n_sources").collect()
    }
    return nodes, edges


def digest(graph):
    nodes, edges = graph
    h = hashlib.sha256()
    for k in sorted(nodes):
        h.update(f"n|{k}|{nodes[k]}\n".encode())
    for k in sorted(edges):
        h.update(f"e|{k[0]}|{k[1]}|{edges[k][0]:.6f}|{edges[k][1]}\n".encode())
    return h.hexdigest()


def graph_matches_heuristic(store):
    """Stored node and edge keys, edge weights and source counts equal
    the heuristic recomputation over the stored chunks.  Returns
    (failures, stored graph)."""
    texts = [r.content for r in store.read("chunks").select("content")
             .collect()]
    want, got = reference_graph(texts), stored_graph(store)
    out = []
    for kind, w, g in (("node", want[0], got[0]), ("edge", want[1], got[1])):
        if set(w) != set(g):
            out.append(
                f"{kind} keys: {len(set(g) - set(w))} unexpected, "
                f"{len(set(w) - set(g))} missing"
            )
        else:
            diff = [k for k in w if w[k] != g[k]]
            if diff:
                out.append(f"{kind} values: {len(diff)} differ, e.g. "
                           f"{diff[0]}: {g[diff[0]]} != {w[diff[0]]}")
    return out, got
