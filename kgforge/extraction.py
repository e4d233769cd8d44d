"""Entity/relationship extraction as batched vectorized UDFs.

The reference extracts with an LLM per chunk (`llmExtractEntities`,
/root/reference/insert.go:298-452): render prompt -> chat -> strip
markdown backticks + <think> tags -> JSON-repair -> parse
``{"entities": [...], "relationships": [...]}`` -> glean loop ->
retry/backoff.  Spark shape: ONE Arrow-batched pandas UDF
(``Iterator[pd.Series] -> Iterator[pd.Series]``) over the chunk
content column returning the llmResult JSON string, parsed JVM-side by
``from_json`` into the typed EXTRACTION_SCHEMA — no per-row Python
dispatch, no driver-side loop.  The ingest path runs the extractor
inside the chunker UDF instead (``chunking.make_chunker_udf``), so
each document crosses into Python once; the standalone UDF here
serves two-phase ingest, whose chunks already exist.

Extractors are pluggable (the reference's ``LLM`` interface,
rag.go:15-20):

- :class:`FixtureExtractor` — mirrors the MockLLM of
  insert_test.go:29-52: a fixed golden JSON for chunks carrying a
  marker.  Used by the P/R golden tests.
- :func:`heuristic_extract` — a deterministic, *SQL-expressible*
  extractor (entities = distinct long words; relationships =
  co-occurrence pairs).  Because it is expressible in ANSI SQL, the
  whole pipeline (chunk -> extract -> canonicalize -> merge) can be
  verified end-to-end against a DuckDB oracle.
- a real LLM client plugs in the same way (per-executor session,
  retry + backoff inside the UDF); not exercised in this sandbox.
"""

from __future__ import annotations

import json
import re
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from kgforge.schemas import EXTRACTION_SCHEMA

# ---------------------------------------------------------------------------
# LLM output cleanup (P2/P3/P4 in SURVEY.md §2.2)
# ---------------------------------------------------------------------------

_THINK_RE = re.compile(r"<think>.*?</think>", re.DOTALL)


def remove_think_tags(text: str) -> str:
    """RemoveThinkTags (llm/common.go:9-12)."""
    return _THINK_RE.sub("", text)


def remove_markdown_backticks(text: str) -> str:
    """RemoveMarkdownBackticks (llm/common.go:14-27): drop ``` lines."""
    return "\n".join(
        line for line in text.split("\n")
        if not line.lstrip().startswith("```")
    )


def repair_json(text: str) -> str:
    """Minimal jsonrepair (insert.go:356): clip to outermost braces,
    strip trailing commas.  Sufficient for mock/heuristic output; a
    real LLM path would use a full repairer inside the UDF."""
    start, end = text.find("{"), text.rfind("}")
    if start >= 0 and end > start:
        text = text[start : end + 1]
    return re.sub(r",\s*([}\]])", r"\1", text)


def parse_llm_result(raw: str) -> dict:
    """Full cleanup + parse chain (insert.go:351-368)."""
    cleaned = remove_markdown_backticks(remove_think_tags(raw))
    try:
        parsed = json.loads(repair_json(cleaned))
    except (json.JSONDecodeError, ValueError):
        return {"entities": [], "relationships": []}
    if not isinstance(parsed, dict):
        return {"entities": [], "relationships": []}
    return {
        "entities": parsed.get("entities") or [],
        "relationships": parsed.get("relationships") or [],
    }


# ---------------------------------------------------------------------------
# Deterministic extractors
# ---------------------------------------------------------------------------

# Golden mock output, verbatim from insert_test.go:29-52.
FIXTURE_RESULT = {
    "entities": [
        {
            "entity_name": "Entity1",
            "entity_type": "Person",
            "entity_description": "This is a description of Entity1",
        },
        {
            "entity_name": "Entity2",
            "entity_type": "Organization",
            "entity_description": "This is a description of Entity2",
        },
    ],
    "relationships": [
        {
            "source_entity": "Entity1",
            "target_entity": "Entity2",
            "relationship_description": "Entity1 is related to Entity2",
            "relationship_keywords": ["RELATED_TO", "RELATED", "TO"],
            "relationship_strength": 1.0,
        }
    ],
}

FIXTURE_MARKER = "ENTITY-FIXTURE"


class FixtureExtractor:
    """MockLLM analog (rag_test.go:17-34 / insert_test.go:29-52):
    returns the golden JSON for chunks containing the marker, an empty
    result otherwise.  ``response_map`` lets tests key canned responses
    on content substrings."""

    def __init__(self, response_map: dict | None = None):
        self.response_map = response_map or {}

    def __call__(self, content: str) -> dict:
        for needle, resp in self.response_map.items():
            if needle in content:
                return parse_llm_result(
                    resp if isinstance(resp, str) else json.dumps(resp)
                )
        if FIXTURE_MARKER in content:
            return dict(FIXTURE_RESULT)
        return {"entities": [], "relationships": []}


# Heuristic extractor parameters — keep in sync with HEURISTIC_*_SQL
# in kgforge/oracles.py.
HEURISTIC_MIN_WORD_LEN = 4
HEURISTIC_MAX_PAIR_ENTITIES = 12
_WORD_SPLIT_RE = re.compile(r"[^a-z]+")
_HEURISTIC_TYPES = ["FUNCTION", "TYPE", "VARIABLE"]


def heuristic_extract(content: str) -> dict:
    """Deterministic SQL-expressible extractor.

    entities: distinct lowercase-alpha words of length >=4 in the
    chunk; name = UPPER(word); type = by length mod 3 over
    FUNCTION/TYPE/VARIABLE; description = 'Entity ' || name.

    relationships: unordered co-occurrence pairs (a < b) over the
    lexicographically first HEURISTIC_MAX_PAIR_ENTITIES entities of
    the chunk; strength 1.0 each; keywords = ['COOCCURS'].
    """
    if not content:
        return {"entities": [], "relationships": []}
    words = sorted(
        {
            w
            for w in _WORD_SPLIT_RE.split(content.lower())
            if len(w) >= HEURISTIC_MIN_WORD_LEN
        }
    )
    entities = [
        {
            "entity_name": w.upper(),
            "entity_type": _HEURISTIC_TYPES[len(w) % 3],
            "entity_description": "Entity " + w.upper(),
        }
        for w in words
    ]
    pair_words = words[:HEURISTIC_MAX_PAIR_ENTITIES]
    relationships = [
        {
            "source_entity": a.upper(),
            "target_entity": b.upper(),
            "relationship_description": (
                "Entities " + a.upper() + " and " + b.upper() + " co-occur"
            ),
            "relationship_keywords": ["COOCCURS"],
            "relationship_strength": 1.0,
        }
        for i, a in enumerate(pair_words)
        for b in pair_words[i + 1 :]
    ]
    return {"entities": entities, "relationships": relationships}


EXTRACTORS: dict[str, Callable[[], Callable[[str], dict]]] = {
    "fixture": FixtureExtractor,
    "heuristic": lambda: heuristic_extract,
}


def heuristic_extraction_col(content: Column) -> Column:
    """The heuristic extractor as a pure JVM COLUMN EXPRESSION over
    the chunk content — the zero-Python-boundary form of
    :func:`heuristic_extract` (which is kept as the reference
    implementation and for the generic JSON wire path).

    Why this exists (r6 optimization): the heuristic's output is ~45x
    the corpus size once serialized — 67 MB of extraction JSON for the
    1.5 MB sf0.1 corpus — and the JSON wire path paid for it three
    times (json.dumps in the Python worker, the Arrow transfer, and
    the JVM-side from_json parse).  The extractor is SQL-expressible
    BY DESIGN (the DuckDB oracles mirror it with the identical
    string_split_regex(lower(text), '[^a-z]+') pipeline), so when the
    configured extractor IS the heuristic the pipeline builds the
    extraction struct with codegen'd expressions and ships nothing:
    the content column crosses the Python boundary once, for chunking
    only.  Pluggability is untouched — fixture/LLM extractors keep
    the JSON wire of the fused chunker UDF (see
    chunking.make_chunker_udf and pipeline.extract_exploded).

    Semantics pinned equal to heuristic_extract():
    - words: distinct lower-case [a-z]+ runs of length >=
      HEURISTIC_MIN_WORD_LEN, sorted (codepoint order == binary
      UTF8 order for pure a-z strings);
    - entity type: FUNCTION/TYPE/VARIABLE by length mod 3;
    - relationships: ordered pairs (i < j) over the first
      HEURISTIC_MAX_PAIR_ENTITIES words.
    """
    words = F.array_sort(
        F.array_distinct(
            F.filter(
                F.split(F.lower(content), "[^a-z]+"),
                lambda w: (w != "")
                & (F.length(w) >= HEURISTIC_MIN_WORD_LEN),
            )
        )
    )
    type_arr = F.array(*[F.lit(t) for t in _HEURISTIC_TYPES])
    ents = F.transform(
        words,
        lambda w: F.struct(
            F.upper(w).alias("entity_name"),
            F.element_at(type_arr, (F.length(w) % 3) + 1).alias(
                "entity_type"
            ),
            F.concat(F.lit("Entity "), F.upper(w)).alias(
                "entity_description"
            ),
        ),
    )
    pw = F.slice(words, 1, HEURISTIC_MAX_PAIR_ENTITIES)
    rels = F.flatten(
        F.transform(
            pw,
            lambda a, i: F.transform(
                # partner words strictly after position i (0-based):
                # 1-based slice start i+2, capped by the pair window
                F.slice(pw, i + 2, HEURISTIC_MAX_PAIR_ENTITIES),
                lambda b: F.struct(
                    F.upper(a).alias("source_entity"),
                    F.upper(b).alias("target_entity"),
                    F.concat(
                        F.lit("Entities "),
                        F.upper(a),
                        F.lit(" and "),
                        F.upper(b),
                        F.lit(" co-occur"),
                    ).alias("relationship_description"),
                    F.array(F.lit("COOCCURS")).alias(
                        "relationship_keywords"
                    ),
                    F.lit(1.0).alias("relationship_strength"),
                ),
            ),
        )
    )
    return F.struct(
        ents.alias("entities"), rels.alias("relationships")
    )


def make_extraction_udf(extractor_name: str = "heuristic"):
    """Arrow-batched extraction UDF: content -> llmResult JSON string.

    Iterator form so the extractor (or a real LLM client / tokenizer)
    is initialized once per partition, not per batch — the Spark
    analog of the reference's per-goroutine LLM session with bounded
    concurrency (insert.go:243-284; concurrency here = task slots).
    """

    factory = EXTRACTORS[extractor_name]

    @pandas_udf(StringType())
    def extract(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        extractor = factory()
        for batch in batches:
            yield batch.map(
                lambda c: json.dumps(
                    extractor(c if c is not None else ""),
                    ensure_ascii=False,
                )
            )

    return extract


def extraction_col(
    content: Column, extractor_name: str = "heuristic"
) -> Column:
    """content -> typed extraction struct (entities, relationships).

    The heuristic extractor is SQL-expressible and evaluates as pure
    JVM expressions (no Python worker, no JSON wire — see
    heuristic_extraction_col); opaque extractors run their UDF and
    from_json the wire so downstream explode / aggregation stays in
    whole-stage codegen either way.
    """
    if extractor_name == "heuristic":
        return heuristic_extraction_col(content)
    udf = make_extraction_udf(extractor_name)
    return F.from_json(udf(content), EXTRACTION_SCHEMA)
