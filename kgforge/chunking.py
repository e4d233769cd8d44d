"""Chunking operators C1 (default sliding token window) and C2 (Go).

Spark shape: chunkers are *pure functions* ``content -> list[chunk]``
wrapped in one vectorized pandas UDF returning
``array<struct<content,token_size,order_index>>`` and then
``posexplode``d — the UDTF pattern from SURVEY.md §2.3.  The UDF is
Arrow-batched (one Python call per batch, no per-row Python dispatch
from the JVM), and chunking is a narrow map stage: it preserves the
input partitioning (repo, lang) and introduces no shuffle.

Reference semantics:
- C1: `/root/reference/handler/default.go:53-96` — encode, slide a
  ``max_tokens`` window with ``max-overlap`` stride, decode, TrimSpace,
  recount tokens of the trimmed text, sequential order_index.
- C2: see :mod:`kgforge.gochunk`.
- dispatch by lang: examples/multiple/main.go:418-425.
- chunk id: ``"<docID>-chunk-<order>"`` (rag.go:264-266).
- cleanContent: trim + strip NULs (rag.go:209-213).
- rejects: invalid Go content errors in the reference
  (go_test.go:20-29); in a batch engine we route those rows to a
  rejects output instead of failing the job.
"""

from __future__ import annotations

import json
from typing import Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from kgforge import tokenizer
from kgforge.gochunk import GoParseError, chunk_go
from kgforge.schemas import CHUNK_ELEMENT_SCHEMA

DEFAULT_MAX_TOKENS = 1024  # default.go:41
DEFAULT_OVERLAP_TOKENS = 128  # default.go:42


def clean_content(col: Column) -> Column:
    """cleanContent (rag.go:209-213): trim whitespace, strip NULs."""
    return F.regexp_replace(F.trim(col), "\x00", "")


def chunk_default(
    content: str,
    max_tokens: int = DEFAULT_MAX_TOKENS,
    overlap_tokens: int = DEFAULT_OVERLAP_TOKENS,
) -> List[Tuple[str, int, int]]:
    """C1: sliding token window (default.go:53-96). Pure function.

    ``overlap_tokens >= max_tokens`` would make the stride non-positive
    and the window loop never advance (the Go reference only dodges
    this because zero-values fall back to defaults) — rejected here.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    if overlap_tokens >= max_tokens:
        raise ValueError(
            f"overlap_tokens ({overlap_tokens}) must be < max_tokens "
            f"({max_tokens}): stride would be non-positive"
        )
    if not content:
        return []
    tokens = tokenizer.encode(content)
    stride = max_tokens - overlap_tokens
    out: List[Tuple[str, int, int]] = []
    index = 0
    start = 0
    while start < len(tokens):
        window = tokens[start : start + max_tokens]
        trimmed = tokenizer.decode(window).strip()
        out.append((trimmed, tokenizer.count_tokens(trimmed), index))
        index += 1
        start += stride
    return out


def chunk_content(
    lang: str, text: str, max_tokens: int, overlap_tokens: int
) -> List[Tuple[str, int, int]]:
    """The one chunker dispatch on ``lang`` (S3, examples/multiple/
    main.go:418-425): ``go`` -> C2 Go scanner, ``markdown``/``md`` ->
    heading sections, ``semantic`` -> C3 (handler/semantic.go:63-214)
    with the deterministic paragraph span-proposer, else C1 default
    window.  Raises :class:`GoParseError` on invalid Go."""
    if lang == "go":
        return chunk_go(text)
    if lang in ("markdown", "md"):
        from kgforge.markdown import chunk_markdown

        return chunk_markdown(text)
    if lang == "semantic":
        from kgforge.semantic import chunk_semantic

        return chunk_semantic(text, max_tokens=max_tokens)
    return chunk_default(text, max_tokens, overlap_tokens)


def make_chunker_udf(
    max_tokens: int = DEFAULT_MAX_TOKENS,
    overlap_tokens: int = DEFAULT_OVERLAP_TOKENS,
    extractor: Optional[str] = None,
):
    """Vectorized chunker: (lang, content) -> array<chunk struct>.

    A Go parse failure returns ``None`` so the caller can route the
    row to a rejects table (the batch analog of the reference's error
    return).

    With ``extractor`` (a key of ``extraction.EXTRACTORS``) each chunk
    struct also carries ``extraction_json``, the extractor's llmResult
    for that chunk: chunking and extraction then run in ONE Python
    stage, so the content column crosses the JVM<->Python Arrow
    boundary once.  The extractor factory is looked up here, on the
    driver, and shipped with the UDF closure, so extractors registered
    at run time reach the workers.  Iterator form: the extractor (an
    LLM client, say) is built once per partition, not per batch.
    """
    # Fail fast on the driver, not inside an executor UDF loop.
    if max_tokens <= 0 or overlap_tokens >= max_tokens:
        raise ValueError(
            f"invalid chunker window: max_tokens={max_tokens}, "
            f"overlap_tokens={overlap_tokens} (need 0 < overlap < max)"
        )
    fields = list(CHUNK_ELEMENT_SCHEMA.fields)
    factory = None
    if extractor is not None:
        from kgforge.extraction import EXTRACTORS

        factory = EXTRACTORS[extractor]
        fields.append(StructField("extraction_json", StringType(), True))

    @pandas_udf(ArrayType(StructType(fields)))
    def chunker(
        batches: Iterator[Tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        extract = factory() if factory is not None else None
        for lang, content in batches:
            results = []
            for lg, text in zip(lang, content):
                text = "" if text is None else text.strip().replace("\x00", "")
                try:
                    chunks = chunk_content(
                        lg, text, max_tokens, overlap_tokens
                    )
                except GoParseError:
                    results.append(None)
                    continue
                rows = [
                    {"content": c, "token_size": t, "order_index": o}
                    for (c, t, o) in chunks
                ]
                if extract is not None:
                    for r in rows:
                        r["extraction_json"] = json.dumps(
                            extract(r["content"]), ensure_ascii=False
                        )
                results.append(rows)
            yield pd.Series(results, dtype=object)

    return chunker


def doc_id_col() -> Column:
    """doc_id = repo ':' path '@' commit (SURVEY.md §1.1)."""
    return F.concat_ws(
        "", F.col("repo"), F.lit(":"), F.col("path"), F.lit("@"),
        F.col("commit"),
    )


def build_chunks(
    repos: DataFrame,
    max_tokens: int = DEFAULT_MAX_TOKENS,
    overlap_tokens: int = DEFAULT_OVERLAP_TOKENS,
    extractor: Optional[str] = None,
) -> Tuple[DataFrame, DataFrame]:
    """repos -> (chunks, rejects).

    chunks: one row per chunk with chunk_id = doc_id||'-chunk-'||order
    (rag.go:264-266) and the per-row sha256(content) lineage invariant;
    with ``extractor`` also the chunk's ``extraction_json`` (see
    :func:`make_chunker_udf`).
    rejects: rows whose chunker errored (invalid Go).

    Narrow stage: UDF + posexplode, no shuffle; partition pruning on
    (repo, lang) still applies upstream because the UDF is applied
    after the scan filters.
    """
    chunker = make_chunker_udf(max_tokens, overlap_tokens, extractor)
    base = (
        repos.withColumn("doc_id", doc_id_col())
        .withColumn("content_clean", clean_content(F.col("content")))
        .withColumn("content_sha", F.sha2(F.col("content"), 256))
        .withColumn(
            "chunk_arr", chunker(F.col("lang"), F.col("content_clean"))
        )
    )
    rejects = base.filter(F.col("chunk_arr").isNull()).select(
        "repo", "path", "commit", "lang", "doc_id", "content_sha"
    )
    # NO pre-explode chunk_arr-isNotNull filter: posexplode_outer
    # turns a NULL (or empty) array into one null chunk row and the
    # chunk-isNotNull filter below drops it, so the pre-filter was
    # redundant — and harmful: a filter on a UDF-computed column gets
    # pushed below the spread exchange and the optimizer then
    # evaluates the chunker UDF TWICE, the first time as a SERIAL
    # pass over the unspread single-split scan.
    extra = [F.col("chunk.extraction_json")] if extractor else []
    chunks = (
        base.select(
            "repo",
            "lang",
            "doc_id",
            "content_sha",
            F.posexplode_outer("chunk_arr").alias("_pos", "chunk"),
        )
        .filter(F.col("chunk").isNotNull())
        .select(
            F.concat_ws(
                "",
                F.col("doc_id"),
                F.lit("-chunk-"),
                F.col("chunk.order_index").cast("string"),
            ).alias("chunk_id"),
            "doc_id",
            "repo",
            "lang",
            F.col("chunk.order_index").alias("order_index"),
            F.col("chunk.content").alias("content"),
            F.col("chunk.token_size").alias("token_size"),
            "content_sha",
            *extra,
        )
    )
    return chunks, rejects
