"""User-facing facade mirroring the reference's API surface.

The reference exposes two entry points (SURVEY.md §3):
``Insert(doc, handler, storage, llm, logger)`` (insert.go:177-222) and
``Query(conversations, handler, storage, llm, logger)``
(query.go:92-190).  A user of go-light-rag switches to::

    rag = LightRAG(spark, store_root, chat=my_llm_chat)
    rag.insert(corpus_df)            # corpus: repos-shaped DataFrame
    answer_context = rag.query([
        {"role": "user", "message": "what is Entity1?"},
    ])

``chat`` is any ``list[str] -> str`` callable (the reference's LLM
interface).  Without one, keyword extraction falls back to using the
raw query text as both keyword sets (deterministic, LLM-free), which
keeps the full retrieval path usable offline.
"""

from __future__ import annotations

from typing import Callable, List, Optional

from pyspark.sql import DataFrame, SparkSession

from kgforge import query as q
from kgforge.llm import extract_keywords
from kgforge.pipeline import PipelineConfig, run_insert
from kgforge.store import ParquetTableStore

ROLE_USER = "user"
ROLE_ASSISTANT = "assistant"


def extract_query_and_histories(conversations: List[dict]):
    """Q1 (query.go:192-200): last user message is the query, the
    prefix is history; error when no user message exists."""
    for i in range(len(conversations) - 1, -1, -1):
        if conversations[i].get("role") == ROLE_USER:
            return conversations[i].get("message", ""), conversations[:i]
    raise ValueError("no user message found")


class LightRAG:
    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        config: Optional[PipelineConfig] = None,
        chat: Optional[Callable[[List[str]], str]] = None,
        top_k: int = q.TOP_K,
    ):
        self.spark = spark
        self.store = ParquetTableStore(spark, store_root)
        self.config = config or PipelineConfig()
        self.chat = chat
        self.top_k = top_k

    # ---- write path (Insert, insert.go:177-222) ----

    def insert(self, corpus: DataFrame) -> dict:
        return run_insert(self.spark, corpus, self.store, self.config)

    # ---- read path (Query, query.go:92-190) ----

    def _keywords(self, query_text: str, history: str) -> dict:
        if self.chat is not None:
            return extract_keywords(self.chat, query_text, history)
        # deterministic LLM-free fallback: the query itself
        return {
            "high_level_keywords": [query_text],
            "low_level_keywords": [query_text],
        }

    def query(self, conversations: List[dict]) -> dict:
        """The six query contexts (lists of Rows, see
        :func:`kgforge.query.query`), all read from one store
        snapshot."""
        query_text, histories = extract_query_and_histories(conversations)
        history_str = "\n".join(
            f"role: {c.get('role')}, content: {c.get('message')}"
            for c in histories
        )
        kw = self._keywords(query_text, history_str)
        ll = ", ".join(kw["low_level_keywords"])
        hl = ", ".join(kw["high_level_keywords"])

        tables = self.store.read_tables(
            "nodes", "edges", "chunks", "embeddings"
        )
        if any(t is None for t in tables):
            raise RuntimeError("store is empty — run insert() first")
        return q.query(ll, hl, *tables, self.top_k)

    def query_text(self, conversations: List[dict]) -> str:
        """Query + the reference's CSV render (QueryResult.String)."""
        return q.render_query_result(self.query(conversations))
