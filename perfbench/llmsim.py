"""Simulated LLM for the ``ingest-llm`` leg of the benchmark.

The chat function sleeps a fixed service time per call and answers
what ``kgforge.extraction.heuristic_extract`` finds in the prompt's
text, so an LLM-extracted graph must equal the heuristic one.  Glean
turns answer an empty result.  Calls and busy seconds are counted with
Spark accumulators, because the chat runs inside Python UDF workers.
"""

from __future__ import annotations

import functools
import json
import time

from kgforge import extraction
from kgforge.llm import LLMExtractor

SERVICE_S = 0.004
EXTRACTOR = "perfbench-llm"

_TEXT_START = "\nText:\n"
_TEXT_END = "\n######################\nOutput:"
_EMPTY = json.dumps({"entities": [], "relationships": []})


class SimulatedChat:
    def __init__(self, calls, busy_s):
        self.calls = calls
        self.busy_s = busy_s

    def __call__(self, histories):
        t0 = time.perf_counter()
        time.sleep(SERVICE_S)
        if len(histories) == 1:
            prompt = histories[0]
            start = prompt.rindex(_TEXT_START) + len(_TEXT_START)
            text = prompt[start:prompt.rindex(_TEXT_END)]
            out = json.dumps(extraction.heuristic_extract(text))
        else:
            out = _EMPTY
        self.calls.add(1)
        self.busy_s.add(time.perf_counter() - t0)
        return out


def _make_extractor(calls, busy_s):
    return LLMExtractor(SimulatedChat(calls, busy_s))


def register(spark):
    """Register the simulated extractor under ``EXTRACTOR`` in
    ``kgforge.extraction.EXTRACTORS``; returns the (calls, busy_s)
    accumulators."""
    sc = spark.sparkContext
    calls, busy_s = sc.accumulator(0), sc.accumulator(0.0)
    extraction.EXTRACTORS[EXTRACTOR] = functools.partial(
        _make_extractor, calls, busy_s
    )
    return calls, busy_s
