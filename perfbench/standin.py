"""The benchmark's LLM stand-in: ``KeyValueMockLLM`` answers behind a
fixed per-request latency, with request, token and wait counters.

A zero-latency mock hides every cost of waiting on a model, so
concurrency and round-trip changes never show. Each request here
sleeps ``latency_s`` (no CPU) before answering exactly as
``KeyValueMockLLM`` does, so completions and token counts are those of
the program's own mock.

The program's own token total leaves out two driver-side request
kinds of an OpenIE run, both made by calling the client directly: the
schema rerank (``rerank_schema``) and the attribute-validity probes
(``check_remove_attribute``). Their tokens are also tallied apart, as
``unreported_tokens``, so the rest can be checked against the program's
``total_tokens`` exactly.

Counting works on both sides of the Spark boundary. The program
pickles the client into ``mapInPandas`` closures, so executor-side
requests are counted through Spark accumulators that ride along in the
pickle. Driver-side requests (gold disambiguation, validity probes) are
counted under a lock in the driver's own instance: ``Accumulator.add``
on the driver is a read-modify-write that can race the accumulator
server thread.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from pyspark import TaskContext

from evaporate_spark.llm.client import KeyValueMockLLM, approx_token_count
from evaporate_spark.llm.prompts import IS_VALID_ATTRIBUTE, SCHEMA_RERANK

LATENCY_S = 0.1
#: prompt prefixes of the requests whose tokens the program does not report
UNREPORTED = tuple(t.split("{")[0] for t in (IS_VALID_ATTRIBUTE, SCHEMA_RERANK))


@dataclass
class LatencyStandIn(KeyValueMockLLM):
    """``KeyValueMockLLM`` with a fixed sleep per request and counters.

    ``name`` keeps the parent's value: it is part of the prompt-cache
    key and the gold voter's name, so outputs match the program's mock.
    """

    latency_s: float = LATENCY_S
    accumulators: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self._lock = threading.Lock()
        self._driver = {"calls": 0, "tokens": 0, "wait_s": 0.0, "unreported_tokens": 0}

    @classmethod
    def create(cls, sc, latency_s: float = LATENCY_S) -> "LatencyStandIn":
        return cls(
            latency_s=latency_s,
            accumulators={
                "calls": sc.accumulator(0),
                "tokens": sc.accumulator(0),
                "wait_s": sc.accumulator(0.0),
            },
        )

    def __getstate__(self) -> dict:
        state = dict(self.__dict__)
        del state["_lock"], state["_driver"]
        return state

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state)
        self.__post_init__()

    def complete(self, prompt: str, max_tokens: int = 256) -> str:
        t0 = time.perf_counter()
        time.sleep(self.latency_s)
        waited = time.perf_counter() - t0
        out = super().complete(prompt, max_tokens)
        counts = {
            "calls": 1,
            "tokens": approx_token_count(prompt) + approx_token_count(out),
            "wait_s": waited,
        }
        if TaskContext.get() is None:
            with self._lock:
                for k, v in counts.items():
                    self._driver[k] += v
                if prompt.startswith(UNREPORTED):
                    self._driver["unreported_tokens"] += counts["tokens"]
        else:
            for k, v in counts.items():
                self.accumulators[k].add(v)
        return out

    def totals(self) -> dict:
        """Driver plus executor counts so far (read on the driver)."""
        with self._lock:
            out = dict(self._driver)
        out["driver_calls"] = out["calls"]
        for k, acc in self.accumulators.items():
            out[k] += acc.value
        return out
