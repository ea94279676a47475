"""``batch``: one client in a closed loop runs sixteen requests in series
through the engine's public entry points: the eight TPC-H-shaped queries of
``tpch.py``, then the eight steps of the LLM-corpus pipeline and ANN index
of ``llm.py``.

A run is one pass of a fresh application, JIT and Python-worker warm-up
included, as a batch job submitted on its own pays it.  The queries load
``tables``, ``queries`` and ``functions`` (JVM only); the pipeline loads
``operators`` and the Arrow/pandas-UDF boundary; ``streaming`` stays idle.
The per-layer metrics of a traced run keep the two halves apart.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

from perfbench import llm, tpch

STREAMING = False
CONF: dict[str, str] = {}


@dataclass
class Result:
    tpch: tpch.Result
    llm: llm.Result
    e2e: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)

    @property
    def named(self) -> dict:
        return {**self.tpch.named, **self.llm.named}


def prepare(ctx) -> None:
    tpch.prepare(ctx)


def measure(ctx) -> Result:
    from perfbench.run import geomean, latency_line, percentile_tail

    res = Result(tpch.measure(ctx), llm.measure(ctx))
    samples = res.tpch.samples + res.llm.samples
    pct, tail = percentile_tail(samples)
    res.e2e = {
        "elapsed_s": (sum(samples), "s"),
        "geomean_s": (geomean(samples), "s"),
        "latency_p50_ms": (statistics.median(samples) * 1000, "ms"),
        "latency_tail_ms": (tail * 1000, "ms"),
    }
    res.notes.append(latency_line(pct, samples, "requests (8 queries, 8 pipeline steps)"))
    return res


def check(ctx, res: Result) -> tuple[int, int, list[str]]:
    a1, f1, n1 = tpch.check(ctx, res.tpch)
    a2, f2, n2 = llm.check(ctx, res.llm)
    res.e2e["recall"] = (min(res.tpch.recall, res.llm.recall), "ratio")
    return a1 + a2, f1 + f2, res.notes + n1 + n2


def layer_metrics(ctx, res: Result) -> dict:
    return {**tpch.layer_metrics(ctx, res.tpch), **llm.layer_metrics(ctx, res.llm)}
