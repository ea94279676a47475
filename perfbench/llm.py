"""The LLM-corpus part of the ``batch`` workload: a curation pipeline over
generated documents, then an HNSW-style ANN index over generated
embeddings, in eight steps:

1. ``dedup.exact_dedup`` (one representative per distinct text);
2. ``dedup.minhash_lsh_pairs`` over the representatives;
3. ``dedup.connected_components`` over the candidate pairs;
4. ``text_analysis.lang_id`` and ``text_analysis.quality_stats``;
5. build the ``graph_ann`` index: ``quantized`` + ``with_levels``, then
   ``cross_topm_layered`` for the per-layer edges;
6. search it with ``search_layers`` for every query vector (top 10).

It loads the ``operators`` layer and the Arrow/pandas-UDF boundary.  Each
step's output is materialized (``localCheckpoint`` or ``collect``) so it
is timed on its own.  The checks compare the components with the planted
near-duplicate clusters, ``lang_id`` with the planted language,
``quality_stats`` with a Python reference, and the ANN answers with
numpy's exact top 10 under the same quantized cosine.
"""

from __future__ import annotations

import os
import re
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench.gen import ANN_QUERIES

K = 10
STEPS = ("exact_dedup", "minhash_lsh", "components", "lang_id", "quality",
         "ann_levels", "ann_edges", "ann_search")
LSH_HASHES, LSH_BANDS, SHINGLE = 32, 8, 3
# the candidate-precision threshold: the banding's (1/bands)^(1/rows) point,
# where the LSH S-curve is steepest
JACCARD_THRESHOLD = (1 / LSH_BANDS) ** (LSH_BANDS / LSH_HASHES)


@dataclass
class Result:
    named: dict = field(default_factory=dict)
    times: dict = field(default_factory=dict)      # step -> seconds
    samples: list = field(default_factory=list)    # seconds per step, in STEPS order
    output: dict = field(default_factory=dict)     # what the checks read
    recall: float = 0.0                            # the lower of dedup and ANN recall
    candidates: int = 0                            # LSH candidate pairs
    precision: float = 0.0                         # share with true Jaccard >= threshold


def _iteration(ctx) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from flink_1_19_source_spark.operators import dedup, graph_ann
    from flink_1_19_source_spark.operators import text_analysis as ta
    from flink_1_19_source_spark.tables import load_table

    spark, span = ctx.spark, ctx.tracer.span
    times, out = {}, {}

    def step(name: str, span_name: str, fn):
        t0 = time.perf_counter()
        with span(span_name):
            r = fn()
        times[name] = time.perf_counter() - t0
        return r

    with span("tables.load_table"):
        docs = load_table(spark, ctx.data, "documents")
        emb = load_table(spark, ctx.data, "embeddings")
    reps = step("exact_dedup", "operators.dedup.exact_dedup", lambda: dedup.exact_dedup(
        docs, ["text"], "doc_id").localCheckpoint(eager=True))
    pairs = step("minhash_lsh", "operators.dedup.minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(
        reps, "doc_id", "text", n=SHINGLE, num_hashes=LSH_HASHES, bands=LSH_BANDS
    ).localCheckpoint(eager=True))
    out["components"] = step("components", "operators.dedup.connected_components",
                             lambda: dedup.connected_components(pairs).collect())
    out["pairs"] = pairs.select("id_a", "id_b").collect()
    out["n_reps"] = reps.count()
    langs = docs.select("doc_id", "lang").join(reps.select("doc_id", "text"), "doc_id")
    out["lang"] = step("lang_id", "operators.text_analysis.lang_id", lambda: langs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((ta.lang_id(F.col("text")) == F.col("lang")).cast("int")).alias("ok"),
    ).collect()[0])
    stats = ta.quality_stats(F.col("text"))
    out["quality"] = step("quality", "operators.text_analysis.quality_stats", lambda: reps.agg(
        *[F.sum(c).alias(k) for k, c in stats.items()]).collect()[0].asDict())

    nodes = step("ann_levels", "operators.graph_ann.with_levels", lambda: graph_ann.with_levels(
        graph_ann.quantized(emb, "vec_id", "embedding")).localCheckpoint(eager=True))
    ranked = step("ann_edges", "operators.graph_ann.cross_topm_layered",
                  lambda: graph_ann.cross_topm_layered(nodes, nodes).localCheckpoint(eager=True))
    edges = {lv: ranked.filter(F.col("lvl") == lv).select("src", "dst", "sim") for lv in (2, 1, 0)}
    qset = graph_ann.quantized(spark.read.parquet(os.path.join(ctx.data, ANN_QUERIES)),
                               "vec_id", "embedding")
    out["ann"] = step("ann_search", "operators.graph_ann.search_layers",
                      lambda: graph_ann.search_layers(nodes, edges, qset, k=K).collect())
    return times, out


def measure(ctx) -> Result:
    """The eight pipeline steps in series."""
    res = Result()
    times, res.output = _iteration(ctx)
    res.times = times
    res.samples = [times[s] for s in STEPS]
    text_s = sum(times[s] for s in ("exact_dedup", "minhash_lsh", "components", "lang_id",
                                    "quality"))
    res.named = {
        "llm.docs_per_s": (ctx.sizes["documents"] / text_s, "docs/s"),
        "ann.build_s": (times["ann_levels"] + times["ann_edges"], "s"),
        "ann.qps": (len(ctx.truth.query_ids) / times["ann_search"], "queries/s"),
    }
    return res


def _shingles(text: str) -> set[str]:
    toks = [t for t in re.split(r"\s+", text.lower()) if t]
    if len(toks) < SHINGLE:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + SHINGLE]) for i in range(len(toks) - SHINGLE + 1)}


def _exact_topk(ctx) -> np.ndarray:
    """numpy exact top-K under the engine's quantized cosine (integer
    components, exact int64 dots), ties to the lower id."""
    import pyarrow.parquet as pq

    from flink_1_19_source_spark.operators.graph_ann import SCALE

    t = pq.read_table(os.path.join(ctx.data, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
    qv = np.round(vecs.astype(np.float64) * SCALE).astype(np.int64)
    qq = np.round(ctx.truth.query_vectors.astype(np.float64) * SCALE).astype(np.int64)
    dots = qq @ qv.T
    sims = dots / np.sqrt((qq * qq).sum(1)[:, None].astype(np.float64)
                          * (qv * qv).sum(1)[None, :].astype(np.float64))
    order = np.lexsort((np.broadcast_to(ids, sims.shape), -sims), axis=1)
    return ids[order[:, :K]]


def check(ctx, res: Result) -> tuple[int, int, list[str]]:
    """One operation per checked output; it fails when exact dedup keeps a
    wrong count, planted near-duplicate pairs end in different components
    (recall under ``dedup_min_recall``), a language is misdetected, a
    quality sum differs from the Python reference, or the ANN recall@10
    falls under ``ann_min_recall``."""
    import pyarrow.parquet as pq

    wl = ctx.spec["workloads"][ctx.workload]
    out = res.output
    docs = pq.read_table(os.path.join(ctx.data, "documents.parquet")).to_pydict()
    texts = dict(zip(docs["doc_id"], docs["text"]))
    first: dict[str, int] = {}
    for d, t in sorted(texts.items()):
        first.setdefault(t, d)
    reps = set(first.values())
    ref = {"n_chars": 0, "n_tokens": 0, "punct_ratio": 0.0, "upper_ratio": 0.0}
    for d in reps:
        t = texts[d]
        ref["n_chars"] += len(t)
        ref["n_tokens"] += len([x for x in re.split(r"\s+", t.lower()) if x])
        ref["punct_ratio"] += round(len(re.findall(r"[^\w\s]", t)) / len(t), 9)
        ref["upper_ratio"] += round(len(re.findall(r"[A-Z]", t)) / len(t), 9)

    planted = [(a, b) for c in ctx.truth.dup_clusters for i, a in enumerate(c) for b in c[i + 1:]]
    comp = {r["id"]: r["component"] for r in out["components"]}
    dedup_recall = sum(1 for a, b in planted if comp.get(a, a) == comp.get(b, b)) / len(planted)
    shingles = {d: _shingles(texts[d]) for p in out["pairs"] for d in p}
    good = sum(1 for a, b in out["pairs"]
               if len(shingles[a] & shingles[b]) / len(shingles[a] | shingles[b])
               >= JACCARD_THRESHOLD)
    res.candidates = len(out["pairs"])
    res.precision = good / max(res.candidates, 1)

    exact = _exact_topk(ctx)
    got: dict[int, set] = {}
    for r in out["ann"]:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ann_recall = statistics.mean(len(got.get(q, set()) & set(exact[i].tolist())) / K
                                 for i, q in enumerate(ctx.truth.query_ids))
    q = out["quality"]
    checks = [
        out["n_reps"] == len(reps),
        dedup_recall >= wl["dedup_min_recall"],
        out["lang"]["ok"] == out["lang"]["n"] == len(reps),
        q["n_chars"] == ref["n_chars"] and q["n_tokens"] == ref["n_tokens"]
        and abs(q["punct_ratio"] - ref["punct_ratio"]) < 1e-6
        and abs(q["upper_ratio"] - ref["upper_ratio"]) < 1e-6,
        ann_recall >= wl["ann_min_recall"],
    ]
    res.recall = min(dedup_recall, ann_recall)
    res.named["llm.dedup_recall"] = (dedup_recall, "ratio")
    res.named["ann.recall_at_10"] = (ann_recall, "ratio")
    notes = [f"planted near-duplicate pairs {len(planted)}, representatives "
                         f"{len(reps)}, candidate pairs {res.candidates}"]
    return len(checks), checks.count(False), notes


def layer_metrics(ctx, res: Result) -> dict:
    m = res.times
    return {
        "operators.dedup.exact_s": (m["exact_dedup"], "s"),
        "operators.dedup.minhash_lsh_s": (m["minhash_lsh"], "s"),
        "operators.dedup.components_s": (m["components"], "s"),
        "operators.dedup.candidate_pairs": (res.candidates, "count"),
        "operators.dedup.candidate_precision": (res.precision, "ratio"),
        "operators.text_analysis.lang_id_s": (m["lang_id"], "s"),
        "operators.text_analysis.quality_s": (m["quality"], "s"),
        "operators.graph_ann.levels_s": (m["ann_levels"], "s"),
        "operators.graph_ann.edges_s": (m["ann_edges"], "s"),
        "operators.graph_ann.search_s": (m["ann_search"], "s"),
    }
