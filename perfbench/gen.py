"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (``region nation customer supplier
part orders lineitem events documents embeddings``) with the same column
names and parquet types as the engine's fixture tables: µs timestamps
without a time zone, ``list<float>`` embeddings, int32/int64 keys as in the
fixtures.  The fact tables ``orders`` and ``lineitem`` are written as
directories of several part files so scans split across cores.

Every value is drawn from one ``numpy`` generator seeded by ``--seed``:
the same seed and sizes give byte-identical tables.  Besides the tables,
``generate`` writes the ANN query vectors (``ann_queries.parquet``) and
``manifest.json`` with the seed and every row count, and returns the
planted truth the correctness checks need (the near-duplicate clusters of
``documents`` and the query vectors).

Run on its own to inspect a data set::

    python3 perfbench/gen.py --seed 1 --out /some/dir --workload batch
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import asdict, dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "red", "blue", "hot", "cold", "old", "new", "large")
PART_NOUN = ("bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENT_USERS = 500

# the engine's lang_id markers (operators/text_analysis.LANG_MARKERS);
# every generated document carries markers of its own language only, so
# the detected language is known
LANG_MARKERS = {
    "de": ("der", "die", "und", "das", "ist", "nicht"),
    "en": ("the", "and", "of", "to", "is", "it"),
    "es": ("el", "los", "y", "es", "una", "para"),
    "fr": ("le", "les", "et", "est", "une", "pour"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3"),
}
LANGS = tuple(sorted(LANG_MARKERS))

ANN_QUERIES = "ann_queries.parquet"  # the query vectors, beside the ten tables
EPOCH_1995 = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404          # 1995-01-01 .. 2001-08-01
EVENTS_START = np.datetime64("2024-01-01", "us")
DIM = 64


@dataclass
class Sizes:
    """Row counts (``lineitem`` gets one to seven lines per order;
    ``queries`` counts the ANN query vectors), and the number of part files
    of each fact table."""

    customer: int = 0
    supplier: int = 0
    part: int = 0
    orders: int = 0
    fact_parts: int = 4
    events: int = 0
    documents: int = 0
    embeddings: int = 0
    queries: int = 0


@dataclass
class Truth:
    """What the generator planted, for the correctness checks."""

    dup_clusters: list[list[int]] = field(default_factory=list)
    query_ids: list[int] = field(default_factory=list)
    query_vectors: np.ndarray | None = None


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((EPOCH_1995 + days.astype("timedelta64[D]")).astype("datetime64[us]"),
                    type=pa.timestamp("us"))


def _write(table: pa.Table, path: str, parts: int = 1) -> None:
    """One file, or a directory of ``parts`` files when ``parts`` > 1."""
    if parts == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    per = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * per, per), os.path.join(path, f"part-{i:05d}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dims(rng, s: Sizes, out: str) -> None:
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": list(REGIONS),
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(s.customer, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customer)],
        "c_nationkey": pa.array(rng.integers(0, 25, s.customer), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, s.customer),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, s.customer)],
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(s.supplier, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.supplier)],
        "s_nationkey": pa.array(rng.integers(0, 25, s.supplier), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.supplier),
    }), f"{out}/supplier.parquet")
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), s.part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), s.part)]
    _write(pa.table({
        "p_partkey": np.arange(s.part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, s.part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, s.part)],
        "p_size": pa.array(rng.integers(1, 51, s.part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(s.part) % 20000 / 10, 2),
    }), f"{out}/part.parquet")


def _facts(rng, s: Sizes, out: str) -> int:
    n = s.orders
    odays = rng.integers(0, ORDER_DAYS, n)
    # distinct prices: the q18 ORDER BY o_totalprice has no tie to break
    price = np.round(1000 + rng.permutation(n) * 0.37 + rng.integers(0, 30, n) * 1e4, 2)
    _write(pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, s.customer, n).astype(np.int64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n)],
        "o_totalprice": price,
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    }), f"{out}/orders.parquet", s.fact_parts)

    lines = rng.integers(1, 8, n)
    m = int(lines.sum())
    okey = np.repeat(np.arange(n, dtype=np.int64), lines)
    start = np.repeat(np.cumsum(lines) - lines, lines)
    lineno = (np.arange(m) - start + 1).astype(np.int32)
    qty = rng.integers(1, 51, m).astype(np.float64)
    _write(pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, s.part, m).astype(np.int64),
        "l_suppkey": rng.integers(0, s.supplier, m).astype(np.int64),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2100, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, m)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, m)],
        "l_shipdate": _ts(np.repeat(odays, lines) + rng.integers(1, 122, m)),
    }), f"{out}/lineitem.parquet", s.fact_parts)
    return m


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` events about 1 s of event time apart; ``user_id`` follows a
    Zipf law over ``EVENT_USERS`` keys.  Each user's clock runs up to 5 minutes
    behind (a fixed skew per user), so event times arrive out of order
    across users, inside the 10-minute watermark, while each user's own
    events stay in order."""
    user = (rng.zipf(1.3, n) - 1) % EVENT_USERS
    skew = rng.integers(0, 300_000_000, EVENT_USERS)
    us = np.arange(n, dtype=np.int64) * 1_000_000 + rng.integers(0, 900_000, n) - skew[user]
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(EVENTS_START + (us + 300_000_000).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": user.astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.01, 200.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _vocab(rng: np.random.Generator, size: int = 400) -> np.ndarray:
    syl = ["ka", "lo", "mi", "ru", "te", "vo", "na", "pi", "sa", "gu", "be", "zo"]
    markers = {m for ms in LANG_MARKERS.values() for m in ms}
    words: set[str] = set()
    while len(words) < size:
        w = "".join(rng.choice(syl, rng.integers(2, 4)))
        if w not in markers:
            words.add(w)
    return np.array(sorted(words))


def documents_table(rng: np.random.Generator, n: int) -> tuple[pa.Table, list[list[int]]]:
    """Word-salad documents in five languages.  About a third belong to
    planted near-duplicate clusters (2–5 members, each a copy of the
    cluster's base document with one word replaced); 2% are exact copies
    of an earlier document, and leave their planted cluster."""
    vocab = _vocab(rng)
    texts: list[str] = []
    langs: list[str] = []
    clusters: list[list[int]] = []
    while len(texts) < n:
        lang = LANGS[rng.integers(0, len(LANGS))]
        words = vocab[rng.integers(0, len(vocab), rng.integers(40, 90))].tolist()
        marks = LANG_MARKERS[lang]
        for pos in rng.integers(0, len(words), 6):
            words[pos] = marks[rng.integers(0, len(marks))]
        words[0] = words[0].capitalize()
        size = int(rng.integers(2, 6)) if rng.random() < 0.12 else 1
        members = []
        for k in range(min(size, n - len(texts))):
            w = list(words)
            if k:
                w[rng.integers(1, len(w))] = vocab[rng.integers(0, len(vocab))]
            members.append(len(texts))
            texts.append(" ".join(w) + ".")
            langs.append(lang)
        if len(members) > 1:
            clusters.append(members)
    copies = set()
    for i in rng.choice(np.arange(1, n), n // 50, replace=False).tolist():
        j = int(rng.integers(0, i))
        texts[i], langs[i] = texts[j], langs[j]
        copies.add(i)
    clusters = [[d for d in c if d not in copies] for c in clusters]
    clusters = [c for c in clusters if len(c) > 1]
    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return table, clusters


def embeddings_table(rng: np.random.Generator, n: int, n_queries: int) -> tuple[pa.Table, np.ndarray]:
    """``n`` unit 64-d vectors around ``n // 8`` planted centres (label =
    centre, about eight vectors a topic), plus ``n_queries`` query vectors
    drawn the same way.  Many small topics keep the ANN recall close across
    seeds; a few large ones make it hinge on where the entry point lands."""
    clusters = max(n // 8, 1)
    centres = rng.normal(0, 1, (clusters, DIM))

    def draw(k: int) -> tuple[np.ndarray, np.ndarray]:
        lab = rng.integers(0, clusters, k)
        v = centres[lab] + rng.normal(0, 0.6, (k, DIM))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return v.astype(np.float32), lab

    vecs, labels = draw(n)
    qvecs, _ = draw(n_queries)
    table = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return table, qvecs


def generate(out: str, seed: int, sizes: Sizes) -> Truth:
    """Write every table under ``out`` and return the planted truth."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    truth = Truth()
    counts = {"region": 5, "nation": 25}
    _dims(rng, sizes, out)
    counts.update(customer=sizes.customer, supplier=sizes.supplier, part=sizes.part,
                  orders=sizes.orders)
    counts["lineitem"] = _facts(rng, sizes, out)
    _write(events_table(rng, sizes.events), f"{out}/events.parquet")
    counts["events"] = sizes.events
    docs, truth.dup_clusters = documents_table(rng, sizes.documents)
    _write(docs, f"{out}/documents.parquet")
    counts["documents"] = sizes.documents
    emb, truth.query_vectors = embeddings_table(rng, sizes.embeddings, sizes.queries)
    _write(emb, f"{out}/embeddings.parquet")
    counts["embeddings"] = sizes.embeddings
    # query ids sit far above every vector id, so no query finds itself
    truth.query_ids = list(range(10_000_000, 10_000_000 + sizes.queries))
    _write(pa.table({
        "vec_id": np.array(truth.query_ids, dtype=np.int64),
        "embedding": pa.array(list(truth.query_vectors), pa.list_(pa.float32())),
    }), f"{out}/{ANN_QUERIES}")
    counts["ann_queries"] = sizes.queries
    with open(f"{out}/manifest.json", "w") as f:
        json.dump({"seed": seed, "rows": counts, "sizes": asdict(sizes)}, f, indent=1)
    return truth


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", default="batch",
                    help="take the row counts of this workload in workloads.json")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")) as f:
        sizes = json.load(f)["workloads"][a.workload]["sizes"]
    generate(a.out, a.seed, Sizes(**sizes))
    with open(f"{a.out}/manifest.json") as f:
        print(f.read())


if __name__ == "__main__":
    main()
