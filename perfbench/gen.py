"""Seeded input generators for the perfbench workloads.

Every input a workload feeds the program comes from here and depends only
on the seed: the program sees the generated parquet files and request
lists, nothing else. To write one workload's inputs and print their sizes:

    python3 perfbench/gen.py WORKLOAD --seed N --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. The corpus shares (exact copies, near copies,
# low-quality docs, benchmark leakage) and the order-change mix (a tenth
# of the orders change per date; updates, inserts and deletes 60/25/15)
# are assumptions, not figures measured on a real corpus or change feed.
# They are not tuned to either side of any size gate in the program. At
# 2000 docs they give about 200 verified near-dup edges, so
# canonical_assignment resolves on the driver (_CANONICAL_DRIVER_MAX_EDGES
# is 100 000); the corpus is under minhash_near_dedup's small-corpus size
# (4 MB), so its "auto" settings leave the bucket cap off and the verify
# join to AQE. Both paths follow from the corpus size, not the shares.
SIZES = {
    "etl_daily": {
        "customers": 300,
        "orders": 3000,
        "max_lines_per_order": 7,
        # timed daily dates, between the warm-up date and the weekly date
        "daily_dates": 2,
        "changes_per_date": 300,
    },
    "corpus_curate": {
        "docs": 2000,
        "exact_dup_share": 0.05,
        "near_dup_share": 0.10,
        "contaminated_share": 0.02,
        "low_quality_share": 0.05,
        "bench_docs": 40,
        "vocab": 6000,
        "dim": 64,
        "hot_docs": 200,  # Zipf-hot head of docs requests are drawn from
    },
}

FIRST_DATE = datetime(2024, 1, 1)
# Natural-language warehouse requests, each with its DuckDB twin for the
# output check.
NL_REQUESTS = {
    "max o_totalprice in orders where o_orderstatus = F":
        "SELECT max(o_totalprice) FROM orders WHERE o_orderstatus = 'F'",
    "count distinct o_custkey by o_orderstatus in orders where o_totalprice > 5000":
        "SELECT o_orderstatus, count(DISTINCT o_custkey) FROM orders "
        "WHERE o_totalprice > 5000 GROUP BY o_orderstatus",
    "total l_extendedprice by l_linestatus in lineitem where l_quantity between 10 and 20 "
    "and l_returnflag = N":
        "SELECT l_linestatus, sum(l_extendedprice) FROM lineitem "
        "WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag = 'N' GROUP BY l_linestatus",
    "distinct c_mktsegment, c_nationkey from customer where c_acctbal > 0":
        "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer WHERE c_acctbal > 0",
    "monthly count in orders where o_orderstatus = F":
        "SELECT strftime(o_orderdate, '%Y-%m'), count(*) FROM orders "
        "WHERE o_orderstatus = 'F' GROUP BY 1",
}
NEAR_EDIT_RANGE = (0.02, 0.05)  # share of tokens substituted in a near copy
CONTAM_SPAN = 20  # tokens copied from a benchmark doc into a leaked doc
SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.5, 0.15, 0.15, 0.1, 0.1]


def batch_date(i: int) -> str:
    return (FIRST_DATE + timedelta(days=i)).strftime("%Y%m%d")


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(rng.choice(SYLLABLES, size=k)))
    return np.array(sorted(words))


def _zipf_p(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


class _Words:
    """Zipf-distributed token draws over a seeded pseudo-word vocabulary."""

    def __init__(self, rng: np.random.Generator, vocab: int):
        self.rng = rng
        self.vocab = _vocab(rng, vocab)
        self.p = _zipf_p(vocab)

    def draw(self, n: int) -> np.ndarray:
        return self.vocab[self.rng.choice(len(self.vocab), size=n, p=self.p)]


# --------------------------------------------------------------- warehouse


def gen_warehouse(rng: np.random.Generator, out: str, customers: int, orders: int,
                  max_lines_per_order: int, docs: int = 200, vectors: int = 200,
                  dim: int = 64) -> dict[str, int]:
    """TPC-H-shaped warehouse with every table the catalog registers."""
    ts = lambda a: pa.array(a.astype("datetime64[us]"))  # noqa: E731
    base = np.datetime64("2023-01-01T00:00:00", "us")
    _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": [f"REGION{i}" for i in range(5)]}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": [f"NATION{i:02d}" for i in range(25)],
                     "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
           f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    ck = np.arange(1, customers + 1, dtype=np.int64)
    _write(pa.table({"c_custkey": ck,
                     "c_name": [f"Customer#{k:09d}" for k in ck],
                     "c_nationkey": pa.array(rng.integers(0, 25, customers).astype(np.int32)),
                     "c_acctbal": np.round(rng.uniform(-999, 9999, customers), 2),
                     "c_mktsegment": segs[rng.integers(0, 5, customers)]}),
           f"{out}/customer.parquet")
    n_supp, n_part = 20, 200
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    _write(pa.table({"s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                     "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}),
           f"{out}/supplier.parquet")
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    _write(pa.table({"p_partkey": pk, "p_name": [f"part {k}" for k in pk],
                     "p_brand": [f"Brand#{rng.integers(1, 6)}{rng.integers(1, 6)}" for _ in pk],
                     "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"])[
                         rng.integers(0, 5, n_part)],
                     "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                     "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2)}),
           f"{out}/part.parquet")
    ok = np.arange(1, orders + 1, dtype=np.int64) * 4  # sparse keys, as in TPC-H
    odate = base + rng.integers(0, 365, orders).astype("timedelta64[D]")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({"o_orderkey": ok,
                     "o_custkey": rng.integers(1, customers + 1, orders).astype(np.int64),
                     "o_orderstatus": np.array(["O", "F", "P"])[rng.choice(3, orders, p=[.45, .45, .1])],
                     "o_totalprice": np.round(rng.uniform(1000, 400000, orders), 2),
                     "o_orderdate": ts(odate),
                     "o_orderpriority": prios[rng.integers(0, 5, orders)]}),
           f"{out}/orders.parquet")
    nl = rng.integers(1, max_lines_per_order + 1, orders)
    lok = np.repeat(ok, nl)
    lnum = np.concatenate([np.arange(1, n + 1) for n in nl]).astype(np.int32)
    n = len(lok)
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(pa.table({"l_orderkey": lok,
                     "l_partkey": rng.integers(1, n_part + 1, n).astype(np.int64),
                     "l_suppkey": rng.integers(1, n_supp + 1, n).astype(np.int64),
                     "l_linenumber": pa.array(lnum),
                     "l_quantity": qty,
                     "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
                     "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
                     "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
                     "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
                     "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
                     "l_shipdate": ts(np.repeat(odate, nl)
                                      + rng.integers(1, 122, n).astype("timedelta64[D]"))}),
           f"{out}/lineitem.parquet")
    ne = 1000
    _write(pa.table({"event_id": np.arange(ne, dtype=np.int64),
                     "ts": ts(base + np.sort(rng.integers(0, 86400 * 30, ne)).astype("timedelta64[s]")),
                     "user_id": rng.integers(0, 50, ne).astype(np.int64),
                     "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
                         rng.integers(0, 5, ne)],
                     "value": np.round(rng.uniform(0, 200, ne), 2),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}),
           f"{out}/events.parquet")
    words = _Words(rng, 800)
    texts = [" ".join(words.draw(int(rng.integers(20, 80)))) for _ in range(docs)]
    _docs_table(rng, np.arange(docs, dtype=np.int64), texts, f"{out}/documents.parquet")
    _write(_embeddings(rng, vectors, dim), f"{out}/embeddings.parquet")
    return {"customers": customers, "orders": orders, "lineitems": n}


def _docs_table(rng, ids: np.ndarray, texts: list[str], path: str) -> None:
    _write(pa.table({"doc_id": ids, "text": texts,
                     "lang": np.array(LANGS)[rng.choice(len(LANGS), len(ids), p=LANG_P)],
                     "source": [f"src{k}" for k in rng.zipf(1.6, len(ids)) % 50],
                     "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}), path)


def _embeddings(rng, n: int, dim: int, clusters: int = 32) -> pa.Table:
    centers = rng.normal(size=(clusters, dim))
    label = rng.integers(0, clusters, n)
    vecs = (centers[label] + 0.35 * rng.normal(size=(n, dim))).astype(np.float32)
    return pa.table({"vec_id": np.arange(n, dtype=np.int64),
                     "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                     "label": pa.array(label.astype(np.int32))})


def gen_changes(rng: np.random.Generator, out: str, orders: int, customers: int,
                dates: int, changes_per_date: int) -> int:
    """One I/U/D change feed on the orders table per batch date. Keys are
    drawn from the live set the earlier feeds leave; within a feed a key
    may change several times, with a unique ``seq`` so latest-wins is
    total."""
    live = list(np.arange(1, orders + 1, dtype=np.int64) * 4)
    next_key = (orders + 1) * 4 + 1  # inserts get keys no base order uses
    seq = 0
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    for d in range(dates):
        rows = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                                "o_orderdate", "o_orderpriority", "op", "seq")}
        day = np.datetime64(FIRST_DATE + timedelta(days=d), "us")
        for op in rng.choice(["U", "I", "D"], changes_per_date, p=[0.6, 0.25, 0.15]):
            if op == "I":
                key = next_key
                next_key += 1
                live.append(key)
            else:
                key = live[int(rng.integers(0, len(live)))]
                if op == "D":
                    live.remove(key)
            seq += 1
            rows["o_orderkey"].append(key)
            rows["o_custkey"].append(int(rng.integers(1, customers + 1)))
            rows["o_orderstatus"].append(str(rng.choice(["O", "F", "P"])))
            rows["o_totalprice"].append(round(float(rng.uniform(1000, 400000)), 2))
            rows["o_orderdate"].append(day)
            rows["o_orderpriority"].append(prios[int(rng.integers(0, 5))])
            rows["op"].append(str(op))
            rows["seq"].append(seq)
        t = pa.table({**{k: v for k, v in rows.items() if k != "o_orderdate"},
                      "o_orderdate": pa.array(np.array(rows["o_orderdate"], dtype="datetime64[us]"))})
        _write(t.select(["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                         "o_orderdate", "o_orderpriority", "op", "seq"]),
               f"{out}/changes/{batch_date(d)}.parquet")
    return seq


def gen_etl_daily(seed: int, out: str) -> dict:
    s = SIZES["etl_daily"]
    rng = np.random.default_rng([seed, 1])
    sizes = gen_warehouse(rng, f"{out}/warehouse", s["customers"], s["orders"],
                          s["max_lines_per_order"])
    sizes["changes"] = gen_changes(rng, out, s["orders"], s["customers"], s["daily_dates"] + 2,
                                   s["changes_per_date"])
    return sizes


# ----------------------------------------------------------- corpus_curate


def gen_corpus(rng: np.random.Generator, out: str, s: dict) -> tuple[_Words, dict[int, str], dict]:
    """Corpus with planted exact copies, near copies (a few percent of
    tokens substituted), low-quality repetitive docs and docs that leak a
    span of a held-out benchmark doc. Writes ``corpus.parquet``,
    ``bench.parquet`` and ``truth.json`` (the planted near-dup pairs)."""
    words = _Words(rng, s["vocab"])
    n = s["docs"]
    n_exact = int(n * s["exact_dup_share"])
    n_near = int(n * s["near_dup_share"])
    n_low = int(n * s["low_quality_share"])
    n_base = n - n_exact - n_near - n_low
    bench = [words.draw(int(rng.integers(60, 120))) for _ in range(s["bench_docs"])]
    base = [words.draw(int(rng.integers(80, 220))) for _ in range(n_base)]
    for i in rng.choice(n_base, int(n * s["contaminated_share"]), replace=False):
        b = bench[int(rng.integers(0, len(bench)))]
        at = int(rng.integers(0, len(b) - CONTAM_SPAN))
        pos = int(rng.integers(0, len(base[i])))
        base[i] = np.concatenate([base[i][:pos], b[at:at + CONTAM_SPAN], base[i][pos:]])
    texts = [" ".join(t) for t in base]
    origin = list(range(n_base))  # index of the base doc each text copies
    near = []
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        toks = base[src].copy()
        k = max(1, int(len(toks) * rng.uniform(*NEAR_EDIT_RANGE)))
        toks[rng.choice(len(toks), k, replace=False)] = words.draw(k)
        near.append(len(texts))
        texts.append(" ".join(toks))
        origin.append(src)
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        # case and spacing differ; the normalized text is identical
        texts.append("  " + texts[src].upper().replace(" ", "  ", 3) + " ")
        origin.append(src)
    for _ in range(n_low):
        texts.append(" ".join(np.repeat(words.draw(3), int(rng.integers(3, 10)))))
        origin.append(-1)
    ids = rng.permutation(n).astype(np.int64)  # arrival order is not id order
    order = np.argsort(ids)
    _docs_table(rng, ids[order], [texts[i] for i in order], f"{out}/corpus.parquet")
    _docs_table(rng, np.arange(10**6, 10**6 + len(bench), dtype=np.int64),
                [" ".join(b) for b in bench], f"{out}/bench.parquet")
    planted = sorted(tuple(sorted((int(ids[i]), int(ids[origin[i]])))) for i in near)
    with open(f"{out}/truth.json", "w") as f:
        json.dump({"near_pairs": planted}, f)
    sizes = {"docs": n, "exact_dups": n_exact, "near_dups": n_near, "low_quality": n_low,
             "bench_docs": len(bench), "planted_near_pairs": len(planted)}
    return words, {int(i): texts[k] for k, i in enumerate(ids)}, sizes


def gen_corpus_curate(seed: int, out: str) -> dict:
    """The corpus to curate, and for the search requests the traced run
    issues over the curated corpus: one embedding per doc, a small
    warehouse for NL requests, and one request of every kind. Terms, docs
    and query vectors are drawn from a Zipf-hot head; vector queries are
    perturbed doc vectors."""
    s = SIZES["corpus_curate"]
    rng = np.random.default_rng([seed, 2])
    words, text, sizes = gen_corpus(rng, out, s)
    emb = _embeddings(rng, s["docs"], s["dim"])
    _write(emb.rename_columns(["doc_id", "embedding", "label"]), f"{out}/embeddings.parquet")
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    gen_warehouse(rng, f"{out}/warehouse", 200, 1500, 4)
    hot = _zipf_p(s["hot_docs"])
    doc = lambda: int(rng.choice(s["hot_docs"], p=hot))  # noqa: E731
    nl = list(NL_REQUESTS)
    toks = text[doc()].split()
    at = int(rng.integers(0, len(toks) - 1))
    v = vecs[doc()] + 0.05 * rng.normal(size=s["dim"])
    vec = [float(x) for x in v.astype(np.float32)]
    requests = [
        {"kind": "query_string", "terms": [str(words.vocab[doc()]) for _ in range(2)]
         + [f"src{int(rng.integers(0, 50))}"]},
        {"kind": "match_phrase", "phrase": [t.lower() for t in toks[at:at + 2]]},
        # the like-doc is the k-th doc the curation kept, so it exists
        {"kind": "more_like_this", "like_rank": doc()},
        {"kind": "cosine_topk", "vector": vec},
        {"kind": "ivf_topk", "vector": vec},
        {"kind": "nl2sql", "text": nl[int(rng.choice(len(nl), p=_zipf_p(len(nl))))]},
    ]
    with open(f"{out}/requests.json", "w") as f:
        json.dump(requests, f)
    return sizes | {"dim": s["dim"], "requests": len(requests)}


GENERATORS = {"etl_daily": gen_etl_daily, "corpus_curate": gen_corpus_curate}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(GENERATORS[a.workload](a.seed, a.out)))


if __name__ == "__main__":
    main()
