"""Output checks, run after the timed window. Expected results come from
DuckDB or plain Python/numpy over the same generated inputs; each check
returns a list of mismatch messages (empty when the output is correct).
"""

from __future__ import annotations

import json
import math
import os
import re
from collections import Counter
from datetime import datetime, timedelta

import duckdb
import numpy as np
import pyarrow.parquet as pq

from gen import NL_REQUESTS
from workloads import DECONT_N, NEAR_RECALL_FLOOR, NEAR_THRESHOLD, TOKEN_BUDGET

MONEY_TOL = 0.011  # Spark and DuckDB may round a sum to cents differently
SIM_TOL = 5e-7  # the vector searches report cosine rounded to 6 places
MAX_REPORTED = 5


def _close(a, b, tol: float) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= tol
    return a == b


def compare(name: str, actual: list[tuple], expected: list[tuple], tol: float = MONEY_TOL) -> list[str]:
    """Row multisets equal, floats within ``tol``; rows sorted on their
    non-float fields so a float off by a cent still lines up."""
    def key(r):
        return tuple((0, "") if isinstance(v, float) else (1, str(v)) for v in r)

    if len(actual) != len(expected):
        return [f"{name}: {len(actual)} rows, expected {len(expected)}"]
    errs = []
    for a, e in zip(sorted(actual, key=key), sorted(expected, key=key)):
        if len(a) != len(e) or not all(_close(x, y, tol) for x, y in zip(a, e)):
            errs.append(f"{name}: row {a} != expected {e}")
            if len(errs) >= MAX_REPORTED:
                break
    return errs


def _duck(tables_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{tables_dir}/{f}')")
    return con


def _rows(con, sql: str) -> list[tuple]:
    return [tuple(r) for r in con.execute(sql).fetchall()]


# ------------------------------------------------------------------ etl

T1_ORDER_SUMMARY = """
    SELECT o_custkey, count(*), round(sum(o_totalprice), 2), strftime(max(o_orderdate), '%Y%m%d')
    FROM orders GROUP BY o_custkey"""
T1_LINEITEM_DAILY = """
    SELECT strftime(l_shipdate, '%Y%m%d'), l_returnflag, count(*),
           round(sum(l_extendedprice * (1 - l_discount)), 2)
    FROM lineitem GROUP BY 1, 2"""
T2_CUST_MART = """
    SELECT t1.o_custkey, c.c_name, n.n_name, t1.n_orders, t1.total_spend, t1.last_order_dt
    FROM read_parquet('{out}/t1_order_summary/*.parquet') t1
    JOIN customer c ON t1.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey"""


def check_etl(ctx, wh: str, out: str, lake, dates: list[tuple[str, bool]], records) -> list[str]:
    from data_engineering_spark.queries_relational import FLAGSHIP_ORACLE

    con = _duck(wh)
    got = lambda sql: _rows(con, sql)  # noqa: E731
    errs = compare("t1_order_summary",
                   got(f"SELECT * FROM read_parquet('{out}/t1_order_summary/*.parquet')"),
                   got(T1_ORDER_SUMMARY))
    errs += compare("t1_lineitem_daily",
                    got(f"SELECT * FROM read_parquet('{out}/t1_lineitem_daily/*.parquet')"),
                    got(T1_LINEITEM_DAILY))
    last = max(d for d, _ in dates)
    cutoff = (datetime.strptime(last, "%Y%m%d") - timedelta(days=7)).strftime("%Y%m%d")
    parts = sorted(p.split("=", 1)[1] for p in os.listdir(f"{out}/t2_cust_mart") if "=" in p)
    want = sorted(d for d, _ in dates if d >= cutoff)
    if parts != want:
        errs.append(f"t2_cust_mart partitions {parts}, expected {want} after retention")
    mart = got(T2_CUST_MART.format(out=out))
    for d in parts:
        errs += compare(f"t2_cust_mart[{d}]",
                        got(f"SELECT * FROM read_parquet('{out}/t2_cust_mart/bkup_dt={d}/*.parquet', "
                            "hive_partitioning = false)"),
                        mart)
    if any(w for _, w in dates):
        errs += compare("t4_serving_index",
                        got(f"SELECT * FROM read_parquet('{out}/t4_serving_index/*.parquet')"),
                        got(FLAGSHIP_ORACLE))
    n_audit = got(f"SELECT count(*) FROM read_parquet('{out}/audit_log/*.parquet')")[0][0]
    if n_audit != len(records):
        errs.append(f"audit_log has {n_audit} rows, expected {len(records)}")
    # the lake table: every date's feed applied in order, latest change per key wins
    con.execute("CREATE TABLE state AS SELECT * FROM orders")
    cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
    for d, _ in dates:
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE latest AS SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC, op DESC) rn
                FROM read_parquet('{ctx.inputs}/changes/{d}.parquet')) WHERE rn = 1""")
        con.execute(f"""
            CREATE OR REPLACE TABLE state AS
            SELECT {cols} FROM state WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
            UNION ALL SELECT {cols} FROM latest WHERE op <> 'D'""")
    actual = [tuple(r) for r in lake.scan().select(*cols.split(", ")).collect()]
    errs += compare("lake_orders", actual, got("SELECT * FROM state"))
    return errs


def lake_stats(lake) -> dict[str, float]:
    """Log files, and bytes on disk per live byte, of a lake table."""
    log_dir = os.path.join(lake.path, "_txlog")
    live = set(lake.files())
    sizes = {f: os.path.getsize(os.path.join(lake.path, f))
             for f in os.listdir(lake.path) if f.endswith(".parquet")}
    live_bytes = sum(v for k, v in sizes.items() if k in live)
    return {"txlog.log_files": float(len(os.listdir(log_dir))),
            "txlog.mb_per_live_mb": sum(sizes.values()) / live_bytes if live_bytes else 0.0}


# --------------------------------------------------------------- corpus


def _toks(text: str) -> list[str]:
    return text.lower().split()


def _grams(toks: list[str], n: int) -> set[tuple]:
    return {tuple(toks[i:i + n]) for i in range(max(len(toks) - n + 1, 1))}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def check_curate(ctx, parts: dict, out: str) -> list[str]:
    t = pq.read_table(f"{ctx.inputs}/corpus.parquet").to_pydict()
    text = dict(zip(t["doc_id"], t["text"]))
    ids = lambda df: {r[0] for r in df.select("doc_id").collect()}  # noqa: E731
    kept = ids(parts["kept"])
    errs = []

    con = duckdb.connect()
    con.execute(f"CREATE VIEW corpus AS SELECT * FROM read_parquet('{ctx.inputs}/corpus.parquet')")
    con.execute("CREATE TABLE kept (doc_id BIGINT)")
    con.executemany("INSERT INTO kept VALUES (?)", [(i,) for i in kept])
    exact = [tuple(r) for r in parts["exact"].select("fp", "doc_id", "dup_count").collect()]
    errs += compare("exact_dedup", exact, _rows(con, r"""
        SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')), min(doc_id), count(*)
        FROM corpus WHERE doc_id IN (SELECT doc_id FROM kept) GROUP BY 1"""))
    surv = ids(parts["surv"])
    rep = {}  # doc → its exact-dedup survivor
    norm = lambda s: " ".join(s.lower().split())  # noqa: E731
    by_fp = {norm(text[k]): k for k in surv}
    for i in kept:
        rep[i] = by_fp.get(norm(text[i]), i)

    shingles = {i: _grams(_toks(text[i]), 3) for i in surv}
    pairs = [tuple(r) for r in parts["pairs"].select("id_a", "id_b", "jaccard").collect()]
    for a, b, j in pairs:
        true_j = _jaccard(shingles[a], shingles[b])
        if true_j < NEAR_THRESHOLD or abs(true_j - j) > 1e-6:
            errs.append(f"near pair ({a}, {b}) reports jaccard {j}, true {true_j:.6f}")
            if len(errs) >= MAX_REPORTED:
                return errs
    found = {(a, b) for a, b, _ in pairs}
    with open(f"{ctx.inputs}/truth.json") as f:
        planted = json.load(f)["near_pairs"]
    eligible = {tuple(sorted((rep[a], rep[b]))) for a, b in planted
                if a in rep and b in rep and rep[a] in surv and rep[b] in surv and rep[a] != rep[b]}
    recall = len(eligible & found) / len(eligible) if eligible else 1.0
    ctx.counters["dedup.planted_recall"] = recall
    if recall < NEAR_RECALL_FLOOR:
        errs.append(f"near-dup recall {recall:.3f} of {len(eligible)} planted pairs "
                    f"< floor {NEAR_RECALL_FLOOR}")

    # canonical ids: min id of each connected component of the pair graph
    parent = {i: i for i in surv}

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    canon = [tuple(r) for r in parts["canon"].select("doc_id", "canonical_id", "is_dup").collect()]
    errs += compare("canonical_assignment", canon,
                    [(i, root(i), root(i) != i) for i in surv])

    bench = pq.read_table(f"{ctx.inputs}/bench.parquet").column("text").to_pylist()
    bench_grams = set().union(*(_grams(_toks(b), DECONT_N) for b in bench))
    clean = [i for i in surv if root(i) == i]
    decont = [tuple(r) for r in parts["decont"].select("doc_id", "n_shared_grams", "contaminated").collect()]
    expect = []
    for i in clean:
        n = len(_grams(_toks(text[i]), DECONT_N) & bench_grams)
        expect.append((i, n, n > 0))
    errs += compare("ngram_decontaminate", decont, expect)

    final = [i for i, _, c in expect if not c]
    sel = pq.read_table(out).select(["doc_id", "quality_micro", "n_tokens", "cum_tokens"])
    errs += compare("token_budget_select", [tuple(r.values()) for r in sel.to_pylist()],
                    _budget_select(text, final, TOKEN_BUDGET))
    return errs


def _budget_select(text: dict[int, str], ids: list[int], budget: int) -> list[tuple]:
    """token_budget_select in Python: rank by the exact quality key
    (descending, id ascending) and keep the longest prefix whose running
    token count stays within the budget."""
    ranked = []
    for i in ids:
        raw = re.split(r"\s+", text[i].lower().strip(" "))
        toks = [t for t in raw if t]
        n = len(toks)
        num, den = 200 * len(set(toks)) + n * min(n, 200), max(400 * n, 1)
        ranked.append(((2_000_000 * num + den) // (2 * den), i, len(raw)))
    out, cum = [], 0
    for micro, i, n_tokens in sorted(ranked, key=lambda r: (-r[0], r[1])):
        cum += n_tokens
        if cum > budget:
            break
        out.append((i, micro, n_tokens, cum))
    return out


def curate_layer_counts(ctx, parts: dict) -> tuple[dict[str, float], list[str]]:
    """Dedup counters, and the incremental ingest's layer, measured on the
    traced run after its timed window: the LSH candidate count comes from
    the public band-bucket and verify functions, and the streaming ingest's
    replay over the same docs must emit exactly the one-shot pair set (no
    bucket cap, which is also what the one-shot "auto" cap resolves to for
    a corpus this size). Returns the counters and any mismatch."""
    from pyspark.sql import functions as F

    from data_engineering_spark.operators.dedup import (
        jaccard_verify_pairs,
        minhash_band_buckets,
        shingle_hashes,
    )
    from data_engineering_spark.streaming.incremental_dedup import incremental_minhash_replay

    surv = parts["surv"]
    sh = surv.select("doc_id", shingle_hashes("text").alias("shset")).persist()
    bk = minhash_band_buckets(sh)
    a, b = bk.alias("a"), bk.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
            .distinct().persist())
    n_cand = cand.count()
    n_ver = jaccard_verify_pairs(cand, sh, threshold=NEAR_THRESHOLD).count()
    cand.unpersist()
    sh.unpersist()
    found = {tuple(r) for r in parts["pairs"].select("id_a", "id_b").collect()}
    removed = (parts["kept"].count() - surv.count()) + parts["canon"].filter("is_dup").count()
    with ctx.tracer.span("incremental_dedup.replay"):
        replay = {tuple(r) for r in incremental_minhash_replay(
            surv, n_batches=4, max_bucket=None).select("id_a", "id_b").collect()}
    errs = [] if replay == found else [
        f"incremental replay emitted {len(replay)} pairs, one-shot {len(found)}; "
        f"{len(replay ^ found)} differ"]
    return {"dedup.pairs_verified": float(len(found)),
            "dedup.docs_removed": float(removed),
            "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
            "incremental_dedup.pairs_emitted": float(len(replay))}, errs


# --------------------------------------------------------------- search

WORD = re.compile(r"[a-z0-9가-힣]+")


def _lev1(a: str, b: str) -> bool:
    """Levenshtein distance of a and b is at most 1."""
    if a == b:
        return True
    if abs(len(a) - len(b)) > 1:
        return False
    if len(a) > len(b):
        a, b = b, a
    i = 0
    while i < len(a) and a[i] == b[i]:
        i += 1
    return a[i + (len(a) == len(b)):] == b[i + 1:]


def _topk(scores: dict, k: int) -> list:
    return sorted(scores.items(), key=lambda kv: (tuple(-x for x in kv[1]), kv[0]))[:k]


class _SearchTruth:
    """Brute-force answers over the served docs and embeddings."""

    def __init__(self, inputs: str, served: set[int]):
        t = pq.read_table(f"{inputs}/corpus.parquet").to_pydict()
        keep = [k for k, i in enumerate(t["doc_id"]) if i in served]
        t = {c: [v[k] for k in keep] for c, v in t.items()}
        self.ids = t["doc_id"]
        self.toks = {i: _toks(x) for i, x in zip(t["doc_id"], t["text"])}
        self.src = {i: _toks(s) for i, s in zip(t["doc_id"], t["source"])}
        self.words = {i: WORD.findall(x.lower()) for i, x in zip(t["doc_id"], t["text"])}
        e = pq.read_table(f"{inputs}/embeddings.parquet").to_pydict()
        keep = [k for k, i in enumerate(e["doc_id"]) if i in served]
        self.vec_ids = np.array([e["doc_id"][k] for k in keep])
        self.vecs = np.array([e["embedding"][k] for k in keep], dtype=np.float32).astype(np.float64)
        self.norms = np.linalg.norm(self.vecs, axis=1)
        self.duck = _duck(f"{inputs}/warehouse")

    def query_string(self, terms: list[str]) -> list[tuple]:
        memo: dict[str, int] = {}

        def hits(tok):
            if tok not in memo:
                memo[tok] = sum(_lev1(tok, t) for t in terms)
            return memo[tok]

        scores = {}
        for i in self.ids:
            s = sum(hits(t) for t in self.toks[i]) + 5 * sum(hits(t) for t in self.src[i])
            if s:
                scores[i] = (s,)
        return [(i, s[0]) for i, s in _topk(scores, 20)]

    def match_phrase(self, phrase: list[str]) -> list[tuple]:
        norm = [w for p in phrase for w in WORD.findall(p.lower())]
        n = len(norm)
        scores = {}
        for i in self.ids:
            w = self.words[i]
            c = sum(w[p:p + n] == norm for p in range(len(w) - n + 1))
            if c:
                scores[i] = (c,)
        return [(i, s[0]) for i, s in _topk(scores, 20)]

    def more_like_this(self, like: int) -> list[tuple]:
        n_docs = len(self.ids)
        tf = Counter(self.toks[like])
        df = Counter(t for i in self.ids for t in set(self.toks[i]) if t in tf)
        idf = {t: math.floor(math.log((n_docs + 1.0) / float(df[t] + 1)) * 1e6 + 0.5) for t in tf}
        q = sorted(tf, key=lambda t: (-tf[t] * idf[t], t))[:10]
        scores = {}
        for i in self.ids:
            if i != like:
                m = [idf[t] for t in q if t in set(self.toks[i])]
                if m:
                    scores[i] = (sum(m), len(m))
        return [(i, s[1], s[0]) for i, s in _topk(scores, 15)]

    def cosine(self, vec: list[float]) -> np.ndarray:
        q = np.array(vec, dtype=np.float32).astype(np.float64)
        return self.vecs @ q / (self.norms * np.linalg.norm(q))


def check_search(ctx, served: list[int], like_id, results: list[tuple[dict, list[dict]]]) -> list[str]:
    truth = _SearchTruth(ctx.inputs, set(served))
    errs: list[str] = []
    memo: dict[str, list] = {}
    for r, rows in results:
        kind, key = r["kind"], json.dumps(r, sort_keys=True)
        name = f"{kind} request {key[:80]}"
        if kind in ("cosine_topk", "ivf_topk"):
            sims = truth.cosine(r["vector"])
            by_id = dict(zip(truth.vec_ids.tolist(), sims.tolist()))
            got = [(x["neighbor_id"], x["sim"]) for x in sorted(rows, key=lambda x: x["rnk"])]
            if kind == "cosine_topk":
                best = np.lexsort((truth.vec_ids, -sims))[:5]
                want = [(int(truth.vec_ids[i]), float(sims[i])) for i in best]
                errs += compare(name, got, want, tol=SIM_TOL)
            else:  # approximate: every neighbour is real and correctly scored, in order
                ok = len(got) == 5 and all(abs(by_id[n] - s) <= SIM_TOL for n, s in got) \
                    and all(got[j][1] >= got[j + 1][1] for j in range(len(got) - 1))
                if not ok:
                    errs.append(f"{name}: neighbours {got} are not correctly scored")
            continue
        if key not in memo:
            if kind == "query_string":
                memo[key] = truth.query_string(r["terms"])
            elif kind == "match_phrase":
                memo[key] = truth.match_phrase(r["phrase"])
            elif kind == "more_like_this":
                memo[key] = truth.more_like_this(like_id(r))
            else:
                memo[key] = _rows(truth.duck, NL_REQUESTS[r["text"]])
        got = [tuple(x.values()) for x in rows]
        if kind == "nl2sql":
            errs += compare(name, got, memo[key])
        elif got != memo[key]:
            errs.append(f"{name}: got {got[:3]}..., expected {memo[key][:3]}...")
        if len(errs) >= MAX_REPORTED:
            break
    return errs
