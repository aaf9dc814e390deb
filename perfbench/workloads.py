"""The benchmark's workloads. Each drives the program only through the
public functions of its modules, on inputs from ``gen.py``.

A workload is a class with ``setup`` (everything before the first timed
op), ``run`` (the timed ops, recorded in ``ctx.ops``), ``check`` (output
checks, outside the timed window) and ``layer_metrics`` (counters, and
checks of layers off the timed path, for the traced run). Work that
materializes a lazy DataFrame is the same in the traced and the untraced
run, so their difference is the tracing cost.
"""

from __future__ import annotations

import json
import time

from gen import SIZES, batch_date

# Near-dup recall floor on planted pairs. MinHash with 8 bands of 4 rows
# finds a pair of Jaccard 0.75, the lowest the planted edits produce,
# with probability 0.94, and most planted pairs sit well above it.
NEAR_RECALL_FLOOR = 0.85
NEAR_THRESHOLD = 0.6  # minhash_near_dedup's default verify threshold
DECONT_N = 8  # ngram_decontaminate's default gram length
TOKEN_BUDGET = 200_000


def materialize(df):
    """Persist and count: the stage boundary of a multi-step pipeline."""
    df = df.persist()
    df.count()
    return df


class Op:
    """One timed operation: its kind, wall time and outcome."""

    def __init__(self, kind: str, seconds: float, ok: bool):
        self.kind, self.seconds, self.ok = kind, seconds, ok


class Workload:
    name = ""
    # op kinds latency_p50_s and throughput_per_s are taken over, and the
    # input items one throughput op processes (set by setup)
    latency_kinds: frozenset[str] = frozenset()
    throughput_kinds: frozenset[str] = frozenset()
    items_per_op = 0

    def __init__(self, ctx):
        self.ctx = ctx

    def timed(self, kind: str, request: str, fn) -> bool:
        """Run ``fn`` as one timed op; an exception counts as a failed op."""
        t0 = time.perf_counter()
        ok = True
        try:
            with self.ctx.tracer.span(kind, request=request):
                fn()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
            ok = False
            self.ctx.errors.append(f"{request}: {type(exc).__name__}: {exc}"[:500])
        self.ctx.ops.append(Op(kind, time.perf_counter() - t0, ok))
        return ok


# ------------------------------------------------------------------ etl


class EtlDaily(Workload):
    """``run_daily`` over consecutive batch dates, each followed by that
    date's order-change feed merged into a transaction-logged lake table;
    the last date is the weekly one (serving-index rebuild, z-order
    optimize and vacuum)."""

    name = "etl_daily"
    latency_kinds = frozenset({"daily"})
    throughput_kinds = frozenset({"daily", "weekly"})

    def setup(self):
        from data_engineering_spark.sources.txlog import LakeTable

        c = self.ctx
        self.wh = f"{c.inputs}/warehouse"
        self.out = f"{c.work}/warehouse_out"
        self.lake = LakeTable(c.spark, f"{c.work}/lake_orders")
        self.lake.create(c.spark.read.parquet(f"{self.wh}/orders.parquet"))
        self.dates: list[tuple[str, bool]] = []
        self.records: list = []
        # input rows a date reads: both fact tables plus its change feed
        self.items_per_op = (c.input_sizes["orders"] + c.input_sizes["lineitems"]
                             + SIZES["etl_daily"]["changes_per_date"])
        # the first date warms the session; its outputs are checked too
        self.batch(0, weekly=False)

    def batch(self, i: int, weekly: bool) -> None:
        from data_engineering_spark.operators.merge import apply_cdc
        from data_engineering_spark.pipeline.daily import run_daily

        c, d = self.ctx, batch_date(i)
        recs = run_daily(c.spark, self.wh, self.out, d, weekly=weekly)
        self.records.extend(recs)
        bad = [r.job_nm for r in recs if r.success_yn != "Y"]
        if bad:
            raise RuntimeError(f"run_daily {d}: jobs failed: {bad}")
        changes = c.spark.read.parquet(f"{c.inputs}/changes/{d}.parquet")
        with c.tracer.span("merge.apply_cdc"):
            merged = materialize(apply_cdc(self.lake.scan(), changes, ["o_orderkey"]))
        self.lake.overwrite(merged)
        merged.unpersist()
        if weekly:
            self.lake.optimize_zorder(["o_custkey", "o_totalprice"], target_files=4)
            self.lake.vacuum(retain_versions=2)
        self.dates.append((d, weekly))

    def run(self):
        # a fixed number of dates, so the mix does not depend on the speed
        # of the code under test
        daily = SIZES["etl_daily"]["daily_dates"]
        for i in range(1, daily + 1):
            self.timed("daily", f"etl:{batch_date(i)}", lambda: self.batch(i, weekly=False))
        self.timed("weekly", f"etl:{batch_date(daily + 1)}",
                   lambda: self.batch(daily + 1, weekly=True))

    def check(self) -> list[str]:
        import checks

        return checks.check_etl(self.ctx, self.wh, self.out, self.lake, self.dates, self.records)

    def layer_metrics(self) -> tuple[dict[str, float], list[str]]:
        import checks

        m = {"etl.failed": float(sum(r.success_yn != "Y" for r in self.records)),
             "daily.weekly_s": next((o.seconds for o in self.ctx.ops if o.kind == "weekly"), 0.0)}
        return m | checks.lake_stats(self.lake), []


# -------------------------------------------------------- corpus_curate


class CorpusCurate(Workload):
    """A one-shot training-corpus build in a fresh session, the way a
    batch job runs it: quality filter → exact dedup → MinHash near-dedup →
    canonical assignment → benchmark decontamination → token budget,
    written to parquet. After the timed window the traced run serves one
    full-text, vector and natural-language request of each kind over the
    curated corpus, one client collecting each result, to measure the
    search layers."""

    name = "corpus_curate"
    KINDS = {
        "query_string": "text.query_string_rank",
        "match_phrase": "text.match_phrase_rank",
        "more_like_this": "text.more_like_this",
        "cosine_topk": "similarity.cosine_topk",
        "ivf_topk": "similarity.ivf_topk",
        "nl2sql": "nl2sql.run",
    }
    latency_kinds = frozenset({"build"})
    throughput_kinds = frozenset({"build"})
    items_per_op = SIZES["corpus_curate"]["docs"]

    def setup(self):
        c = self.ctx
        self.docs = c.spark.read.parquet(f"{c.inputs}/corpus.parquet")
        self.bench = c.spark.read.parquet(f"{c.inputs}/bench.parquet")
        self.wh = f"{c.inputs}/warehouse"
        self.out = f"{c.work}/curated"
        with open(f"{c.inputs}/requests.json") as f:
            self.requests = json.load(f)
        self.results: list[tuple[dict, list[dict]]] = []
        self.persisted: list[int] = []

    def stage(self, name: str, fn):
        with self.ctx.tracer.span(name):
            return materialize(fn())

    def build(self):
        from pyspark.sql import functions as F

        from data_engineering_spark.operators import curation, dedup, text

        docs, ids = self.docs, lambda df: df.select("doc_id")
        q = self.stage("text.quality_score", lambda: text.quality_score(docs).filter("keep"))
        kept = docs.join(ids(q), "doc_id", "left_semi")
        ex = self.stage("dedup.exact_dedup", lambda: dedup.exact_dedup(kept))
        surv = materialize(kept.join(ids(ex), "doc_id", "left_semi"))
        pairs = self.stage("dedup.minhash_near_dedup", lambda: dedup.minhash_near_dedup(surv))
        canon = self.stage("dedup.canonical_assignment",
                           lambda: dedup.canonical_assignment(pairs, ids(surv)))
        clean = surv.join(ids(canon.filter(~F.col("is_dup"))), "doc_id", "left_semi")
        dc = self.stage("curation.ngram_decontaminate",
                        lambda: curation.ngram_decontaminate(clean, self.bench, n=DECONT_N))
        final = clean.join(ids(dc.filter(~F.col("contaminated"))), "doc_id", "left_semi")
        with self.ctx.tracer.span("curation.token_budget_select"):
            sel = curation.token_budget_select(final, budget=TOKEN_BUDGET)
            sel.write.mode("overwrite").parquet(self.out)
        self.parts = {"kept": q, "exact": ex, "surv": surv, "pairs": pairs, "canon": canon,
                      "decont": dc}

    def serve_setup(self):
        """Load the curated corpus and its embeddings into memory."""
        c = self.ctx
        curated = c.spark.read.parquet(self.out).select("doc_id")
        self.served = materialize(self.docs.join(curated, "doc_id", "left_semi"))
        self.emb = materialize(
            c.spark.read.parquet(f"{c.inputs}/embeddings.parquet").join(curated, "doc_id", "left_semi"))
        self.served_ids = sorted(r[0] for r in curated.collect())

    def query(self, r: dict):
        from data_engineering_spark.functions.nl2sql import run_nl
        from data_engineering_spark.operators import similarity, text

        spark, kind = self.ctx.spark, r["kind"]
        if kind == "query_string":
            return text.query_string_rank(self.served, r["terms"], {"text": 1, "source": 5}, k=20)
        if kind == "match_phrase":
            return text.match_phrase_rank(self.served, r["phrase"], k=20)
        if kind == "more_like_this":
            return text.more_like_this(self.served, self.like_id(r), k=15)
        if kind == "nl2sql":
            return run_nl(spark, self.wh, r["text"])
        q = spark.createDataFrame([(-1, r["vector"])], "doc_id long, embedding array<float>")
        if kind == "cosine_topk":
            return similarity.cosine_topk(self.emb, q, k=5, id_col="doc_id")
        return similarity.ivf_topk(self.emb, q, n_cells=16, nprobe=4, k=5, id_col="doc_id")

    def like_id(self, r: dict) -> int:
        return self.served_ids[r["like_rank"] % len(self.served_ids)]

    def run(self):
        self.timed("build", "build", self.build)

    def check(self) -> list[str]:
        import checks

        if not hasattr(self, "parts"):
            return ["the corpus build failed"]
        return checks.check_curate(self.ctx, self.parts, self.out)

    def serve(self) -> list[str]:
        """Every request over the curated corpus, each in its span;
        returns the failures and result mismatches."""
        import checks

        c, errs = self.ctx, []
        self.serve_setup()
        for j, r in enumerate(self.requests):
            try:
                with c.tracer.span(self.KINDS[r["kind"]], request=f"req:{j}"):
                    rows = self.query(r).collect()
            except Exception as exc:  # noqa: BLE001 — reported as a mismatch
                errs.append(f"req:{j}: {type(exc).__name__}: {exc}"[:500])
                continue
            self.results.append((r, [x.asDict() for x in rows]))
            self.persisted.append(len(c.spark.sparkContext._jsc.getPersistentRDDs()))
        return errs + checks.check_search(c, self.served_ids, self.like_id, self.results)

    def layer_metrics(self) -> tuple[dict[str, float], list[str]]:
        import checks

        counts, errs = checks.curate_layer_counts(self.ctx, self.parts)
        errs += self.serve()
        p = self.persisted
        return counts | {"similarity.persisted_relations": sum(p) / len(p) if p else 0.0}, errs


WORKLOADS = {w.name: w for w in (EtlDaily, CorpusCurate)}
