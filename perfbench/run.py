"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run (see README.md). The line before it stamps the
environment. Everything the run writes stays under ``perfbench/.work``;
the span dump and per-span Spark rollup of a traced run are kept in
``perfbench/.work/results``.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_engineering_spark"
# Spark gets two cores; the driver, the JIT and the Python workers keep
# the rest. On a 4-core box this ran no slower than local[4] and spread
# less from run to run.
CORES = min(2, os.cpu_count() or 1)
# The inputs are a few MB. With a 1 GB heap the JVM's resident memory
# depended less on when it grew its heap than with 2 GB: on the 4-core
# box the peak-RSS spread over seeds fell from about 18% to about 5%.
DRIVER_MEM = "1g"

E2E = {  # name → unit
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# Spark's counters, rolled up per op over the jobs of the timed ops
# latency_p50_s is taken over.
SPARK = {
    "jobs": ("count", "lower"),
    "stages": ("count", "lower"),
    "tasks": ("count", "lower"),
    "driver_s": ("s", "lower"),
    "executor_run_s": ("s", "lower"),
    "executor_cpu_s": ("s", "lower"),
    "python_eval_s": ("s", "lower"),
    "jvm_gc_s": ("s", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "shuffle_read_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "task_skew": ("ratio", "lower"),
}
# Per-layer metrics of the traced run, name → (unit, better). `<span>_s`
# is the span's mean self time per call; `spark.*` and the writer and
# txlog counts are per timed op. README.md maps each to the end-to-end
# metric it should move.
PER_LAYER = {
    **{f"spark.{k}": v for k, v in SPARK.items()},
    "session.start_s": ("s", "lower"),
    "catalog.load_s": ("s", "lower"),
    "dialect.rewrite_s": ("s", "lower"),
    "etl.run_sql_etl_s": ("s", "lower"),
    "etl.write_audit_s": ("s", "lower"),
    "etl.failed": ("count", "lower"),
    "daily.run_daily_s": ("s", "lower"),
    "daily.weekly_s": ("s", "lower"),
    "writers.truncate_and_load_s": ("s", "lower"),
    "writers.partition_overwrite_s": ("s", "lower"),
    "writers.retention_prune_s": ("s", "lower"),
    "writers.rows_written": ("count", "lower"),
    "writers.mb_written": ("MB", "lower"),
    "writers.files_written": ("count", "lower"),
    "txlog.commit_s": ("s", "lower"),
    "txlog.optimize_s": ("s", "lower"),
    "txlog.vacuum_s": ("s", "lower"),
    "txlog.commits": ("count", "lower"),
    "txlog.log_files": ("count", "lower"),
    "txlog.mb_rewritten": ("MB", "lower"),
    "txlog.mb_per_live_mb": ("ratio", "lower"),
    "merge.apply_cdc_s": ("s", "lower"),
    "text.quality_score_s": ("s", "lower"),
    "dedup.exact_dedup_s": ("s", "lower"),
    "dedup.minhash_near_dedup_s": ("s", "lower"),
    "dedup.canonical_assignment_s": ("s", "lower"),
    "curation.ngram_decontaminate_s": ("s", "lower"),
    "curation.token_budget_select_s": ("s", "lower"),
    "dedup.pairs_verified": ("count", "higher"),
    "dedup.docs_removed": ("count", "higher"),
    "dedup.verify_yield": ("ratio", "higher"),
    "dedup.planted_recall": ("ratio", "higher"),
    "incremental_dedup.replay_s": ("s", "lower"),
    "incremental_dedup.pairs_emitted": ("count", "higher"),
    "text.query_string_rank_s": ("s", "lower"),
    "text.match_phrase_rank_s": ("s", "lower"),
    "text.more_like_this_s": ("s", "lower"),
    "similarity.cosine_topk_s": ("s", "lower"),
    "similarity.ivf_topk_s": ("s", "lower"),
    "similarity.persisted_relations": ("count", "lower"),
    "nl2sql.compile_s": ("s", "lower"),
    "nl2sql.run_s": ("s", "lower"),
    "traced.setup_s": ("s", "lower"),
    "traced.latency_p50_s": ("s", "lower"),
    "traced.throughput_per_s": ("1/s", "higher"),
    "traced.peak_rss_mb": ("MB", "lower"),
}
LAYER_SPANS = [k[:-2] for k in PER_LAYER if k.endswith("_s") and not k.startswith(
    ("spark.", "traced.", "daily.weekly"))]
# Imported before the clock starts, in the traced and the untraced run alike.
PRELOAD = ("session", "catalog", "queries_relational", "pipeline.daily", "operators.merge",
           "sources.txlog", "operators.text", "operators.dedup", "operators.curation",
           "operators.similarity", "functions.nl2sql", "streaming.incremental_dedup")
# Counters per timed op, from the wrappers' hooks.
OP_COUNTERS = ("writers.rows_written", "writers.mb_written", "writers.files_written",
               "txlog.commits", "txlog.mb_rewritten")


class Ctx:
    """State of one run, shared by the runner and the workload."""

    def __init__(self, work: str, tracer):
        self.work, self.inputs = work, f"{work}/in"
        self.tracer = tracer
        self.spark = None
        self.ops: list = []
        self.errors: list[str] = []
        self.counters: dict[str, float] = {}
        self.input_sizes: dict[str, int] = {}
        self.in_window = False

    def count(self, name: str, value: float) -> None:
        if self.in_window:
            self.counters[name] = self.counters.get(name, 0.0) + value


class RssSampler(threading.Thread):
    """Peak memory of this process's descendants (the JVM and its Python
    workers): the largest sum, over the processes alive at a sample, of
    each one's RSS high-water mark from /proc. The high-water mark keeps
    a short peak between two samples."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._stop_evt = threading.Event()

    def sample(self) -> int:
        kids: dict[int, list[int]] = {}
        for p in os.listdir("/proc"):
            if p.isdigit():
                try:
                    with open(f"/proc/{p}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                kids.setdefault(ppid, []).append(int(p))
        total, todo = 0, list(kids.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) << 10
                            break
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self):
        while not self._stop_evt.wait(self.interval):
            self.peak = max(self.peak, self.sample())

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.peak = max(self.peak, self.sample())
        return self.peak / (1 << 20)


def _source_digest() -> str:
    h = hashlib.sha1()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:12]


def env_stamp(spark, args) -> dict:
    commit = "none"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
        commit = r.stdout.strip() or "none"
    jvm = spark.sparkContext._jvm.System
    return {
        "nproc": os.cpu_count(), "spark_cores": CORES, "spark": spark.version,
        "java": jvm.getProperty("java.version"), "python": platform.python_version(),
        "driver_heap": spark.conf.get("spark.driver.memory", DRIVER_MEM),
        "git_commit": commit, "source_sha1": _source_digest(),
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
    }


def configure_env(work: str, trace: bool) -> None:
    """Spark settings that must be fixed before the JVM starts: every
    scratch path inside the run's work dir, and the event log."""
    import tracing

    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    confs = ["spark.ui.showConsoleProgress=false", f"spark.local.dir={tmp}",
             f"spark.sql.warehouse.dir={work}/spark-warehouse"]
    if trace:
        os.makedirs(f"{work}/eventlog")
        confs += tracing.event_log_confs(f"{work}/eventlog")
    args = [a for c in confs for a in ("--conf", c)]
    # -XX:-UsePerfData: the JVM would write its perf counters under /tmp
    args += ["--driver-java-options",
             f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def stop_jvm() -> None:
    """Stop the JVM the session launched, and its Python workers, and wait
    for it: it exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _new_files(table_dir: str, since: float) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(table_dir):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                if st.st_mtime >= since:
                    n, size = n + 1, size + st.st_size
    return n, size


def install_wrappers(ctx) -> None:
    """Spans around the program's public functions, at the module
    namespaces their callers import them from."""
    from data_engineering_spark.sources.txlog import LakeTable

    tr = ctx.tracer
    mod = lambda m: sys.modules[f"{PACKAGE}.{m}"]  # noqa: E731
    tr.wrap(mod("session"), "get_spark", "session.start")
    tr.wrap(mod("catalog"), "load_table", "catalog.load")
    tr.wrap(mod("functions.dialect"), "rewrite_redshift_sql", "dialect.rewrite")
    tr.wrap(mod("functions.nl2sql"), "_compile", "nl2sql.compile")
    tr.wrap(mod("pipeline.etl"), "run_sql_etl", "etl.run_sql_etl")
    tr.wrap(mod("pipeline.etl"), "write_audit", "etl.write_audit")
    tr.wrap(mod("pipeline.daily"), "run_daily", "daily.run_daily")

    def wrote(start, rows, df, table_dir, *a, **kw):
        n, size = _new_files(table_dir, start)
        ctx.count("writers.rows_written", max(rows, 0))
        ctx.count("writers.files_written", n)
        ctx.count("writers.mb_written", size / (1 << 20))

    def committed(start, version, table, *a, **kw):
        ctx.count("txlog.commits", 1)
        ctx.count("txlog.mb_rewritten", _new_files(table.path, start)[1] / (1 << 20))

    writers = mod("sources.writers")
    for f in ("truncate_and_load", "partition_overwrite"):
        tr.wrap(writers, f, f"writers.{f}", after=wrote)
    tr.wrap(writers, "retention_prune", "writers.retention_prune")
    tr.wrap(LakeTable, "overwrite", "txlog.commit", after=committed)
    tr.wrap(LakeTable, "optimize_zorder", "txlog.optimize", after=committed)
    tr.wrap(LakeTable, "vacuum", "txlog.vacuum")


def e2e_metrics(ctx, workload, setup_s: float, rss_mb: float) -> dict[str, float]:
    lat = [o.seconds for o in ctx.ops if o.ok and o.kind in workload.latency_kinds]
    thr = [o for o in ctx.ops if o.kind in workload.throughput_kinds]
    wall = sum(o.seconds for o in thr)
    return {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(lat) if lat else 0.0,
        "throughput_per_s": workload.items_per_op * sum(o.ok for o in thr) / wall if wall else 0.0,
        "peak_rss_mb": rss_mb,
    }


def layer_metrics(ctx, workload, workload_counts: dict[str, float], log: dict) -> dict[str, float]:
    import tracing

    tr = ctx.tracer
    n = len(ctx.ops)
    roots = {s["id"] for s in tr.spans if s["parent"] is None and s["name"] in workload.latency_kinds}
    m = {f"spark.{k}": v for k, v in tracing.spark_rollup(tr, log, roots, len(roots)).items()}
    m |= {f"{name}_s": tr.mean_self_s(name) for name in LAYER_SPANS}
    m |= {k: ctx.counters.get(k, 0.0) / max(n, 1) for k in OP_COUNTERS}
    m |= workload_counts
    m |= {k: v for k, v in ctx.counters.items() if k not in OP_COUNTERS}
    return {k: m.get(k, 0.0) for k in PER_LAYER if not k.startswith("traced.")}


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        print(f"perfbench: the program package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    import gen
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    results = os.path.join(HERE, ".work", "results")
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(results, exist_ok=True)
    configure_env(work, bool(args.trace))

    tracer = tracing.Tracer(enabled=bool(args.trace))
    ctx = Ctx(work, tracer)
    workload = WORKLOADS[args.workload](ctx)
    for m in PRELOAD:
        importlib.import_module(f"{PACKAGE}.{m}")
    if args.trace:
        install_wrappers(ctx)
    from data_engineering_spark import session

    rss = RssSampler()
    rss.start()
    try:
        t0 = time.perf_counter()
        phases = {}
        ctx.input_sizes = gen.GENERATORS[args.workload](args.seed, ctx.inputs)
        phases["generate"] = time.perf_counter() - t0
        ctx.spark = session.get_spark("perfbench")
        ctx.spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = ctx.spark.sparkContext
        phases["session"] = time.perf_counter() - t0 - phases["generate"]
        workload.setup()
        setup_s = time.perf_counter() - t0
        ctx.in_window = True
        workload.run()
        ctx.in_window = False
        phases["run"] = time.perf_counter() - t0 - setup_s
        rss_mb = rss.stop()
        stamp = env_stamp(ctx.spark, args)
        errors = workload.check()
        metrics = e2e_metrics(ctx, workload, setup_s, rss_mb)
        if args.trace:
            counts, layer_errors = workload.layer_metrics()
            errors += layer_errors
        phases["check"] = time.perf_counter() - t0 - setup_s - phases["run"]
        ctx.spark.stop()  # flushes the event log
        if args.trace:
            log = tracing.read_event_log(f"{work}/eventlog")
            traced = {f"traced.{k}": v for k, v in metrics.items()}
            metrics = layer_metrics(ctx, workload, counts, log) | traced
            base = os.path.join(results, f"{args.workload}-s{args.seed}")
            tracer.dump(f"{base}-spans.jsonl")
            with open(f"{base}-spark_per_span.jsonl", "w") as f:
                for row in tracing.per_span_rollup(tracer, log):
                    f.write(json.dumps(row) + "\n")
    finally:
        if rss.is_alive():
            rss.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    # an output mismatch counts as a failed op
    failed = min(len(ctx.ops), sum(not o.ok for o in ctx.ops) + len(errors))
    out = {
        "correct": failed == 0,
        "attempted": len(ctx.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": E2E[k] if k in E2E else PER_LAYER[k][0]}
                    for k, v in metrics.items()},
    }
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"env": stamp, "errors": ctx.errors + errors, **out,
                   "phases": phases, "ops": [(o.kind, o.seconds, o.ok) for o in ctx.ops]},
                  f, indent=1)
    for e in (ctx.errors + errors)[:20]:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps({"env": stamp}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
