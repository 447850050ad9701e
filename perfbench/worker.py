"""Engine-side half of the benchmark: one process, one Spark session.

Times set-up, checks every query once against its oracle (untimed,
several at a time), runs untimed warm passes, then runs timed passes
of the workload in a seeded order, one operation at a time (one
closed-loop client), as many as fill --seconds on a quiet host.
Results go to --out as JSON.

An operation is a catalog query (construct + noop-sink execute), one
`pipelines.curate_corpus` run with its partitioned write, or one
`streaming.dedup.stream_ingest_neardup` query draining the run's seeded
batch files.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

CURATE = "curate_corpus"
STREAM = "stream_ingest_neardup"

# The operations of each workload; README.md says why each workload
# exists and why the lists are shorter than the catalog families they
# sample.
WORKLOADS = {
    "olap_mix": [
        "q1_pricing_summary",
        "q3_top_unshipped_orders",
        "q5_nation_volume",
        "q6_forecast_revenue",
        "win_rank_top_orders_per_customer",
        "join_asof_click_error",
        "subquery_scalar_exists",
        "flagship_greedy_match",
    ],
    "llm_dedup_vector": [
        "dedup_exact_stats",
        "dedup_minhash_signatures",
        "dedup_minhash_lsh_candidates",
        "dedup_ngram_jaccard",
        "dedup_simhash_pairs",
        "knn_cosine_bruteforce",
        "knn_cosine_ivf",
        CURATE,
        STREAM,
    ],
}

# Operations that run in traced runs only.  Together they took 9 of a
# pass's 14 s on a quiet host, so with them a gated run fitted a single
# timed pass; the traced run measures their layers (see README.md).
TRACED_ONLY = (CURATE, STREAM)
CHECK_THREADS = 3
# Streaming input: STREAM_BATCHES files of STREAM_ROWS documents each,
# drained one file per micro-batch.
STREAM_BATCHES = 2
STREAM_ROWS = 50
# Seconds one warm untraced pass takes on a quiet 4-core host (pyspark
# 4.1.2, OpenJDK 17); a run times ceil(--seconds / this) passes.
NOMINAL_PASS_S = {"olap_mix": 4.3, "llm_dedup_vector": 4.2}
# Untimed passes before the timed ones; olap_mix's passes were within
# 10% of each other after one.
WARM_PASSES = {"olap_mix": 1, "llm_dedup_vector": 3}
# A traced run times U T U T U: untraced and traced passes alternate.
TRACED_PASSES = 2

# Physical operators that run Python in the PySpark workers.
_PY_EVAL = re.compile(
    r"\b(BatchEvalPython\w*|ArrowEvalPython\w*|MapInPandas|MapInArrow|"
    r"PythonMapInArrow|FlatMapGroupsInPandas\w*|FlatMapCoGroupsInPandas\w*|"
    r"AggregateInPandas|WindowInPandas|FlatMapGroupsInArrow|"
    r"FlatMapCoGroupsInArrow)\b"
)

# Per-layer figures of the pipeline and streaming operations; they are
# 0 on a workload without those operations.
PIPELINE_METRICS = (
    "pipelines.funnel.raw",
    "pipelines.funnel.quality",
    "pipelines.funnel.exact_dedup",
    "pipelines.funnel.near_dedup",
    "pipelines.bytes_written",
    "pipelines.files_written",
    "pipelines.write_amp",
    "pipelines.docs_per_s",
)
STREAM_METRICS = (
    "streaming.batches",
    "streaming.batch_p50_ms",
    "streaming.add_batch_ms",
    "streaming.plan_ms",
    "streaming.input_rows",
    "streaming.kept_rows",
    "streaming.out_files",
    "streaming.growth_ratio",
    "streaming.docs_per_s",
)


def setup(sf_dir: str) -> tuple[object, dict]:
    """Import + get_spark + first job + table footer reads."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import QUERIES  # noqa: F401
    from rick_and_morty_data_pipeline_project_spark.session import get_spark
    from rick_and_morty_data_pipeline_project_spark.sources.corpus import TABLES, load_table

    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    t3 = time.perf_counter()
    for t in TABLES:
        load_table(spark, sf_dir, t).schema
    t4 = time.perf_counter()
    return spark, {
        "setup_s": t4 - T_START,
        "import_s": t1 - T_START,
        "get_spark_s": t2 - t1,
        "first_job_s": t3 - t2,
        "footers_s": t4 - t3,
    }


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


class Bench:
    """The operations of a run and the expected results they are
    checked against."""

    def __init__(self, spark, sf_dir: str, work: str, seed: int, digests: dict, ops):
        import pyarrow.parquet as pq

        import datagen
        import reference

        self.spark, self.sf_dir, self.digests = spark, sf_dir, digests
        self.exec_dir = os.path.join(work, f"exec-{os.getpid()}")
        shutil.rmtree(self.exec_dir, ignore_errors=True)
        self._n = itertools.count()
        docs_path = os.path.join(sf_dir, "documents.parquet")
        self.docs_bytes = os.path.getsize(docs_path)
        if not set(TRACED_ONLY) & set(ops):
            return
        t = pq.read_table(docs_path, columns=["doc_id", "text"])
        docs = list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        self.curate_expected = reference.curate(docs)
        self.stream_in = os.path.join(self.exec_dir, "stream-in")
        batches = datagen.stream_batches(
            self.stream_in, seed, [d[1] for d in docs], STREAM_BATCHES, STREAM_ROWS
        )
        self.stream_expected = set().union(*reference.neardup_ingest(docs, batches))

    def scratch(self) -> str:
        return os.path.join(self.exec_dir, str(next(self._n)))

    def run(self, name: str, tracer=None, check: bool = False) -> dict:
        """Runs one operation and returns its record: ok, error and the
        timed wall (construct + execute); checks happen after the clock
        stops.  A query is checked when `check` is set; a pipeline or
        streaming operation always is, since its output is on disk."""
        rec = {"query": name, "ok": True}
        out = self.scratch()
        span = None
        if tracer is not None:
            tracer.run = f"{name}#{len(tracer.spans)}"
            span = tracer.begin(name, "query")
        t0 = time.perf_counter()
        try:
            if name == CURATE:
                result = self._curate(out, tracer)
            elif name == STREAM:
                result = self._stream(out, tracer)
            else:
                result = self._query(name, tracer, collect=check)
            rec["wall_s"] = time.perf_counter() - t0
            if span is not None:
                tracer.end(span)
            err = self._verify(name, result, out, rec, check)
            if err:
                rec.update(ok=False, error=err)
        except Exception:
            rec.update(ok=False, error=traceback.format_exc(limit=3))
            rec.setdefault("wall_s", time.perf_counter() - t0)
            if tracer is not None:
                tracer.unwind()
        shutil.rmtree(out, ignore_errors=True)
        return rec

    def _query(self, name, tracer, collect):
        from rick_and_morty_data_pipeline_project_spark.queries.catalog import QUERIES

        fn = QUERIES[name].fn
        if tracer is None:
            df = fn(self.spark, self.sf_dir)
        else:
            df = tracer.call("queries.construct", "queries", fn, self.spark, self.sf_dir)
        if collect:
            return df, df.toPandas()
        sink = df.write.format("noop").mode("overwrite").save
        if tracer is None:
            sink()
        else:
            tracer.call("spark.execute", "spark", sink)
        return df, None

    def _curate(self, out, tracer):
        from rick_and_morty_data_pipeline_project_spark.pipelines import curate_corpus

        if tracer is None:
            return curate_corpus(self.spark, self.sf_dir, out)
        return tracer.call("pipelines.curate_corpus", "pipelines", curate_corpus, self.spark, self.sf_dir, out)

    def _stream(self, out, tracer):
        from rick_and_morty_data_pipeline_project_spark.sources.corpus import load_table
        from rick_and_morty_data_pipeline_project_spark.streaming.dedup import stream_ingest_neardup

        def drain():
            stream = (
                self.spark.readStream.schema("doc_id LONG, text STRING")
                .option("maxFilesPerTrigger", 1)
                .parquet(self.stream_in)
            )
            corpus = load_table(self.spark, self.sf_dir, "documents")
            q = stream_ingest_neardup(
                stream, corpus, os.path.join(out, "kept"), os.path.join(out, "ckpt")
            )
            q.awaitTermination()
            return q

        if tracer is None:
            return drain()
        return tracer.call("streaming.stream_ingest_neardup", "streaming", drain)

    def _verify(self, name, result, out, rec, check) -> str | None:
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        if name == CURATE:
            funnel = result
            exp_funnel, exp_layout = self.curate_expected
            files = _parquet_files(out)
            t = ds.dataset(out, format="parquet", partitioning="hive").to_table(
                columns=["doc_id", "shard", "bucket"]
            )
            layout = dict(
                zip(t.column("doc_id").to_pylist(), zip(t.column("shard").to_pylist(), t.column("bucket").to_pylist()))
            )
            rec["pipeline"] = {
                "funnel": funnel,
                "bytes_written": sum(os.path.getsize(f) for f in files),
                "files_written": len(files),
            }
            if funnel != exp_funnel:
                return f"funnel {funnel} != reference {exp_funnel}"
            if t.num_rows != len(layout) or layout != exp_layout:
                return f"written rows differ from the reference ({t.num_rows} rows)"
            return None
        if name == STREAM:
            prog = [p for p in result.recentProgress if p.numInputRows > 0]
            kept_dir = os.path.join(out, "kept")
            ids = pq.read_table(kept_dir, columns=["doc_id"]).column("doc_id").to_pylist()
            rec["stream"] = {
                "batch_ms": [p.durationMs.get("triggerExecution", 0) for p in prog],
                "add_batch_ms": [p.durationMs.get("addBatch", 0) for p in prog],
                "plan_ms": [
                    p.durationMs.get("getBatch", 0) + p.durationMs.get("latestOffset", 0) for p in prog
                ],
                "input_rows": sum(p.numInputRows for p in prog),
                "kept_rows": len(ids),
                "out_files": len(_parquet_files(kept_dir)),
            }
            if len(prog) != STREAM_BATCHES:
                return f"{len(prog)} micro-batches, expected {STREAM_BATCHES}"
            if len(ids) != len(set(ids)) or set(ids) != self.stream_expected:
                return f"kept {len(ids)} rows, reference keeps {len(self.stream_expected)}"
            return None
        df, pdf = result
        if pdf is not None and check:
            from oracle import digest

            if digest(pdf) != self.digests[name]:
                return "result differs from oracle"
        rec["df"] = df
        return None


def check_all(bench: Bench, names) -> list[dict]:
    """Untimed: runs every query once, CHECK_THREADS at a time, and
    compares each result with its oracle.  These first executions cost
    2-6x a later one."""
    from concurrent.futures import ThreadPoolExecutor

    def one(name):
        rec = bench.run(name, check=True)
        rec.pop("df", None)
        return rec

    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        return list(pool.map(one, names))


def python_eval_nodes(recs) -> int:
    """Python-evaluating operators in the physical plans of a traced
    pass; planned after the pass so it stays out of the pass time."""
    n = 0
    for r in recs:
        df = r.pop("df", None)
        if df is not None:
            n += len(_PY_EVAL.findall(df._jdf.queryExecution().executedPlan().toString()))
    return n


def _stage_counts(spark, job_ids) -> tuple[int, int]:
    """(stages that ran a task, tasks completed) over the given jobs."""
    st = spark.sparkContext.statusTracker()
    stages = set()
    for j in job_ids:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran, tasks = 0, 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks:
            ran += 1
            tasks += info.numCompletedTasks
    return ran, tasks


def layer_metrics(tracer, operator_fns) -> dict[str, float]:
    """Totals of the span-derived figures of the traced passes.  Every
    public operator function of the package gets calls/self_s/jobs,
    0 for those no span entered."""
    spans = tracer.spans
    child_s = [0.0] * len(spans)
    child_jobs = [0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
            child_jobs[s["parent"]] += s["jobs1"] - s["jobs0"]
    m: dict[str, float] = {
        f"operators.{fn}.{k}": 0 for fn in operator_fns for k in ("calls", "self_s", "jobs")
    }
    for layer in ("operators", "pipelines", "streaming"):
        m[f"{layer}.self_s"] = m[f"{layer}.jobs"] = 0
    m["operators.calls"] = m["sources.load_table_calls"] = m["sources.load_table_s"] = 0

    def add(key, v):
        m[key] = m.get(key, 0) + v

    for i, s in enumerate(spans):
        dur, jobs = s["end"] - s["start"], s["jobs1"] - s["jobs0"]
        self_s, self_jobs = dur - child_s[i], jobs - child_jobs[i]
        if s["layer"] in ("queries", "operators", "pipelines", "streaming"):
            add(f"{s['layer']}.self_s", self_s)
        if s["name"] == "queries.construct":
            add("queries.construct_s", dur)
            add("queries.construct_jobs", jobs)
        elif s["name"] == "spark.execute":
            add("queries.exec_s", dur)
            add("queries.exec_jobs", jobs)
        elif s["name"] == "sources.load_table":
            add("sources.load_table_calls", 1)
            add("sources.load_table_s", dur)
        elif s["layer"] in ("pipelines", "streaming"):
            add(f"{s['layer']}.jobs", jobs)
        elif s["layer"] == "operators":
            add("operators.calls", 1)
            add("operators.jobs", self_jobs)
            add(f"{s['name']}.calls", 1)
            add(f"{s['name']}.self_s", self_s)
            add(f"{s['name']}.jobs", self_jobs)
    return m


def pipeline_metrics(recs, docs_bytes) -> dict[str, float]:
    """Totals over the traced pipeline and streaming executions that
    passed their checks."""
    m = dict.fromkeys(PIPELINE_METRICS + STREAM_METRICS, 0)
    for r in recs:
        if not r["ok"]:
            continue
        if "pipeline" in r:
            p = r["pipeline"]
            for k, v in p["funnel"].items():
                m[f"pipelines.funnel.{k}"] += v
            m["pipelines.bytes_written"] += p["bytes_written"]
            m["pipelines.files_written"] += p["files_written"]
            m["pipelines.write_amp"] += p["bytes_written"] / docs_bytes
            m["pipelines.docs_per_s"] += p["funnel"]["raw"] / r["wall_s"]
        if "stream" in r:
            s = r["stream"]
            half = len(s["batch_ms"]) // 2
            m["streaming.batches"] += len(s["batch_ms"])
            m["streaming.batch_p50_ms"] += statistics.median(s["batch_ms"])
            m["streaming.add_batch_ms"] += statistics.mean(s["add_batch_ms"])
            m["streaming.plan_ms"] += statistics.mean(s["plan_ms"])
            m["streaming.growth_ratio"] += statistics.mean(s["batch_ms"][half:]) / statistics.mean(
                s["batch_ms"][:half]
            )
            m["streaming.docs_per_s"] += s["input_rows"] / r["wall_s"]
            for k in ("input_rows", "kept_rows", "out_files"):
                m[f"streaming.{k}"] += s[k]
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--data-digest", required=True)
    ap.add_argument("--digest-cache", required=True)
    ap.add_argument("--trace-out")
    a = ap.parse_args()

    spark, res = setup(a.data)

    import oracle
    import tracing

    # `plain`: the operations of an untraced pass; a traced run's traced
    # passes also run the TRACED_ONLY ones.  Those are checked on every
    # execution, so the check phase runs the queries only.
    plain = [n for n in WORKLOADS[a.workload] if n not in TRACED_ONLY]
    names = WORKLOADS[a.workload] if a.trace else plain
    t0 = time.perf_counter()
    digests = oracle.expected(plain, a.data, a.sf, a.data_digest, a.digest_cache)
    bench = Bench(spark, a.data, a.work, a.seed, digests, names)
    t1 = time.perf_counter()
    res["checks"] = check_all(bench, plain)
    t2 = time.perf_counter()
    rng = random.Random(a.seed)
    # Untimed passes run like the timed ones.  Every execution makes the
    # JVM compile newly generated code, less with each repeat: after the
    # checks, a pass of llm_dedup_vector took 5.3 s, the fifth 3.8 s,
    # and later ones 3.7-4.3 s.  A host whose other guests are busy
    # also slows the JIT compiler threads, so a run timed early on that
    # curve read slower than the contention alone explains.
    # The traced-only operations are warmed in the first of these only.
    warm_ops = [names] + [plain] * (WARM_PASSES[a.workload] - 1)
    warm = [bench.run(n) for ops in warm_ops for n in rng.sample(ops, len(ops))]
    for r in warm:
        r.pop("df", None)
    res["checks"] += warm
    res["oracle_s"], res["check_s"], res["warm_s"] = t1 - t0, t2 - t1, time.perf_counter() - t2

    tracer = tracing.Tracer(spark) if a.trace else None
    me = os.getpid()
    timed, traced, plain_wall, traced_wall, traced_plain_s = [], [], [], [], []
    cpu = {"jvm": 0.0, "python": 0.0}
    counts = {"queries.exec_stages": 0, "queries.exec_tasks": 0, "functions.python_eval_nodes": 0}
    # The number of timed passes follows from --seconds and the pass's
    # length on a quiet host, not from the clock: the JVM keeps getting
    # faster pass after pass, so a run that fitted one more pass on a
    # faster host would measure a later, faster point of that curve.
    n_plain = max(1, math.ceil(a.seconds / NOMINAL_PASS_S[a.workload]))
    # A traced run alternates untraced and traced passes and ends on an
    # untraced one (U T U T U), so a steady drift between passes cancels
    # out of the traced-vs-untraced difference, the tracing overhead.
    schedule = ["T", "U"] * TRACED_PASSES if a.trace else ["U"] * (n_plain - 1)
    for kind in ["U"] + schedule:
        trace_this = kind == "T"
        ops = names if trace_this else plain
        order = rng.sample(ops, len(ops))
        if trace_this:
            undo = tracing.install(tracer)
            first_span = len(tracer.spans)
            c0 = tracing.cpu_seconds(me)
        w0 = time.perf_counter()
        recs = [bench.run(n, tracer if trace_this else None) for n in order]
        wall = time.perf_counter() - w0
        if not trace_this:
            for r in recs:
                r.pop("df", None)
            timed.extend(recs)
            plain_wall.append(wall)
            continue
        c1 = tracing.cpu_seconds(me)
        tracing.uninstall(undo)
        for k in cpu:
            cpu[k] += c1[k] - c0[k]
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        exec_jobs = [
            j
            for s in tracer.spans[first_span:]
            if s["name"] == "spark.execute"
            for j in range(s["jobs0"], s["jobs1"])
        ]
        stages, tasks = _stage_counts(spark, exec_jobs)
        counts["queries.exec_stages"] += stages
        counts["queries.exec_tasks"] += tasks
        counts["functions.python_eval_nodes"] += python_eval_nodes(recs)
        traced.extend(recs)
        traced_wall.append(wall)
        traced_plain_s.append(sum(r["wall_s"] for r in recs if r["query"] in plain))
    res["timed"] = timed
    res["pass_wall_s"] = plain_wall
    if a.trace:
        n = len(traced_wall)
        operator_fns = sorted({v[0].split(".", 1)[1] for v in tracing.operator_targets().values()})
        layers = {**layer_metrics(tracer, operator_fns), **pipeline_metrics(traced, bench.docs_bytes), **counts}
        layers = {k: v / n for k, v in layers.items()}
        layers["functions.python_cpu_s"] = cpu["python"] / n
        layers["spark.jvm_cpu_s"] = cpu["jvm"] / n
        layers["spark.core_util"] = (cpu["jvm"] + cpu["python"]) / (
            sum(traced_wall) * len(os.sched_getaffinity(0))
        )
        # both over the operations an untraced pass runs
        plain_s = sum(r["wall_s"] for r in timed) / len(plain_wall)
        layers["trace.overhead_frac"] = statistics.mean(traced_plain_s) / plain_s - 1
        layers["trace.query_throughput_qps"] = len(plain) / statistics.mean(traced_plain_s)
        layers["session.get_spark_s"] = res["get_spark_s"]
        layers["session.first_job_s"] = res["first_job_s"]
        res["layers"] = layers
        res["traced_failed"] = sum(not r["ok"] for r in traced)
        res["traced_attempted"] = len(traced)
        res["traced_errors"] = [r for r in traced if not r["ok"]]
        tracer.dump(a.trace_out)
    spark.stop()
    shutil.rmtree(bench.exec_dir, ignore_errors=True)
    with open(a.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
