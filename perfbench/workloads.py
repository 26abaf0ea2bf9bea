"""The two workloads. Each is one closed-loop client in this process:
the next operation starts when the previous one has returned.

- ``pages_scan``: the flagship pipeline over a seed-chosen page sample,
  at local[n] and local[1] on the same input (``bench.py`` session
  config, AQE off). Bypasses the Python UDF boundary and driver loops.
  Its traced run adds the prefix plans and the job phase: the
  spark-submit job (``jobs/run_pipeline.main``) with a ``StageStore``
  checkpoint under production session defaults, cold then resumed.
- ``query_mix``: registry queries in a seed-shuffled order, each timed
  as build + ``noop`` write. Exercises per-query fixed costs: plan
  build, Catalyst, scheduling, Python workers, small shuffles and
  broadcasts, driver-synchronous loops.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import statistics
import time

import numpy as np

import checks
import data
from tracing import SparkProbe, count_mismatches, merge, node_counts

#: the registry queries the query-mix pass runs: 7 of the 28 in
#: ``bench.py``'s HEADLINE list, copied so the benchmark does not move
#: when ``bench.py`` does. Three run driver-synchronous loops (kNN rings,
#: kNN join rounds, PQ training; ``LOOP_QUERIES``), two cross the Python
#: UDF boundary (MinHash over the documents, PQ over the embeddings) and
#: three are cheap scan / shuffle / broadcast queries that show the
#: per-query fixed cost. The other 21 are left out so that every run of
#: the benchmark fits its time budget on a slow 4-vCPU host.
QUERIES = [
    "geo_knn", "raster_reproject_nearest", "text_minhash_lsh",
    "events_sessionize", "tpch_q1", "geo_knn_join", "ann_pq_topk",
]
LOOP_QUERIES = {"geo_knn", "geo_knn_join", "ann_pq_topk"}
#: the ``--size tiny`` mix (smoke test): one plain, one kNN, one UDF query
TINY_QUERIES = ["tpch_q1", "geo_knn", "text_minhash_lsh"]

#: rows-only check: the builder searches 16 query vectors (vec_id < 16)
#: for their k = 5 nearest neighbours
EXPECTED_ROWS = {"ann_pq_topk": 16 * 5}

#: the session config of ``bench.py`` (copied): AQE off
BENCH_CONF = {"spark.sql.adaptive.enabled": "false"}

#: cold/resume pairs of the traced job phase: warm-up, then timed
WARM_PAIRS = 2
JOB_PAIRS = 2

#: pages per run (blocks of ``data.BLOCK``) at each size
PAGE_BLOCKS = {"full": 8, "tiny": 1}


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _quantile(xs, q):
    """Linear-interpolated quantile of a non-empty sample."""
    return float(np.quantile(np.asarray(xs, dtype=float), q))


class Session:
    """One SparkSession built by ``plans.session.get_spark``; the time to
    build a set-up session is one sample of ``plans.session.start_s``."""

    def __init__(self, ctx, cores: int, production: bool, name: str, extra=None,
                 span: str = "plans.session.start"):
        from georeader_spark.plans.session import get_spark

        self.ctx = ctx
        conf = {} if production else dict(BENCH_CONF)
        conf.update(ctx.host_conf)
        conf.update(extra or {})
        ctx.mark(f"session {name}: local[{cores}]")
        with ctx.tracer.span(span, op=name):
            t0 = time.perf_counter()
            self.spark = get_spark(f"perfbench-{name}", master=f"local[{cores}]",
                                   shuffle_partitions=2 * cores, extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.start_s = time.perf_counter() - t0
        ctx.note_versions(self.spark)
        self.probe = SparkProbe(self.spark) if ctx.trace else None

    def group(self, name: str):
        self.spark.sparkContext.setJobGroup(name, name)

    def ungroup(self):
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def stop(self):
        self.ctx.record_rss(self.spark)
        self.spark.stop()


# ---------------------------------------------------------------------------
# pages_scan
# ---------------------------------------------------------------------------

def _pipeline_rows(spark, path):
    from georeader_spark.pipeline import pages_pipeline

    df = pages_pipeline(spark, pages_df=spark.read.parquet(path), repartition=False)
    return df.collect(), df.columns


def _prefix_plans(spark, path):
    """The pipeline cut after each layer, built from the same public
    functions ``pipeline.pages_pipeline`` composes (repartition=False)."""
    from pyspark.sql import functions as F

    from georeader_spark.functions.geo import cell_encode
    from georeader_spark.operators.pip_join import pip_join
    from georeader_spark.pipeline import extract_stage, pip_polytable
    from georeader_spark.queries import CELL_R

    pages = spark.read.parquet(path)
    scan = pages.select("url", "html", "text")
    extracted = extract_stage(pages)
    gate = F.broadcast(spark.createDataFrame([(True,)], "_pass boolean"))
    ok = extracted.join(
        gate, (F.col("text_ok") & F.col("lon").isNotNull()) == F.col("_pass"), "inner"
    ).drop("_pass")
    slim = ok.withColumn("cell", cell_encode(F.col("lon"), F.col("lat"), CELL_R)).select(
        F.xxhash64("url").alias("page_id"), "lon", "lat", "cell")
    joined = pip_join(slim, pip_polytable(), r=6)
    return [("sources.scan_s", scan), ("functions.extract_s", slim),
            ("operators.pip_join_s", joined)]


def pages_scan(ctx, run):
    blocks = data.pick_blocks(ctx.seed, PAGE_BLOCKS[ctx.size])
    n_pages = len(blocks) * data.BLOCK
    path = data.stage_input(ctx.corpus, blocks, os.path.join(ctx.work, "input-scan"))
    want = checks.pages_oracle(blocks)
    ctx.mark("oracle ready")

    n = ctx.cores
    # one session per parallelism level, each one set-up: (cores, warm-up
    # passes, share of --seconds, minimum timed passes). The first session
    # starts the JVM: pass times keep falling for ~3 passes while the JIT
    # compiles, so its warm-up is longer. Most of the time goes to
    # local[n], whose pass time is the gated figure.
    plan = [(n, 3, 0.7, 3), (1, 1, 0.3, 2)]
    setups, passes = [], {n: [], 1: []}
    layer_samples, prefix, counts = [], {}, {}
    # one task per block file at every level: same input, same work
    scan_conf = {"spark.sql.files.maxPartitionBytes": str(1 << 20),
                 "spark.sql.files.openCostInBytes": str(1 << 20)}
    for i, (cores, warm_passes, share, min_passes) in enumerate(plan):
        s = Session(ctx, cores, production=False, name=f"scan{i}-local{cores}",
                    extra=scan_conf)
        try:
            with ctx.tracer.span("warmup", op=f"session{i}"):
                t0 = time.perf_counter()
                for w in range(warm_passes):
                    rows, cols = _pipeline_rows(s.spark, path)
                    run.check(f"warm-up {i}.{w} local[{cores}]",
                              checks.compare(checks.digest(rows, cols), want))
                warm = time.perf_counter() - t0
            setups.append(s.start_s + warm)
            ctx.mark(f"warm-up done ({warm:.2f}s)")
            if s.probe:
                s.probe.new_executions()
            deadline = time.perf_counter() + share * ctx.seconds
            k = 0
            while k < min_passes or time.perf_counter() < deadline:
                op = f"pass{i}.{k}"
                if s.probe:
                    s.group(op)
                with ctx.tracer.span("pipeline.pass", op=op, cores=cores):
                    t0 = time.perf_counter()
                    rows, cols = _pipeline_rows(s.spark, path)
                    dt = time.perf_counter() - t0
                passes[cores].append(dt)
                ctx.mark(f"{op}: {dt:.3f}s")
                run.check(f"{op} local[{cores}]", checks.compare(checks.digest(rows, cols), want))
                if s.probe:
                    s.ungroup()
                    m = s.probe.execution_metrics(s.probe.new_executions())
                    m["jobs"] = len(s.probe.jobs_in_group(op))
                    counts.setdefault(f"pass local[{cores}]", []).append(
                        dict(node_counts(m), jobs=int(m["jobs"])))
                    if cores == n:
                        layer_samples.append(m)
                k += 1
            if ctx.trace and i == 0:
                prefix = _measure_prefixes(ctx, s, path, reps=3)
        finally:
            s.stop()

    pps_n = n_pages / _median(passes[n])
    pps_1 = n_pages / _median(passes[1])
    eff = pps_n / (n * pps_1)
    run.input.update(pages=n_pages, blocks=blocks)
    run.info.update(passes_local_n=len(passes[n]), passes_local_1=len(passes[1]))
    run.named("pages_per_s", pps_n, "pages/s")
    run.named("scaling_eff_1to4", eff, "ratio")
    run.e2e(setup_s=_median(setups), work_per_s=pps_n)
    if ctx.trace:
        _check_counts(run, counts)
        run.layers_from_samples(layer_samples)
        run.layer("sources.scan_s", prefix.get("sources.scan_s", 0.0))
        for name in ("functions.extract_s", "operators.pip_join_s", "operators.tiling_agg_s"):
            run.layer(name, prefix.get(name, 0.0))
        run.trace_doc["prefix_medians_s"] = prefix.get("_raw", {})
        _job_phase(ctx, run, path, n_pages, want)


def _measure_prefixes(ctx, s, path, reps):
    """Median wall time of each prefix plan (noop write), then each
    layer's share as the difference to the previous prefix."""
    raw = {}
    plans = _prefix_plans(s.spark, path)
    for name, df in plans:
        ts = []
        for r in range(reps):
            with ctx.tracer.span("prefix", op=f"{name}.{r}"):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t0)
        raw[name] = _median(ts)
    ts = []
    for r in range(reps):
        with ctx.tracer.span("prefix", op=f"full.{r}"):
            t0 = time.perf_counter()
            _pipeline_rows(s.spark, path)
            ts.append(time.perf_counter() - t0)
    raw["full"] = _median(ts)
    out = {"_raw": raw, "sources.scan_s": raw["sources.scan_s"]}
    order = ["sources.scan_s", "functions.extract_s", "operators.pip_join_s", "full"]
    for prev, cur in zip(order, order[1:]):
        out["operators.tiling_agg_s" if cur == "full" else cur] = raw[cur] - raw[prev]
    return out


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

def query_mix(ctx, run):
    from georeader_spark.queries import REGISTRY

    names = QUERIES if ctx.size == "full" else TINY_QUERIES
    rng = np.random.default_rng(ctx.seed)
    order = [names[i] for i in rng.permutation(len(names))]
    sf = ctx.sf_dir
    oracles = checks.query_oracles(order, sf, os.path.join(ctx.work, "oracle"))
    ctx.mark("oracles ready")

    s = Session(ctx, ctx.cores, production=False, name="mix")
    spark = s.spark
    try:
        # warm-up pass: every query once, collected and checked
        with ctx.tracer.span("warmup", op="mix.warmup"):
            t0 = time.perf_counter()
            for q in order:
                with ctx.tracer.span("warmup.query", op=q):
                    problem = _check_query(spark, q, sf, oracles)
                run.check(f"{q} (warm-up)", problem)
            warm = time.perf_counter() - t0
        ctx.mark(f"warm-up pass done ({warm:.2f}s)")
        if s.probe:
            s.probe.new_executions()
        lat, walls, loops, per_pass, per_query = [], [], [], [], []
        deadline = time.perf_counter() + ctx.seconds
        # at least two timed passes: one pass is too short a sample on a
        # noisy host, and a traced run reads every query's plan-node and
        # job counts twice and compares them
        p = 0
        while p < 2 or time.perf_counter() < deadline:
            acc, t_pass, loop_s = {}, time.perf_counter(), 0.0
            for q in order:
                op = f"p{p}:{q}"
                rec = {"pass": p, "query": q}
                try:
                    t0 = time.perf_counter()
                    if ctx.trace:
                        _traced_query(ctx, s, REGISTRY[q][0], op, rec, acc)
                    else:
                        REGISTRY[q][0](spark, sf).write.format("noop").mode("overwrite").save()
                    lat.append(time.perf_counter() - t0)
                    if q in LOOP_QUERIES:
                        loop_s += lat[-1]
                    run.check(op, None)
                except Exception as ex:  # one failed query is counted, the mix goes on
                    run.check(op, f"{type(ex).__name__}: {str(ex)[:200]}")
                if ctx.trace:
                    per_query.append(rec)
            walls.append(time.perf_counter() - t_pass)
            loops.append(loop_s)
            ctx.mark(f"pass {p}: {walls[-1]:.2f}s")
            per_pass.append(acc)
            p += 1
    finally:
        s.stop()

    run.input.update(queries=order)
    run.info.update(passes=len(walls), samples=len(lat))
    mix = _median(walls)
    p50 = _median(lat)
    p90 = _quantile(lat, 0.9) if lat else float("nan")
    run.named("mix_wall_s", mix, "s")
    run.named("query_p50_s", p50, "s")
    run.named("query_p90_s", p90, "s")
    run.named("query_samples", len(lat), "count")
    run.named("query_samples_beyond_p90", sum(1 for x in lat if x > p90), "count")
    run.named("loop_queries_s", _median(loops), "s")
    run.e2e(setup_s=s.start_s + warm, work_per_s=len(order) / mix)
    if ctx.trace:
        counts = {}
        for rec in per_query:
            if "nodes" in rec:
                counts.setdefault(rec["query"], []).append(
                    dict(rec["nodes"], build_jobs=rec["build_jobs"],
                         action_jobs=rec["action_jobs"]))
        _check_counts(run, counts)
        run.layers_from_samples(per_pass)
        run.trace_doc["queries"] = per_query


def _check_counts(run, counts):
    """The traced run's plan-node and job counts must repeat exactly
    across the repeats of each operation; a mismatch is a failed check."""
    bad = count_mismatches(counts)
    run.check("plan-node and job counts repeat",
              "; ".join(bad) if bad else None)
    run.trace_doc["counts_repeat"] = not bad


def _check_query(spark, q, sf, oracles):
    from georeader_spark.queries import REGISTRY

    try:
        df = REGISTRY[q][0](spark, sf)
        rows = [tuple(r) for r in df.collect()]
    except Exception as ex:  # reported as this query's failure
        return f"{type(ex).__name__}: {str(ex)[:200]}"
    if q in oracles:
        return checks.compare(checks.digest(rows, df.columns), oracles[q])
    if q in EXPECTED_ROWS and len(rows) != EXPECTED_ROWS[q]:
        return f"rows {len(rows)} != {EXPECTED_ROWS[q]}"
    return None


def _traced_query(ctx, s, builder, op, rec, acc):
    spark, probe, tr = s.spark, s.probe, ctx.tracer
    with tr.span("queries.query", op=op):
        s.group(f"build:{op}")
        with tr.span("queries.build") as b:
            df = builder(spark, ctx.sf_dir)
        build_execs = probe.new_executions()
        with tr.span("spark.catalyst") as c:
            # a fresh QueryExecution over the query's plan: a handle the
            # builder reused may already hold its executed plan
            qe = df.select("*")._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            cat = 0.0
            for ph in ("analysis", "optimization", "planning"):
                o = phases.get(ph)
                if o.isDefined():
                    cat += o.get().durationMs() / 1e3
        s.group(f"action:{op}")
        with tr.span("queries.action") as a:
            df.write.format("noop").mode("overwrite").save()
        s.ungroup()
    action_execs = probe.new_executions()
    m_build = probe.execution_metrics(build_execs)
    m_action = probe.execution_metrics(action_execs)
    build_jobs = len(probe.jobs_in_group(f"build:{op}"))
    action_jobs = len(probe.jobs_in_group(f"action:{op}"))
    rec.update(
        build_s=b["end"] - b["start"], action_s=a["end"] - a["start"],
        catalyst_s=cat, catalyst_span_s=c["end"] - c["start"],
        build_jobs=build_jobs, action_jobs=action_jobs,
        stages=m_build.get("stage.count", 0) + m_action.get("stage.count", 0),
        tasks=m_build.get("stage.tasks", 0) + m_action.get("stage.tasks", 0),
        nodes=node_counts(m_action),
    )
    merge(acc, {"queries.build_s": rec["build_s"], "queries.action_s": rec["action_s"],
                "spark.catalyst_s": cat, "queries.build_jobs": build_jobs,
                "jobs": build_jobs + action_jobs})
    merge(merge(acc, m_build), m_action)


# ---------------------------------------------------------------------------
# the job phase of a traced pages_scan
# ---------------------------------------------------------------------------

def _dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _read_output(spark, out):
    df = spark.read.parquet(out)
    return checks.digest([tuple(r) for r in df.collect()], df.columns)


class _LineageSpans:
    """Spans and job marks around ``StageStore.run_stage`` and its write,
    installed on the class for the job phase only."""

    def __init__(self, ctx, s):
        from georeader_spark.plans.lineage import StageStore

        self.cls, self.ctx, self.s = StageStore, ctx, s
        self.orig_run, self.orig_write = StageStore.run_stage, StageStore._write
        self.group = None
        self.warm = False
        self.write_mark = -1
        self.records = []

    def __enter__(self):
        me = self

        def run_stage(store, *a, **kw):
            with me.ctx.tracer.span("plans.lineage.run_stage") as sp:
                resumed = store.is_complete(a[1], a[2]) if len(a) > 2 else None
                me.write_mark = max(me.s.probe.jobs_in_group(me.group), default=-1)
                out = me.orig_run(store, *a, **kw)
            jobs = me.s.probe.jobs_in_group(me.group)
            me.records.append({"group": me.group, "warm": me.warm, "resumed": resumed,
                               "run_stage_s": sp["end"] - sp["start"],
                               "metric_jobs": sum(1 for j in jobs if j > me.write_mark)})
            return out

        def write(store, *a, **kw):
            with me.ctx.tracer.span("plans.lineage.write"):
                r = me.orig_write(store, *a, **kw)
            me.write_mark = max(me.s.probe.jobs_in_group(me.group), default=-1)
            return r

        self.cls.run_stage, self.cls._write = run_stage, write
        return self

    def __exit__(self, *exc):
        self.cls.run_stage, self.cls._write = self.orig_run, self.orig_write
        return False


def _job(ctx, s, inp, root, out, op, lin):
    """One ``jobs/run_pipeline.main`` call in job group ``op``; returns
    its wall time."""
    import run_pipeline

    lin.group = op
    s.group(op)
    with ctx.tracer.span("job.run", op=op):
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(io.StringIO()):
            run_pipeline.main(["--input", inp, "--output", out, "--checkpoint", root])
        dt = time.perf_counter() - t0
    s.ungroup()
    return dt


def _job_phase(ctx, run, inp, n_pages, want):
    """The spark-submit job path, run by a traced ``pages_scan`` after its
    scan sessions: ``jobs/run_pipeline.main`` under production session
    defaults (AQE on, explicit rebalance exchange) with a fresh
    ``StageStore`` checkpoint root, then again on the same root (resume).
    The first ``WARM_PAIRS`` cold/resume pairs are the warm-up (cold-job
    times keep falling for a pair after the first while the JIT compiles);
    ``JOB_PAIRS`` timed pairs follow. Every output is checked."""
    jobs_dir = os.path.join(ctx.work, "job")
    cold, resume, samples = [], [], []
    s = Session(ctx, ctx.cores, production=True, name="job", span="job.session.start")
    lin = _LineageSpans(ctx, s)
    try:
        with lin:
            for k in range(WARM_PAIRS + JOB_PAIRS):
                shutil.rmtree(jobs_dir, ignore_errors=True)
                root = os.path.join(jobs_dir, "ckpt")
                out_c = os.path.join(jobs_dir, "out-cold")
                out_r = os.path.join(jobs_dir, "out-resume")
                op = f"pair{k}"
                lin.warm = warm = k < WARM_PAIRS
                with ctx.tracer.span("job.pair", op=op, warm=warm):
                    dc = _job(ctx, s, inp, root, out_c, f"cold:{op}", lin)
                    m_cold = s.probe.execution_metrics(s.probe.new_executions())
                    m_cold["jobs"] = len(s.probe.jobs_in_group(f"cold:{op}"))
                    got_c = _read_output(s.spark, out_c)
                    s.probe.new_executions()
                    dr = _job(ctx, s, inp, root, out_r, f"resume:{op}", lin)
                    got_r = _read_output(s.spark, out_r)
                ctx.mark(f"job {op}: cold {dc:.3f}s resume {dr:.3f}s")
                run.check(f"job {op} cold output", checks.compare(got_c, want))
                run.check(f"job {op} resume output equals cold", checks.compare(got_r, got_c))
                if not warm:
                    cold.append(dc)
                    resume.append(dr)
                    m_cold["lineage.bytes_written"] = _dir_bytes(root) + _dir_bytes(out_c)
                    samples.append(m_cold)
    finally:
        s.stop()
        shutil.rmtree(jobs_dir, ignore_errors=True)

    run.named("job_pages_per_s", n_pages / _median(cold), "pages/s")
    run.named("resume_s", _median(resume), "s")
    timed = [r for r in lin.records if not r["warm"]]
    cold_r = [r for r in timed if not r["resumed"]]
    res_r = [r for r in timed if r["resumed"]]
    run.layer("plans.lineage.cold_s", _median([r["run_stage_s"] for r in cold_r]))
    run.layer("plans.lineage.resume_s", _median([r["run_stage_s"] for r in res_r]))
    run.layer("plans.lineage.metric_jobs", _median([r["metric_jobs"] for r in cold_r]))
    run.layer("plans.lineage.bytes_written",
              _median([m["lineage.bytes_written"] for m in samples]))
    from tracing import layer_values

    run.trace_doc["job"] = {"lineage": lin.records,
                            "cold_job_layers": [layer_values(m) for m in samples]}


WORKLOADS = {"pages_scan": pages_scan, "query_mix": query_mix}
