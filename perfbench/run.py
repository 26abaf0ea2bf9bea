#!/usr/bin/env python3
"""georeader_spark benchmark (see perfbench/README.md).

    python3 perfbench/run.py --workload pages_scan --seed 1 --seconds 10 --trace 0

Run from anywhere; the repository root is this file's parent directory.
The pages corpus is generated under ``<root>/.perfbench`` on first use. Human
readable metric lines go to stdout, followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (and writes
``.perfbench/traces/<workload>-seed<seed>-<size>.{json,md}``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: end-to-end metrics every workload reports (BENCHMARK.json end_to_end).
#: What one "operation" and one "unit of work" are depends on the
#: workload; perfbench/README.md has the table. ``peak_rss_mb`` is
#: printed but not among them: the JVM heap grows to a size that depends
#: on GC timing, so its run-to-run spread (~20 %) is wider than any bound.
E2E = [
    ("setup_s", "s"),
    ("work_per_s", "1/s"),
]

#: the workload-specific end-to-end figures, printed by name
NAMED = {
    "pages_scan": [("pages_per_s", "pages/s"), ("scaling_eff_1to4", "ratio")],
    "query_mix": [("mix_wall_s", "s"), ("loop_queries_s", "s"), ("query_p50_s", "s"), ("query_p90_s", "s"),
                  ("query_samples", "count"), ("query_samples_beyond_p90", "count")],
}
#: figures of the job phase, which only a traced pages_scan runs
NAMED_TRACED = {
    "pages_scan": [("job_pages_per_s", "pages/s"), ("resume_s", "s")],
    "query_mix": [],
}
COMMON_NAMED = [("setup_s", "s"), ("error_rate", "failed/attempted"), ("peak_rss_mb", "MB")]

S, B, C = "s", "bytes", "count"
#: per-layer metrics (BENCHMARK.json per_layer): name, unit, the
#: end-to-end metric it should move, the workloads that exercise it.
#: Every workload reports every name; a layer a workload does not
#: exercise reads 0.
LAYERS = [
    ("plans.session.start_s", S, "setup_s", "all"),
    ("warmup_s", S, "setup_s", "all"),
    ("queries.build_s", S, "query_p50_s", "query_mix"),
    ("queries.build_jobs", C, "query_p90_s", "query_mix"),
    ("queries.action_s", S, "mix_wall_s", "query_mix"),
    ("spark.catalyst_s", S, "query_p50_s", "query_mix"),
    ("spark.jobs", C, "mix_wall_s", "query_mix"),
    ("spark.stages", C, "mix_wall_s", "query_mix"),
    ("spark.tasks", C, "mix_wall_s", "query_mix"),
    ("sources.scan_s", S, "pages_per_s", "pages_scan"),
    ("functions.extract_s", S, "pages_per_s", "pages_scan"),
    ("operators.pip_join_s", S, "pages_per_s", "pages_scan"),
    ("operators.tiling_agg_s", S, "pages_per_s", "pages_scan"),
    ("spark.scan.bytes", B, "pages_per_s", "pages_scan"),
    ("spark.scan.time_s", S, "pages_per_s", "pages_scan"),
    ("spark.task.run_s", S, "pages_per_s, scaling_eff_1to4", "pages_scan"),
    ("spark.task.cpu_s", S, "pages_per_s, scaling_eff_1to4", "pages_scan"),
    ("spark.task.gc_s", S, "pages_per_s, scaling_eff_1to4", "pages_scan"),
    ("spark.task.skew", "ratio", "scaling_eff_1to4", "pages_scan"),
    ("spark.python.start_s", S, "query_p50_s, query_p90_s", "query_mix"),
    ("spark.python.init_s", S, "query_p50_s, query_p90_s", "query_mix"),
    ("spark.python.run_s", S, "query_p50_s, query_p90_s", "query_mix"),
    ("spark.python.bytes_sent", B, "mix_wall_s", "query_mix"),
    ("spark.python.bytes_returned", B, "mix_wall_s", "query_mix"),
    ("spark.shuffle.bytes_written", B, "mix_wall_s", "query_mix"),
    ("spark.shuffle.records_written", C, "mix_wall_s", "query_mix"),
    ("spark.shuffle.write_s", S, "mix_wall_s", "query_mix"),
    ("spark.shuffle.fetch_wait_s", S, "mix_wall_s", "query_mix"),
    ("spark.broadcast.collect_s", S, "query_p50_s; pages_per_s", "query_mix; pages_scan"),
    ("spark.broadcast.build_s", S, "query_p50_s; pages_per_s", "query_mix; pages_scan"),
    ("spark.broadcast.bytes", B, "query_p50_s; pages_per_s", "query_mix; pages_scan"),
    ("spark.spill_bytes", B, "peak_rss_mb, mix_wall_s", "query_mix"),
    ("plans.lineage.cold_s", S, "job_pages_per_s", "pages_scan (job phase)"),
    ("plans.lineage.resume_s", S, "resume_s", "pages_scan (job phase)"),
    ("plans.lineage.metric_jobs", C, "job_pages_per_s", "pages_scan (job phase)"),
    ("plans.lineage.bytes_written", B, "job_pages_per_s", "pages_scan (job phase)"),
    ("spark.tasks_failed", C, "error_rate", "all"),
]


def _descendants(pid: int) -> list:
    """``pid`` and every process below it, from the kernel's per-thread
    ``children`` lists."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
            except (OSError, ValueError):
                pass
    return out


def peak_rss_kb(pid: int) -> int:
    """Sum of the peak resident sizes (``VmHWM``) of the Spark JVM and its
    descendants (the Python daemon and workers). Pages a forked worker
    shares with the daemon count in both, so this is an upper bound."""
    total = 0
    for p in _descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except (OSError, ValueError, IndexError):
            pass
    return total


class Ctx:
    """What a workload needs: its arguments, inputs and instruments."""

    def __init__(self, args, tracer, cores: int):
        import data

        self.t0 = time.perf_counter()
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.size = args.size
        self.cores = cores
        self.work = WORK
        self.tracer = tracer
        self.peak_rss_kb = 0
        self.host = {}
        self.host_conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        }
        if self.workload == "query_mix":
            self.sf_dir = data.TABLES_DIR
        else:
            self.corpus = data.ensure_pages_corpus(WORK)

    def mark(self, what: str) -> None:
        """A progress line on stderr."""
        print(f"perfbench [{time.perf_counter() - self.t0:6.1f}s] {what}", file=sys.stderr, flush=True)

    def record_rss(self, spark):
        """Called before a session stops, while its Python workers live."""
        pid = spark.sparkContext._gateway.proc.pid
        self.peak_rss_kb = max(self.peak_rss_kb, peak_rss_kb(pid))

    def note_versions(self, spark):
        """Spark, Java and driver-heap settings, from the first session."""
        if "spark" not in self.host:
            self.host.update(
                spark=spark.version,
                java=spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
                driver_memory=spark.conf.get("spark.driver.memory"),
            )


class Run:
    """Operations attempted and failed, and the metrics of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list = []
        self.e2e_values: dict = {}
        self.named_values: dict = {}
        self.layers: dict = {name: 0.0 for name, *_ in LAYERS}
        self.input: dict = {}
        self.info: dict = {}
        self.trace_doc: dict = {}

    def check(self, op: str, problem):
        self.attempted += 1
        if problem is not None:
            self.failed += 1
            self.failures.append(f"{op}: {problem}")

    def e2e(self, **values):
        self.e2e_values.update(values)

    def named(self, name, value, unit):
        self.named_values[name] = (value, unit)

    def layer(self, name, value):
        self.layers[name] = float(value)

    def layers_from_spans(self, tracer):
        """Session start and warm-up: medians over the run's sessions."""
        for layer, span in (("plans.session.start_s", "plans.session.start"),
                            ("warmup_s", "warmup")):
            ds = [x["end"] - x["start"] for x in tracer.spans if x["name"] == span]
            if ds:
                self.layer(layer, statistics.median(ds))

    def layers_from_samples(self, samples):
        from tracing import layer_values

        if not samples:
            return
        per = [layer_values(m) for m in samples]
        for name in set().union(*per):
            self.layers[name] = statistics.median(p.get(name, 0.0) for p in per)


def configure_env(cores: int) -> None:
    """Process environment for Spark, set before the JVM starts: every
    file Spark, the JVM and Python write stays under the checkout."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_mb = min(3072, ram // (4 << 20))
    os.environ.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=os.path.join(WORK, "tmp"),
        # no hsperfdata file: the JVM writes it to /tmp whatever tmpdir says
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_GRAFT_CPUS=str(cores),
    )


def host_info() -> dict:
    import duckdb
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "loadavg": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone; the wait below decides
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["pages_scan", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: one page block and three queries (smoke test)")
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "georeader_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "jobs", "run_pipeline.py"))):
        print(f"perfbench: no georeader_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(1, os.path.join(ROOT, "jobs"))
    cores = min(4, os.cpu_count() or 1)
    configure_env(cores)

    from tracing import Tracer, write_trace
    from workloads import WORKLOADS

    tracer = Tracer(enabled=bool(args.trace))
    run = Run()
    t_start = time.perf_counter()
    ctx = None
    try:
        ctx = Ctx(args, tracer, cores)
        ctx.host.update(host_info())
        ctx.mark("inputs ready")
        WORKLOADS[args.workload](ctx, run)
        ctx.mark("workload done")
        if ctx.trace:
            run.layers_from_spans(tracer)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutdown_jvm()

    run.named("setup_s", run.e2e_values["setup_s"], "s")
    run.named("peak_rss_mb", ctx.peak_rss_kb / 1024.0, "MB")
    run.named("error_rate", run.failed / max(run.attempted, 1), "failed/attempted")
    wall = time.perf_counter() - t_start

    w = args.workload
    print(f"perfbench {w} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"size={args.size} local[{cores}] wall={wall:.1f}s")
    print("host " + json.dumps(ctx.host, sort_keys=True))
    print("input " + json.dumps(run.input, sort_keys=True))
    print("counts " + json.dumps(run.info, sort_keys=True))
    for name, unit in COMMON_NAMED + NAMED[w] + (NAMED_TRACED[w] if args.trace else []):
        v, u = run.named_values[name]
        print(f"metric {w} {name} = {_fmt(v)} {u}")
    for name, unit in E2E:
        print(f"e2e {w} {name} = {_fmt(run.e2e_values[name])} {unit}")
    for f in run.failures:
        print(f"FAILED {f}")

    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    rec = {"workload": w, "seed": args.seed, "seconds": args.seconds, "size": args.size,
           "trace": args.trace, "code": code_id(), "host": ctx.host, "input": run.input, "counts": run.info,
           "attempted": run.attempted, "failed": run.failed, "failures": run.failures,
           "e2e": run.e2e_values, "named": {k: v[0] for k, v in run.named_values.items()}}
    base = os.path.join(res_dir, f"{w}-seed{args.seed}-{args.size}")
    if args.trace:
        overhead = _overhead(base + "-trace0.json", rec)
        for line in overhead["lines"]:
            print(line)
        for name, unit, moves, on in LAYERS:
            print(f"layer {w} {name} = {_fmt(run.layers[name])} {unit}")
        rec["layers"] = run.layers
        doc = dict(rec, tracing_overhead=overhead["values"], **run.trace_doc)
        table = [(n, run.layers[n], u, f"{moves} (on {on})") for n, u, moves, on in LAYERS]
        write_trace(os.path.join(WORK, "traces", f"{w}-seed{args.seed}-{args.size}"),
                    doc, tracer, table)
    with open(base + f"-trace{args.trace}.json", "w") as f:
        json.dump(rec, f, indent=1)

    if args.trace:
        metrics = {n: {"value": run.layers[n], "unit": u} for n, u, *_ in LAYERS}
    else:
        metrics = {n: {"value": run.e2e_values[n], "unit": u} for n, u in E2E}
    if not all(math.isfinite(m["value"]) for m in metrics.values()):
        print("perfbench: a metric has no value (every timed operation failed)", file=sys.stderr)
        return 1
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def code_id() -> str:
    """Fingerprint of the program and the benchmark: a hash over the
    Python sources of ``georeader_spark``, ``jobs`` and ``perfbench``."""
    h = hashlib.sha256()
    for top in ("georeader_spark", "jobs", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _overhead(untraced_path: str, traced: dict) -> dict:
    """Traced minus untraced end-to-end figures, against the untraced run
    of the same code, workload, seed, size and seconds (hence the same
    input) that this checkout has on record, if any."""
    keys = ("code", "workload", "seed", "size", "seconds", "input")
    base = None
    if os.path.exists(untraced_path):
        with open(untraced_path) as f:
            base = json.load(f)
    if base is None or any(base.get(k) != traced[k] for k in keys):
        return {"values": None, "lines": ["trace overhead: no matching untraced run "
                                          "(same code, seed, size and seconds) on record"]}
    vals, lines = {}, []
    for name, _ in E2E:
        a, b = base["e2e"].get(name), traced["e2e"].get(name)
        if a and b is not None:
            vals[name] = {"untraced": a, "traced": b, "ratio": b / a}
            lines.append(f"trace overhead {name}: traced {_fmt(b)} vs untraced {_fmt(a)} "
                         f"{(b / a - 1) * 100:+.1f}%")
    return {"values": vals, "lines": lines}


if __name__ == "__main__":
    sys.exit(main())
