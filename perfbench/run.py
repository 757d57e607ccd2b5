#!/usr/bin/env python3
"""Benchmark of the validation engine: one workload per process, local[4].

    python3 perfbench/run.py --workload validate_pages --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs are built from
``--seed`` (timed as ``setup_s``), then passes run back to back (closed
loop, one client) while the next one is expected to end within
``--seconds`` (at least one). Every pass builds a fresh plan, its outputs
are checked, and cached data and checkpoint blocks are swept before the
next one.

``--trace 0`` reports the end-to-end metrics (medians over passes);
``--trace 1`` runs one warm-up pass, then alternates traced and untraced
passes and reports the per-layer metrics of the traced ones plus the
tracing overhead. The last line of stdout is the JSON result; a readable
table goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
CPUS = 4
DRIVER_MEMORY = "3g"
SETUP_REPEATS = 3

# per-layer spans: span name -> (module path, attribute)
WRAPPED = {
    "sources.read_pages_dir": ("validate_xml_rust_spark.sources.scan", "read_pages_dir"),
    "orchestrate.validate_full": ("validate_xml_rust_spark.operators.orchestrate", "validate_full"),
    "resume.incremental_verdicts": ("validate_xml_rust_spark.operators.resume", "incremental_verdicts"),
    "ckpt.eager_checkpoint": ("validate_xml_rust_spark.ckpt", "eager_checkpoint"),
    "pipeline.eager_checkpoint": ("validate_xml_rust_spark.pipeline", "eager_checkpoint"),
    "resume.write_manifest": ("validate_xml_rust_spark.operators.resume", "write_manifest"),
    "dedup.exact_dedup": ("validate_xml_rust_spark.operators.dedup", "exact_dedup"),
    "dedup.minhash_near_duplicates": ("validate_xml_rust_spark.operators.dedup", "minhash_near_duplicates"),
    "dedup.connected_components": ("validate_xml_rust_spark.operators.dedup", "connected_components"),
    "curation.dsir_resample": ("validate_xml_rust_spark.operators.curation", "dsir_resample"),
}
# spans opened by the benchmark itself: labelled parquet writes, and the
# summary action (summarize is lazy; the span covers its collect)
OWN_SPANS = ("write.verdicts", "write.violations", "write.outputs", "write.store",
             "summary.summarize")
SPANS = tuple(WRAPPED) + OWN_SPANS
# every span gets these; the benchmark's own spans run once per pass by
# construction, so they carry no call count
SPAN_METRICS = ("self_s", "calls", "run_s", "cpu_s", "shuffle_bytes",
                "input_bytes", "spill_bytes")
DOLMA_STEPS = ("normalize", "dedup_doc_lines", "exact_dedup", "near_dedup",
               "c4_clean", "gopher_repetition_filter", "gopher_filter",
               "dsir_select", "pii_redact")
COUNTS = ("resume.revalidated_rows", "resume.reuse_ratio", "dedup.pairs",
          "dedup.cc_rounds") + tuple(f"pipeline.rows_out.{s}" for s in DOLMA_STEPS)
WHOLE_RUN = {  # name -> unit
    "spark.stages": "count", "spark.tasks": "count", "spark.gc_s": "s",
    "spark.task_skew": "ratio", "spark.input_bytes": "bytes",
    "spark.shuffle_bytes": "bytes", "driver.nojob_s": "s",
    "python.worker_cpu_s": "s", "proc.peak_rss_mb": "MB",
    "trace.root_coverage": "fraction", "trace.gap_s": "s", "trace.overhead_pct": "%",
}

END_TO_END = {"docs_per_s": "1/s", "cpu_s": "s", "written_bytes": "bytes", "setup_s": "s"}


def span_metric_names() -> list[str]:
    return [f"{span}.{m}" for span in SPANS for m in SPAN_METRICS
            if not (m == "calls" and span in OWN_SPANS)]


def per_layer_units() -> dict[str, str]:
    units = {}
    for name in span_metric_names():
        m = name.rsplit(".", 1)[1]
        units[name] = "count" if m == "calls" else ("s" if m.endswith("_s") else "bytes")
    for c in COUNTS:
        units[c] = "ratio" if c.endswith("ratio") else "count"
    units.update(WHOLE_RUN)
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", help="append the result as a JSON line to this file "
                                    "(input for perfbench/compare.py)")
    return p.parse_args(argv)


def configure_env(work: Path) -> None:
    """Every scratch path inside the checkout; set before pyspark is
    imported. The Python workers import the package, so the repo root
    goes on their PYTHONPATH."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, str(ROOT))


def start_spark(work: Path):
    from validate_xml_rust_spark import get_spark

    tmp = work / "tmp"
    spark = get_spark(
        app_name="perfbench", cpus=CPUS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work / 'derby'}"
            ),
        },
    )
    # the manifest writer probes a missing dir on first commit; at WARN
    # Spark logs a stack trace for it on every pass
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin pipe closes) and
    wait until every process below this one has ended."""
    from pyspark import SparkContext

    from perfbench.procstat import descendant_pids, running

    kids = descendant_pids(os.getpid())
    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(running(p) for p in kids):
        time.sleep(0.1)


def sweep(spark) -> None:
    """Drop SQL caches and every persisted RDD (checkpoint blocks live
    outside the SQL cache manager)."""
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _covered(intervals, lo, hi) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class Bench:
    def __init__(self, spark, workload):
        from perfbench.procstat import sample_tree
        from perfbench.sparkstats import StatusReader
        from perfbench.tracing import Tracer

        self.spark = spark
        self.wl = workload
        self.pid = os.getpid()
        self.sample = lambda: sample_tree(self.pid)
        self.reader = StatusReader(spark.sparkContext)
        self.tracer = Tracer(spark.sparkContext)
        self.counters: dict[str, float] = {}

    # --- tracing hooks ---------------------------------------------------

    def install_trace(self) -> None:
        import importlib

        tr = self.tracer
        tr.reset()
        tr.write_labels = {os.path.normpath(k): v for k, v in self.wl.write_labels().items()}
        for name, (mod, attr) in WRAPPED.items():
            tr.wrap(importlib.import_module(mod), attr, name)
        tr.wrap_writes()
        # counts around connected_components, outside its span: the pair
        # count is one scan of the checkpointed pair table
        dedup = importlib.import_module("validate_xml_rust_spark.operators.dedup")
        cc = dedup.connected_components
        counters = self.counters

        def counted_cc(pairs, max_iterations=20, stats=None):
            st = {} if stats is None else stats
            counters["dedup.pairs"] = counters.get("dedup.pairs", 0) + pairs.count()
            out = cc(pairs, max_iterations, stats=st)
            counters["dedup.cc_rounds"] = counters.get("dedup.cc_rounds", 0) + st.get("iterations", 0)
            return out

        tr.patch(dedup, "connected_components", counted_cc)

    # --- one pass --------------------------------------------------------

    def one_pass(self, i: int, peak, traced: bool, check: bool = True) -> dict:
        wl = self.wl
        wl.prepare()
        self.reader.new_stages()
        self.reader.new_jobs()
        self.counters = {}
        if traced:
            self.install_trace()
        s0 = self.sample()
        peak.take()
        t0 = time.time()
        result, error = None, None
        try:
            if traced:
                with self.tracer.span("root") as root:
                    result = wl.run(i, self.tracer.span)
            else:
                result = wl.run(i)
        except Exception:  # a pass that raises counts in `failed`
            error = traceback.format_exc()
        wall = time.time() - t0
        s1 = self.sample()
        peak_b = peak.take()
        self.tracer.unpatch()
        stages = self.reader.new_stages()
        jobs = self.reader.new_jobs()
        problems = []
        if error is None and check:
            try:
                problems = wl.check(result)
            except Exception:
                error = traceback.format_exc()
        p = {
            "traced": traced,
            "error": error,  # the pass raised
            "problems": problems,  # its outputs differ from the reference
            "wall_s": wall,
            "docs_per_s": wl.docs / wall,
            "cpu_s": s1.cpu_s - s0.cpu_s,
            "written_bytes": wl.written_bytes(),
        }
        if traced and error is None:
            p["layers"] = self.layer_metrics(root, stages, jobs, s1.worker_cpu_s - s0.worker_cpu_s, result)
            p["layers"]["proc.peak_rss_mb"] = peak_b / 2**20
        sweep(self.spark)
        return p

    def layer_metrics(self, root, stages, jobs, worker_cpu_s, result) -> dict:
        m = {k: 0.0 for k in span_metric_names()}
        m.update({c: 0.0 for c in COUNTS})
        for sp in self.tracer.spans:
            if sp.name in SPANS:
                m[f"{sp.name}.self_s"] += sp.self_s
                if sp.name in WRAPPED:
                    m[f"{sp.name}.calls"] += 1
        for st in stages:
            sp = self.tracer.span_of(st.description)
            if sp is not None and sp.name in SPANS:
                for k in ("run_s", "cpu_s", "shuffle_bytes", "input_bytes", "spill_bytes"):
                    m[f"{sp.name}.{k}"] += getattr(st, k)
        longest = max(stages, key=lambda s: s.run_s, default=None)
        skew = 0.0
        if longest is not None:
            secs = self.reader.task_seconds(longest)
            if secs and statistics.median(secs) > 0:
                skew = max(secs) / statistics.median(secs)
        top = [sp for sp in self.tracer.spans if sp.parent is root]
        m.update({
            "spark.stages": len(stages),
            "spark.tasks": sum(s.tasks for s in stages),
            "spark.gc_s": sum(s.gc_s for s in stages),
            "spark.task_skew": skew,
            "spark.input_bytes": sum(s.input_bytes for s in stages),
            "spark.shuffle_bytes": sum(s.shuffle_bytes for s in stages),
            "driver.nojob_s": root.wall_s - _covered(
                [(j.start_s, j.end_s) for j in jobs], root.start, root.end),
            "python.worker_cpu_s": worker_cpu_s,
            "trace.root_coverage": sum(sp.wall_s for sp in top) / root.wall_s,
            "trace.gap_s": root.self_s,
        })
        m.update(self.counters)
        m.update(self.wl.counts(result))
        return m


def run(args) -> dict:
    from perfbench.procstat import PeakRss
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    work = WORK / f"run-{os.getpid()}"
    t_start = time.time()

    def log(msg):
        print(f"[{args.workload} +{time.time() - t_start:6.1f}s] {msg}", file=sys.stderr)

    spark = start_spark(work)
    try:
        log("session up")
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        setup_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.time()
            wl.setup()
            setup_s.append(time.time() - t0)
            sweep(spark)
            log(f"setup {setup_s[-1]:.2f}s")
        wl.reference()
        log("reference outputs ready")
        bench = Bench(spark, wl)
        passes = []
        with PeakRss(os.getpid()) as peak:
            # untraced runs measure from the first pass after set-up; traced
            # runs warm up first, so traced and untraced passes compare warm
            for k in range(args.trace):
                warm = bench.one_pass(-1 - k, peak, traced=False, check=False)
                if warm["error"]:
                    raise RuntimeError("warm-up pass failed:\n" + warm["error"])
                log(f"warm-up pass {warm['wall_s']:.2f}s")
            # passes run while the next one is expected to end inside the
            # window; at least one (a traced and an untraced one with --trace 1)
            t_end = time.time() + args.seconds
            cycle_s = []
            while True:
                c0 = time.time()
                p = bench.one_pass(len(passes), peak, traced=args.trace == 1 and len(passes) % 2 == 0)
                passes.append(p)
                cycle_s.append(time.time() - c0)
                log(f"pass {p['wall_s']:.2f}s cpu {p['cpu_s']:.2f}s{' traced' if p['traced'] else ''}"
                    f"{' FAILED' if p['error'] else ''}{' WRONG OUTPUT' if p['problems'] else ''}")
                if len(passes) > args.trace and time.time() + _median(cycle_s) > t_end:
                    break
    finally:
        stop_session(spark)
        log("session stopped")
    return summarize_passes(args, wl, passes, setup_s)


def summarize_passes(args, wl, passes, setup_s) -> dict:
    failed = sum(bool(p["error"]) for p in passes)
    wrong = sum(bool(p["problems"]) for p in passes)
    for p in passes:
        for prob in [p["error"]] * bool(p["error"]) + p["problems"]:
            print(f"[{args.workload}] {prob}", file=sys.stderr)
    if args.trace == 0:
        ok = [p for p in passes if not p["error"]]
        vals = {k: _median([p[k] for p in ok]) for k in
                ("docs_per_s", "cpu_s", "written_bytes")}
        vals["setup_s"] = _median(setup_s)
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        traced = [p for p in passes if p.get("layers")]
        plain = [p for p in passes if not p["traced"]]
        units = per_layer_units()
        metrics = {}
        for name, unit in units.items():
            if name == "trace.overhead_pct":
                base = _median([p["docs_per_s"] for p in plain])
                val = 100 * (base - _median([p["docs_per_s"] for p in traced])) / base if base else 0.0
            else:
                val = _median([p["layers"].get(name, 0.0) for p in traced])
            metrics[name] = {"value": val, "unit": unit}
        path = WORK / f"trace-{args.workload}-seed{args.seed}.json"
        path.write_text(json.dumps([p["layers"] for p in traced], indent=1))
        print(f"per-pass layer metrics written to {path}", file=sys.stderr)
    print(f"{args.workload}: {len(passes)} passes, {failed} raised, {wrong} with wrong "
          f"output (failed_frac {(failed + wrong) / len(passes):.3f}); "
          f"medians over passes{' (traced ones)' if args.trace else ''}:", file=sys.stderr)
    for k, v in metrics.items():
        print(f"  {k:48s} {v['value']:>18.6g} {v['unit']}", file=sys.stderr)
    return {"correct": failed + wrong == 0, "attempted": len(passes), "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "validate_xml_rust_spark" / "__init__.py").is_file():
        print(f"perfbench: no validate_xml_rust_spark package under {ROOT}; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    work = WORK / f"run-{os.getpid()}"
    configure_env(work)
    try:
        out = run(args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    line = json.dumps(out)
    if args.record:
        with open(args.record, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                "trace": args.trace, "result": out}) + "\n")
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
