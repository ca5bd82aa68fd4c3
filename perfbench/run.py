"""Benchmark of the wpextract_spark dataset builder.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 12 --trace 0

One closed-loop driver runs one job at a time on ``local[nproc]``. A run sets
up once (session start, seeded input generation, the workload's warm-up
passes), then runs whole passes of the workload until ``--seconds`` have
elapsed, then checks every pass's output. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs one untraced and one traced pass,
then one traced pass of each workload in HOSTED, and reports the per-layer
ledger (see perfbench/README.md). The last stdout line is the result object;
the lines before it are the human-readable report.

Everything the run writes goes under ``.bench_work/`` in the checkout and is
removed at exit; the traced run's spans are kept in ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path
from typing import Any

ROOT = Path(__file__).resolve().parent.parent
NPROC = len(os.sched_getaffinity(0))
#: Workloads that are not gated (one run of each costs more than the gate's
#: time budget allows), each traced once inside a gated workload's
#: ``--trace 1`` run, on inputs from HOSTED_SEED.
HOSTED = {"crawl_extract": ["site_extract"], "refresh": ["corpus_build"]}
HOSTED_SEED = 7

END_TO_END_UNITS = {
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

#: Per-layer metrics measured on every workload (the result line carries
#: these); workload-specific ledger entries print on the line before it.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.scan_mb_per_s": "MB/s",
    "htmlkit.parse_us_per_doc": "us",
    "htmlkit.parse_head_us_per_doc": "us",
    "kernel.content_us_per_doc": "us",
    "kernel.translations_us_per_doc": "us",
    "kernel.control_docs_per_s": "docs/s",
    "udf.batch_us_per_doc": "us",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.task_s_p50": "s",
    "spark.task_s_max": "s",
    "trace.docs_per_s": "docs/s",
    "trace.overhead_share": "ratio",
}


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def _env(work: Path, cores: int) -> None:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    import tempfile

    tempfile.tempdir = str(tmp)


def start_session(work: Path, cores: int = NPROC):
    """The program's own session factory on ``local[cores]``, with every
    scratch path inside ``work``."""
    _env(work, cores)
    from wpextract_spark.session import default_builder

    spark = (
        default_builder("wpextract-bench", f"local[{cores}]")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
                # The heap is committed in full from the start, so the JVM's
                # RSS does not depend on when the collector grew the heap;
                # the run reports the JVM's and the Python processes' RSS
                # apart (see report_e2e).
                "-Xms1g -XX:+AlwaysPreTouch")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, its JVM and every process below this one, and wait for
    each to end."""
    from pyspark import SparkContext

    from perfbench.probes import descendants, stop_tree

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    stop_tree(pids | descendants(os.getpid()))


# ---------------------------------------------------------------------------
# measuring
# ---------------------------------------------------------------------------


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


@dataclass
class Pass:
    label: str
    attempted: int
    result: Any  # workloads.PassResult, or None when the pass raised
    wall_s: float
    cpu_s: float
    error: str | None
    failed: int = 0
    peak_rss: float = 0.0
    peak_rss_jvm: float = 0.0
    steal_s: float = 0.0


def run_pass(workload, spark, state, out_dir: Path, label: str, sampler=None,
             span=None) -> Pass:
    """One timed pass. A pass that raises counts all its documents failed."""
    from perfbench.probes import steal_s

    cpu0 = sampler.cpu_s() if sampler else 0.0
    steal0 = steal_s()
    t0 = time.perf_counter()
    try:
        kwargs = {"span": span} if span else {}
        result, error = workload.run_pass(spark, state, out_dir, **kwargs), None
    except Exception:
        result, error = None, traceback.format_exc()
    wall = time.perf_counter() - t0
    steal = steal_s() - steal0
    cpu = (sampler.cpu_s() - cpu0) if sampler else 0.0
    return Pass(label, state["n"], result, wall, cpu, error, steal_s=steal)


def check(p: Pass) -> None:
    if p.error is not None:
        print(f"[{p.label}] pass raised:\n{p.error}", file=sys.stderr)
        p.failed = p.attempted
        return
    try:
        p.failed = min(p.attempted, p.result.check())
    except Exception:
        print(f"[{p.label}] check raised:\n{traceback.format_exc()}", file=sys.stderr)
        p.failed = p.attempted


def good_docs_per_s(p: Pass) -> float:
    """Correct docs per second of the wall the host gave this machine: the
    pass's wall less its share of the CPU time the hypervisor stole. On a
    shared host the steal moves by whole tens of per cent over minutes."""
    return (p.attempted - p.failed) / (p.wall_s - p.steal_s / NPROC)


# ---------------------------------------------------------------------------
# runs
# ---------------------------------------------------------------------------


def setup(workload, work: Path, seed: int, phases: dict, warmup_passes: int):
    """Session start + input generation + warm-up passes."""
    t0 = time.perf_counter()
    spark = start_session(work)
    phases["session"] = time.perf_counter() - t0
    state = workload.generate(spark, work / "input", seed)
    phases["generate"] = time.perf_counter() - t0 - phases["session"]
    warm = [run_pass(workload, spark, state, work / "out" / f"warmup{i}", f"warmup{i}")
            for i in range(warmup_passes)]
    phases["warmup"] = sum(p.wall_s for p in warm)
    return spark, state, warm, time.perf_counter() - t0


def end_to_end(workload, spark, state, work: Path, seconds: float, sampler) -> list[Pass]:
    """Whole passes until ``seconds`` have elapsed, each in its own sampler
    window, so every pass has its own CPU time and peak RSS."""
    passes = []
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < seconds:
        i = len(passes)
        sampler.window()
        p = run_pass(workload, spark, state, work / "out" / f"p{i}", f"pass{i}", sampler)
        sampler.close()
        p.peak_rss, p.peak_rss_jvm = sampler.peak_rss, sampler.peak_rss_jvm
        passes.append(p)
    return passes


def report_e2e(passes: list[Pass], setup_s: float) -> dict[str, float]:
    series = {
        "docs_per_s": [good_docs_per_s(p) for p in passes],
        "cpu_s_per_kdoc": [p.cpu_s / p.attempted * 1000 for p in passes],
        "peak_rss_mb": [p.peak_rss / 1e6 for p in passes],
    }
    metrics = {name: statistics.median(values) for name, values in series.items()}
    metrics["setup_s"] = setup_s
    for name, values in series.items():
        q1, med, q3 = quartiles(values)
        print(f"{name:>16} median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
              f"{END_TO_END_UNITS[name]} over n={len(values)} passes: "
              + " ".join(f"{v:.4g}" for v in values))
    jvm = statistics.median(p.peak_rss_jvm / 1e6 for p in passes)
    print(f"{'':>16} of which JVM {jvm:.1f} MB (1 GiB heap, committed at start), "
          f"Python and other {metrics['peak_rss_mb'] - jvm:.1f} MB")
    print(f"{'':>16} host steal per pass, share of nproc x wall: "
          + " ".join(f"{p.steal_s / NPROC / p.wall_s:.3f}" for p in passes))
    print(f"{'setup_s':>16} {setup_s:.3f} s")
    return metrics


def traced(workload, spark, state, work: Path, session_s: float) -> tuple[dict, dict, list[Pass]]:
    """The per-layer ledger: one untraced and one traced pass, forced layer
    calls on cached inputs, kernel probes and Spark's own counters, then one
    traced pass of each workload in HOSTED[workload]. Returns the ledger,
    self time by span name, and every pass whose output was checked."""
    from perfbench import layers
    from perfbench.probes import SparkRest
    from perfbench.trace import Tracer, self_time_by_name

    sample = workload.sample_html(state)
    ledger: dict[str, float] = {"session.start_s": session_s}
    t0 = time.perf_counter()

    def step(name: str) -> None:
        """Wall of the traced run's steps, so its cost shows in the ledger."""
        nonlocal t0
        now = time.perf_counter()
        ledger[f"wall.{name}_s"] = now - t0
        t0 = now

    control = [layers.control_docs_per_s(sample)]

    plain = run_pass(workload, spark, state, work / "out" / "untraced", "untraced")

    tracer = Tracer()
    rest = SparkRest(spark)
    first_stage = rest.last_stage_id()
    traced_pass = trace_pass(workload, spark, state, work / "out" / "traced", tracer)
    ledger.update(rest.stats_since(first_stage))
    ledger.update(force_lazy(workload, tracer, tracer.lazy_calls))
    step("passes")

    ledger.update(layers.kernel_probes(sample))
    control.append(layers.control_docs_per_s(sample))
    ledger["kernel.control_docs_per_s"] = statistics.mean(control)
    ledger["kernel.control_before_docs_per_s"], ledger["kernel.control_after_docs_per_s"] = control
    ledger.update(layers.scan_probe(spark, *workload.scan_input(state)))
    step("probes")

    for p in (plain, traced_pass):
        check(p)
    ledger["trace.untraced_docs_per_s"] = good_docs_per_s(plain)
    ledger["trace.docs_per_s"] = good_docs_per_s(traced_pass)
    ledger["trace.overhead_share"] = 1 - ledger["trace.docs_per_s"] / ledger["trace.untraced_docs_per_s"]
    EXTRAS[workload.name](spark, state, work, traced_pass, tracer, ledger)
    step("extras")

    passes = [plain, traced_pass]
    for name in HOSTED.get(workload.name, []):
        passes.append(hosted(name, spark, work, tracer, ledger))
        step(name)

    selfs = self_time_by_name(tracer.spans)
    ledger.update({f"self.{k}_s": v for k, v in selfs.items()})
    tracer.write(ROOT / ".bench_out" / f"trace-{workload.name}.json")
    return ledger, selfs, passes


def trace_pass(workload, spark, state, out_dir: Path, tracer) -> Pass:
    """One pass with spans around the workload's TRACE_POINTS."""
    tracer.run_id = f"{workload.name}-traced"
    for module, attr, name, lazy in TRACE_POINTS[workload.name]:
        tracer.patch(module, attr, name, lazy)
    try:
        with tracer.span(f"{workload.name}.pass"):
            return run_pass(workload, spark, state, out_dir, f"{workload.name} traced",
                            span=tracer.span)
    finally:
        tracer.unpatch()


def force_lazy(workload, tracer, calls) -> dict[str, float]:
    """Seconds of each recorded lazy call, computed again on cached inputs,
    summed under its FORCED_NAMES metric."""
    tracer.run_id = f"{workload.name}-probes"
    forced: dict[str, float] = {}
    for call in calls:
        key = FORCED_NAMES[workload.name](call)
        if key:
            forced[key] = forced.get(key, 0.0) + tracer.force(call, _noop_any)
    return forced


def hosted(name: str, spark, work: Path, tracer, ledger: dict) -> Pass:
    """One traced pass of an ungated workload on HOSTED_SEED inputs, in the
    host's session: its spans, forced layers, output check and extras go
    into the host's ledger."""
    from perfbench.workloads import WORKLOADS

    workload = WORKLOADS[name]
    state = workload.generate(spark, work / "input" / name, HOSTED_SEED)
    n_calls = len(tracer.lazy_calls)
    p = trace_pass(workload, spark, state, work / "out" / name, tracer)
    ledger.update(force_lazy(workload, tracer, tracer.lazy_calls[n_calls:]))
    check(p)
    ledger[f"{name}.docs"], ledger[f"{name}.failed"] = p.attempted, p.failed
    if p.error is None:
        EXTRAS[name](spark, state, work, p, tracer, ledger)
    return p


def _noop_any(result) -> None:
    from perfbench.layers import noop

    df = getattr(result, "df", result)  # load_entity returns an EntityFrame
    if df is not None and hasattr(df, "write"):
        noop(df)


def _span_total(tracer, name: str) -> float:
    return sum(s.end - s.start for s in tracer.spans if s.name == name)


# -- what each workload traces ------------------------------------------------

TRACE_POINTS = {
    "crawl_extract": [
        ("wpextract_spark.plans.job", "ResumableExtractJob.run", "job.run", False),
        ("wpextract_spark.plans.job", "ResumableExtractJob._run_chunk", "job.chunk", False),
    ],
    "site_extract": [
        ("wpextract_spark.plans.pipeline", "SparkSiteExtractor.extract", "site.extract", False),
        ("wpextract_spark.plans.pipeline", "SparkSiteExtractor.export_distributed",
         "site.export", False),
        ("wpextract_spark.sources.entities", "load_entity", "sources.load_entity", True),
        ("wpextract_spark.sources.scrape", "crawl_self_urls", "sources.selfurl", True),
        ("wpextract_spark.operators.registry", "build_registry", "registry.build", True),
        ("wpextract_spark.operators.resolve", "resolve_span_array", "resolve.span_array", True),
        ("wpextract_spark.operators.resolve", "symmetrize_translations",
         "resolve.symmetrize", True),
        ("wpextract_spark.sinks.parity", "export_entity_json_distributed", "sinks.json", False),
    ],
    "refresh": [
        ("wpextract_spark.plans.incremental", "incremental_update", "refresh.update", False),
        ("wpextract_spark.operators.snapshot", "snapshot_diff", "snapshot.diff", True),
        ("wpextract_spark.plans.incremental", "extract_pages", "refresh.extract", True),
        ("wpextract_spark.plans.incremental", "update_metrics", "refresh.metrics", False),
    ],
    "corpus_build": [
        ("wpextract_spark.plans.corpus_build", "build_training_corpus", "corpus.build", False),
        ("wpextract_spark.operators.curation", "curation_pipeline", "curation.pipeline", True),
        ("wpextract_spark.operators.decontam", "ngram_decontaminate", "decontam.ngram", True),
        ("wpextract_spark.operators.packing", "pack_sequences", "packing.pack", True),
        ("wpextract_spark.sinks.shards", "write_training_shards", "shards.write", True),
    ],
}


def _site_forced(call) -> str | None:
    if call.name == "resolve.span_array":
        return "resolve.links_s" if "links" in call.args[1] else "resolve.translations_s"
    return {
        "sources.load_entity": "sources.entities_load_s",
        "sources.selfurl": "sources.selfurl_s",
        "registry.build": "registry.build_s",
        "resolve.symmetrize": "resolve.translations_s",
    }.get(call.name)


FORCED_NAMES = {
    "crawl_extract": lambda call: None,
    "site_extract": _site_forced,
    "refresh": lambda call: {"snapshot.diff": "snapshot.diff_s",
                             "refresh.extract": "refresh.extract_s"}.get(call.name),
    "corpus_build": lambda call: {"curation.pipeline": "curation.s", "decontam.ngram": "decontam.s",
                                  "packing.pack": "packing.s",
                                  "shards.write": "shards.write_s"}.get(call.name),
}


def _crawl_extras(spark, state, work, p: Pass, tracer, ledger) -> None:
    from perfbench import layers

    chunk = p.result.info["chunk_wall_s"]
    ledger["job.chunk_s"] = statistics.median(chunk)
    ledger["job.chunk_s_max"] = max(chunk)
    ledger["job.commit_s"] = _span_total(tracer, "job.run") - sum(chunk)
    ledger["job.errors"] = p.result.info.get("n_errors", 0)
    ledger.update(layers.udf_boundary(spark, state["pages"]))
    n = state["n"]
    ledger["udf.docs"] = n
    ledger["udf.nproc"] = NPROC
    ledger["udf.lost_share"] = 1 - n * ledger["udf.batch_us_per_doc"] / 1e6 / (
        NPROC * ledger["udf.full_s"])
    ledger["udf.scaling_eff"] = ledger["udf.full_s_1core"] / (NPROC * ledger["udf.full_s"])


def _site_extras(spark, state, work, p: Pass, tracer, ledger) -> None:
    ledger["sinks.json_s"] = _span_total(tracer, "sinks.json")
    ledger["sinks.json_mb"] = p.result.info["json_mb"]
    # Registry lookups: posts' internal links and translations.
    posts = json.loads((p.result.info["out_dir"] / "posts.json").read_text())
    spans = [s for r in posts for s in r["links"]["internal"] + (r.get("translations") or [])]
    ledger["resolve.attempted"] = len(spans)
    ledger["resolve.hit_ratio"] = (
        sum(s["destination"] is not None for s in spans) / len(spans) if spans else 0.0)


def _refresh_extras(spark, state, work, p: Pass, tracer, ledger) -> None:
    from pyspark.sql import functions as F

    from perfbench import layers

    m = p.result.info["metrics"]
    new = spark.read.parquet(str(state["new"]))
    ledger["refresh.fingerprint_s"] = layers._median_time(
        lambda: layers.noop(new.select("url", F.md5("html"))))
    ledger["refresh.extracted_share"] = m["extracted"] / state["n"]
    ledger["sinks.refresh_write_s"] = _span_total(tracer, "sinks.refresh_write")


def _corpus_extras(spark, state, work, p: Pass, tracer, ledger) -> None:
    st = p.result.info["metrics"]["stages"]
    ledger["curation.keep_ratio"] = st["curate"]["out"] / st["curate"]["in"]


EXTRAS = {
    "crawl_extract": _crawl_extras,
    "site_extract": _site_extras,
    "refresh": _refresh_extras,
    "corpus_build": _corpus_extras,
}


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def bench(args, work: Path) -> dict:
    from perfbench.probes import TreeSampler
    from perfbench.workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    phases: dict[str, float] = {}
    with TreeSampler() as sampler:
        # A traced run warms up with one pass: its layer figures are not
        # gated, and the hosted passes need the time.
        warmup = 1 if args.trace else workload.warmup_passes
        spark, state, warm, setup_s = setup(workload, work, args.seed, phases, warmup)
        try:
            t0 = time.perf_counter()
            if args.trace:
                ledger, selfs, passes = traced(workload, spark, state, work, phases["session"])
            else:
                passes = end_to_end(workload, spark, state, work, args.seconds, sampler)
            phases["measure"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            for p in warm if args.trace else [*warm, *passes]:
                check(p)
            phases["check"] = time.perf_counter() - t0
        finally:
            t0 = time.perf_counter()
            stop_session(spark)
            phases["stop"] = time.perf_counter() - t0

    print(f"workload {workload.name}: {workload.why}")
    print(f"seed {args.seed}, local[{NPROC}], {state['n']} docs per pass, "
          f"{len(passes)} measured passes + {len(warm)} warm-up")
    print("run phases (s): " + ", ".join(f"{k} {v:.2f}" for k, v in phases.items()))
    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    warm_failed = sum(p.failed for p in warm)
    correct = failed == 0 and warm_failed == 0 and all(p.error is None for p in passes)
    print(f"{'failed_share':>16} {failed / attempted:.4g} ({failed} of {attempted} docs; "
          f"warm-up failed {warm_failed})")
    if args.trace:
        units = dict(PER_LAYER_UNITS)
        print("self time by span (s):")
        for name, t in sorted(selfs.items(), key=lambda kv: -kv[1]):
            print(f"  {name:<32} {t:.4f}")
        print("ledger:")
        for k in sorted(ledger):
            print(f"  {k:<36} {ledger[k]:.6g}")
        print(json.dumps({"ledger": ledger}))
        metrics = {k: {"value": ledger[k], "unit": u} for k, u in units.items()}
    else:
        e2e = report_e2e(passes, setup_s)
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    from_repo = ROOT / "wpextract_spark"
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_extract", "site_extract", "refresh", "corpus_build"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not from_repo.is_dir() or not (ROOT / "tests" / "data" / "e2e").is_dir():
        print(f"no wpextract_spark checkout around {ROOT}: the benchmark needs the "
              "package and its tests/data/e2e dump", file=sys.stderr)
        return 2

    sys.path.insert(0, str(ROOT))
    os.chdir(ROOT)
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        result = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
