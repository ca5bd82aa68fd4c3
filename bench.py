#!/usr/bin/env python
"""Headline benchmark for the wpextract_spark engine.

Runs every registered query from ``wpextract_spark.plans.queries`` against the
parquet tables at ``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` (default all cores) and, in addition, times the
flagship fused-extraction kernel over a deterministic synthetic pages table to
report an extraction docs/sec throughput (the BASELINE.json headline metric).

Prints the full contract JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "extract_docs_per_sec": ...}
followed by a compact scalar-only summary as the FINAL stdout line (the
driver keeps only the last ~2000 chars of stdout and parses the last line;
104 per-query timings overflow that, which left BENCH_r04's ``parsed``
null). The full blob is also written to ``BENCH/last_run.json``.

Each query is forced end-to-end with a ``noop``-format write (full computation,
no driver-side collect). The north rule's two-cluster-size criterion is
re-evidenced in the SAME run: the probe is repeated paired at 2 and 8 cores
(``BENCH_SCALING_ROUNDS`` rounds, one fresh JVM per level, same input bytes)
and the JSON carries ``scaling_eff_2_8`` — the LEAST-DISTURBED round's
efficiency (the round whose worst leg, normalized per level, is highest:
the same selector as the BENCH/BASELINE.md campaign), with median/max/all
rounds alongside. Set ``BENCH_SCALING_ROUNDS=0`` to skip.

The throughput probe runs FIRST, in subprocess JVMs (one to synthesize the
pages parquet, one to measure), before this process starts any Spark of its
own: the probe then sees the identical protocol AND process state as the
BENCH/BASELINE.md scaling evidence. Measured here, probing from inside (or
even merely alongside) the suite's finished 8 GB JVM costs the headline
~2x — the stopped context's heap/GC tail keeps stealing cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Pages synthesized for the extraction-throughput probe (deterministic).
# 60k pages: at ~30k docs/s on 32 cores the probe runs ~2s of steady-state
# work, so fixed stage costs no longer dominate the reported docs/sec (at 8k
# they swamped it ~6x).
N_BENCH_PAGES = int(os.environ.get("BENCH_PAGES", "60000"))
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 32)))

_GEN_SNIPPET = """
import sys
sys.path.insert(0, {repo!r})
from wpextract_spark.session import get_session
from wpextract_spark.sources.synth import generate_pages
spark = get_session("bench-pagegen")
spark.sparkContext.setLogLevel("ERROR")
generate_pages(spark, n_pages={n}, seed=42, partitions=256).write.parquet({path!r})
spark.stop()
"""


def _force(df) -> int:
    """Run the full plan without collecting results to the driver."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _worker(input_path: str, cores: int, trials: int) -> dict:
    repo = str(Path(__file__).parent)
    proc = subprocess.run(
        [
            sys.executable,
            str(Path(repo) / "scripts" / "scaling_worker.py"),
            str(cores),
            input_path,
            str(trials),
        ],
        capture_output=True,
        text=True,
        timeout=3600,
    )
    if proc.returncode:
        raise RuntimeError(f"worker local[{cores}] failed:\n{proc.stderr[-2000:]}")
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def least_disturbed(rounds: list[tuple[float, ...]]) -> int:
    """Index of the round whose worst level, relative to that level's best
    across rounds, is highest: the round the co-tenant disturbed least.

    ``rounds[i]`` holds round i's throughput at each parallelism level, in
    the same level order for every round. Co-tenant load on a shared VM only
    ever depresses a leg, so the round with the healthiest worst leg is the
    closest view of the unloaded machine. Unlike a plain max-efficiency
    pick, it cannot be inflated by a depressed low-parallelism denominator
    alone: it needs every level healthy. Ties go to the earliest round.
    """
    best = [max(col) for col in zip(*rounds)]
    return max(
        range(len(rounds)),
        key=lambda i: min(rate / b for rate, b in zip(rounds[i], best)),
    )


def _run_probe(tmp: str) -> tuple[dict, dict]:
    """(headline probe at $CORES, paired 2->8 scaling evidence)."""
    repo = str(Path(__file__).parent)
    input_path = f"{tmp}/pages.parquet"
    gen = subprocess.run(
        [sys.executable, "-c", _GEN_SNIPPET.format(repo=repo, n=N_BENCH_PAGES, path=input_path)],
        capture_output=True,
        text=True,
    )
    if gen.returncode:
        raise RuntimeError(f"page generation failed:\n{gen.stderr[-2000:]}")
    probe = _worker(input_path, CORES, trials=3)

    rounds = int(os.environ.get("BENCH_SCALING_ROUNDS", "3"))
    scaling: dict = {"pair": [2, 8], "rounds": []}
    for _ in range(rounds):
        lo = _worker(input_path, 2, trials=2)
        hi = _worker(input_path, 8, trials=2)
        eff = (hi["docs_per_sec"] / lo["docs_per_sec"]) / (8 / 2)
        scaling["rounds"].append(
            {
                "rate_2": lo["docs_per_sec"],
                "rate_8": hi["docs_per_sec"],
                "eff": round(eff, 3),
            }
        )
    if scaling["rounds"]:
        effs = sorted(r["eff"] for r in scaling["rounds"])
        # Headline = the least-disturbed round's efficiency, the same
        # selector as the full campaign (scripts/scaling_bench.py ->
        # BENCH/BASELINE.md). Median and all rounds ride alongside for the
        # conservative view.
        pick = least_disturbed([(r["rate_2"], r["rate_8"]) for r in scaling["rounds"]])
        scaling["eff_2_8"] = scaling["rounds"][pick]["eff"]
        scaling["eff_2_8_median"] = effs[len(effs) // 2]
        scaling["eff_2_8_max"] = effs[-1]
        scaling["eff_2_8_all"] = effs
    return probe, scaling


def _hw_control(seconds: float = 3.0) -> float:
    """No-Spark single-core kernel rate (docs/sec): the co-tenant-load
    control, in every BENCH JSON so wall-time swings can be attributed to
    the shared VM vs the code. Times ``content_extract_udf().func``, the
    exact function Spark runs, on one pandas batch of 200 synthetic pages."""
    import pandas as pd
    from wpextract_spark.operators.extract import content_extract_udf
    from wpextract_spark.sources.synth import synth_page

    pages = [synth_page(i, 42) for i in range(200)]
    html, url = (pd.Series([p[k] for p in pages]) for k in ("html", "url"))
    udf, t0, count = content_extract_udf().func, time.perf_counter(), 0
    while time.perf_counter() - t0 < seconds:
        udf(html, url)
        count += len(pages)
    return round(count / (time.perf_counter() - t0), 1)


def main() -> None:
    # Probe before ANY Spark exists in this process (see module docstring).
    hw_before = _hw_control()
    with tempfile.TemporaryDirectory(prefix="bench_pages_") as tmp:
        probe, scaling = _run_probe(tmp)

    from wpextract_spark.plans.queries import QUERIES
    from wpextract_spark.session import get_session

    from pyspark.sql import functions as F

    spark = get_session("wpextract-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    timings: dict[str, float] = {}

    # Warm the JVM, Arrow path, AND the Python-worker pool so query timings
    # measure the plan, not first-call setup. A plan with two chained Python
    # stages needs 2 workers per task slot (separate runner per stage), so the
    # warmup chains mapInPandas -> pandas_udf to fill the pool to that depth;
    # with spark.python.worker.reuse the timed queries then find warm workers.
    def _ident(batches):
        for b in batches:
            yield b

    _warm = F.pandas_udf(lambda v: v * 1.0, "double")

    par = spark.sparkContext.defaultParallelism
    warm = spark.range(par * 4, numPartitions=par).mapInPandas(_ident, "id long")
    _force(warm.select(_warm(F.col("id").cast("double")).alias("x")))
    # Also warm the paths the FIRST timed queries would otherwise pay for
    # (registry order rotates per round, so whichever queries lead must not
    # absorb one-time costs): the documents parquet footer/scan, a shuffle
    # exchange, a broadcast join, and Janino codegen for join+agg shapes.
    # Measured: the suite's lead queries ran ~1.7-2x their steady state
    # before this, purely positional.
    docs_warm = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id"
    )
    _force(
        docs_warm.join(F.broadcast(docs_warm.limit(16)), "doc_id", "left")
        .groupBy((F.col("doc_id") % 8).alias("k"))
        .count()
    )

    total = 0.0
    for name, fn in QUERIES.items():
        t0 = time.perf_counter()
        _force(fn(spark, SF_DIR))
        dt = time.perf_counter() - t0
        timings[name] = round(dt, 3)
        total += dt

    timings["extract_throughput"] = round(probe["wall_s"], 3)
    total += probe["wall_s"]

    result = {
        "metric": "wpextract_spark headline suite wall time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "extract_docs_per_sec": probe["docs_per_sec"],
        "extract_pages": probe["n_pages"],
        "cores": probe["cores"],
        "scaling": scaling,
        "scaling_eff_2_8": scaling.get("eff_2_8"),
        "scaling_eff_2_8_median": scaling.get("eff_2_8_median"),
        "scaling_eff_2_8_max": scaling.get("eff_2_8_max"),
        "hw_control_docs_per_sec_1core": {
            "before": hw_before,
            "after": _hw_control(),
        },
    }
    # Noise-robust headline: Spark throughput in multiples of this box's
    # CURRENT 1-core kernel rate ("effective kernel-cores"). Co-tenant
    # load depresses numerator and denominator together, so this number
    # is comparable across noise regimes where raw docs/sec is not.
    hw = result["hw_control_docs_per_sec_1core"]
    hw_mean = (hw["before"] + hw["after"]) / 2
    result["extract_effective_kernel_cores"] = (
        round(result["extract_docs_per_sec"] / hw_mean, 2) if hw_mean else None
    )
    # Durable copy: driver-captured BENCH tails have truncated before (r03's
    # headline was unrecoverable from the artifact); the full blob always
    # lands in-repo too.
    out_file = Path(__file__).parent / "BENCH" / "last_run.json"
    out_file.parent.mkdir(exist_ok=True)
    out_file.write_text(json.dumps(result, indent=2) + "\n")
    print(json.dumps(result))
    # The driver records only the last ~2000 chars of stdout and parses the
    # final line; the full blob above exceeds that (104 per-query timings),
    # so ALSO emit a compact scalar-only summary as the very last line —
    # everything the headline needs, guaranteed to fit inside the tail.
    # Per-query timings live in the full line above and BENCH/last_run.json.
    slowest = sorted(
        ((k, v) for k, v in timings.items() if k != "extract_throughput"),
        key=lambda kv: -kv[1],
    )[:5]
    summary = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(QUERIES),
        "extract_docs_per_sec": probe["docs_per_sec"],
        "extract_pages": probe["n_pages"],
        "cores": probe["cores"],
        "scaling_eff_2_8": scaling.get("eff_2_8"),
        "scaling_eff_2_8_median": scaling.get("eff_2_8_median"),
        "scaling_eff_2_8_max": scaling.get("eff_2_8_max"),
        "scaling_eff_2_8_all": scaling.get("eff_2_8_all"),
        "hw_control_docs_per_sec_1core": result[
            "hw_control_docs_per_sec_1core"
        ],
        "extract_effective_kernel_cores": result[
            "extract_effective_kernel_cores"
        ],
        "slowest_queries": dict(slowest),
        "queries_full": "BENCH/last_run.json",
    }
    print(json.dumps(summary, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
