#!/usr/bin/env python
"""One scaling-bench measurement: fused extraction throughput at a given
core count over a pre-generated pages parquet. Prints one JSON line.

Usage: python scripts/scaling_worker.py <cores> <input_parquet> [trials]

Run in its own process per core count — Spark local-mode parallelism is fixed
at JVM start, so N-vs-4N evidence (north_rule two-cluster-size criterion)
needs one JVM per level.

The timed job is scan -> fused extraction UDF -> noop sink, with NO shuffle:
the parquet scan splits by file (256 uniform files, explicitly packed to ~8
task waves per slot), so the work per partition is uniform and every level
runs many fine task waves — exactly how a many-file production table behaves
on a cluster of any size.
(Measured here, an explicit repartition before the parse stage costs as much
JVM CPU as extraction itself; the chunked resume protocol in
wpextract_spark/plans/job.py avoids one too: chunk membership comes from a
url-hash filter, and each chunk only coalesces its scan partitions.)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent.parent))


def main() -> None:
    cores = int(sys.argv[1])
    input_path = sys.argv[2]
    trials = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from pyspark.sql import functions as F

    from wpextract_spark.operators.extract import content_extract_udf
    from wpextract_spark.session import default_builder

    # Size scan tasks explicitly: ~8 task waves per slot at every level.
    # Spark's default file packing targets total/defaultParallelism bytes per
    # task, which at local[8] over this input yields 10 tasks for 8 slots —
    # a 2-task second wave idles 6 cores for half the run (measured 62%
    # utilization, a 1.5x throughput loss). Fixed fine tasks make the wave
    # count high at every level, the per-level plans comparable, and match
    # what a many-file production table gives a real cluster.
    total_bytes = sum(f.stat().st_size for f in Path(input_path).glob("*.parquet"))
    waves = 8
    max_part = max(1_000_000, total_bytes // (cores * waves))

    spark = (
        default_builder("scaling-bench", master=f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.files.openCostInBytes", "0")
        .config("spark.sql.files.maxPartitionBytes", str(max_part))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    pages = spark.read.parquet(input_path)
    n = pages.count()

    res = content_extract_udf()(F.col("html"), F.col("url"))
    extracted = pages.select(
        "url",
        res["text"].alias("text"),
        F.size(res["links_internal"]).alias("n_int"),
        F.size(res["images"]).alias("n_img"),
    )

    # Warm-up pass: spawns the Python workers, compiles the plan, faults the
    # input into the page cache — identical treatment at every core count.
    extracted.write.format("noop").mode("overwrite").save()

    walls = []
    for _ in range(trials):
        t0 = time.perf_counter()
        extracted.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    wall = min(walls)

    print(
        json.dumps(
            {
                "cores": cores,
                "n_pages": n,
                "wall_s": round(wall, 3),
                "walls": [round(w, 3) for w in walls],
                "docs_per_sec": round(n / wall, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
