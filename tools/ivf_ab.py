"""A/B: map-side-combine centroid build vs full-shuffle groupBy mean.

Round-2 built IVF centroids with groupBy(label).applyInPandas(mean) — every
corpus row shuffles to its label's reducer each k-means iteration. Round-3
replaced it with centroids_partial_agg (mapInPandas partials + k-bounded
combine: the shuffle carries <= k * partitions rows). This tool measures the
two builds in ISOLATION (r3 ask #2): same JVM, same data, interleaved A/B/A/B
over n runs, at the sf0.1 embeddings (2k vectors) AND the 10x replica from
tools/scale_bench.py when it exists — the scale where the shuffle-volume
difference should actually show.

Run:  python tools/ivf_ab.py          (writes BENCH_IVF_AB.json, prints JSON)
Env:  SPARK_GRAFT_AB_RUNS (default 5)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from pyspark.sql import functions as F
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from weather_data_pipeline_spark.operators import similarity as sim  # noqa: E402
from weather_data_pipeline_spark.session import tune  # noqa: E402
from weather_data_pipeline_spark.sources.testdata import load_table  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALE_DIR = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale10")
RUNS = int(os.environ.get("SPARK_GRAFT_AB_RUNS", "5"))


def build_partial(df):
    """Round-3 build: partial sums per partition, k-bounded combine."""
    return sim.centroids_partial_agg(df, "label")


def build_full_shuffle(df):
    """Round-2 build: every corpus row shuffles to its label's reducer."""
    return (
        df.select(
            "label", F.col("embedding").cast("array<double>").alias("embedding")
        )
        .groupBy("label")
        .applyInPandas(sim._centroid_of_group, schema=sim._CENTROID_SCHEMA)
    )


def main() -> None:
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', len(os.sched_getaffinity(0)))}]"
        )
        .appName("ivf-ab")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)

    datasets = {"1x": BASE}
    if os.path.exists(os.path.join(SCALE_DIR, "embeddings.parquet")):
        datasets["10x"] = SCALE_DIR

    out: dict[str, dict] = {}
    for tag, sf_dir in datasets.items():
        emb = load_table(spark, sf_dir, "embeddings")
        times: dict[str, list[float]] = {"partial_agg": [], "full_shuffle": []}
        # warm both plans once (codegen JIT), then interleave timed runs
        for fn in (build_partial, build_full_shuffle):
            fn(emb).write.format("noop").mode("overwrite").save()
        for _ in range(RUNS):
            for key, fn in (
                ("partial_agg", build_partial),
                ("full_shuffle", build_full_shuffle),
            ):
                t0 = time.perf_counter()
                fn(emb).write.format("noop").mode("overwrite").save()
                times[key].append(time.perf_counter() - t0)
        out[tag] = {
            key: {
                "best": round(min(s), 4),
                "median": round(statistics.median(s), 4),
                "stdev": round(statistics.stdev(s), 4),
            }
            for key, s in times.items()
        }
        out[tag]["speedup_median"] = round(
            out[tag]["full_shuffle"]["median"] / out[tag]["partial_agg"]["median"],
            3,
        )

    payload = {"runs": RUNS, "datasets": out}
    print(json.dumps(payload))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_IVF_AB.json"), "w") as f:
        json.dump(payload, f, indent=1)


if __name__ == "__main__":
    main()
