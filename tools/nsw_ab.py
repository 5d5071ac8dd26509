"""A/B: exact (broadcast |V|²) vs LSH-blocked NSW kNN-graph build.

VERDICT r14 ask #1: the exact ``x3_nsw_beam`` index build scores every
vector against the full broadcast corpus matrix — the one remaining
quadratic-work site in the X3 ladder (its 10x wall ratio read 8.11 in
BENCH_SCALE.json). ``x3_nsw_beam_blocked`` replaces the build with
Hamming-1 multi-probe LSH candidate generation (bucket equi-join, exact
cosine only on candidates) feeding the same top-M / symmetrize / beam
contract. This tool measures BOTH rungs end-to-end (build + search; the
build dominates), interleaved A/B over n runs at sf0.1 and the 10x
replica from tools/scale_bench.py when it exists, AND measures each
arm's beam recall@NSW_BEAM against the exact brute-force cosine ranking
— the approximation cost of the blocked build must be on the record
next to its wall win (the BENCH_IVF_AB precedent).

Run:  python tools/nsw_ab.py          (writes BENCH_NSW_AB.json, prints JSON)
Env:  SPARK_GRAFT_AB_RUNS (default 3)

Run on an OTHERWISE IDLE box (the scale_bench.py contention caveat).
"""

from __future__ import annotations

import collections
import json
import os
import statistics
import sys
import time

import numpy as np
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from weather_data_pipeline_spark.operators import similarity as sim  # noqa: E402
from weather_data_pipeline_spark.session import tune  # noqa: E402
from weather_data_pipeline_spark.sources.testdata import load_table  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALE_DIR = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale10")
RUNS = int(os.environ.get("SPARK_GRAFT_AB_RUNS", "3"))

ARMS = {"exact": sim.x3_nsw_beam, "blocked": sim.x3_nsw_beam_blocked}


def beam_recall(spark: SparkSession, sf_dir: str, arm) -> float:
    """Mean recall@NSW_BEAM of the arm's beam vs the exact cosine
    ranking (the tests/test_plans.py::test_nsw_beam_recall_floor
    metric, shared verbatim so the floors compare)."""
    rows = arm(spark, sf_dir).collect()
    by_q = collections.defaultdict(set)
    for r in rows:
        by_q[r["query_id"]].add(r["vec_id"])
    emb = load_table(spark, sf_dir, "embeddings").sort("vec_id").collect()
    ids = np.array([r["vec_id"] for r in emb])
    mat = np.array([list(r["embedding"]) for r in emb], dtype=np.float64)
    norms = sim._seq_self_norms(mat)
    recalls = []
    for q, beam in by_q.items():
        qi = int(np.where(ids == q)[0][0])
        s = np.round(sim._seq_dot(mat, mat[qi]) / (norms[qi] * norms), 6)
        s[ids == q] = -9.0
        exact = set(ids[np.lexsort((ids, -s))[: sim.NSW_BEAM]].tolist())
        recalls.append(len(beam & exact) / sim.NSW_BEAM)
    return round(sum(recalls) / len(recalls), 4)


def main() -> None:
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', len(os.sched_getaffinity(0)))}]"
        )
        .appName("nsw-ab")
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
        times: dict[str, list[float]] = {k: [] for k in ARMS}
        for fn in ARMS.values():  # warm codegen/JIT once per arm
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        for _ in range(RUNS):
            for key, fn in ARMS.items():
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                times[key].append(time.perf_counter() - t0)
        out[tag] = {
            key: {
                "best": round(min(s), 4),
                "median": round(statistics.median(s), 4),
                "stdev": round(statistics.stdev(s), 4) if len(s) > 1 else 0.0,
                "recall_at_beam": beam_recall(spark, sf_dir, ARMS[key]),
            }
            for key, s in times.items()
        }
        out[tag]["blocked_over_exact_median"] = round(
            out[tag]["blocked"]["median"] / out[tag]["exact"]["median"], 3
        )
        if tag == "10x":
            out[tag]["recall_note"] = (
                "the 10x replica duplicates embedding VALUES (vec_ids "
                "shift, vectors repeat 10x), so every vector has 9 "
                "sim-1.0 twins and the kNN graph degenerates into "
                "clique archipelagos — beam navigation collapses for "
                "BOTH builds (recall 0 is the replica's pathology, "
                "not a build regression); recall is assessed at 1x, "
                "wall/scaling at 10x"
            )

    payload = {"runs": RUNS, "beam": sim.NSW_BEAM, "datasets": out}
    print(json.dumps(payload))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_NSW_AB.json"), "w") as f:
        json.dump(payload, f, indent=1)


if __name__ == "__main__":
    main()
