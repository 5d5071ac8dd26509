"""Isolated A/B for the BPE-application plan choice (round 11): the
shipped rung folds merges over the DISTINCT-WORD dictionary and joins
encodings back onto occurrences; the naive alternative folds every
occurrence through the merge chain directly. Both produce identical
rows (asserted); the dict form's cost is bounded by |vocab| folds +
one join, the naive form re-folds per occurrence — the gap widens
with corpus/vocab ratio (duplicate-heavy corpora at 100 TB).

Run on an idle box:  python tools/bpe_ab.py
Writes BENCH_BPE_AB.json at the repo root.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from weather_data_pipeline_spark.operators.text_analysis import (  # noqa: E402
    BPE_EOW,
    BPE_MERGE_ROUNDS,
    _bpe_merge_step,
    _bpe_train_chain,
    x4_bpe_apply,
)
from weather_data_pipeline_spark.session import tune  # noqa: E402
from weather_data_pipeline_spark.sources.testdata import load_table  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def naive_apply(spark: SparkSession, sf_dir: str):
    """Per-OCCURRENCE fold: same learned merges, same output rows, but
    the merge chain replays on every word occurrence instead of once
    per distinct word."""
    doc = load_table(spark, sf_dir, "documents")
    _, merges = _bpe_train_chain(doc, BPE_MERGE_ROUNDS, update_last=False)
    occ = doc.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).filter(F.length("w") >= 1)
    syms = F.expr(
        "concat(transform(sequence(1, length(w)), i -> substring(w, i, 1)),"
        f" array('{BPE_EOW}'))"
    )
    col = syms
    for _, l, r, m, _cnt in merges:
        col = F.aggregate(
            col, F.expr("CAST(array() AS array<string>)"),
            _bpe_merge_step(l, r, m),
        )
    enc = occ.select(
        "doc_id", "pos",
        F.array_join(col, "\x1f").alias("enc"),
        F.size(col).cast("long").alias("tk"),
    )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("tk").cast("long").alias("n_tokens"),
        F.md5(
            F.concat_ws(
                "\x1e",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "enc"))),
                    lambda s: s["enc"],
                ),
            )
        ).alias("stream_fp"),
    )


def main() -> None:
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', len(os.sched_getaffinity(0)))}]"
        )
        .appName("bpe-ab")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)

    a = {tuple(r) for r in x4_bpe_apply(spark, SF).collect()}
    b = {tuple(r) for r in naive_apply(spark, SF).collect()}
    assert a == b, "variants disagree"

    # interleaved timed passes after the warm pass above
    ts: dict[str, list[float]] = {"dict_join": [], "per_occurrence": []}
    for _ in range(3):
        t0 = time.perf_counter()
        x4_bpe_apply(spark, SF).write.format("noop").mode("overwrite").save()
        ts["dict_join"].append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        naive_apply(spark, SF).write.format("noop").mode("overwrite").save()
        ts["per_occurrence"].append(time.perf_counter() - t0)
    med = {k: round(statistics.median(v), 3) for k, v in ts.items()}
    doc = load_table(spark, SF, "documents")
    occ_n = doc.select(F.explode(F.split("text", " "))).count()
    vocab_n = (
        doc.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 1).distinct().count()
    )
    out = {
        "sf_dir": SF,
        "rows_equal": True,
        "occurrences": occ_n,
        "vocab": vocab_n,
        "medians_s": med,
        "speedup": round(med["per_occurrence"] / med["dict_join"], 2),
        "runs": ts,
    }
    print(json.dumps(out))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_BPE_AB.json"), "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
