"""The benchmark's workloads.

Each workload is a closed loop with one caller: the next call into the
engine starts only when the previous one has returned.  A workload has a
``stage`` step (seeded inputs written under the run's work directory by
child processes, which run while the driver starts; part of set-up), a
``warmup`` step (also set-up), a ``run`` step (a fixed amount of work,
timed) and a ``check`` step: output checks after the run's memory has
been read, each counted in ``Outcomes``.

``run`` returns the timed region's wall time (``wall``) and its
perf-counter bounds (``region``), the per-operation latencies
(``ops_ms``) the end-to-end metrics are taken from, what ``check``
needs, and extra report fields (``report``); per-layer figures go into
``ctx.layers``.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import threading
import time
from dataclasses import dataclass

import datagen
import harness

#: LLM-data queries (many small Spark jobs each: the driver limits them)
#: and the operator module that implements each.
LLM_QUERIES = {
    "x2_record_linkage": "dedup",
    "x3_nsw_beam": "similarity",
    "x4_bpe_merge_train": "text_analysis",
    "x9_pagerank": "graph",
    "mm_image_phash_neardup": "multimodal",
}

#: SQL-analytics queries (few jobs over more rows: scans, exchanges and
#: generated code) and the operator module that implements each.
SQL_QUERIES = {
    "ext_q1_pricing_summary": "joins_aggs",
    "ext_q3_shipping_priority": "joins_aggs",
    "ext_q2_min_cost_supplier": "tpch_partsupp",
    "ext_grouping_sets": "advanced",
    "o14_rank_filter_topk": "windows",
    "o15_latest_per_key": "flagship",
    "x6_session_stats_per_user": "sessionize",
    "x5_json_extract_agg": "json_ops",
}

OPERATOR_MODULES = sorted(set(LLM_QUERIES.values()) | set(SQL_QUERIES.values()))
OPERATOR_METRICS = ("build_s", "exec_s", "jobs", "executor_run_s", "shuffle_write_mb", "no_job_s")
STREAM_JOBS = ("minhash_dedup", "countmin", "domain_caps", "latest_per_key")
R2_FLOOR = 0.9


@dataclass
class Ctx:
    spark: object
    seed: int
    layers: harness.Layers
    out: harness.Outcomes
    tracer: harness.Tracer
    inputs: dict


# --------------------------------------------------------------------------
# Batch query sets
# --------------------------------------------------------------------------


class QuerySet:
    """Registered queries in phases, each phase on its own generated tables
    (``phases``: name -> (query -> operator module, scale factor)).  One
    pass runs every query once, in a fixed order, as build (the registered
    callable, which may run jobs eagerly) then execute (Arrow collect of
    the result).  It is the process's first run of each plan, so it pays
    code generation and JIT warm-up, as a daily batch job launched on a
    fresh driver does.  The order is fixed because a query's place in a
    cold pass decides how much of that warm-up it pays.  ``check``
    compares the collected rows with each query's DuckDB oracle."""

    def __init__(self, phases: dict[str, tuple[dict[str, str], float]]) -> None:
        self.phases = phases

    def stage(self, seed: int, work: str) -> tuple[dict, list]:
        dirs = {ph: os.path.join(work, f"tables-{ph}") for ph in self.phases}
        children = [datagen.spawn(seed, sf, dirs[ph]) for ph, (_, sf) in self.phases.items()]
        return {"dirs": dirs}, children

    def warmup(self, spark, inputs: dict) -> None:
        for d in inputs["dirs"].values():
            spark.read.parquet(os.path.join(d, "region.parquet")).collect()

    def run(self, ctx: Ctx) -> dict:
        from weather_data_pipeline_spark.registry import queries

        fns = queries()
        query_ms, results, phase_s = {}, {}, {}
        t0 = time.perf_counter()
        for phase, (qs, _) in self.phases.items():
            p0 = time.perf_counter()
            d = ctx.inputs["dirs"][phase]
            for name, module in qs.items():
                mod = f"operators.{module}"
                with ctx.tracer.request(name), ctx.tracer.span(mod), ctx.out.op(name):
                    q0 = time.perf_counter()
                    df, b = ctx.layers.timed(f"{mod}.build", fns[name], ctx.spark, d)
                    tbl, e = ctx.layers.timed(f"{mod}.exec", df.toArrow)
                    query_ms[name] = (time.perf_counter() - q0) * 1000.0
                    self._account(ctx, mod, b, e)
                    results[name] = (phase, df.columns, tbl)
            phase_s[phase] = time.perf_counter() - p0
        t1 = time.perf_counter()
        report = {"query_ms": query_ms, "phase_s": phase_s}
        if ctx.tracer.enabled:
            v, cores = ctx.layers.values, ctx.spark.sparkContext.defaultParallelism
            report["phase_core_util"] = {
                ph: sum(v[f"operators.{m}.executor_run_s"] for m in set(qs.values()))
                / (phase_s[ph] * cores)
                for ph, (qs, _) in self.phases.items()
            }
        return {"wall": t1 - t0, "region": (t0, t1), "ops_ms": list(query_ms.values()),
                "results": results, "report": report}

    @staticmethod
    def _account(ctx: Ctx, mod: str, b, e) -> None:
        v = ctx.layers.values
        v[f"{mod}.build_s"] += b.seconds
        v[f"{mod}.exec_s"] += e.seconds
        for att in (b, e):
            v[f"{mod}.jobs"] += att.counters.jobs
            v[f"{mod}.executor_run_s"] += att.counters.executor_run_s
            v[f"{mod}.shuffle_write_mb"] += att.counters.shuffle_write_mb
            v[f"{mod}.no_job_s"] += att.no_job_s

    def check(self, ctx: Ctx, res: dict) -> None:
        """Row multiset equality with the DuckDB oracle, as the engine's
        own parity tests compare (tests/oracle_harness.py)."""
        from tests.oracle_harness import _multiset, duck_connection, oracle_arrow
        from weather_data_pipeline_spark.registry import oracle_sql

        sql = oracle_sql()
        for phase, d in ctx.inputs["dirs"].items():
            con = duck_connection(d)
            try:
                for name, (ph, cols, tbl) in sorted(res["results"].items()):
                    if ph != phase:
                        continue
                    with ctx.out.op(f"check {name}"):
                        duck_cols, duck_rows = oracle_arrow(con, name, sql[name])
                        rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
                        if sorted(cols) != sorted(duck_cols):
                            raise AssertionError(f"columns {sorted(cols)} vs {sorted(duck_cols)}")
                        if _multiset(rows, cols) != _multiset(duck_rows, duck_cols):
                            raise AssertionError(
                                f"{len(rows)} rows differ from {len(duck_rows)} oracle rows")
            finally:
                con.close()


# --------------------------------------------------------------------------
# Daily weather pipeline + streaming ingest
# --------------------------------------------------------------------------


class DailyIngest:
    """One simulated day after a backfill.  Set-up lands ``backfill_days``
    days of weather documents for the 9 cities (the seed picks the start
    date) and curates them.  Timed: the reference's daily run
    ``extract_to_raw -> stage(date) -> curate -> latest_snapshot ->
    serve("All")`` plus one ``serve(city)`` request per city; the day's
    seeded batch of documents and events lands as one parquet file per
    source and gets one availableNow drain of each of four streaming jobs
    with persistent checkpoints and state; then one retrain."""

    def __init__(self, backfill_days: int, sf: float) -> None:
        self.backfill_days = backfill_days
        self.sf = sf

    def stage(self, seed: int, work: str) -> tuple[dict, list]:
        from weather_data_pipeline_spark.sources import weather as wsrc

        start = dt.date(2020, 1, 1) + dt.timedelta(days=random.Random(seed).randrange(1500))
        dates = [(start + dt.timedelta(days=i)).isoformat()
                 for i in range(self.backfill_days + 1)]
        raw = os.path.join(work, "raw")
        wsrc.write_raw_docs(wsrc.synthesize_raw_docs(dates[:-1]), raw)
        pending = os.path.join(work, "pending")
        child = datagen.spawn(seed, self.sf, pending, ["documents", "events"])
        return {
            "raw": raw, "dates": dates, "pending": pending,
            "table_path": os.path.join(work, "curated"),
            "land": os.path.join(work, "landing"),
            "state": os.path.join(work, "state"),
            "ckpt": os.path.join(work, "checkpoints"),
            "table": "weather.bench_daily",
        }, [child]

    def warmup(self, spark, inputs: dict) -> None:
        """Curate the backfill, then serve it once: the serving process
        has served the previous day before this day's run."""
        from weather_data_pipeline_spark import pipeline

        pipeline.curate(
            spark, pipeline.stage(spark, inputs["raw"]), table=inputs["table"],
            path=inputs["table_path"],
        )
        pipeline.serve(pipeline.latest_snapshot(spark, inputs["table"]), "All")

    def run(self, ctx: Ctx) -> dict:
        from weather_data_pipeline_spark import pipeline
        from weather_data_pipeline_spark.sources import weather as wsrc

        inp, L = ctx.inputs, ctx.layers
        date = inp["dates"][-1]
        serve_ms, served = [], []
        listener = _ProgressListener(ctx.spark) if ctx.tracer.enabled else None
        t0 = time.perf_counter()
        with ctx.tracer.request("daily"), ctx.out.op(f"daily run {date}"):
            L.timed("sources.extract", pipeline.extract_to_raw, inp["raw"], [date])
            staged = pipeline.stage(ctx.spark, inp["raw"], date)
            _, cur = L.timed("pipeline.curate", pipeline.curate, ctx.spark, staged,
                             table=inp["table"], path=inp["table_path"])
            L.values["sources.scan_mb"] += cur.counters.input_mb
            latest, _ = L.timed("pipeline.latest", pipeline.latest_snapshot,
                                ctx.spark, inp["table"])
            served = self._serve(ctx, pipeline.serve, latest, "All", serve_ms)
        for city in wsrc.CITIES:
            with ctx.tracer.request(f"serve/{city}"), ctx.out.op(f"serve {city}"):
                self._serve(ctx, pipeline.serve, latest, city, serve_ms)
        with ctx.tracer.span("bench.land"):
            landed = self._land(inp)
        for job in STREAM_JOBS:
            with ctx.tracer.request(f"drain/{job}"), ctx.out.op(f"drain {job}"):
                L.timed(f"streaming.{job}", self._drain, ctx.spark, inp, job,
                        more_groups=listener.take_finished if listener else None)
        r2, n_pred = self._retrain(ctx, inp, latest)
        t1 = time.perf_counter()
        if listener is not None:
            for k, val in listener.close().items():
                L.values[f"streaming.{k}"] = val

        v = L.values
        v["sources.raw_files"] = harness.file_count(inp["raw"], ".txt")
        v["pipeline.table_files"] = harness.file_count(inp["table_path"], ".parquet")
        v["pipeline.table_bytes"] = harness.dir_bytes(inp["table_path"])
        live, retained = _state_bytes(inp["state"])
        v["streaming.state_live_bytes"] = live
        v["streaming.state_retained_bytes"] = retained
        v["bench.stored_bytes_per_input_byte"] = (
            v["pipeline.table_bytes"] + retained
        ) / (harness.dir_bytes(inp["raw"]) + landed)
        return {"wall": t1 - t0, "region": (t0, t1), "ops_ms": serve_ms,
                "served": served, "r2": r2, "n_pred": n_pred,
                "report": {"r2": r2, "serve_ms": serve_ms}}

    def check(self, ctx: Ctx, res: dict) -> None:
        from weather_data_pipeline_spark.sources import weather as wsrc

        r2 = res["r2"]
        ctx.out.record("check r2", r2 >= R2_FLOOR, f"r2={r2:.4f} < {R2_FLOOR}")
        ctx.out.record("check predictions", res["n_pred"] == len(wsrc.CITIES),
                       f"{res['n_pred']} rows")
        self._check_serve(ctx, res["served"], ctx.inputs["dates"])
        self._check_streams(ctx, ctx.inputs)

    @staticmethod
    def _serve(ctx: Ctx, serve, latest, city: str, serve_ms: list[float]) -> list[str]:
        rows, att = ctx.layers.timed("pipeline.serve", serve, latest, city)
        serve_ms.append(att.seconds * 1000.0)
        return rows

    @staticmethod
    def _land(inp: dict) -> int:
        """Move the day's batch files into the stream sources (a rename,
        so the file sources never see a partial file); returns their bytes."""
        n = 0
        for src in ("documents", "events"):
            d = os.path.join(inp["land"], src)
            os.makedirs(d)
            dest = os.path.join(d, "batch-0.parquet")
            os.replace(os.path.join(inp["pending"], f"{src}.parquet"), dest)
            n += os.path.getsize(dest)
        return n

    @staticmethod
    def _drain(spark, inp: dict, job: str) -> None:
        from weather_data_pipeline_spark.schemas import TESTDATA
        from weather_data_pipeline_spark.sources.testdata import EVENTS_TS_NTZ
        from weather_data_pipeline_spark.streaming import jobs
        from pyspark.sql import functions as F

        state = os.path.join(inp["state"], job)
        ckpt = os.path.join(inp["ckpt"], job)
        if job == "latest_per_key":
            src = spark.readStream.schema(EVENTS_TS_NTZ).parquet(
                os.path.join(inp["land"], "events")
            ).withColumn("ts", F.col("ts").cast("timestamp"))
            jobs.incremental_latest_per_key(
                spark, src, key="user_id", order="ts", tiebreak="event_id",
                state_path=state, checkpoint=ckpt,
            )
            return
        src = spark.readStream.schema(TESTDATA["documents"]).parquet(
            os.path.join(inp["land"], "documents")
        )
        {
            "minhash_dedup": jobs.streaming_minhash_dedup,
            "countmin": jobs.streaming_countmin,
            "domain_caps": jobs.streaming_domain_caps,
        }[job](src, state, ckpt)

    def _check_serve(self, ctx: Ctx, served: list[str], dates: list[str]) -> None:
        """Served latest row per city == the synthesized doc with the
        greatest local time across every landed day."""
        import json

        from weather_data_pipeline_spark.sources import weather as wsrc

        want = {}
        for city in wsrc.CITIES:
            docs = [wsrc.synthesize_raw_doc(city, d)["location"] for d in dates]
            best = max(docs, key=lambda loc: (
                dt.datetime.strptime(loc["localtime"], "%Y-%m-%d %H:%M"), loc["localtime_epoch"]))
            want[city] = best["localtime_epoch"]
        got = {r["city"]: r["localtime_epoch"] for r in map(json.loads, served)}
        ctx.out.record("check serve latest", got == want, f"got={got} want={want}")

    def _check_streams(self, ctx: Ctx, inp: dict) -> None:
        """Each drained registry equals its batch rung over the same rows."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from weather_data_pipeline_spark.operators.dedup import minhash_band_keys
        from weather_data_pipeline_spark.operators.flagship import latest_per_key
        from weather_data_pipeline_spark.operators.text_analysis import (
            DOMAIN_DOC_CAP, _cms_pos_structs, _with_domain, cms_term_counts,
        )
        from weather_data_pipeline_spark.streaming import jobs

        spark = ctx.spark
        docs = spark.read.parquet(os.path.join(inp["land"], "documents"))
        events = spark.read.parquet(os.path.join(inp["land"], "events"))
        w = Window.partitionBy("domain").orderBy(F.col("n_chars").desc(), "doc_id")
        want = {
            "minhash_dedup": minhash_band_keys(docs)
            .groupBy("band", "band_key")
            .agg(F.min(F.struct("doc_id", "n_chars")).alias("w"))
            .select("band", "band_key", "w.doc_id", "w.n_chars"),
            "countmin": cms_term_counts(docs)
            .select("n", F.explode(F.array(*_cms_pos_structs())).alias("ip"))
            .select(F.col("ip.i").alias("i"), F.col("ip.p").alias("p"), "n")
            .groupBy("i", "p").agg(F.sum("n").alias("cell")),
            "domain_caps": _with_domain(docs).select("doc_id", "domain", "n_chars")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= DOMAIN_DOC_CAP).drop("rn"),
            "latest_per_key": latest_per_key(
                events.withColumn("ts", F.col("ts").cast("timestamp")),
                "user_id", "ts", "event_id",
            ),
        }
        for job, batch in want.items():
            with ctx.out.op(f"check stream {job}"):
                got = jobs.read_state(spark, os.path.join(inp["state"], job))
                cols = batch.columns
                a = sorted(tuple(r) for r in got.select(*cols).collect())
                b = sorted(tuple(r) for r in batch.collect())
                if a != b or not a:
                    raise AssertionError(f"{len(a)} drained rows vs {len(b)} batch rows")

    def _retrain(self, ctx: Ctx, inp: dict, latest) -> tuple[float, int]:
        from weather_data_pipeline_spark.ml import regression as ml

        L = ctx.layers
        with ctx.tracer.request("retrain"):
            feats = ml.prepare_features(ctx.spark.table(inp["table"]))
            train, test = ml.split(feats)
            model, fit = L.timed("ml.fit", ml.fit_gbt, train)
            r2, _ = L.timed("ml.score", ml.score_r2, model, test)
            preds, _ = L.timed(
                "ml.predict", lambda: ml.predict_next_day(model, latest).collect()
            )
        L.values["ml.fit_jobs"] = fit.counters.jobs
        return r2, len(preds)


def _state_bytes(state_root: str) -> tuple[int, int]:
    """(bytes of each registry's current snapshot, bytes of all snapshots kept)."""
    live = retained = 0
    if not os.path.isdir(state_root):
        return 0, 0
    for job in os.listdir(state_root):
        p = os.path.join(state_root, job)
        retained += harness.dir_bytes(p)
        ptr = os.path.join(p, "_VERSION")
        if os.path.exists(ptr):
            with open(ptr) as f:
                live += harness.dir_bytes(os.path.join(p, f.read().strip()))
    return live, retained


class _ProgressListener:
    """Sums per-trigger progress of every streaming query (Structured
    Streaming's own monitoring surface) and hands out the run ids of
    finished queries, which are the job groups their jobs ran under.
    Events arrive on the listener bus's thread."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.acc = {"add_batch_ms": 0.0, "planning_ms": 0.0, "commit_ms": 0.0,
                    "input_rows": 0.0}
        self.run_ids: list[str] = []
        self.ended = 0
        self._taken = 0
        self._cv = threading.Condition()
        outer = self

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._cv:
                    outer.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                with outer._cv:
                    outer.acc["add_batch_ms"] += d.get("addBatch", 0)
                    outer.acc["planning_ms"] += d.get("queryPlanning", 0)
                    outer.acc["commit_ms"] += d.get("commitOffsets", 0)
                    outer.acc["input_rows"] += p.numInputRows or 0

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._cv:
                    outer.ended += 1
                    outer._cv.notify_all()

        self.spark = spark
        self.listener = L()
        spark.streams.addListener(self.listener)

    def take_finished(self) -> list[str]:
        """Run ids of the one query that finished since the last call."""
        with self._cv:
            self._cv.wait_for(lambda: self.ended > self._taken, timeout=10)
            ids, self.run_ids = self.run_ids, []
            self._taken = self.ended
        return ids

    def close(self) -> dict:
        """Detach; returns the progress totals.  Every query's progress
        events precede its termination event, which ``take_finished``
        already waited for."""
        self.spark.streams.removeListener(self.listener)
        with self._cv:
            return dict(self.acc)
