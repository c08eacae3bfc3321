"""One benchmark run inside a fresh driver process.

Started by ``run.py``; not meant to be run by hand. It starts the Spark
session through ``session.get_spark``, warms it up, runs the workload as a
closed loop (one client, one operation at a time) for the requested time,
checks outputs outside the timed region and writes a JSON result file.
With ``--trace 1`` it also writes Spark's event log, tags every job with
the span that caused it and adds the per-layer roll-up to the result.

The engine is called only through public entry points:
``domain.golden.synthetic_bgg_corpus``, ``domain.bgg.als_workflow`` and
``__spark_entry__.queries()`` forced through the ``noop`` sink.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import random
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import tracing
import workloads as W


def process_start_time() -> float:
    """Epoch seconds at which this process started (Linux /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs: list[float]) -> float:
    if not xs or min(xs) <= 0:  # a step that never finished
        return 0.0
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def start_session(args):
    from recommender_system_with_pyspark_spark.session import get_spark

    tmp = os.path.join(args.work, "tmp")
    conf = {
        # keep the JVM's scratch files inside the work directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if args.trace:
        os.makedirs(os.path.join(args.work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(args.work, "eventlog"),
            # zstd (the default codec) needs a module the host may lack
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # the default queue of 10,000 events can drop some when many
            # short tasks end at once
            "spark.scheduler.listenerbus.eventqueue.eventLog.capacity": "200000",
        })
    return get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
        extra_conf=conf,
    )


# --------------------------------------------------------------------------
# bgg_als: the paper's E2 pipeline
# --------------------------------------------------------------------------


def install_model_spans(tracer: tracing.Tracer) -> None:
    """Split ``als_workflow`` into the model layers it calls: the concurrent
    TrainValidationSplit grid fits, the serial refit of the best point, and
    the test-set evaluations. Spans open on the main thread only; the
    grid's worker threads inherit the ``models.grid_fit`` job tag."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.recommendation import ALS
    from pyspark.ml.tuning import TrainValidationSplit

    main = threading.main_thread()
    state = {"tvs_span": None}
    tvs_fit, als_fit, evaluate = TrainValidationSplit._fit, ALS._fit, RegressionEvaluator.evaluate

    def traced_tvs_fit(self, dataset):
        state["tvs_span"] = tracer.open("models.grid_fit")
        try:
            return tvs_fit(self, dataset)
        finally:
            tracer.close(state["tvs_span"])
            state["tvs_span"] = None

    def traced_als_fit(self, dataset):
        if threading.current_thread() is main and state["tvs_span"] is not None:
            # the refit of the best grid point, after the pool has joined
            tracer.close(state["tvs_span"])
            state["tvs_span"] = tracer.open("models.refit")
        return als_fit(self, dataset)

    def traced_evaluate(self, dataset, params=None):
        if threading.current_thread() is not main or state["tvs_span"] is not None:
            return evaluate(self, dataset, params)
        with tracer.span("models.evaluate"):
            return evaluate(self, dataset, params)

    TrainValidationSplit._fit = traced_tvs_fit
    ALS._fit = traced_als_fit
    RegressionEvaluator.evaluate = traced_evaluate


def warmup_bgg(spark) -> None:
    """One tiny ALS fit, so MLlib's one-time class loading and JIT are not
    charged to the first pipeline."""
    from pyspark.ml.recommendation import ALS

    tiny = spark.range(0, 200, numPartitions=4).selectExpr(
        "cast(id % 10 as int) as user", "cast(id % 7 as int) as item",
        "cast(id % 3 as float) as rating",
    )
    ALS(maxIter=2, rank=2, userCol="user", itemCol="item", ratingCol="rating", seed=1).fit(tiny)


def run_bgg(spark, args, tracer: tracing.Tracer) -> dict:
    from pyspark.sql import functions as F

    from recommender_system_with_pyspark_spark.domain import golden
    from recommender_system_with_pyspark_spark.domain.bgg import als_workflow

    cfg = W.bgg_config()
    ops, steps, checks = [], {"golden": [], "bgg": [], "models.recommend": []}, []
    t_begin = time.time()
    while not ops or time.time() - t_begin < args.seconds:
        t0 = time.time()
        try:
            with tracer.span("golden"):
                ratings, games = golden.synthetic_bgg_corpus(spark, seed=args.seed, **cfg["corpus"])
                raw_rows = ratings.count()
            with tracer.span("bgg"):
                recs, res = als_workflow(ratings, games, **cfg["workflow"])
            with tracer.span("models.recommend"):
                recs.write.mode("overwrite").format("noop").save()
        except Exception as exc:  # a failed pipeline counts, it never shrinks a total
            ops.append({"seconds": time.time() - t0, "failed": True,
                        "error": f"{type(exc).__name__}: {exc}"[:300]})
            continue
        ops.append({"seconds": time.time() - t0, "failed": False})
        for name in steps:
            last = next(s for s in reversed(tracer.spans) if s.name == name)
            steps[name].append(last.end - last.start)
        with tracer.span("check"):
            rec_rows, n_users, null_names = recs.agg(
                F.count(F.lit(1)), F.count_distinct("UserId"),
                F.count_if(F.col("Name").isNull()),
            ).first()
            got = {
                "raw_rows": raw_rows, "rec_rows": rec_rows, "null_names": null_names,
                "expected_rec_rows": res.model.userFactors.count() * cfg["workflow"]["k"],
                "users_with_recs": n_users,
                "rmse": res.metrics["rmse"], "r2": res.metrics["r2"],
                "rank": res.best_params["rank"], "regParam": res.best_params["regParam"],
            }
            checks.append(W.check_bgg(got))
            spark.catalog.clearCache()
    step_medians = {k: median(v) for k, v in steps.items()}
    return {
        "check_s": sum(s.end - s.start for s in tracer.spans if s.name == "check"),
        "window_s": time.time() - t_begin,
        "ops": ops,
        "checks": checks,
        "suite_s": median([o["seconds"] for o in ops]),
        # every pipeline step weighs the same, as every query does on the
        # query workloads
        "geomean_s": geomean(list(step_medians.values())),
        "step_medians": step_medians,
        "passes": len(ops),
    }


# --------------------------------------------------------------------------
# query workloads
# --------------------------------------------------------------------------


def warmup_queries(spark, data_dir: str) -> None:
    """First job of the session; also ships the package to the Python
    workers once, before the check pass starts threads. The untimed check
    pass is each query's own warm-up."""
    from recommender_system_with_pyspark_spark.io import load_table

    load_table(spark, data_dir, "nation").count()


def run_queries(spark, args, tracer: tracing.Tracer) -> dict:
    import __spark_entry__ as entry

    from recommender_system_with_pyspark_spark.testing import spark_result_hash

    names = W.QUERY_WORKLOADS[args.workload]
    fns = entry.queries()
    with open(args.expected) as fh:
        expected = json.load(fh)
    rng = random.Random(args.seed)

    def check(name: str) -> dict:
        t0 = time.time()
        try:
            got = list(spark_result_hash(fns[name](spark, args.data)))
            out = {"ok": got == expected[name], "got": got, "want": expected[name]}
        except Exception as exc:
            out = {"ok": False, "error": f"{type(exc).__name__}: {exc}"[:300]}
        return {"query": name, "seconds": time.time() - t0, **out}

    # Untimed output check, which is also each query's warm-up run. Queries
    # are checked concurrently to shorten the run, except that streaming
    # ones go one after another: each changes the session's shuffle
    # partitions around its start and restores them after.
    order = rng.sample(names, len(names))
    with tracer.span("check") as check_span:
        with ThreadPoolExecutor(max_workers=args.cpus) as pool:
            streaming = pool.submit(lambda: [check(n) for n in order if n.startswith("stream_")])
            checks = list(pool.map(check, [n for n in order if not n.startswith("stream_")]))
            checks += streaming.result()
    samples: dict[str, list[float]] = {n: [] for n in names}
    ops = []
    passes, pass_seconds, t_begin = 0, [], time.time()
    while passes == 0 or time.time() - t_begin < args.seconds:
        for name in rng.sample(names, len(names)):
            op, t0 = {"query": name, "failed": False}, time.time()
            try:
                with tracer.span(f"query.{name}"):
                    fns[name](spark, args.data).write.mode("overwrite").format("noop").save()
            except Exception as exc:  # the time up to the failure still counts
                op.update(failed=True, error=f"{type(exc).__name__}: {exc}"[:300])
            op["seconds"] = time.time() - t0
            samples[name].append(op["seconds"])
            ops.append(op)
        pass_seconds.append(sum(o["seconds"] for o in ops[-len(names):]))
        passes += 1
    medians = {n: median(v) for n, v in samples.items()}
    return {
        "check_s": check_span.end - check_span.start,
        "window_s": time.time() - t_begin,
        "ops": ops,
        "checks": checks,
        "suite_s": sum(medians.values()),
        "geomean_s": geomean(list(medians.values())),
        "query_medians": medians,
        "pass_seconds": pass_seconds,
        "passes": passes,
    }


# --------------------------------------------------------------------------


def layer_report(tracer: tracing.Tracer, log_path: str, cpus: int, result: dict) -> dict:
    log = tracing.read_event_log(log_path)
    spans = tracer.spans

    def group(name: str) -> str:
        return "queries" if name.startswith("query.") else name

    layers = tracing.rollup(spans, log, cpus, group)
    per_query = {}
    for name in W.QUERY_WORKLOADS.get(result["workload"], ()):
        walls = [s.end - s.start for s in spans if s.name == f"query.{name}"]
        per_query[name] = median(walls)
    root = spans[0]
    return {
        "layers": layers,
        "query_wall_s": per_query,
        "run_wall_s": root.end - root.start,
        # time in no span below the root: the self times of all spans,
        # this included, add up to run_wall_s
        "unattributed_s": tracing.span_stats(spans, 0, [], log)["self"],
        "jobs_untagged": sum(
            1 for j in log.jobs.values() if not any(t.startswith(tracing.TAG_PREFIX) for t in j.tags)
        ),
    }


def main() -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--data", default="")
    ap.add_argument("--expected", default="")
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, args.root)

    tracer = tracing.Tracer()
    root = tracer.open("run", start=t_proc)
    with tracer.span("session.start") as started:
        spark = start_session(args)
    if args.trace:
        tracer.attach(spark.sparkContext)
        if args.workload == "bgg_als":
            install_model_spans(tracer)
    with tracer.span("session.warmup") as warmed:
        if args.workload == "bgg_als":
            warmup_bgg(spark)
        else:
            warmup_queries(spark, args.data)
    result = {
        "workload": args.workload,
        "start_s": started.end - t_proc,
        "warmup_s": warmed.end - warmed.start,
        "setup_s": warmed.end - t_proc,
    }
    run = run_bgg if args.workload == "bgg_als" else run_queries
    result.update(run(spark, args, tracer))
    tracer.close(root)
    spark.stop()
    if args.trace:
        logs = glob.glob(os.path.join(args.work, "eventlog", "*"))
        result["trace"] = layer_report(tracer, max(logs, key=os.path.getmtime), args.cpus, result)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
