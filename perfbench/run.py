#!/usr/bin/env python3
"""Benchmark of the checkpointed ER pipeline, from the parquet repo-file table
to committed (id, component) clusters (plans.checkpoint.run_blocking_pipeline).

Run from the repository root:

    python3 perfbench/run.py --workload self_exact --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run and the tracing overhead. Each metric is printed by
name with its unit; the last line of standard output is one JSON object.
Workload choices, metric definitions and known quality gaps are in
perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: one workload per candidate generator; the same input size on both, so the
#: two differ only in the pairing layer
WORKLOADS = {
    "self_exact": {"pairing": "auto", "mode": "exact", "n_clusters": 1500},
    "self_lsh": {"pairing": "lsh", "mode": "lsh", "n_clusters": 1500},
}
COLS = ["repo", "path", "lang", "content"]
K = 10
VERIFY_JACCARD = 0.4
SETUPS = 3
STAGES = ("embeddings", "candidates", "scored", "clusters")

#: name -> unit; printed with --trace 0
END_TO_END = {
    "pipeline_s": "s", "rows_per_s": "rows/s", "setup_s": "s", "peak_rss_mb": "MB",
    "pair_f1": "ratio", "pair_precision": "ratio", "pair_recall": "ratio",
    "cand_recall": "ratio", "cssr": "ratio", "ok_ratio": "ratio",
}
#: name -> unit; printed with --trace 1
PER_LAYER = {
    "repo_files.scan_s": "s", "preprocess.self_s": "s",
    "embed.fit_s": "s", "embed.pc_s": "s", "embed.self_s": "s", "embed.vocab_size": "count",
    "pairing.self_s": "s", "pairing.jobs": "count", "pairing.tasks": "count",
    "pairing.shuffle_write_bytes": "bytes", "pairing.max_task_s": "s",
    "pairing.median_task_s": "s", "pairing.candidates": "count",
    "pairing.useful_ratio": "ratio", "lsh.bucket_max_rows": "rows",
    "lsh.bucket_p99_rows": "rows", "lsh.oversized_buckets": "count",
    "verify.self_s": "s", "verify.kept_ratio": "ratio", "verify.shuffle_write_bytes": "bytes",
    "cluster.self_s": "s", "cluster.edges": "count", "cluster.components": "count",
    "cluster.driver_path": "bool",
    **{f"checkpoint.{s}.{m}": u for s in STAGES
       for m, u in (("write_s", "s"), ("fingerprint_s", "s"), ("bytes", "bytes"))},
    "checkpoint.read_s": "s", "checkpoint.self_s": "s", "pipeline.self_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.persisted_after_run": "count",
    "trace.overhead_s": "s",
}


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``, and let the Python
    workers import the package. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def config():
    from deepblocker_spark.config import BlockerConfig

    return BlockerConfig(top_k=K)


def run_pipeline(spark, pairing: str, input_path: str, ckpt_dir: str):
    """The timed region: scan the table, run every stage, commit clusters.
    Calls go through the modules so the traced run's wrappers see them."""
    from deepblocker_spark.plans import checkpoint
    from deepblocker_spark.sources import repo_files

    src = repo_files.load_repo_table(spark, input_path)
    ckpt = checkpoint.CheckpointManager(spark, ckpt_dir)
    clusters = checkpoint.run_blocking_pipeline(
        spark, src, ckpt, COLS, id_col="id", k=K, verify_jaccard=VERIFY_JACCARD,
        config=config(), pairing=pairing,
    )
    return ckpt, clusters


def release(spark) -> int:
    """Release the pipeline's persists and broadcasts through the package's
    public release functions -> RDDs still persisted afterwards."""
    from deepblocker_spark.operators import ann, bc_registry, embed, lsh

    lsh.release_signature_caches()
    ann.release_assignment_caches()
    embed.release_pc_caches()
    bc_registry.release_tracked()
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def warm_workers(spark) -> None:
    """Start two Python workers per core, as the pipeline's stages use, each
    with the package imported: every task runs two chained Arrow UDFs, and
    each UDF of a task holds a worker of its own."""
    n = spark.sparkContext.defaultParallelism

    def load(batches):
        import deepblocker_spark.operators.embed  # noqa: F401

        yield from batches

    df = spark.range(0, n, 1, n)
    df.mapInPandas(load, df.schema).mapInPandas(load, df.schema).collect()


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM this process launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def one_run(spark, wl: dict, input_path: str, ckpt_dir: str, input_ids: set,
            tracer=None) -> dict:
    """One timed pipeline run, then its output checks and the release of its
    caches (both outside the timed region)."""
    from contextlib import nullcontext

    from checks import check_run

    shutil.rmtree(ckpt_dir, ignore_errors=True)
    out = {"seconds": None, "problems": []}
    try:
        traced = tracer.installed() if tracer else nullcontext()
        t0 = time.perf_counter()
        with traced:
            with tracer.span("pipeline", "pipeline") if tracer else nullcontext():
                ckpt, clusters = run_pipeline(spark, wl["pairing"], input_path, ckpt_dir)
        out["seconds"] = time.perf_counter() - t0
        out.update(ckpt=ckpt, clusters=clusters)
        mode = ckpt.manifest("candidates")["params"]["pairing"]
        if mode != wl["mode"]:
            out["problems"].append(f"candidates came from {mode!r}, not {wl['mode']!r}")
        out["problems"] += check_run(ckpt, clusters, input_ids)
    except Exception:
        traceback.print_exc()
        out["problems"].append("pipeline raised")
    finally:
        out["persisted"] = release(spark)
    for p in out["problems"]:
        print(f"check failed: {p}", file=sys.stderr)
    return out


def data_path(ckpt, stage: str) -> str:
    return os.path.join(ckpt.base_dir, stage, "data.parquet")


def quality(spark, ckpt, clusters, gold: list, n_rows: int) -> dict:
    """Clusters against the golden pairs, and the reference's blocking
    statistics on the candidates checkpoint (pairs taken undirected)."""
    from pyspark.sql import functions as F

    from deepblocker_spark.operators.cluster import clusters_to_pairs
    from deepblocker_spark.operators.metrics import blocking_statistics, pairwise_f1

    gold_df = spark.createDataFrame(gold, "l_id string, r_id string")
    pred = clusters_to_pairs(clusters).select(F.col("a").alias("l_id"), F.col("b").alias("r_id"))
    f1 = pairwise_f1(pred, gold_df).first()
    cands = spark.read.parquet(data_path(ckpt, "candidates")).select(
        F.least("l_id", "r_id").alias("l_id"), F.greatest("l_id", "r_id").alias("r_id")
    ).distinct()
    golden = gold_df.select(F.col("l_id").alias("ltable_id"), F.col("r_id").alias("rtable_id"))
    bs = blocking_statistics(cands, golden, n_rows, n_rows).first()
    return {
        "pair_f1": f1["f1"] or 0.0,
        "pair_precision": f1["precision"] or 0.0,
        "pair_recall": f1["recall"] or 0.0,
        "cand_recall": bs["recall"],
        "cssr": bs["cssr"],
        "useful_ratio": bs["true_positives"] / max(1, bs["n_candidates"]),
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def bucket_stats(spark, ckpt) -> dict:
    """Bucket sizes of the LSH signatures of the embeddings checkpoint."""
    from pyspark.sql import functions as F

    from deepblocker_spark.operators import lsh

    cfg = config()
    emb = spark.read.parquet(data_path(ckpt, "embeddings"))
    sizes = lsh.bucket_stats(lsh.signature_buckets(
        emb, "id", "embedding", cfg.emb_dim, cfg.lsh_n_bands, cfg.lsh_band_bits,
        cfg.random_seed,
    ))
    row = sizes.agg(
        F.max("size").alias("max"),
        F.percentile("size", 0.99).alias("p99"),
        F.sum((F.col("size") > cfg.lsh_max_bucket_rows).cast("int")).alias("oversized"),
    ).first()
    return {"max": row["max"], "p99": row["p99"], "oversized": row["oversized"]}


def cluster_uses_driver(spark, ckpt) -> bool:
    """Whether connected_components took its driver union-find path: the
    symmetric edge count it sizes against its default threshold."""
    from pyspark.sql import functions as F

    from deepblocker_spark.operators.cluster import connected_components

    e = spark.read.parquet(data_path(ckpt, "scored")).select(
        F.col("l_id").alias("a"), F.col("r_id").alias("b")
    ).filter(F.col("a") != F.col("b"))
    n_sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct().count()
    limit = inspect.signature(connected_components).parameters["driver_threshold"].default
    return n_sym <= limit


def layer_metrics(spark, run: dict, layers: dict, wl: dict, q: dict) -> dict:
    ckpt = run["ckpt"]
    man = {s: ckpt.manifest(s) for s in STAGES}
    spans = layers["spans"]

    def span_s(name: str) -> float:
        return sum(s["dur"] for s in spans if s["name"] == name)

    m = {
        "repo_files.scan_s": layers["repo_files.scan"]["self_s"],
        "preprocess.self_s": layers["preprocess"]["self_s"],
        "embed.fit_s": layers["embed.fit"]["self_s"],
        "embed.pc_s": layers["embed.pc"]["self_s"],
        "embed.self_s": layers["embed"]["self_s"],
        "embed.vocab_size": layers["vocab_size"],
        "pairing.candidates": man["candidates"]["rows"],
        "pairing.useful_ratio": q["useful_ratio"],
        "verify.self_s": layers["verify"]["self_s"],
        "verify.kept_ratio": man["scored"]["rows"] / max(1, man["candidates"]["rows"]),
        "verify.shuffle_write_bytes": layers["verify"]["shuffle_write_bytes"],
        "cluster.self_s": layers["cluster"]["self_s"],
        "cluster.edges": man["scored"]["rows"],
        "cluster.components": run["clusters"].select("component").distinct().count(),
        "cluster.driver_path": int(cluster_uses_driver(spark, ckpt)),
        "checkpoint.read_s": sum(s["dur"] for s in spans if s["name"].endswith(".read")),
        "checkpoint.self_s": layers["checkpoint"]["self_s"],
        "pipeline.self_s": layers["spans"][0]["self"],
        "spark.jobs": layers["all"]["jobs"],
        "spark.stages": layers["all"]["stages"],
        "spark.tasks": layers["all"]["tasks"],
        "spark.persisted_after_run": run["persisted"],
    }
    for key in ("self_s", "jobs", "tasks", "shuffle_write_bytes", "max_task_s", "median_task_s"):
        m[f"pairing.{key}"] = layers["pairing"][key]
    b = bucket_stats(spark, ckpt) if wl["mode"] == "lsh" else {"max": 0, "p99": 0, "oversized": 0}
    m.update({"lsh.bucket_max_rows": b["max"], "lsh.bucket_p99_rows": b["p99"],
              "lsh.oversized_buckets": b["oversized"]})
    for s in STAGES:
        m[f"checkpoint.{s}.write_s"] = span_s(f"checkpoint.{s}.write")
        m[f"checkpoint.{s}.fingerprint_s"] = span_s(f"checkpoint.{s}.fingerprint")
        m[f"checkpoint.{s}.bytes"] = dir_bytes(data_path(ckpt, s))
    return m


def setup(wdir: str, heap_mb: int, ui: bool, spark=None, times: int = 1):
    """(Re)start the session and warm its Python workers ``times`` times ->
    (session, seconds of each set-up). The first start launches the JVM."""
    from host import start_session

    seconds = []
    for _ in range(times):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(wdir, heap_mb, ui)
        warm_workers(spark)
        seconds.append(time.perf_counter() - t0)
    return spark, seconds


def run_workload(name: str, args, work: str) -> dict:
    """Set up, time the pipeline, check and score its output. The measured
    run is the session's first pipeline job, as a spark-submit job runs it;
    with --seconds left after it, warm runs follow and are reported apart.
    The traced variant times a traced first run for the per-layer metrics,
    then a warm untraced and a warm traced run, each in a fresh session of
    its own (the REST API's UI is off in the untraced one), whose difference
    is the tracing overhead."""
    from host import PeakRss, driver_heap_mb, host_record
    from inputs import write_input
    from spans import Tracer

    wl = WORKLOADS[name]
    wdir = os.path.join(work, f"{name}-{args.seed}")
    shutil.rmtree(wdir, ignore_errors=True)
    os.makedirs(wdir)
    input_path = os.path.join(wdir, "input.parquet")
    t0 = time.perf_counter()
    ids, gold = write_input(input_path, max(2, round(wl["n_clusters"] * args.scale)), args.seed)
    input_s = time.perf_counter() - t0
    input_ids = set(ids)
    heap = driver_heap_mb()
    spark, setup_times = setup(wdir, heap, bool(args.trace), times=SETUPS)
    host = host_record(spark, ROOT, args.seed, heap)

    def run(tracer=None) -> dict:
        ckpt_dir = os.path.join(wdir, f"ckpt-{len(runs)}")
        runs.append(one_run(spark, wl, input_path, ckpt_dir, input_ids, tracer))
        return runs[-1]

    runs: list[dict] = []
    per_layer: dict = {}
    try:
        tracer = Tracer(spark) if args.trace else None
        with PeakRss() as rss:
            first = run(tracer)
        if first["problems"]:
            raise RuntimeError(f"{name}: the measured run failed its checks")
        q = quality(spark, first["ckpt"], first["clusters"], gold, len(ids))
        if args.trace:
            layers = tracer.resolve()
            with open(os.path.join(wdir, "spans.json"), "w") as f:
                json.dump(layers["spans"], f, indent=1)
            per_layer = layer_metrics(spark, first, layers, wl, q)
            spark, _ = setup(wdir, heap, False, spark)
            plain = run()
            spark, _ = setup(wdir, heap, True, spark)
            traced = run(Tracer(spark))
            if plain["problems"] or traced["problems"]:
                raise RuntimeError(f"{name}: a run for the tracing overhead failed")
            per_layer["trace.overhead_s"] = traced["seconds"] - plain["seconds"]
        else:
            while sum(r["seconds"] or 0 for r in runs) < args.seconds and not runs[-1]["problems"]:
                run()
    finally:
        stop_jvm(spark)
    failed = sum(1 for r in runs if r["problems"])
    e2e = {
        "pipeline_s": first["seconds"],
        "rows_per_s": len(ids) / first["seconds"],
        "setup_s": statistics.median(setup_times),
        "peak_rss_mb": rss.peak / 2**20,
        "pair_f1": q["pair_f1"],
        "pair_precision": q["pair_precision"],
        "pair_recall": q["pair_recall"],
        "cand_recall": q["cand_recall"],
        "cssr": q["cssr"],
        "ok_ratio": (len(runs) - failed) / len(runs),
    }
    return {
        "workload": name, "rows": len(ids), "gold_pairs": len(gold), "input_s": input_s,
        "setup_times": setup_times, "times": [r["seconds"] for r in runs],
        "attempted": len(runs), "failed": failed,
        "end_to_end": e2e, "per_layer": per_layer, "host": host,
    }


def report(res: dict, trace: bool) -> dict:
    """Print one workload's metrics by name with units -> the metrics
    object of the result line."""
    times = res["times"]
    print(f"workload {res['workload']}: {res['rows']} rows, {res['gold_pairs']} golden pairs, "
          f"{res['attempted']} runs, {res['failed']} failed; input generation "
          f"{res['input_s']:.2f} s (untimed); set-ups "
          + ", ".join(f"{t:.2f}" for t in res["setup_times"]) + " s")
    print(f"  measured first run {times[0]:.4f} s (one sample per process: no percentile "
          f"above the median has ten samples beyond it)")
    if len(times) > 1 and not trace:
        warm = times[1:]
        print(f"  warm runs: n={len(warm)}, median {statistics.median(warm):.4f} s, "
              f"max {max(warm):.4f} s (not in pipeline_s)")
    names = PER_LAYER if trace else END_TO_END
    values = res["per_layer"] if trace else res["end_to_end"]
    metrics = {}
    for name, unit in names.items():
        v = values[name]
        v = float(v) if isinstance(v, float) else int(v)
        metrics[name] = {"value": v, "unit": unit}
        print(f"  {name:36s} {v:>16.6g} {unit}")
    print("  host " + json.dumps(res["host"], sort_keys=True))
    return metrics


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py", description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0,
                   help="timed pipeline seconds to collect per workload (at least one run)")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiplies the input size (the benchmark's own tests use a tiny one)")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "deepblocker_spark", "plans", "checkpoint.py")):
        print("perfbench: the deepblocker_spark package is not beside perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    prepare_env(work)
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    results = [run_workload(n, args, work) for n in names]
    metrics = {}
    for res in results:
        m = report(res, bool(args.trace))
        if len(results) == 1:
            metrics = m
        else:
            metrics.update({f"{res['workload']}.{k}": v for k, v in m.items()})
    failed = sum(r["failed"] for r in results)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": sum(r["attempted"] for r in results),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
