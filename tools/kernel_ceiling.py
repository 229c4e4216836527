"""Host-ceiling control for the two lagging LSH scaling stages.

VERDICT r3 #2 asks: clear raw >=0.8 scaling efficiency on the 240k LSH
path, or *demonstrably pin the residual on the host*. The per-stage
profile (tools/stage_profile.py) shows the scan->embed->signature spine
scaling 3.7-3.85x from 2->8 pinned cores while the bucket kernel and the
top-K merge lag at ~2.2x with JVM CPU-seconds inflating ~1.7x.

This tool is the decisive same-phase experiment: it materializes the REAL
bucket-exchange frame (band, bucket, salt, iid, _emb) for the same 240k
input — the exact rows the kernel stage shuffles — then replays the
IDENTICAL per-bucket computation (lexsort-group, f64 normalize, per-bucket
matmul + argpartition, map-side _dedup_topk combiner) and the identical
merge reduce (_dedup_topk with rank) in a pure-numpy multiprocessing pool:
no JVM, no Arrow boundary, no shuffle — only parquet decompression, the
same numpy math on the same bytes, and pickling of results between
processes. Run it interleaved at two pinned core counts:

    python tools/kernel_ceiling.py materialize /path/input.parquet /tmp/kc
    python tools/kernel_ceiling.py run /tmp/kc 8
    python tools/kernel_ceiling.py run /tmp/kc 2

If this Spark-free replica of the stage work also scales well below 4x,
the residual is the host's shared memory bus / sustained-throttle ceiling,
not the engine (separate cluster executors have separate buses). If it
scales ~4x, the gap is Spark-side and fixable. Results feed BASELINE.md's
protocol v5 section and BENCH_r04.
"""

from __future__ import annotations

import glob
import json
import multiprocessing as mp
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

K = 10
N_PARTS = 56  # ~ what advisory=16m AQE gives the kernel exchange at 240k


def materialize(parquet_path: str, out_dir: str) -> None:
    """Write the kernel stage's input — the post-exchange signature frame —
    as N_PARTS hash-partitioned parquet files (one per kernel task)."""
    from bench import _scaling_job  # noqa: F401  (import keeps configs aligned)
    from deepblocker_spark.config import BlockerConfig
    from deepblocker_spark.operators import lsh as L
    from deepblocker_spark.operators.preprocess import MERGED_TEXT, preprocess_table
    from deepblocker_spark.pipeline import SparkSIFEmbedding
    from deepblocker_spark.session import get_spark
    from deepblocker_spark.sources.repo_files import with_durable_id
    from pyspark.sql import functions as F

    spark = get_spark("kernel-ceiling-mat", master="local[8]",
                      shuffle_partitions=64, arrow_max_records=10_000)
    cfg = BlockerConfig(emb_dim=64, top_k=K, remove_pc=True)
    df = (with_durable_id(spark.read.parquet(parquet_path))
          .withColumn("iid", F.xxhash64("id")).repartition(64))
    pre = preprocess_table(df, ["repo", "path", "lang", "content"], "iid").persist()
    model = SparkSIFEmbedding(cfg)
    model.preprocess(pre.select(MERGED_TEXT))
    emb = model.embed(pre)

    sigs = L._persisted_sigs(emb, "iid", "embedding", cfg.emb_dim,
                             cfg.lsh_n_bands, cfg.lsh_band_bits, cfg.random_seed)
    over = L._oversized_buckets(sigs, cfg.lsh_max_bucket_rows,
                                ["band", "bucket", "_splits"])
    if over:
        from pyspark.sql.types import (IntegerType, LongType, StructField,
                                       StructType)
        over_df = spark.createDataFrame(over, StructType([
            StructField("band", IntegerType(), False),
            StructField("bucket", LongType(), False),
            StructField("_splits", IntegerType(), False)]))
        joined = (sigs.join(F.broadcast(over_df), ["band", "bucket"], "left")
                  .withColumn("salt",
                              F.when(F.col("_splits").isNull(), F.lit(0))
                              .otherwise(F.pmod(F.xxhash64(F.col("iid")),
                                                F.col("_splits"))).cast("int"))
                  .drop("_splits"))
    else:
        joined = sigs.withColumn("salt", F.lit(0))

    (joined.repartition(N_PARTS, "band", "bucket", "salt")
     .write.mode("overwrite").parquet(out_dir))
    n = spark.read.parquet(out_dir).count()
    print(f"materialized {n} sig rows -> {out_dir}", file=sys.stderr)
    spark.stop()


def _kernel_task(path: str):
    """One kernel-stage task: the exact per-partition work of the bucket
    kernel + map-side combiner (the grouped.cell_topk self-join kernel),
    minus Spark: parquet decompress stands in for shuffle-read decompress."""
    from deepblocker_spark.operators.grouped import _dedup_topk, group_slices
    from deepblocker_spark.operators.topk import normalize_rows

    pdf = pd.read_parquet(path)
    # python-side ordering (the engine pays Tungsten sortWithinPartitions
    # here; the control pays a numpy lexsort — the irreducible part)
    order = np.lexsort((pdf["salt"].to_numpy(), pdf["bucket"].to_numpy(),
                        pdf["band"].to_numpy()))
    pdf = pdf.iloc[order].reset_index(drop=True)
    ids_all = pdf["iid"].to_numpy()
    x_all = normalize_rows(
        np.nan_to_num(np.stack(pdf["_emb"].to_numpy()).astype(np.float64)))
    out_l, out_r, out_s = [], [], []
    for a, b in group_slices(pdf, ["band", "bucket", "salt"]):
        n = b - a
        if n < 2:
            continue
        x = x_all[a:b]
        sims = x @ x.T
        take = min(min(K, n - 1) + 1, n)
        part = np.argpartition(-sims, take - 1, axis=1)[:, :take]
        rows = np.repeat(np.arange(n), take)
        cols = part.ravel()
        keep = rows != cols
        rows, cols = rows[keep], cols[keep]
        out_l.append(ids_all[a:b][rows])
        out_r.append(ids_all[a:b][cols])
        out_s.append(sims[rows, cols])
    pairs = pd.DataFrame({"l_id": np.concatenate(out_l),
                          "r_id": np.concatenate(out_r),
                          "sim": np.concatenate(out_s)})
    comb = _dedup_topk(pairs, K, "l_id", "r_id", "sim", with_rank=False)
    return (comb["l_id"].to_numpy(), comb["r_id"].to_numpy(),
            comb["sim"].to_numpy())


def _merge_task(args):
    """One merge-stage task: _dedup_topk with rank over one hash partition
    of the combiner output — identical to topk_per_key's merge kernel."""
    from deepblocker_spark.operators.grouped import _dedup_topk

    l, r, s = args
    out = _dedup_topk(pd.DataFrame({"l_id": l, "r_id": r, "sim": s}),
                      K, "l_id", "r_id", "sim", with_rank=True)
    return len(out)


def run(data_dir: str, cores: int) -> None:
    os.sched_setaffinity(0, set(range(cores)))
    files = sorted(glob.glob(os.path.join(data_dir, "part-*.parquet")))
    assert files, f"no parquet parts under {data_dir}"

    t0 = time.perf_counter()
    with mp.get_context("spawn").Pool(cores) as pool:
        parts = pool.map(_kernel_task, files)
        t_kernel = time.perf_counter() - t0

        # hash-partition combiner output by l_id (the merge exchange)
        l = np.concatenate([p[0] for p in parts])
        r = np.concatenate([p[1] for p in parts])
        s = np.concatenate([p[2] for p in parts])
        h = ((l.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15))
             >> np.uint64(58)) % np.uint64(N_PARTS)
        order = np.argsort(h, kind="stable")
        l, r, s, h = l[order], r[order], s[order], h[order]
        cuts = np.searchsorted(h, np.arange(1, N_PARTS))
        buckets = [
            (l[a:b], r[a:b], s[a:b])
            for a, b in zip(np.concatenate([[0], cuts]),
                            np.concatenate([cuts, [len(l)]]))
        ]
        t1 = time.perf_counter()
        n_out = sum(pool.map(_merge_task, buckets))
        t_merge = time.perf_counter() - t1
    total = time.perf_counter() - t0
    print(json.dumps({"cores": cores, "kernel_s": round(t_kernel, 3),
                      "merge_s": round(t_merge, 3),
                      "total_s": round(total, 3), "out_rows": int(n_out),
                      "in_pairs": int(len(l))}))


if __name__ == "__main__":
    if sys.argv[1] == "materialize":
        materialize(sys.argv[2], sys.argv[3])
    else:
        run(sys.argv[2], int(sys.argv[3]))
