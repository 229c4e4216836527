"""Broadcast-gather LSH kernel — the narrow-exchange variant must produce
BIT-IDENTICAL pair tables to the carried-vector exchange, across transport
dtypes, with and without hot-bucket salting, and through the auto gate."""

from __future__ import annotations

import numpy as np
import pytest

from deepblocker_spark.operators import lsh
from deepblocker_spark.operators.lsh import (
    lsh_candidates,
    lsh_candidates_dyadic,
    release_signature_caches,
)


def _frame(spark, n=2500, dim=24, hot=True, seed=11, id_start=0, center=None):
    rng = np.random.default_rng(seed)
    emb = rng.standard_normal((n, dim)).astype(np.float32)
    if hot:
        # a third of the rows collapse near one direction -> oversized
        # buckets -> the salt-split path is exercised
        c = emb[0] if center is None else center
        emb[: n // 3] = c + 0.01 * rng.standard_normal(
            (n // 3, dim)
        ).astype(np.float32)
    rows = [(id_start + i, [float(v) for v in emb[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "id long, embedding array<float>")


def _run(out):
    plan = out._jdf.queryExecution().executedPlan().toString()
    rows = out.collect()
    release_signature_caches()
    return sorted((r.l_id, r.r_id, r.sim, r.rank) for r in rows), plan


def _pairs(df, gather, dtype, max_bucket_rows=150, **kw):
    return _run(lsh_candidates(
        df, id_col="id", dim=24, k=5, n_bands=4, band_bits=6, seed=3,
        max_bucket_rows=max_bucket_rows, emb_dtype=dtype, gather=gather, **kw
    ))[0]


def _hot_pair(spark):
    # both sides' hot rows share one direction, so the same buckets are
    # oversized on both sides and the grid is split in both dimensions
    left = _frame(spark, n=1500)
    center = np.asarray(left.first().embedding, dtype=np.float32)
    right = _frame(spark, n=1200, seed=12, id_start=100_000, center=center)
    return left, right


@pytest.mark.parametrize(
    "dtype,path",
    [
        pytest.param(dtype, path, id=dtype if path == "self" else f"{dtype}-{path}")
        for path in ("self", "dyadic")
        for dtype in ("f32", "f16")
    ],
)
def test_gather_modes_bit_identical_with_salting(spark, dtype, path):
    if path == "self":
        df = _frame(spark)
        run = lambda g: _run(lsh_candidates(  # noqa: E731
            df, id_col="id", dim=24, k=5, n_bands=4, band_bits=6, seed=3,
            max_bucket_rows=150, emb_dtype=dtype, gather=g,
        ))
    else:
        left, right = _hot_pair(spark)
        run = lambda g: _run(lsh_candidates_dyadic(  # noqa: E731
            left, right, dim=24, k=5, n_bands=4, band_bits=6, seed=3,
            max_bucket_rows=150, emb_dtype=dtype, gather=g,
        ))
    exchange, plan = run("exchange")
    broadcast, _ = run("broadcast")
    # the hot-bucket split is really taken: the oversized list is
    # re-injected as a broadcast join (healthy plans have no join at all)
    assert "BroadcastHashJoin" in plan
    assert len(exchange) > 0
    assert exchange == broadcast


def test_gather_auto_small_table_matches_both(spark):
    # under the gate: auto == broadcast == exchange, exactly
    df = _frame(spark, n=800, hot=False)
    auto = _pairs(df, "auto", "f16")
    assert auto == _pairs(df, "broadcast", "f16")
    assert auto == _pairs(df, "exchange", "f16")


def test_gather_auto_respects_byte_gate(spark):
    # gate of 0 bytes forces the exchange path; output must not change
    df = _frame(spark, n=800, hot=False)
    gated = _pairs(df, "auto", "f16", gather_max_bytes=0)
    assert gated == _pairs(df, "exchange", "f16")


def test_gather_rejects_unknown_mode(spark):
    df = _frame(spark, n=50, hot=False)
    with pytest.raises(ValueError):
        lsh_candidates(df, id_col="id", dim=24, gather="fetch")


def test_dyadic_rejects_unknown_gather_before_spark_work(spark):
    """A bad ``gather`` must fail before any Spark job runs or any
    signature frame is persisted."""
    left = _frame(spark, n=50, hot=False)
    right = _frame(spark, n=40, hot=False, seed=12, id_start=1000)
    sc = spark.sparkContext
    group = "lsh-dyadic-gather-validation"
    cached = len(lsh._SIG_CACHES)
    sc.setJobGroup(group, "gather validation")
    try:
        with pytest.raises(ValueError):
            lsh_candidates_dyadic(left, right, dim=24, gather="fetch")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert len(lsh._SIG_CACHES) == cached
