"""Plan shape of the cell top-K paths (grouped.cell_topk) on an input with
no oversized bucket or cell: no join anywhere, and exactly two exchanges —
the cell kernel exchange and the top-K merge."""

from __future__ import annotations

import re

import numpy as np
import pytest

from deepblocker_spark.operators.ann import (
    ivf_topk,
    release_assignment_caches,
)
from deepblocker_spark.operators.lsh import (
    lsh_candidates,
    lsh_candidates_dyadic,
    release_signature_caches,
)
from deepblocker_spark.operators.pq import ivf_pq_topk

DIM = 16


def _vectors(spark, n, seed, id_start=0):
    rng = np.random.default_rng(seed)
    emb = rng.standard_normal((n, DIM)).astype(np.float32)
    rows = [(id_start + i, [float(v) for v in emb[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "id long, embedding array<float>")


def _build(spark, path):
    df = _vectors(spark, 300, seed=5)
    if path == "lsh_self":
        return lsh_candidates(df, "id", dim=DIM, k=4, n_bands=4, band_bits=4)
    if path == "lsh_dyadic":
        right = _vectors(spark, 200, seed=6, id_start=10_000)
        return lsh_candidates_dyadic(
            df, right, dim=DIM, k=4, n_bands=4, band_bits=4
        )
    if path == "ivf_topk":
        return ivf_topk(df, k=4, id_col="id", dim=DIM, n_cells=4, nprobe=2)
    return ivf_pq_topk(df, k=4, id_col="id", n_cells=4, nprobe=2, m=4,
                       n_codes=16)


@pytest.mark.parametrize(
    "path", ["lsh_self", "lsh_dyadic", "ivf_topk", "ivf_pq_topk"]
)
def test_healthy_plan_has_two_exchanges_and_no_join(spark, path):
    out = _build(spark, path)
    plan = out._jdf.queryExecution().executedPlan().toString()
    try:
        assert "Join" not in plan, plan
        exchanges = re.findall(r"(?<!Broadcast)Exchange ", plan)
        assert len(exchanges) == 2, plan
        assert out.count() > 0
    finally:
        release_signature_caches()
        release_assignment_caches()
