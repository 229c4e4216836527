"""Approximate-nearest-neighbor search over an embedding column.

Two strategies behind one call shape, both returning (l_id, r_id, sim, rank):

  * brute-force exact top-k (operators/topk.py) — the baseline/oracle; right
    side bounded-broadcast, per-batch BLAS + argpartition.
  * LSH-bucketed (operators/lsh.py) — the scale path; cost bounded by
    bucket sizes instead of N^2.

``recall_at_k`` measures the approximate path against the exact oracle —
the harness SURVEY.md §7.4(1) calls for when tuning LSH parameters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepblocker_spark.operators.grouped import cell_topk, grid_salt_split
from deepblocker_spark.operators.lsh import _cosine_scorer, lsh_candidates
from deepblocker_spark.operators.topk import exact_topk_join

from deepblocker_spark.operators.bc_registry import (
    tracked_broadcast as _tracked,
)


def brute_force_topk(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    exclude_self: bool = True,
    max_broadcast_rows: int = 500_000,
) -> DataFrame:
    return exact_topk_join(
        df, df, k, l_id=id_col, r_id=id_col, emb_col=emb_col,
        exclude_self=exclude_self, max_broadcast_rows=max_broadcast_rows,
    )


def lsh_topk(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    n_bands: int = 8,
    band_bits: int = 8,
    seed: int = 1234,
    partition_by: str | None = None,
) -> DataFrame:
    return lsh_candidates(
        df, id_col, emb_col, dim, k, n_bands, band_bits, seed,
        partition_by=partition_by,
    )


def _train_centroids(
    df: DataFrame, id_col: str, emb_col: str, n_cells: int, seed: int,
    sample_rows: int = 20_000, iters: int = 10,
    rows_hint: int | None = None,
):
    """Driver-side spherical k-means on a bounded sample (the IVF 'train'
    phase — centroids are a few KB and broadcast; the big table never leaves
    the executors). ``rows_hint`` skips the sizing count when the caller
    already knows N (every internal caller does — it just computed or was
    hinted the same count for ``_auto_n_cells``); the count only decides
    the sample-filter modulus, so the hint changes no sampled row."""
    import numpy as np

    from deepblocker_spark.operators.topk import normalize_rows

    # Deterministic, partition-order-independent training sample (VERDICT
    # r1: a bare limit() made the sample depend on partition order): rank
    # rows by xxhash64(id) and keep the smallest `sample_rows`. The filter
    # keeps ~2x the target at scan cost, so only a tiny survivor set is
    # sorted — same shape as pipeline._sample_texts.
    from pyspark.sql import functions as F

    n = rows_hint if rows_hint is not None else df.count()
    if n == 0:
        return np.zeros((0, 0))
    p = max(1, n // max(1, 2 * sample_rows))
    pdf = (
        df.select(F.col(emb_col).alias("_e"), F.xxhash64(F.col(id_col)).alias("_h"))
        .filter(F.pmod(F.col("_h"), F.lit(p)) == 0)
        .orderBy("_h")
        .limit(sample_rows)
        .toPandas()
    )
    x = normalize_rows(np.nan_to_num(np.stack(pdf["_e"].to_numpy()).astype(np.float64)))
    rng = np.random.Generator(np.random.PCG64(seed))
    cents = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return cents


def _assign_cells(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    cents_bc,
    nprobe: int,
    emit_home: bool,
    emit_probes: bool,
    emb_dtype: str = "f32",
):
    """Cell assignment as a vectorized mapInPandas pass: every row gets its
    home cell (role 0 = index row) and/or its ``nprobe`` closest cells
    (role 1 = query row). Self-search emits both from ONE scan; dyadic
    search runs this once per side.

    The carried vector travels as ONE little-endian binary blob per row
    (same transport as lsh.signature_buckets, round 4): the row<->Arrow
    LIST conversion of wide array columns dominated the LSH exchange
    stages' JVM CPU, a BinaryType column moves as a memcpy, and the
    nprobe-way duplication shares the same immutable bytes objects.
    ``emb_dtype='f32'`` is bit-identical to the previous array transport;
    'f16' halves the exchange bytes (cell assignment is computed from the
    full-precision vector BEFORE packing, so cell membership is identical
    — only in-cell scores see ~1e-3 quantization error)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType, IntegerType, StructField, StructType

    from deepblocker_spark.operators.topk import normalize_rows

    if emb_dtype not in ("f32", "f16"):
        raise ValueError(f"unknown emb_dtype: {emb_dtype!r} (use 'f32' or 'f16')")
    id_type = df.select(id_col).schema.fields[0].dataType
    assign_schema = StructType(
        [
            StructField("_id", id_type, True),
            StructField("cell", IntegerType(), False),
            StructField("_role", IntegerType(), False),
            StructField("_emb", BinaryType(), True),
        ]
    )

    def assign(batches):
        c = cents_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x_arr = np.stack(pdf[emb_col].to_numpy())
            x = normalize_rows(np.nan_to_num(x_arr.astype(np.float64)))
            sims = x @ c.T
            p = min(nprobe, sims.shape[1])
            n = len(pdf)
            out_id, out_cell, out_role, copies = [], [], [], 0
            if emit_home:
                home = np.argmax(sims, axis=1)
                out_id.append(pdf[id_col].to_numpy())
                out_cell.append(home.astype(np.int32))
                out_role.append(np.zeros(n, dtype=np.int32))
                copies += 1
            if emit_probes:
                probes = np.argpartition(-sims, p - 1, axis=1)[:, :p]
                for j in range(p):
                    out_id.append(pdf[id_col].to_numpy())
                    out_cell.append(probes[:, j].astype(np.int32))
                    out_role.append(np.ones(n, dtype=np.int32))
                copies += p
            frame = pd.DataFrame(
                {
                    "_id": np.concatenate(out_id),
                    "cell": np.concatenate(out_cell),
                    "_role": np.concatenate(out_role),
                }
            )
            xq = x_arr.astype(
                np.float16 if emb_dtype == "f16" else np.float32, copy=False
            )
            raw = xq.tobytes()
            stride = xq.shape[1] * xq.dtype.itemsize
            blobs = [raw[i * stride : (i + 1) * stride] for i in range(n)]
            frame["_emb"] = blobs * copies
            yield frame

    return df.select(id_col, emb_col).mapInPandas(assign, assign_schema)


# Persisted assignment frames awaiting release — same lifecycle as
# operators/lsh._SIG_CACHES: the assignment frame is computed ONCE and
# consumed by both the cell-size aggregation and the search kernel; callers
# release after their action (the pipeline does so at the candidates stage
# boundary), ContextCleaner is the GC backstop.
_ASSIGN_CACHES: list[DataFrame] = []


def release_assignment_caches() -> None:
    """Unpersist assignment frames cached by ivf_topk / ivf_topk_join."""
    while _ASSIGN_CACHES:
        _ASSIGN_CACHES.pop().unpersist()


def _auto_n_cells(rows: int) -> int:
    """~sqrt(N) cells, floored at 16 and capped at 4096 — the standard IVF
    sizing rule (cells ~ sqrt(N) balances probe cost against cell size)."""
    return min(4096, max(16, int(rows ** 0.5)))


def _ivf_pairs(
    assigned: DataFrame,
    scorer,
    k: int,
    id_type,
    mask_equal_ids: bool,
    max_cell_rows: int = 5_000,
) -> DataFrame:
    """Probed-cell search over the union of role-tagged assignments
    (``_id``, ``cell``, ``_role``, ``_emb``), shared by IVF-flat (cosine
    scorer) and IVFADC (ADC scorer, operators/pq.py): persisted assignment
    -> ``grouped.grid_salt_split`` on ``cell`` -> ``grouped.cell_topk``.
    Two shuffles total: the (cell, salt_q, salt_i) kernel exchange and the
    fused dedup(keep-max)+top-K merge — a probe pair can surface from
    several probed cells with identical sim.

    Hot cells are GRID salt-split, never truncated (VERDICT r2 #1): a skewed
    corpus collapsing into one mega-cell (boilerplate/empty docs —
    FIXTURES.md F1) fans out into tasks bounded by max_cell_rows^2 with ZERO
    recall loss, instead of serializing on one unbounded task. The
    assignment frame is persisted, so one assignment pass feeds both the
    cell-size agg and the kernel; when no cell is oversized the plan keeps
    its two-exchange shape with no join.
    """
    from pyspark import StorageLevel

    assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    _ASSIGN_CACHES.append(assigned)
    return cell_topk(
        grid_salt_split(assigned, ["cell"], max_cell_rows),
        ["cell", "salt_q", "salt_i"], scorer, k, id_type,
        mask_equal_ids=mask_equal_ids,
    )


def ivf_topk(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    n_cells: int | None = 16,
    nprobe: int = 3,
    seed: int = 1234,
    max_cell_rows: int = 5_000,
    rows_hint: int | None = None,
    emb_dtype: str = "f32",
) -> DataFrame:
    """IVF-flat approximate top-k SELF-search: assign every vector to its
    nearest centroid cell, probe each query's ``nprobe`` closest cells, and
    search exactly within the probed cells; work per cell is bounded by
    cell size x probes — the standard ANN scale shape. One assignment scan
    emits both roles; cells exceeding ``max_cell_rows`` in either role are
    grid salt-split with zero recall loss (see grouped.grid_salt_split).

    ``n_cells=None`` auto-sizes to ~sqrt(N) (VERDICT r2 #9 — a fixed cell
    count degenerates as the corpus grows); ``rows_hint`` (e.g. a checkpoint
    manifest row count) skips the sizing count.

    -> (l_id, r_id, sim, rank), rank<=k per l_id, self-pairs excluded.
    """
    spark = df.sparkSession
    n_rows = rows_hint
    if n_cells is None:
        if n_rows is None:
            n_rows = df.count()
        n_cells = _auto_n_cells(n_rows)
    # the sizing count (explicit or hinted) doubles as the trainer's sample
    # modulus — ONE job sizes both instead of two identical counts
    cents = _train_centroids(df, id_col, emb_col, n_cells, seed,
                             rows_hint=n_rows)
    cents_bc = _tracked(spark.sparkContext, cents)
    assigned = _assign_cells(df, id_col, emb_col, cents_bc, nprobe,
                             emit_home=True, emit_probes=True,
                             emb_dtype=emb_dtype)
    id_type = df.select(id_col).schema.fields[0].dataType
    return _ivf_pairs(assigned, _cosine_scorer(emb_dtype), k, id_type,
                      mask_equal_ids=True, max_cell_rows=max_cell_rows)


def ivf_topk_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 10,
    l_id: str = "vec_id",
    r_id: str = "vec_id",
    emb_col: str = "embedding",
    n_cells: int | None = 16,
    nprobe: int = 3,
    seed: int = 1234,
    max_cell_rows: int = 5_000,
    rows_hint: int | None = None,
    emb_dtype: str = "f32",
) -> DataFrame:
    """Dyadic IVF-flat: centroids train on the INDEX side (right), right
    rows land in their home cell only, every left query probes its
    ``nprobe`` nearest cells. Same two-shuffle plan as the self path, same
    grid salt-split for hot cells. ``n_cells=None`` auto-sizes from the
    INDEX side's row count (``rows_hint`` skips that count).

    Both sides must share an id type (ADVICE r2: the cell-union frame
    carries ONE ``_id`` column, so differing types would miscast silently);
    cast one side's id first if they differ.

    -> (l_id, r_id, sim, rank), rank<=k per left row."""
    spark = left.sparkSession
    l_type = left.select(l_id).schema.fields[0].dataType
    r_type = right.select(r_id).schema.fields[0].dataType
    if l_type != r_type:
        raise TypeError(
            "ivf_topk_join requires matching id types on both sides (got "
            f"{l_type.simpleString()} vs {r_type.simpleString()}); cast one "
            "side's id column first"
        )
    n_rows = rows_hint
    if n_cells is None:
        if n_rows is None:
            n_rows = right.count()
        n_cells = _auto_n_cells(n_rows)
    cents = _train_centroids(right, r_id, emb_col, n_cells, seed,
                             rows_hint=n_rows)
    cents_bc = _tracked(spark.sparkContext, cents)
    index = _assign_cells(right, r_id, emb_col, cents_bc, nprobe,
                          emit_home=True, emit_probes=False,
                          emb_dtype=emb_dtype)
    queries = _assign_cells(left, l_id, emb_col, cents_bc, nprobe,
                            emit_home=False, emit_probes=True,
                            emb_dtype=emb_dtype)
    return _ivf_pairs(index.unionByName(queries), _cosine_scorer(emb_dtype),
                      k, l_type, mask_equal_ids=False,
                      max_cell_rows=max_cell_rows)


class IVFVectorPairing:
    """IVF-flat behind the same index/query seam as ExactTopKVectorPairing /
    LSHVectorPairing (the reference's vector_pairing_models.py:7-18 ABC):
    self mode when query() receives the indexed DataFrame itself, dyadic
    (train-on-index, probe-from-query) otherwise."""

    def __init__(self, k: int = 50, n_cells: int | None = 16, nprobe: int = 3,
                 seed: int = 1234, max_cell_rows: int = 5_000,
                 emb_dtype: str = "f32"):
        self.k, self.n_cells, self.nprobe, self.seed = k, n_cells, nprobe, seed
        self.max_cell_rows = max_cell_rows
        self.emb_dtype = emb_dtype
        self.exclude_self = True  # self mode never emits self-pairs

    def index(self, right: DataFrame, r_id: str = "id", emb_col: str = "embedding"):
        self._right, self._r_id, self._emb = right, r_id, emb_col
        return self

    def query(self, left: DataFrame, l_id: str = "id",
              emb_col: str | None = None, mode: str = "auto") -> DataFrame:
        """``mode``: 'self' (left IS the indexed table — dedup semantics,
        self-pairs excluded), 'dyadic' (two tables), or 'auto'. Auto falls
        back to OBJECT IDENTITY with the indexed DataFrame — an
        equal-but-distinct frame of the same table (e.g. re-read from a
        checkpoint) runs dyadic and leaks self-pairs (ADVICE r2); pass
        mode='self' explicitly in that case."""
        if mode not in ("auto", "self", "dyadic"):
            raise ValueError(f"unknown query mode: {mode!r}")
        if mode == "self" or (mode == "auto" and left is self._right):
            return ivf_topk(
                self._right, k=self.k, id_col=self._r_id,
                emb_col=emb_col or self._emb, n_cells=self.n_cells,
                nprobe=self.nprobe, seed=self.seed,
                max_cell_rows=self.max_cell_rows, emb_dtype=self.emb_dtype,
            )
        return ivf_topk_join(
            left, self._right, k=self.k, l_id=l_id, r_id=self._r_id,
            emb_col=emb_col or self._emb, n_cells=self.n_cells,
            nprobe=self.nprobe, seed=self.seed,
            max_cell_rows=self.max_cell_rows, emb_dtype=self.emb_dtype,
        )


def recall_at_k(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Single row: |approx ∩ exact| / |exact| over (l_id, r_id) pairs."""
    a = approx.select("l_id", "r_id").dropDuplicates()
    e = exact.select("l_id", "r_id").dropDuplicates()
    hit = a.join(e, ["l_id", "r_id"]).agg(F.count("*").alias("hits"))
    tot = e.agg(F.count("*").alias("total"))
    return hit.crossJoin(tot).select(
        (F.col("hits") / F.col("total")).alias("recall_at_k"), "hits", "total"
    )
