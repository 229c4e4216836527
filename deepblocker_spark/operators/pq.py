"""Product-quantization ANN (Jégou, Douze, Schmid — TPAMI'11 "Product
quantization for nearest neighbor search", the PQ/ADC half of IVFADC).

Completes the ANN family next to exact (topk.py), random-hyperplane LSH
(lsh.py) and IVF-flat (ann.py). No reference counterpart — the reference
only does the exact top-K matrix (/root/reference/vector_pairing.py).

Scale story: a 64-dim f32 embedding is 256 B; its PQ code at m=8
subspaces is 8 B (32×). The top-K join's broadcast side ships CODES, not
vectors — at 100 TB the code table for 1B rows is ~8 GB (chunked
broadcast, same bounded-memory pattern as topk.exact_topk_join), while
the raw vectors would be 256 GB. Codebooks are a few hundred KB,
broadcast once. Queries keep full precision: asymmetric distance
computation (ADC) quantizes only the database side, so the only error is
the database rows' quantization.

Cosine similarity on L2-normalized vectors is the inner product, and PQ
subspaces decompose it exactly: <q, x> = Σ_j <q_j, x_j> ≈ Σ_j <q_j,
c_{j,code_j(x)}>. Training/encoding use per-subspace L2 assignment (the
standard PQ quantizer) over normalized vectors; per-query score = m
table lookups summed, vectorized as one fancy-index gather per subspace.

Everything driver-side is bounded relative to the data: training reads
the same deterministic xxhash64 sample as ann._train_centroids; the code
table collects once to the driver (m bytes + id per row — the same
bounded-broadcast contract as topk.exact_topk_join, at 1/32 the bytes)
and is broadcast in ``max_broadcast_rows`` chunks; per-batch kernel
memory is O(batch × chunk). For corpora whose code table exceeds driver
memory, ``ivf_pq_topk`` (below) is the fully-distributed path — nothing
collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepblocker_spark.operators.bc_registry import (
    tracked_broadcast as _tracked,
)


def train_pq(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    m: int = 8,
    n_codes: int = 256,
    seed: int = 1234,
    sample_rows: int = 20_000,
    iters: int = 10,
    rows_hint: int | None = None,
):
    """Driver-side per-subspace k-means on a bounded deterministic sample.
    -> numpy (m, n_codes, dim//m) float64 codebooks. ``rows_hint`` skips
    the sizing count (same seam as ann.ivf_topk)."""
    import numpy as np

    from deepblocker_spark.operators.topk import normalize_rows

    if n_codes > 256:
        raise ValueError("n_codes > 256 does not fit uint8 codes")
    n = rows_hint if rows_hint is not None else df.count()
    if n == 0:
        return np.zeros((m, 0, 0))
    p = max(1, n // max(1, 2 * sample_rows))
    pdf = (
        df.select(F.col(emb_col).alias("_e"), F.xxhash64(F.col(id_col)).alias("_h"))
        .filter(F.pmod(F.col("_h"), F.lit(p)) == 0)
        .orderBy("_h")
        .limit(sample_rows)
        .toPandas()
    )
    x = normalize_rows(np.nan_to_num(np.stack(pdf["_e"].to_numpy()).astype(np.float64)))
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    dsub = dim // m
    k = min(n_codes, len(x))
    rng = np.random.Generator(np.random.PCG64(seed))
    books = np.zeros((m, k, dsub))
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        cents = xs[rng.choice(len(xs), size=k, replace=False)].copy()
        for _ in range(iters):
            # L2 assignment == argmax(x·c − |c|²/2); centroids NOT renormalized
            # (subvectors aren't unit — this is plain k-means per subspace)
            d = xs @ cents.T - 0.5 * (cents * cents).sum(axis=1)
            assign = np.argmax(d, axis=1)
            for c in range(k):
                members = xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[j] = cents
    return books


def encode_pq(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """-> DataFrame(id_col, code binary): each row's m-byte PQ code.
    One vectorized mapInPandas pass; the codebooks broadcast once."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType, StructField, StructType

    from deepblocker_spark.operators.topk import normalize_rows

    spark = df.sparkSession
    books_bc = _tracked(spark.sparkContext, codebooks)
    id_type = df.select(id_col).schema.fields[0].dataType
    schema = StructType(
        [StructField(id_col, id_type, True), StructField("code", BinaryType(), False)]
    )

    def encode(batches):
        books = books_bc.value
        m, _, dsub = books.shape
        # precompute −|c|²/2 per subspace once per executor batch stream
        half_norms = [0.5 * (books[j] * books[j]).sum(axis=1) for j in range(m)]
        for pdf in batches:
            if not len(pdf):
                continue
            x = normalize_rows(
                np.nan_to_num(np.stack(pdf[emb_col].to_numpy()).astype(np.float64))
            )
            n = len(pdf)
            codes = np.empty((n, m), dtype=np.uint8)
            for j in range(m):
                xs = x[:, j * dsub : (j + 1) * dsub]
                codes[:, j] = np.argmax(xs @ books[j].T - half_norms[j], axis=1)
            raw = codes.tobytes()
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "code": [raw[i * m : (i + 1) * m] for i in range(n)],
                }
            )

    return df.select(id_col, emb_col).mapInPandas(encode, schema)


def pq_topk_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 10,
    l_id: str = "vec_id",
    r_id: str = "vec_id",
    emb_col: str = "embedding",
    codebooks=None,
    m: int = 8,
    n_codes: int = 256,
    seed: int = 1234,
    exclude_self: bool = False,
    max_broadcast_rows: int = 2_000_000,
    max_driver_code_rows: int = 2_000_000,
    rows_hint: int | None = None,
) -> DataFrame:
    """ADC top-k join: for every left row, the k highest-ADC-score right
    rows. -> (l_id, r_id, sim, rank); ``sim`` is the ADC inner-product
    ESTIMATE of cosine (database side quantized, query side exact) —
    callers needing exact scores re-rank the k survivors with
    scoring.cosine_col, which is k rows per query, not N.

    Right side travels as PQ codes in ``max_broadcast_rows`` chunks (m
    bytes per row — the 32× transport win over broadcasting vectors);
    each chunk's local top-k unions into a final per-query window merge,
    the same bounded-memory shape as topk.exact_topk_join. Kernel per
    batch: one (batch × n_codes) LUT matmul per subspace + m fancy-index
    gathers — no (batch × chunk × dim) tensor ever materializes.

    ``max_driver_code_rows`` (VERDICT r4 #3) bounds the driver collect of
    the code table: above it the call DELEGATES to the nothing-collects
    IVFADC path (ivf_pq_topk / ivf_pq_topk_join — same m/n_codes/seed;
    ``codebooks`` is retrained there, cell-probing replaces the exhaustive
    chunk scan), the same auto-gate pattern as
    config.pairing_lsh_threshold_rows. ``rows_hint`` skips the index-side
    probe when the caller knows the row count (e.g. from a checkpoint
    manifest); without a hint the collect itself is LIMIT-bounded to
    ``max_driver_code_rows + 1`` rows, so the driver never materializes an
    unbounded index even when no hint is given.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    from deepblocker_spark.operators.topk import normalize_rows

    def _delegate(n_rows: int | None) -> DataFrame:
        if exclude_self and left is right:
            return ivf_pq_topk(
                right, k, id_col=r_id, emb_col=emb_col, m=m,
                n_codes=n_codes, seed=seed, rows_hint=n_rows,
            )
        return ivf_pq_topk_join(
            left, right, k, l_id=l_id, r_id=r_id, emb_col=emb_col, m=m,
            n_codes=n_codes, seed=seed, rows_hint=n_rows,
        )

    if rows_hint is not None and rows_hint > max_driver_code_rows:
        return _delegate(rows_hint)

    if codebooks is None:
        codebooks = train_pq(
            right, id_col=r_id, emb_col=emb_col, m=m, n_codes=n_codes, seed=seed
        )
    m = codebooks.shape[0]
    spark = left.sparkSession
    books_bc = _tracked(spark.sparkContext, codebooks)

    codes_df = encode_pq(right, codebooks, id_col=r_id, emb_col=emb_col)
    # m bytes + id per row, chunk-bounded below; the LIMIT hard-bounds
    # driver memory when no rows_hint was given — one extra row proves
    # overflow, at which point the IVFADC delegate takes over
    rows = codes_df.limit(max_driver_code_rows + 1).collect()
    if len(rows) > max_driver_code_rows:
        return _delegate(None)
    l_type = left.select(l_id).schema.fields[0].dataType
    r_type = right.select(r_id).schema.fields[0].dataType
    out_schema = StructType(
        [
            StructField("l_id", l_type, True),
            StructField("r_id", r_type, True),
            StructField("sim", DoubleType(), False),
        ]
    )

    if not rows:  # empty index side: no neighbors for anyone
        return (
            left.sparkSession.createDataFrame([], out_schema)
            .withColumn("rank", F.lit(1).cast("int"))
            .limit(0)
        )
    chunks = []
    for lo in range(0, len(rows), max_broadcast_rows):
        part = rows[lo : lo + max_broadcast_rows]
        ids = np.array([r[0] for r in part])
        codes = np.frombuffer(b"".join(r[1] for r in part), dtype=np.uint8).reshape(
            len(part), m
        )
        chunks.append(_tracked(spark.sparkContext, (ids, codes)))

    def topk_kernel(chunk_bc):
        def run(batches):
            books = books_bc.value
            mm, _, dsub = books.shape
            ids, codes = chunk_bc.value
            codes_t = [codes[:, j] for j in range(mm)]
            for pdf in batches:
                if not len(pdf):
                    continue
                q = normalize_rows(
                    np.nan_to_num(
                        np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
                    )
                )
                qids = pdf[l_id].to_numpy()
                scores = np.zeros((len(pdf), len(ids)))
                for j in range(mm):
                    lut = q[:, j * dsub : (j + 1) * dsub] @ books[j].T
                    scores += lut[:, codes_t[j]]
                if exclude_self:
                    self_mask = qids[:, None] == ids[None, :]
                    scores[self_mask] = -np.inf
                kk = min(k, scores.shape[1])
                top = np.argpartition(-scores, kk - 1, axis=1)[:, :kk]
                rows_out = {
                    "l_id": np.repeat(qids, kk),
                    "r_id": ids[top.ravel()],
                    "sim": np.take_along_axis(scores, top, axis=1).ravel(),
                }
                out = pd.DataFrame(rows_out)
                yield out[np.isfinite(out["sim"])]

        return run

    parts = []
    q_side = left.select(F.col(l_id).alias(l_id), emb_col)
    for chunk_bc in chunks:
        parts.append(q_side.mapInPandas(topk_kernel(chunk_bc), out_schema))
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    w = Window.partitionBy("l_id").orderBy(F.desc("sim"), F.asc("r_id"))
    return (
        allc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def pq_topk(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    **kw,
) -> DataFrame:
    """Self-join ADC top-k (excludes the trivial self match)."""
    return pq_topk_join(
        df, df, k, l_id=id_col, r_id=id_col, emb_col=emb_col,
        exclude_self=True, **kw,
    )


def _assign_cells_pq(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    cents_bc,
    books_bc,
    nprobe: int,
    emit_home: bool,
    emit_probes: bool,
):
    """IVFADC cell assignment: role-tagged like ann._assign_cells, but the
    payload differs per role — INDEX rows (role 0, home cell) carry the
    m-byte PQ CODE, QUERY rows (role 1, nprobe closest cells) carry the
    raw f32 vector. Codes are computed inline in this same pass (broadcast
    codebooks), so there is no separate encode job or join. Self-search
    emits both roles from ONE scan."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType, IntegerType, StructField, StructType

    from deepblocker_spark.operators.topk import normalize_rows

    id_type = df.select(id_col).schema.fields[0].dataType
    schema = StructType(
        [
            StructField("_id", id_type, True),
            StructField("cell", IntegerType(), False),
            StructField("_role", IntegerType(), False),
            StructField("_emb", BinaryType(), True),
        ]
    )

    def assign(batches):
        cents = cents_bc.value
        books = books_bc.value
        m, _, dsub = books.shape
        half_norms = [0.5 * (books[j] * books[j]).sum(axis=1) for j in range(m)]
        for pdf in batches:
            if not len(pdf):
                continue
            x_arr = np.stack(pdf[emb_col].to_numpy())
            x = normalize_rows(np.nan_to_num(x_arr.astype(np.float64)))
            sims = x @ cents.T
            n = len(pdf)
            ids = pdf[id_col].to_numpy()
            frames = []
            if emit_home:
                home = np.argmax(sims, axis=1).astype(np.int32)
                codes = np.empty((n, m), dtype=np.uint8)
                for j in range(m):
                    xs = x[:, j * dsub : (j + 1) * dsub]
                    codes[:, j] = np.argmax(xs @ books[j].T - half_norms[j], axis=1)
                raw = codes.tobytes()
                frames.append(
                    pd.DataFrame(
                        {
                            "_id": ids,
                            "cell": home,
                            "_role": np.zeros(n, dtype=np.int32),
                            "_emb": [raw[i * m : (i + 1) * m] for i in range(n)],
                        }
                    )
                )
            if emit_probes:
                p = min(nprobe, sims.shape[1])
                probes = np.argpartition(-sims, p - 1, axis=1)[:, :p]
                xq = x_arr.astype(np.float32, copy=False)
                qraw = xq.tobytes()
                stride = xq.shape[1] * 4
                blobs = [qraw[i * stride : (i + 1) * stride] for i in range(n)]
                for j in range(p):
                    frames.append(
                        pd.DataFrame(
                            {
                                "_id": ids,
                                "cell": probes[:, j].astype(np.int32),
                                "_role": np.ones(n, dtype=np.int32),
                                "_emb": blobs,
                            }
                        )
                    )
            yield pd.concat(frames, ignore_index=True)

    return df.select(id_col, emb_col).mapInPandas(assign, schema)


def _adc_scorer(books_bc):
    """``grouped.cell_topk`` scorer for IVFADC: query rows carry f32
    vectors, index rows m-byte PQ codes; a (query x index) block is m
    per-subspace LUT matmuls plus fancy-index gathers over the codes. The
    cell exchange carries codes for the (unreplicated) index role — the
    nprobe-fold replication applies only to queries, and the code payload
    is 32x smaller than the f32 vector it replaces."""
    import numpy as np

    from deepblocker_spark.operators.topk import normalize_rows

    def scorer(pdf):
        books = books_bc.value
        m, _, dsub = books.shape
        blobs = pdf["_emb"].to_numpy()

        def score(q, i):
            qx = np.frombuffer(b"".join(blobs[q]), dtype=np.float32).reshape(
                len(q), -1
            )
            qx = normalize_rows(np.nan_to_num(qx.astype(np.float64)))
            codes = np.frombuffer(b"".join(blobs[i]), dtype=np.uint8).reshape(
                len(i), m
            )
            sims = np.zeros((len(q), len(i)))
            for j in range(m):
                lut = qx[:, j * dsub : (j + 1) * dsub] @ books[j].T
                sims += lut[:, codes[:, j]]
            return sims

        return score

    return scorer


def ivf_pq_topk(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_cells: int | None = None,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 256,
    seed: int = 1234,
    max_cell_rows: int = 5_000,
    rows_hint: int | None = None,
) -> DataFrame:
    """IVFADC self-search (Jégou TPAMI'11 §IV): IVF cells bound WHICH rows
    each query scores (nprobe cells of ~N/n_cells), PQ codes bound WHAT
    travels and sits in memory (m bytes per index row). -> (l_id, r_id,
    sim(ADC estimate), rank), trivial self-match excluded. One source scan
    emits both roles; same two-exchange plan as ivf_topk."""
    from deepblocker_spark.operators.ann import (
        _auto_n_cells,
        _ivf_pairs,
        _train_centroids,
    )

    spark = df.sparkSession
    n = rows_hint if rows_hint is not None else df.count()
    if n_cells is None:
        n_cells = _auto_n_cells(n)
    cents = _train_centroids(df, id_col, emb_col, n_cells, seed, rows_hint=n)
    books = train_pq(
        df, id_col=id_col, emb_col=emb_col, m=m, n_codes=n_codes,
        seed=seed + 1, rows_hint=n,
    )
    cents_bc = _tracked(spark.sparkContext, cents)
    books_bc = _tracked(spark.sparkContext, books)
    assigned = _assign_cells_pq(
        df, id_col, emb_col, cents_bc, books_bc, nprobe,
        emit_home=True, emit_probes=True,
    )
    id_type = df.select(id_col).schema.fields[0].dataType
    return _ivf_pairs(assigned, _adc_scorer(books_bc), k, id_type, True,
                      max_cell_rows)


def ivf_pq_topk_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 10,
    l_id: str = "vec_id",
    r_id: str = "vec_id",
    emb_col: str = "embedding",
    n_cells: int | None = None,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 256,
    seed: int = 1234,
    max_cell_rows: int = 5_000,
    rows_hint: int | None = None,
) -> DataFrame:
    """Dyadic IVFADC: ``right`` is the index (home cells, PQ codes),
    ``left`` is the query side (nprobe cells, f32 vectors). Centroids and
    codebooks train on the INDEX side; ``rows_hint`` skips its count."""
    from deepblocker_spark.operators.ann import (
        _auto_n_cells,
        _ivf_pairs,
        _train_centroids,
    )

    if left.select(l_id).schema.fields[0].dataType != \
            right.select(r_id).schema.fields[0].dataType:
        raise ValueError("left and right id columns must share a type")
    spark = left.sparkSession
    n = rows_hint if rows_hint is not None else right.count()
    if n_cells is None:
        n_cells = _auto_n_cells(n)
    cents = _train_centroids(right, r_id, emb_col, n_cells, seed, rows_hint=n)
    books = train_pq(
        right, id_col=r_id, emb_col=emb_col, m=m, n_codes=n_codes,
        seed=seed + 1, rows_hint=n,
    )
    cents_bc = _tracked(spark.sparkContext, cents)
    books_bc = _tracked(spark.sparkContext, books)
    idx = _assign_cells_pq(
        right, r_id, emb_col, cents_bc, books_bc, nprobe,
        emit_home=True, emit_probes=False,
    )
    qry = _assign_cells_pq(
        left, l_id, emb_col, cents_bc, books_bc, nprobe,
        emit_home=False, emit_probes=True,
    )
    assigned = idx.unionByName(qry)
    id_type = left.select(l_id).schema.fields[0].dataType
    return _ivf_pairs(assigned, _adc_scorer(books_bc), k, id_type, False,
                      max_cell_rows)


class PQVectorPairing:
    """IVFADC behind the same index/query seam as ExactTopKVectorPairing /
    LSHVectorPairing / IVFVectorPairing (the reference's
    vector_pairing_models.py:7-18 ABC): self mode when query() receives
    the indexed DataFrame itself, dyadic (train-on-index, probe-from-
    query) otherwise."""

    def __init__(self, k: int = 50, n_cells: int | None = 16, nprobe: int = 4,
                 m: int = 8, n_codes: int = 256, seed: int = 1234,
                 max_cell_rows: int = 5_000, rows_hint: int | None = None):
        self.k, self.n_cells, self.nprobe = k, n_cells, nprobe
        self.m, self.n_codes, self.seed = m, n_codes, seed
        self.max_cell_rows = max_cell_rows
        # index-side row count (e.g. from a checkpoint manifest) — skips
        # the auto-n_cells sizing count job, same as the pipeline's
        # rows_hint discipline
        self.rows_hint = rows_hint
        self.exclude_self = True  # self mode never emits self-pairs

    def index(self, right: DataFrame, r_id: str = "id", emb_col: str = "embedding"):
        self._right, self._r_id, self._emb = right, r_id, emb_col
        return self

    def query(self, left: DataFrame, l_id: str = "id",
              emb_col: str | None = None, mode: str = "auto") -> DataFrame:
        """``mode``: 'self' / 'dyadic' / 'auto' — auto falls back to OBJECT
        IDENTITY with the indexed frame (same caveat as IVFVectorPairing:
        pass mode='self' for an equal-but-distinct frame, e.g. one re-read
        from a checkpoint)."""
        if mode not in ("auto", "self", "dyadic"):
            raise ValueError(f"unknown query mode: {mode!r}")
        kw = dict(n_cells=self.n_cells, nprobe=self.nprobe, m=self.m,
                  n_codes=self.n_codes, seed=self.seed,
                  max_cell_rows=self.max_cell_rows, rows_hint=self.rows_hint)
        if mode == "self" or (mode == "auto" and left is self._right):
            return ivf_pq_topk(
                self._right, k=self.k, id_col=self._r_id,
                emb_col=emb_col or self._emb, **kw,
            )
        return ivf_pq_topk_join(
            left, self._right, k=self.k, l_id=l_id, r_id=self._r_id,
            emb_col=emb_col or self._emb, **kw,
        )
