"""Sort-based grouped map: a scale- and overhead-friendly replacement for
``groupBy().applyInPandas()`` when groups are small and numerous.

``applyInPandas`` materializes every group as its own Arrow batch and Python
function call — at ~32k buckets per LSH job that is tens of seconds of pure
per-group overhead (measured: the per-bucket stage dominated wall-clock while
each bucket's matmul was microseconds). Here the same hash shuffle is
expressed as repartition(key) + sortWithinPartitions(key), and ONE
mapInPandas kernel receives frames holding MANY complete groups: per-group
cost collapses to a numpy slice. The kernel contract:

    kernel(pdf) -> pd.DataFrame

where ``pdf`` contains only whole groups (each key's rows contiguous, keys
sorted). Groups spanning Arrow batch boundaries are stitched by buffering
the trailing partial group between batches — correctness does not depend on
Arrow batch sizing.

At 100 TB this shape is strictly better than applyInPandas: identical
shuffle volume, identical skew behavior (same hash partitioning), but the
Python boundary is crossed once per ~10k rows instead of once per group.

``cell_topk`` is the one partition -> local top-K -> merge skeleton behind
every bucketed ANN path (LSH self and dyadic, IVF-flat, IVFADC). Its
contract, stated once here:

  * ``cells`` holds one row per (vector, cell) assignment: the cell key
    columns, ``_id``, the payload the scorer reads and — unless the join
    is a self-join — ``_role`` (1 = query row, 0 = index row). Hot cells
    are fanned out beforehand by ``grid_salt_split``, whose ``salt_q`` /
    ``salt_i`` columns then belong to the key.
  * ``scorer(pdf) -> score`` runs once per kernel frame (whole groups,
    keys sorted), so it decodes the frame in one pass; ``score(q, i)``
    returns the float64 (len(q), len(i)) similarity block of query rows
    ``q`` against index rows ``i`` (a slice or integer positions in pdf).
  * Per group, a self-join scores the group against itself and keeps each
    row's top-(k+1) minus the diagonal; otherwise query x index rows, with
    equal ids masked to -inf when ``mask_equal_ids``, keeping top-k.
  * The kernel's whole-frame output is reduced to a local per-query top-k
    (``_dedup_topk``: keep-max dedup, (sim desc, r_id asc)), filtered by
    ``min_sim`` and packed (``pack_topk``); one ``topk_per_key`` merge
    exchange yields (l_id, r_id, sim, rank). Two exchanges total.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grouped_map_in_pandas(
    df: DataFrame,
    key_cols: list[str],
    kernel,
    out_schema,
    num_partitions: int | None = None,
    sort_side: str = "python",
) -> DataFrame:
    """``sort_side`` picks where rows are grouped after the hash exchange:

    - ``"python"`` (default): the exchange is a BARE repartition — no JVM
      ``sortWithinPartitions`` — and the kernel runner buffers its whole
      partition, orders it with one numpy lexsort on the (int) key columns,
      and calls the kernel once. Profiling the 240k-row LSH scaling job
      showed the Tungsten sort dominating the kernel stage's JVM CPU
      (~150 CPU-s at 8 cores for ~1.9M rows × ~290 B incl. embeddings, and
      it is exactly this CPU that inflates ~1.7x under 8-core memory-bus
      contention), while the equivalent numpy lexsort of the same
      partition's int keys is milliseconds — the JVM was sorting wide rows
      so Python could slice groups it could have sorted itself. Memory
      bound: one partition decoded in one worker (~3x the partition's raw
      bytes); size partitions accordingly (AQE advisory 16m keeps this
      tens of MB).
    - ``"jvm"``: previous behavior — Tungsten sorts within partitions and
      the runner streams Arrow batches, buffering only the trailing
      partial group. Use when partitions are too large to buffer whole.
    """
    part = (
        df.repartition(*key_cols)
        if num_partitions is None
        else df.repartition(num_partitions, *key_cols)
    )
    keys = list(key_cols)
    if sort_side == "python":

        def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            chunks = [pdf for pdf in batches if len(pdf)]
            if not chunks:
                return
            pdf = (
                chunks[0]
                if len(chunks) == 1
                else pd.concat(chunks, ignore_index=True)
            )
            del chunks
            cols = [pdf[k].to_numpy() for k in reversed(keys)]
            order = np.lexsort(cols)
            if len(order) and not (np.diff(order) == 1).all():
                pdf = pdf.take(order).reset_index(drop=True)
            out = kernel(pdf)
            if out is not None and len(out):
                yield out

        return part.mapInPandas(runner, out_schema)

    part = part.sortWithinPartitions(*key_cols)

    def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: pd.DataFrame | None = None
        for pdf in batches:
            if buf is not None and len(buf):
                pdf = pd.concat([buf, pdf], ignore_index=True)
            buf = None
            if not len(pdf):
                continue
            # the trailing group may continue in the next batch: hold it back
            last = pdf[keys].iloc[-1].to_numpy()
            tail_mask = (pdf[keys].to_numpy() == last).all(axis=1)
            not_tail = np.nonzero(~tail_mask)[0]
            cut = (not_tail[-1] + 1) if len(not_tail) else 0
            buf = pdf.iloc[cut:].reset_index(drop=True)
            head = pdf.iloc[:cut]
            if len(head):
                out = kernel(head)
                if out is not None and len(out):
                    yield out
        if buf is not None and len(buf):
            out = kernel(buf)
            if out is not None and len(out):
                yield out

    return part.mapInPandas(runner, out_schema)


def group_slices(pdf: pd.DataFrame, key_cols: list[str]):
    """Yield (start, stop) row slices of each contiguous key group in a
    frame produced by grouped_map_in_pandas (keys sorted/contiguous)."""
    if not len(pdf):
        return
    keys = pdf[key_cols].to_numpy()
    change = np.any(keys[1:] != keys[:-1], axis=1)
    starts = np.concatenate([[0], np.nonzero(change)[0] + 1, [len(pdf)]])
    for a, b in zip(starts[:-1], starts[1:]):
        yield int(a), int(b)


def _dedup_topk(
    pdf: pd.DataFrame, k: int, key: str, other: str, sim: str, with_rank: bool
) -> pd.DataFrame:
    """Shared reduction for topk_per_key's combiner and merge kernels: dedup
    (key, other) keeping MAX sim, then top-k per key by (sim desc, other
    asc). Fully vectorized: one lexsort for dedup, one for ranking, no
    per-group Python loop."""
    l = pdf[key].to_numpy()
    r = pdf[other].to_numpy()
    s = pdf[sim].to_numpy()
    # factorize string ids to int codes: np.unique returns lexically
    # sorted uniques, so code order == string order and every sort /
    # comparison below runs on ints instead of Python string objects
    l_uniq = r_uniq = None
    if l.dtype == object:
        l_uniq, l = np.unique(l, return_inverse=True)
    if r.dtype == object:
        r_uniq, r = np.unique(r, return_inverse=True)
    # dedup (key, other) pairs (same pair found in >1 bucket), keeping
    # the MAX sim deterministically — sims of a duplicated pair are
    # normally identical (same vectors), but floating context can
    # differ, and keep-max is the defensible contract
    order = np.lexsort((-s, r, l))
    l, r, s = l[order], r[order], s[order]
    keep = np.ones(len(l), dtype=bool)
    keep[1:] = (l[1:] != l[:-1]) | (r[1:] != r[:-1])
    l, r, s = l[keep], r[keep], s[keep]
    # rank by (key asc, sim desc, other asc); cumcount via group starts
    order = np.lexsort((r, -s, l))
    l, r, s = l[order], r[order], s[order]
    new_grp = np.concatenate([[True], l[1:] != l[:-1]])
    starts = np.nonzero(new_grp)[0]
    sizes = np.diff(np.concatenate([starts, [len(l)]]))
    rank = np.arange(len(l)) - np.repeat(starts, sizes) + 1
    m = rank <= k
    l_out = l_uniq[l[m]] if l_uniq is not None else l[m]
    r_out = r_uniq[r[m]] if r_uniq is not None else r[m]
    out = {key: l_out, other: r_out, sim: s[m]}
    if with_rank:
        out["rank"] = rank[m].astype(np.int32)
    return pd.DataFrame(out)


def pack_topk(out: pd.DataFrame, key: str, other: str, sim: str) -> pd.DataFrame:
    """Pack ``_dedup_topk`` output (key-contiguous, rank-ordered) into ONE
    row per key with parallel (other, sim) arrays — the combiner's packed
    transport. The merge exchange then carries ~k-element array rows
    instead of k scalar rows per (key, producing partition): same payload,
    ~k-fold fewer rows, which is exactly the per-row shuffle/Arrow
    overhead the 240k profile showed inflating under bus contention
    (stage_profile: merge CPU 36 -> 67 CPU-s from 2 to 8 cores on 14.4M
    scalar rows). Unpacking restores the identical row set, so results
    are bit-identical."""
    l = out[key].to_numpy()
    if not len(l):
        return pd.DataFrame({key: [], "_r": [], "_s": []})
    new_grp = np.concatenate([[True], l[1:] != l[:-1]])
    starts = np.nonzero(new_grp)[0]
    ends = np.concatenate([starts[1:], [len(l)]])
    r = out[other].to_numpy()
    s = out[sim].to_numpy()
    return pd.DataFrame(
        {
            key: l[starts],
            "_r": [r[a:b] for a, b in zip(starts, ends)],
            "_s": [s[a:b] for a, b in zip(starts, ends)],
        }
    )


def _unpack_topk(pdf: pd.DataFrame, key: str, other: str, sim: str) -> pd.DataFrame:
    """Inverse of ``pack_topk`` for one Arrow batch."""
    rs = pdf["_r"].to_numpy()
    sizes = np.fromiter((len(x) for x in rs), dtype=np.int64, count=len(rs))
    if not sizes.sum():
        return pd.DataFrame({key: [], other: [], sim: []})
    return pd.DataFrame(
        {
            key: np.repeat(pdf[key].to_numpy(), sizes),
            other: np.concatenate(rs),
            sim: np.concatenate(pdf["_s"].to_numpy()),
        }
    )


def topk_per_key(
    pairs: DataFrame,
    k: int,
    key: str = "l_id",
    other: str = "r_id",
    sim: str = "sim",
    num_partitions: int | None = None,
    pre_combine: bool = True,
    combine_buffer_rows: int = 2_000_000,
    packed_input: bool = False,
) -> DataFrame:
    """Dedup (key, other) pairs and keep the top-k per key by (sim desc,
    other asc), attaching rank — the fused, single-shuffle replacement for
    ``dropDuplicates([key, other])`` + window row_number (two shuffles).

    ``pre_combine`` (VERDICT r3 #3, the map-side combiner analogue): before
    the merge shuffle on ``key``, a NARROW mapInPandas pass reduces each
    producing partition's pairs to its local per-key top-k (same dedup +
    ordering as the merge kernel, rank withheld). This is exactly Spark's
    map-side partial aggregation shape: the exchange then carries at most
    one local top-k per (key, producing-partition) instead of every
    surviving bucket pair (~n_bands x k rows per key on the LSH path). It
    never changes the result: a pair cut by a local top-k is dominated by
    >= k distinct pairs from the same partition that all reach the merge,
    so it could not be in the global top-k (duplicate copies of a pair
    carry bit-identical sims — same two normalized vectors — so keep-max
    dedup is unaffected by which copy survives). The combiner buffers at
    most ``combine_buffer_rows`` before compacting, bounding worker memory
    independent of partition size.

    The merge itself needs NO sort exchange: after repartition(key) every
    key's rows are complete within one partition, and ``_dedup_topk``
    lexsorts internally — so the merge is a bare hash exchange + one
    partition-wide reduce, with no JVM Tungsten sortWithinPartitions
    (previously the exchange's ~n_bands x k rows per key were fully sorted
    JVM-side only to be lexsorted AGAIN in Python). The reduce is
    associative (top-k of unioned top-ks = global top-k once all of a
    key's rows are present), so the same compaction bound applies."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    if packed_input:
        # pairs carries (key, _r array, _s array) produced by pack_topk —
        # a combiner already ran (inside the producing kernel), so there
        # is nothing left for pre_combine to reduce
        assert not pre_combine, "packed_input implies a fused combiner"
        narrow = pairs
        key_field = pairs.schema[key]
        other_type = pairs.schema["_r"].dataType.elementType
        out_schema = StructType(
            [
                key_field,
                StructField(other, other_type, True),
                StructField(sim, DoubleType(), False),
                StructField("rank", IntegerType(), False),
            ]
        )
    else:
        narrow = pairs.select(key, other, sim)
        out_schema = StructType(
            list(narrow.schema.fields)
            + [StructField("rank", IntegerType(), False)]
        )

    def make_runner(with_rank: bool):
        def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            buf: list[pd.DataFrame] = []
            nrows, compacted = 0, False
            for pdf in batches:
                if not len(pdf):
                    continue
                if packed_input:
                    pdf = _unpack_topk(pdf, key, other, sim)
                buf.append(pdf)
                nrows += len(pdf)
                compacted = False
                if nrows >= combine_buffer_rows:
                    buf = [
                        _dedup_topk(
                            pd.concat(buf, ignore_index=True), k, key, other,
                            sim, with_rank=False,
                        )
                    ]
                    nrows, compacted = len(buf[0]), True
            if buf:
                out = (
                    buf[0]
                    if compacted and len(buf) == 1 and not with_rank
                    else _dedup_topk(
                        pd.concat(buf, ignore_index=True), k, key, other, sim,
                        with_rank=with_rank,
                    )
                )
                if len(out):
                    yield out

        return runner

    if pre_combine:
        narrow = narrow.mapInPandas(make_runner(False), narrow.schema)
    part = (
        narrow.repartition(key)
        if num_partitions is None
        else narrow.repartition(num_partitions, key)
    )
    return part.mapInPandas(make_runner(True), out_schema)


def grid_salt_split(frame: DataFrame, key_cols: list[str], max_rows: int) -> DataFrame:
    """SQ x SI grid split of the oversized cells of a role-tagged frame
    (``key_cols``, ``_id``, ``_role``, payload) -> the same rows plus
    ``salt_q`` / ``salt_i``. A cell whose query or index role exceeds
    ``max_rows`` fans out into (cell, salt_q, salt_i) tasks with
    SQ = ceil(n_query/max_rows) and SI = ceil(n_index/max_rows): each
    query row lands in its hash split salt_q and is replicated across all
    SI index splits (index rows symmetrically), so every (query, index)
    pair of the cell is examined exactly once — bounded tasks, ZERO recall
    loss vs the unsplit cell. The oversized list (tiny by construction) is
    collected from a narrow projection and re-injected as a broadcast;
    healthy cells keep literal-zero salts, so when nothing is oversized
    the plan has no join. ``frame`` should be persisted: it is consumed
    twice (size agg + kernel)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    over = (
        frame.select(*key_cols, "_role")
        .groupBy(*key_cols)
        .agg(
            F.sum(F.when(F.col("_role") == 1, 1).otherwise(0)).alias("nq"),
            F.sum(F.when(F.col("_role") == 0, 1).otherwise(0)).alias("ni"),
        )
        .filter((F.col("nq") > max_rows) | (F.col("ni") > max_rows))
        .collect()
    )
    if not over:
        return frame.select(
            "*", F.lit(0).alias("salt_q"), F.lit(0).alias("salt_i")
        )
    ceil = lambda n: max(1, -(-int(n) // max_rows))  # noqa: E731
    splits = frame.sparkSession.createDataFrame(
        [(*(r[c] for c in key_cols), ceil(r["nq"]), ceil(r["ni"])) for r in over],
        StructType(
            [frame.schema[c] for c in key_cols]
            + [
                StructField("_sq", IntegerType(), False),
                StructField("_si", IntegerType(), False),
            ]
        ),
    )
    is_q = F.col("_role") == 1
    return (
        frame.join(F.broadcast(splits), key_cols, "left")
        .withColumn("_own", F.coalesce(F.when(is_q, F.col("_sq")).otherwise(F.col("_si")), F.lit(1)))
        .withColumn("_other", F.coalesce(F.when(is_q, F.col("_si")).otherwise(F.col("_sq")), F.lit(1)))
        .withColumn("_my", F.pmod(F.xxhash64(F.col("_id")), F.col("_own")).cast("int"))
        .withColumn(
            "_rep",
            F.explode(F.sequence(F.lit(0), (F.col("_other") - 1).cast("int"))),
        )
        .select(
            *frame.columns,
            F.when(is_q, F.col("_my")).otherwise(F.col("_rep")).alias("salt_q"),
            F.when(is_q, F.col("_rep")).otherwise(F.col("_my")).alias("salt_i"),
        )
    )


def cell_topk(
    cells: DataFrame,
    key_cols: list[str],
    scorer,
    k: int,
    l_type,
    r_type=None,
    self_join: bool = False,
    mask_equal_ids: bool = False,
    min_sim: float | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-cell exact top-k over ``cells`` grouped by ``key_cols``, merged
    into a global per-query top-k -> (l_id, r_id, sim, rank). See the
    module docstring for the contract; ``l_type`` / ``r_type`` are the
    query / index id types (``r_type`` defaults to ``l_type``)."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    pair_schema = StructType(
        [
            StructField("l_id", l_type, True),
            StructField("_r", ArrayType(r_type or l_type), True),
            StructField("_s", ArrayType(DoubleType()), True),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        score = scorer(pdf)
        ids = pdf["_id"].to_numpy()
        roles = None if self_join else pdf["_role"].to_numpy()
        out_l, out_r, out_s = [], [], []
        for a, b in group_slices(pdf, key_cols):
            if self_join:
                if b - a < 2:
                    continue
                q = i = slice(a, b)
            else:
                g = roles[a:b]
                q = np.nonzero(g == 1)[0] + a
                i = np.nonzero(g == 0)[0] + a
                if not len(q) or not len(i):
                    continue
            qids, iids = ids[q], ids[i]
            sims = score(q, i)
            nq, ni = sims.shape
            if self_join:
                # top-(k+1) incl. self, then drop the diagonal
                take = min(k, ni - 1) + 1
                part = np.argpartition(-sims, take - 1, axis=1)[:, :take]
            else:
                if mask_equal_ids:
                    sims[qids[:, None] == iids[None, :]] = -np.inf
                take = min(k, ni)
                part = (
                    np.argpartition(-sims, take - 1, axis=1)[:, :take]
                    if take < ni
                    else np.broadcast_to(np.arange(ni), sims.shape)
                )
            rows = np.repeat(np.arange(nq), take)
            cols = part.ravel()
            s = sims[rows, cols]
            keep = rows != cols if self_join else s > -np.inf
            out_l.append(qids[rows[keep]])
            out_r.append(iids[cols[keep]])
            out_s.append(s[keep])
        if not out_l:
            return pd.DataFrame({"l_id": [], "_r": [], "_s": []})
        # map-side combiner fused into the kernel call: the python-sort
        # grouped map hands the kernel its whole partition, so this IS the
        # per-partition local top-k, with no extra Arrow round-trip
        local = _dedup_topk(
            pd.DataFrame(
                {
                    "l_id": np.concatenate(out_l),
                    "r_id": np.concatenate(out_r),
                    "sim": np.concatenate(out_s),
                }
            ),
            k, "l_id", "r_id", "sim", with_rank=False,
        )
        if min_sim is not None:
            # commutes with the merge's dedup + top-k
            local = local[local["sim"].to_numpy() >= min_sim]
        return pack_topk(local, "l_id", "r_id", "sim")

    pairs = grouped_map_in_pandas(
        cells, key_cols, kernel, pair_schema, num_partitions=num_partitions
    )
    return topk_per_key(pairs, k, pre_combine=False, packed_input=True)
