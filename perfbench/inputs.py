"""Benchmark inputs: the repo-file table written as parquet, and its golden
pairs, both made from the workload seed.

The table comes from ``deepblocker_spark.fixtures.repo_file_table``. The
parquet file holds only the program's input columns; the hidden ``_cluster``
label stays here and becomes the golden pair set. Row ids are recomputed with
``hashlib`` (sha256 over repo, path and commit joined by the unit
separator), independently of the Spark-side derivation they are checked
against.
"""

from __future__ import annotations

import hashlib
from itertools import combinations

from deepblocker_spark.fixtures import repo_file_table

INPUT_COLUMNS = ["repo", "path", "commit", "lang", "content"]
UNIT_SEP = "\x1f"


def durable_id(repo: str, path: str, commit: str) -> str:
    return hashlib.sha256(UNIT_SEP.join((repo, path, commit)).encode()).hexdigest()


def write_input(path: str, n_clusters: int, seed: int) -> tuple[list[str], list[tuple[str, str]]]:
    """Write the table to ``path`` -> (row ids, golden pairs as (a, b), a < b)."""
    pdf, _ = repo_file_table(n_clusters=n_clusters, max_dups=5, seed=seed)
    ids = [durable_id(r, p, c) for r, p, c in zip(pdf["repo"], pdf["path"], pdf["commit"])]
    if len(set(ids)) != len(ids):
        raise ValueError(f"seed {seed}: generated table repeats a durable id")
    pdf[INPUT_COLUMNS].to_parquet(path, index=False)
    members: dict[int, list[str]] = {}
    for i, c in zip(ids, pdf["_cluster"]):
        members.setdefault(int(c), []).append(i)
    gold = [
        (min(a, b), max(a, b))
        for ids_c in members.values()
        for a, b in combinations(ids_c, 2)
    ]
    return ids, gold
