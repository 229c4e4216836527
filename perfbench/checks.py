"""Output checks. They run outside the timed region; any violation counts the
run as failed."""

from __future__ import annotations

STAGES = ("embeddings", "candidates", "scored", "clusters")


def cluster_violations(ids, components, input_ids: set[str]) -> list[str]:
    """Violations of the (id, component) contract: every id is an input id,
    no id appears twice, and each component is the smallest id of its set."""
    problems = []
    repeated = len(ids) - len(set(ids))
    if repeated:
        problems.append(f"{repeated} cluster rows repeat an id")
    unknown = sum(1 for i in ids if i not in input_ids)
    if unknown:
        problems.append(f"{unknown} cluster ids are not input ids")
    smallest: dict[str, str] = {}
    for i, c in zip(ids, components):
        if c not in smallest or i < smallest[c]:
            smallest[c] = i
    wrong = sum(1 for c, m in smallest.items() if c != m)
    if wrong:
        problems.append(f"{wrong} components are not the smallest id of their set")
    return problems


def check_run(ckpt, clusters, input_ids: set[str]) -> list[str]:
    """All checks for one pipeline run: every stage's checkpoint verifies
    against its manifest, and the committed clusters keep the contract."""
    problems = [f"checkpoint {s} does not verify" for s in STAGES if not ckpt.verify(s)]
    pdf = clusters.select("id", "component").toPandas()
    return problems + cluster_violations(
        pdf["id"].tolist(), pdf["component"].tolist(), input_ids
    )
