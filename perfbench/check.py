"""Correctness check of cluster assignments against golden labels.

Pair recall and precision come from the contingency table of
(cluster_id, true_cluster) counts: a cell of n docs holds C(n, 2)
co-clustered true pairs, so no pair is ever enumerated — the spam
clusters hold thousands of docs each.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd

# the north rule: true duplicates end up in one cluster
MIN_RECALL = 0.99
# merging unrelated clusters is the failure precision guards against
MIN_PRECISION = 0.9


@dataclass
class CheckResult:
    recall: float
    precision: float
    n_docs: int
    problems: list[str]

    @property
    def ok(self) -> bool:
        return not self.problems


def _pairs(sizes: pd.Series) -> int:
    s = sizes.astype("int64")
    return int((s * (s - 1) // 2).sum())


def check_assignments(assign: pd.DataFrame, labels: pd.DataFrame) -> CheckResult:
    """`assign` has (id, cluster_id); `labels` has (url, true_cluster).
    Every labelled url must be assigned exactly once, and nothing else."""
    problems = []
    n_dup_ids = int(assign["id"].duplicated().sum())
    if n_dup_ids:
        problems.append(f"{n_dup_ids} ids assigned more than once")
    m = labels[["url", "true_cluster"]].merge(
        assign[["id", "cluster_id"]].drop_duplicates("id"),
        left_on="url", right_on="id", how="left",
    )
    missing = int(m["cluster_id"].isna().sum())
    if missing:
        problems.append(f"{missing} of {len(labels)} docs have no assignment")
    extra = int((~assign["id"].isin(labels["url"])).sum())
    if extra:
        problems.append(f"{extra} assigned ids are not input docs")
    m = m.dropna(subset=["cluster_id"])
    tp = _pairs(m.groupby(["cluster_id", "true_cluster"]).size())
    gold = _pairs(labels.groupby("true_cluster").size())
    pred = _pairs(m.groupby("cluster_id").size())
    recall = tp / gold if gold else 1.0
    precision = tp / pred if pred else (1.0 if gold == 0 else 0.0)
    if recall < MIN_RECALL:
        problems.append(f"dup_pair_recall {recall:.4f} < {MIN_RECALL}")
    if precision < MIN_PRECISION:
        problems.append(f"dup_pair_precision {precision:.4f} < {MIN_PRECISION}")
    return CheckResult(recall, precision, len(labels), problems)
