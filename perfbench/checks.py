"""Correctness checks of one pass's clusters against the planted truth.

Read straight from the checkpoint's ``clusters`` parquet with pyarrow, so
a check adds no Spark job and runs outside the timed region.
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq

#: a pass whose planted-pair recall falls below this counts as failed
MIN_RECALL = 0.99


def check_clusters(clusters_dir: Path, truth: dict, clip_ids: set[str]) -> dict:
    """Recall of planted positives, plus the hard rules: every input clip is
    assigned exactly once, every exact pair shares a cluster, and no planted
    below-gate negative is merged."""
    t = pq.read_table(clusters_dir, columns=["clip_id", "cluster_id"])
    ids = t.column("clip_id").to_pylist()
    assign = dict(zip(ids, t.column("cluster_id").to_pylist()))
    complete = len(ids) == len(assign) and set(assign) == clip_ids

    def same(pair: list[str]) -> bool:
        a, b = (assign.get(c) for c in pair)
        return a is not None and a == b

    pos = truth["positives"]
    recall = sum(map(same, pos)) / len(pos)
    exact_ok = all(map(same, truth["exact"]))
    merged_negatives = sum(map(same, truth["negatives"]))
    return {
        "recall": recall,
        "complete": complete,
        "exact_ok": exact_ok,
        "merged_negatives": merged_negatives,
        "ok": complete and exact_ok and merged_negatives == 0 and recall >= MIN_RECALL,
    }
