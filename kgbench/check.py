"""Output check of one committed triple table, read with pyarrow (no Spark,
so checking neither perturbs nor trusts the engine under test).

- ``mention_p`` / ``mention_r``: committed ``denotes`` triples against the
  planted golden mentions, keyed by (conv_id, turn_idx, begin, end); a
  triple is correct when its concept is in the planted mention's accepted
  set (its shared-synonym component);
- ``structure``: exact count of rdf:type / isPartOf / hasRole / usedTool
  triples;
- ``digest``: order-independent multiset digest of every committed row.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

KGP = "http://purl.org/kgpipe/"
DENOTES = KGP + "denotes"
STRUCTURE = {
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
    "http://purl.org/dc/terms/isPartOf",
    KGP + "hasRole",
    KGP + "usedTool",
}
COLUMNS = ["subj", "pred", "obj", "conv_id", "turn_idx",
           "evidence.begin", "evidence.end", "evidence.text"]
MIN_PR = 0.95


def committed_dir(path: str) -> str:
    """The directory holding the committed table: *path* itself, or the
    snapshot that its ``_latest`` pointer names."""
    ptr = os.path.join(path, "_latest")
    if os.path.exists(ptr):
        with open(ptr) as fh:
            return os.path.join(path, fh.read().strip())
    return path


def read_triples(path: str) -> pd.DataFrame:
    table = pq.read_table(committed_dir(path)).flatten()
    return table.select(COLUMNS).to_pandas()


def digest(df: pd.DataFrame) -> str:
    h = pd.util.hash_pandas_object(df[COLUMNS], index=False).to_numpy()
    return f"{len(df)}:{int(h.sum(dtype=np.uint64)):016x}"


def golden_index(golden) -> dict[tuple, tuple]:
    return {(c, t, b, e): accepted for c, t, b, e, _s, accepted in golden}


def check(df: pd.DataFrame, gold: dict[tuple, tuple],
          n_structure: int) -> dict:
    den = df[df["pred"] == DENOTES]
    hit = set()
    tp = 0
    for key, obj in zip(
        zip(den["conv_id"], den["turn_idx"], den["evidence.begin"],
            den["evidence.end"]),
        den["obj"],
    ):
        key = (key[0], int(key[1]), int(key[2]), int(key[3]))
        accepted = gold.get(key)
        if accepted is not None and obj in accepted:
            tp += 1
            hit.add(key)
    p = tp / len(den) if len(den) else 0.0
    r = len(hit) / len(gold) if gold else 0.0
    structure = int(df["pred"].isin(STRUCTURE).sum())
    problems = []
    if p < MIN_PR or r < MIN_PR:
        problems.append(f"mention P={p:.4f} R={r:.4f} below {MIN_PR}")
    if structure != n_structure:
        problems.append(f"{structure} structure triples, expected {n_structure}")
    return {"p": p, "r": r, "digest": digest(df), "problems": problems}
