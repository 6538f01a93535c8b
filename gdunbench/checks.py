"""Correctness checks on decision rows against fixture truth.

Pure pandas: the benchmark collects each decision frame once and every check
here runs on the driver, outside the timed regions.

``pairwise_f1`` reproduces the gate in tests/test_pipeline_f1.py — labeled
(non-ambiguous) mention pairs that share at least one block key, scored on
whether both members got the same positive GDUN — without materializing the
pair list: by inclusion-exclusion over shared key subsets, a pair whose
shared key set is S is counted sum_{T ⊆ S, T ≠ ∅} (-1)^(|T|+1) = 1 times.
"""

from __future__ import annotations

from itertools import combinations

import pandas as pd

# Tripwires for corrupted output, well under the values these corpora
# measure (F1 ~0.98-0.99, accuracy ~0.99); the measured values are reported
# as metrics, so a smaller regression still shows there.
MIN_PAIRWISE_F1 = 0.95
MIN_GDUN_ACCURACY = 0.95


def _pairs(n: pd.Series) -> pd.Series:
    return n * (n - 1) // 2


def pairwise_f1(block_keys: pd.DataFrame, labeled: pd.DataFrame) -> float:
    """block_keys: (mention_id, block_key); labeled: (mention_id, true_gdun,
    gdun) for the non-ambiguous mentions that have a decision."""
    keys = block_keys.dropna(subset=["block_key"]).drop_duplicates()
    keys = keys[keys["mention_id"].isin(labeled["mention_id"])]
    rows = []
    for mid, ks in keys.groupby("mention_id")["block_key"]:
        ks = sorted(ks)
        for r in range(1, len(ks) + 1):
            for sub in combinations(ks, r):
                rows.append((mid, "\x1f".join(sub), 1 if r % 2 else -1))
    if not rows:
        return 0.0
    subsets = pd.DataFrame(rows, columns=["mention_id", "subset", "sign"])
    lab = labeled[["mention_id", "true_gdun", "gdun"]].copy()
    lab["gdun"] = lab["gdun"].fillna(0)
    m = subsets.merge(lab, on="mention_id")
    sign = m.groupby("subset")["sign"].first()

    def same(cols: list[str], frame: pd.DataFrame) -> pd.Series:
        per = _pairs(frame.groupby(["subset", *cols]).size())
        return per.groupby(level="subset").sum().reindex(sign.index, fill_value=0)

    pos = m[m["gdun"] > 0]
    same_truth = same(["true_gdun"], m)
    same_pred = same(["gdun"], pos)
    same_both = same(["true_gdun", "gdun"], pos)
    tp = int((sign * same_both).sum())
    fp = int((sign * (same_pred - same_both)).sum())
    fn = int((sign * (same_truth - same_both)).sum())
    return 2 * tp / (2 * tp + fp + fn) if tp else 0.0


def gdun_accuracy(labeled: pd.DataFrame) -> float:
    if labeled.empty:
        return 0.0
    return float((labeled["gdun"] == labeled["true_gdun"]).mean())


def labeled_rows(decisions: pd.DataFrame, truth: pd.DataFrame) -> pd.DataFrame:
    lab = truth.loc[~truth["ambiguous"], ["mention_id", "true_gdun"]]
    return lab.merge(decisions[["mention_id", "gdun"]], on="mention_id")


def check_decisions(
    decisions: pd.DataFrame, truth: pd.DataFrame, block_keys: pd.DataFrame
) -> tuple[list[str], float, float]:
    """Check one decision frame against the truth rows of the mentions it
    should cover. Returns (problems, pairwise_f1, gdun_accuracy); an empty
    problem list means the frame passed."""
    problems = []
    ids = decisions["mention_id"]
    if len(decisions) != len(truth):
        problems.append(f"{len(decisions)} decision rows for {len(truth)} mentions")
    if ids.duplicated().any():
        problems.append(f"{int(ids.duplicated().sum())} duplicate mention_id rows")
    missing = set(truth["mention_id"]) - set(ids)
    extra = set(ids) - set(truth["mention_id"])
    if missing or extra:
        problems.append(f"{len(missing)} mentions undecided, {len(extra)} unknown ids")
    for col in ("gdun", "match_status"):
        n_null = int(decisions[col].isna().sum())
        if n_null:
            problems.append(f"{n_null} null {col}")
    labeled = labeled_rows(decisions, truth)
    f1 = pairwise_f1(block_keys, labeled)
    acc = gdun_accuracy(labeled)
    if f1 < MIN_PAIRWISE_F1:
        problems.append(f"pairwise F1 {f1:.4f} < {MIN_PAIRWISE_F1}")
    if acc < MIN_GDUN_ACCURACY:
        problems.append(f"gdun accuracy {acc:.4f} < {MIN_GDUN_ACCURACY}")
    return problems, f1, acc
