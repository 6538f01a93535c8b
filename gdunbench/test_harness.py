"""Smoke test of the benchmark harness itself, at tiny sizes.

    python3 -m pytest gdunbench/test_harness.py -q

The check tests are pure pandas; the emission tests run the benchmark
command end to end (a Spark session per run, a few minutes in all).
"""

from __future__ import annotations

import json
import random
import subprocess
import sys
from itertools import combinations
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import checks  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _reference_f1(block_keys: pd.DataFrame, labeled: pd.DataFrame) -> float:
    """Pair-enumerating twin of tests/test_pipeline_f1.py's Spark query."""
    keys = block_keys.groupby("mention_id")["block_key"].apply(set).to_dict()
    lab = labeled.set_index("mention_id")
    ids = sorted(set(keys) & set(lab.index))
    tp = fp = fn = 0
    for a, b in combinations(ids, 2):
        if not keys[a] & keys[b]:
            continue
        ga, gb = lab.at[a, "true_gdun"], lab.at[b, "true_gdun"]
        pa, pb = lab.at[a, "gdun"], lab.at[b, "gdun"]
        same_pred = pa == pb and pa > 0
        tp += ga == gb and same_pred
        fp += ga != gb and same_pred
        fn += ga == gb and not same_pred
    return 2 * tp / (2 * tp + fp + fn) if tp else 0.0


def test_pairwise_f1_matches_pair_enumeration():
    rng = random.Random(11)
    n = 120
    keys = pd.DataFrame(
        [(f"m{i}", f"k{rng.randrange(15)}") for i in range(n) for _ in range(rng.randint(1, 3))],
        columns=["mention_id", "block_key"],
    )
    labeled = pd.DataFrame({
        "mention_id": [f"m{i}" for i in range(n)],
        "true_gdun": [rng.randrange(6) for _ in range(n)],
    })
    labeled["gdun"] = [g if rng.random() < 0.8 else rng.choice([-1, 0, 1, 2, 3])
                       for g in labeled["true_gdun"]]
    assert checks.pairwise_f1(keys, labeled) == pytest.approx(_reference_f1(keys, labeled))


@pytest.fixture(scope="module")
def clean():
    from gduns_name_match_spark.sources import fixtures as fx

    f = fx.generate(n_docs=80, seed=3, typos=True, n_groups=16)
    truth = pd.DataFrame(f.mention_truth)
    keys = pd.DataFrame({"mention_id": truth["mention_id"],
                         "block_key": truth["raw_name"].str.lower().str[:4]})
    decisions = pd.DataFrame({"mention_id": truth["mention_id"],
                              "gdun": truth["true_gdun"], "match_status": "matched"})
    return truth, keys, decisions


def test_clean_decisions_pass(clean):
    truth, keys, decisions = clean
    problems, f1, acc = checks.check_decisions(decisions, truth, keys)
    assert problems == [] and f1 == 1.0 and acc == 1.0


@pytest.mark.parametrize("corrupt", [
    lambda d: d.iloc[1:],                                      # a mention undecided
    lambda d: pd.concat([d, d.iloc[:1]]),                      # a duplicated row
    lambda d: d.assign(gdun=d["gdun"].where(d.index != 0)),    # a null gdun
    lambda d: d.assign(match_status=None),                     # null statuses
    lambda d: d.assign(gdun=d["gdun"].sample(frac=1, random_state=1).to_numpy()),
])
def test_corrupted_decisions_fail(clean, corrupt):
    truth, keys, decisions = clean
    problems, _, _ = checks.check_decisions(corrupt(decisions.copy()), truth, keys)
    assert problems


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--docs", "160"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_emitted_with_unit(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    section = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in section}
    for m in section:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]
