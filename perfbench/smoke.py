"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py            # checks + tiny dupdense_web runs
    python3 perfbench/smoke.py --all      # tiny runs of every workload

1. The correctness check accepts the golden assignment and rejects
   corrupted ones (merged clusters, split clusters, a missing doc, a
   doubly assigned doc, a foreign id).
2. BENCHMARK.json names exactly the metrics, units and directions of
   perfbench/metrics.py, and its workloads are the ones run.py knows.
3. Tiny-corpus runs print every named metric with its unit, and a run
   whose assignments are corrupted reports correct=false and exits
   non-zero.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import pandas as pd  # noqa: E402

from perfbench import corpus, metrics  # noqa: E402
from perfbench.check import check_assignments  # noqa: E402


def check_the_check() -> None:
    _, labels = corpus.dupdense(seed=7, n_families=40, n_spam=30)
    gold = labels.rename(columns={"url": "id", "true_cluster": "cluster_id"})[["id", "cluster_id"]]
    res = check_assignments(gold, labels)
    assert res.ok and res.recall == 1.0 and res.precision == 1.0, res

    merged = gold.assign(cluster_id=0)
    assert not check_assignments(merged, labels).ok, "merging every cluster must fail"
    split = gold.assign(cluster_id=range(len(gold)))
    assert not check_assignments(split, labels).ok, "splitting every cluster must fail"
    spam = labels["true_cluster"] == -1
    half = gold.copy()
    half.loc[spam[spam].index[::2], "cluster_id"] = -99
    assert not check_assignments(half, labels).ok, "splitting a spam cluster must fail"
    assert not check_assignments(gold.iloc[1:], labels).ok, "a missing doc must fail"
    assert not check_assignments(pd.concat([gold, gold.iloc[:1]]), labels).ok, "a doubled id must fail"
    foreign = pd.concat([gold, pd.DataFrame({"id": ["https://nowhere.example/x"], "cluster_id": [1]})])
    assert not check_assignments(foreign, labels).ok, "a foreign id must fail"

    # the seed changes texts and urls, not just order
    a, _ = corpus.dupdense(seed=1, n_families=5, n_spam=3)
    b, _ = corpus.dupdense(seed=2, n_families=5, n_spam=3)
    c, _ = corpus.dupdense(seed=1, n_families=5, n_spam=3)
    assert a.equals(c), "one seed must give identical inputs"
    assert not set(a["url"]) & set(b["url"]), "urls must change with the seed"
    assert set(a["text"][:20]) != set(b["text"][:20]), "texts must change with the seed"
    print("check: ok")


def check_benchmark_json() -> None:
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {n: w.why for n, w in WORKLOADS.items()}
    for key, table in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        got = {m["name"]: (m["unit"], m["better"]) for m in spec[key]}
        assert got == table, f"{key} differs from metrics.py: {set(got) ^ set(table)}"
    print("BENCHMARK.json: ok")


def tiny_run(workload: str, trace: int, corrupt: bool = False) -> tuple[int, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    if p.returncode and not corrupt:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, result


def check_run(workload: str, trace: int) -> None:
    rc, result = tiny_run(workload, trace)
    assert rc == 0, f"{workload} trace={trace} exited {rc}"
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    table = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert set(result["metrics"]) == set(table), set(result["metrics"]) ^ set(table)
    for name, m in result["metrics"].items():
        assert m["unit"] == table[name][0], (name, m)
        assert isinstance(m["value"], (int, float)), (name, m)
    print(f"run {workload} trace={trace}: ok")


def check_corrupt_run(workload: str) -> None:
    rc, result = tiny_run(workload, 0, corrupt=True)
    assert rc != 0, "a corrupted assignment must exit non-zero"
    assert result.get("correct") is False and result.get("failed", 0) >= 1, result
    print(f"corrupted run {workload}: rejected, ok")


def main() -> int:
    from perfbench.workloads import WORKLOADS

    check_the_check()
    check_benchmark_json()
    names = list(WORKLOADS) if "--all" in sys.argv else ["dupdense_web"]
    for name in names:
        check_run(name, 0)
        check_run(name, 1)
    check_corrupt_run("dupdense_web")
    print("smoke: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
