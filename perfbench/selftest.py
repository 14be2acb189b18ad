"""Self-test of the benchmark at a tiny corpus.

    python3 perfbench/selftest.py

Checks that
- every workload, untraced and traced, exits 0 and prints as its last
  line a result whose metric names and units are exactly those declared
  in BENCHMARK.json for that mode;
- the golden gate passes the golden sets and trips when one violation row
  is dropped (full decode), a row outside the goldens appears (triage) or
  every row is stored twice;
- run.py exits non-zero without a result in a directory that holds only
  BENCHMARK.json and the benchmark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = ["--seed", "5", "--seconds", "1", "--clips", "300"]


def check_gate() -> None:
    from nadeefiler_spark import datagen
    from perfbench import gate

    def row(rule, clip_id):
        stage = "audio" if rule in gate.DECODE_RULES else "constraints"
        return {"rule": rule, "clip_id": clip_id, "stage": stage}

    def written(rows):
        return dict(Counter(r["stage"] for r in rows))

    golden = datagen.golden_violations(datagen.GenConfig(n_rows=300, seed=5))
    rows = [row(r, c) for r, ids in golden.items() for c in sorted(ids)]
    rows.append({"rule": gate.DRIFT_RULE, "clip_id": "*", "stage": "drift"})
    assert not gate.mismatches(rows, golden, False, written(rows))
    assert not gate.mismatches(rows, golden, True, written(rows))
    assert gate.mismatches(rows + rows[:1], golden, False, written(rows)), "extra copy not caught"
    for i, r in enumerate(rows[:-1]):
        # a dropped row must trip the sets, not only the row count
        dropped = rows[:i] + rows[i + 1:]
        assert gate.mismatches(dropped, golden, False, written(dropped)), \
            f"drop of {r} not caught"
        if r["rule"] not in gate.DECODE_RULES:
            assert gate.mismatches(dropped, golden, True, written(dropped)), \
                f"drop of {r} not caught"
    for rule in (*gate.DECODE_RULES, gate.TRIAGE_RULE):
        extra = rows + [row(rule, "clip-not-planted")]
        assert gate.mismatches(extra, golden, True, written(extra)), f"extra {rule} row not caught"


def check_runs(declared: dict) -> None:
    for workload in (w["name"] for w in declared["workloads"]):
        for trace, section in (("0", "end_to_end"), ("1", "per_layer")):
            cmd = [*declared["command"], "--workload", workload, *TINY, "--trace", trace]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-4000:]}"
            result = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            assert result["correct"] is True and result["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in declared[section]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{workload} trace={trace}: emitted {got}, declared {want}"
            print(f"ok: {workload} trace={trace}: {len(got)} metrics")


def check_bare_directory(declared: dict) -> None:
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for d in declared["paths"]:
            shutil.copytree(os.path.join(ROOT, d), os.path.join(bare, d),
                            ignore=shutil.ignore_patterns("__pycache__"))
        cmd = [*declared["command"], "--workload", declared["workloads"][0]["name"], *TINY]
        p = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
        assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    check_gate()
    print("ok: golden gate")
    check_bare_directory(declared)
    print("ok: bare directory")
    check_runs(declared)
    return 0


if __name__ == "__main__":
    sys.exit(main())
