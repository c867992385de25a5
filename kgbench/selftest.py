"""Self-test of the benchmark harness at tiny sizes.

    python3 kgbench/selftest.py          # or: python3 -m pytest kgbench/selftest.py

Checks that BENCHMARK.json and the harness agree on metric names, units and
directions; that every output check flags a deliberately wrong output and a
failed check or raising operation counts as failed; that a tiny run of each
listed workload prints exactly the contracted JSON in both trace modes; and
that the command fails without a result where the engine is absent. The
deliberate failures print their tracebacks to standard error.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from kgbench import checks, metrics  # noqa: E402
from kgbench.trace import NoTrace  # noqa: E402
from kgbench.workloads import Bench  # noqa: E402


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_metric_registry_matches_benchmark_json():
    def table(entries):
        return [(m["name"], m["unit"], m["better"]) for m in entries]

    spec = _spec()
    assert table(spec["end_to_end"]) == metrics.END_TO_END
    assert table(spec["per_layer"]) == metrics.PER_LAYER
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in spec["end_to_end"] if m["name"] == "setup_s"
    ).items()


def test_checks_flag_wrong_outputs():
    golden = {(f"s{i}", "calls", f"o{i}") for i in range(100)}
    assert checks.triples(set(golden), golden) is None
    assert checks.triples(set(list(golden)[:90]), golden)  # recall 0.90
    assert checks.triples(golden | {("x", "y", str(i)) for i in range(10)}, golden)

    corpus = {("r", "a.py"): "print(1)\n", ("r", "b.md"): "Zephyr uses Onyx."}
    import hashlib

    docs = {k: hashlib.sha256(v.encode()).hexdigest() for k, v in corpus.items()}
    assert checks.content_sha(docs, corpus) is None
    assert checks.content_sha({**docs, ("r", "a.py"): "0" * 64}, corpus)
    assert checks.content_sha({("r", "a.py"): docs[("r", "a.py")]}, corpus)

    assert checks.ranked([(2, "b"), (1, "a")], [(1, "a"), (2, "b")]) is None
    assert checks.ranked([(1, "b"), (2, "a")], [(1, "a"), (2, "b")])
    assert checks.same_set([("a", 1)], [("a", 1)]) is None
    assert checks.same_set([], [("a", 1)])

    assert checks.non_empty("") and checks.non_empty([])
    assert checks.digest([(1, "a"), (2, "b")]) == checks.digest([(2, "b"), (1, "a")])
    assert checks.digest("prompt a") != checks.digest("prompt b")

    oracle = [("s1", "u1", 1.5, "completed"), ("s2", "u2", 0.25, "abandoned")]
    assert checks.session_rows(list(oracle), oracle) is None
    assert checks.session_rows([], oracle)  # the skipped no-data batch
    assert checks.session_rows(oracle + [oracle[0]], oracle)
    assert checks.session_rows([oracle[0], ("s2", "u2", 0.26, "abandoned")], oracle)


class _Context:
    def setLocalProperty(self, key, value):
        pass


class _Spark:
    sparkContext = _Context()


def test_wrong_output_and_errors_count_as_failed():
    b = Bench(_Spark(), "", 0, NoTrace(), tiny=True)
    good, _ = b.op("build", "pipeline.run", lambda: {("a", "p", "b")})
    b.check(good, "triples", lambda: checks.triples({("a", "p", "b")}, {("a", "p", "b")}))
    wrong, _ = b.op("build", "pipeline.run", lambda: set())
    b.check(wrong, "triples", lambda: checks.triples(set(), {("a", "p", "b")}))
    raised, result = b.op("build", "pipeline.run", lambda: 1 / 0)
    b.check(raised, "triples", lambda: None)
    broken, _ = b.op("drain", "streaming.drain", lambda: [])
    b.check(broken, "oracle", lambda: 1 / 0)
    assert result is None
    assert [r["error"] is not None for r in b.ops] == [False, True, True, True]


def _run(workload: str, trace: int, cwd: Path = ROOT):
    command = _spec()["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--tiny",
    ]
    return subprocess.run(command, cwd=cwd, capture_output=True, text=True, timeout=600)


def test_tiny_runs_print_the_contracted_json():
    spec = _spec()
    for workload in [w["name"] for w in spec["workloads"]]:
        for trace, listed in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            proc = _run(workload, trace)
            assert proc.returncode == 0, proc.stderr[-3000:]
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
            assert result["attempted"] >= 1
            assert {n: m["unit"] for n, m in result["metrics"].items()} == {
                m["name"]: m["unit"] for m in listed
            }
            if trace == 0:
                assert all(m["value"] > 0 for m in result["metrics"].values())


def test_fails_without_the_engine():
    bare = ROOT / ".kgbench_work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(ROOT / "kgbench", bare / "kgbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        proc = _run(_spec()["workloads"][0]["name"], 0, cwd=bare)
        assert proc.returncode != 0
        assert not proc.stdout.strip()
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(ROOT / ".kgbench_work")
        except OSError:
            pass


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}", flush=True)
