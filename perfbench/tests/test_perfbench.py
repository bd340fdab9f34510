"""Tests of the benchmark itself, at tiny scale (sf0.001 row counts).

    python3 -m pytest perfbench/tests -q

Three subprocess runs of ``run.py --workload all`` (clean, corrupted
expectation, traced) take a few minutes; the rest are unit tests of the
metric arithmetic.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import spans  # noqa: E402
from run import gmean, kind_medians, tail  # noqa: E402
from workloads import Op, bm25_ref, phrase_ref, topk_agrees  # noqa: E402

WORKLOADS = ("lake_mutate", "search_plane", "analytics")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# the metric names the workloads' docs use, printed in the human table
TABLE_NAMES = {
    "lake_mutate": ("commit_p50_ms", "commit_tail_ms", "read_p50_ms", "read_tail_ms",
                    "bytes_per_live_byte"),
    "search_plane": ("sync_p50_ms", "sync_tail_ms", "serve_p50_ms", "serve_tail_ms",
                     "bytes_per_live_byte"),
    "analytics": ("query_p50_ms", "query_tail_ms", "ingest_mb_s"),
}
COMMON = ("setup_s", "ops_per_s", "failed_op_ratio", "write_gmean_ms", "read_gmean_ms",
          "engine_mem_mb")


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", "all",
         "--seed", "3", "--seconds", "1", "--scale", "0.01", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _sections(stdout: str) -> dict[str, str]:
    """The human table of each workload, keyed by workload name."""
    parts = re.split(r"^== (\w+)", stdout, flags=re.M)
    return {parts[i]: parts[i + 1] for i in range(1, len(parts) - 1, 2)}


@pytest.fixture(scope="module")
def clean():
    p = _run("--trace", "0")
    assert p.returncode == 0, p.stderr[-4000:]
    return p.stdout


def test_every_end_to_end_metric_is_printed_with_its_unit(clean):
    out = json.loads(clean.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 3
    want = {
        f"{w}.{m['name']}": m["unit"] for w in WORKLOADS for m in SPEC["end_to_end"]
    }
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_human_table_names_every_metric_per_workload(clean):
    sections = _sections(clean)
    assert set(sections) == set(WORKLOADS)
    for w, text in sections.items():
        for name in COMMON + TABLE_NAMES[w]:
            m = re.search(rf"^\s+{name}\s+(\S+)\s+(\S+)", text, re.M)
            assert m, f"{w}: {name} missing"
            assert m.group(2) in ("s", "1/s", "ratio", "MB", "ms", "MB/s"), (w, name)
        assert re.search(r"failed_op_ratio\s+0\.0000", text)


def test_corrupted_expected_result_is_a_failed_op():
    p = _run("--trace", "0", "--corrupt-expected")
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert not out["correct"]
    for w, text in _sections(p.stdout).items():
        ratio = float(re.search(r"failed_op_ratio\s+(\S+)", text).group(1))
        assert ratio > 0, f"{w}: corrupted expectation not reported"
        assert "CHECK FAILED" in text


def test_traced_run_reports_every_layer():
    p = _run("--trace", "1")
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    want = {f"{w}.{m['name']}": m["unit"] for w in WORKLOADS for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want

    def busy(w: str, prefix: str) -> bool:
        return any(
            v["value"] > 0 for k, v in out["metrics"].items()
            if k.startswith(f"{w}.{prefix}.")
        )

    for layer in ("session", "lakehouse"):
        assert busy("lake_mutate", layer)
    for layer in ("lakehouse", "llm.sync", "llm.search", "llm.ann_index"):
        assert busy("search_plane", layer)
    for layer in ("sources", "plans"):
        assert busy("analytics", layer)
    # each workload leaves the others' layers idle
    assert not busy("analytics", "lakehouse") and not busy("lake_mutate", "llm.search")


def test_per_layer_metrics_are_the_traced_span_table():
    assert SPEC["per_layer"] == spans.per_layer_spec()
    assert len(SPEC["per_layer"]) <= 128


def test_without_the_engine_it_fails_without_a_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_gmean_weighs_every_op_kind_alike():
    ops = [Op("serve", ms, True, label=k)
           for k, ms in (("a", 100.0), ("a", 300.0), ("b", 10.0), ("c", 1000.0), ("d", 50.0))]
    med = kind_medians(ops)
    assert med == {"a": 200.0, "b": 10.0, "c": 1000.0, "d": 50.0}
    slow_b = dict(med, b=20.0)
    assert gmean(slow_b.values()) / gmean(med.values()) == pytest.approx(2 ** 0.25)


def test_tail_needs_ten_samples_beyond_it():
    assert tail(list(range(19))) is None
    assert tail(list(range(1, 21))) == ("p50", 10)
    assert tail(list(range(1, 41)))[0] == "p75"
    assert tail(list(range(1, 1001)))[0] == "p99"


def test_union_of_stage_intervals_is_clipped_to_the_span():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert spans._union_ms(iv, 0.5, 10.0) == pytest.approx(4500.0)


def test_topk_agreement_tolerates_ties_at_the_cut_only():
    ref = [{"query_id": 1, "doc_id": d, "score": s}
           for d, s in ((1, 3.0), (2, 2.0), (3, 1.0), (4, 1.0))]
    ok = [{"query_id": 1, "doc_id": d, "score": s} for d, s in ((1, 3.0), (2, 2.0), (4, 1.0))]
    assert topk_agrees(ok, ref, "score", 3) is None
    missed = [{"query_id": 1, "doc_id": d, "score": s} for d, s in ((1, 3.0), (3, 1.0), (4, 1.0))]
    assert "missed" in topk_agrees(missed, ref, "score", 3)
    wrong = [{"query_id": 1, "doc_id": d, "score": s} for d, s in ((1, 3.5), (2, 2.0), (3, 1.0))]
    assert "score" in topk_agrees(wrong, ref, "score", 3)


def test_python_references_score_by_hand():
    texts = {1: "a b a", 2: "b c", 3: ""}
    # N = 2, avgdl = 2.5; "a": df 1, tf 2 in doc 1 (dl 3)
    idf = math.log(1.0 + (2 - 1 + 0.5) / (1 + 0.5))
    w = idf * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 / 2.5))
    assert bm25_ref(texts, ["a"], 5) == [{"query_id": 0, "doc_id": 1, "score": w}]
    assert phrase_ref({1: "x x x x", 2: "x y x x"}, ["x x", "y"], 5) == [
        {"query_id": 0, "doc_id": 1, "n_occurrences": 3},
        {"query_id": 0, "doc_id": 2, "n_occurrences": 1},
        {"query_id": 1, "doc_id": 2, "n_occurrences": 1},
    ]
