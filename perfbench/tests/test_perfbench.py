"""Tests of the benchmark itself (not of the engine).

    python -m pytest perfbench/tests -q

The smoke tests start Spark once per workload, so the module takes a few
minutes.
"""

from __future__ import annotations

import hashlib
import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _digest(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generators_are_deterministic(workload, tmp_path):
    make = gen.GENERATORS[workload]
    a = make(5, tmp_path / "a")
    b = make(5, tmp_path / "b")
    c = make(6, tmp_path / "c")
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    strip = ("song_glob", "log_glob", "dir")
    assert {k: v for k, v in a.items() if k not in strip} == {
        k: v for k, v in b.items() if k not in strip
    }
    assert a["records"] == c["records"]  # a seed changes values, not sizes


def test_metric_names_are_valid_and_unique():
    spec = run.SPEC
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in metrics] + list(run.WORKLOAD_NAMES)
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name), name
    for m in metrics:
        assert UNIT.fullmatch(m["unit"]) and m["better"] in ("lower", "higher"), m
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def _run(*args, cwd=ROOT) -> tuple[subprocess.CompletedProcess, dict | None]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return proc, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return proc, None


#: per-layer metrics that read 0 on a correct run of their own workload:
#: nothing spills or fails at these sizes, two tables are not partitioned,
#: and two queries never cross into Python
MAY_BE_ZERO = re.compile(
    r".*\.(spill_mb|failed_tasks)"
    r"|etl\.(artists|users)\.partitions"
    r"|operators\.(q_corpus_pipeline|q_curation_pipeline)\.python_mb"
)


@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_traced_smoke_is_correct_and_fills_its_layers(workload):
    proc, out = _run("--workload", workload, "--seed", "3", "--seconds", "0", "--trace", "1")
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 3
    assert list(out["metrics"]) == run.PER_LAYER
    prefixes = (*run.COMMON_LAYERS, *run.workloads.WORKLOADS[workload].layers_prefixes)
    own = [n for n in run.PER_LAYER if n.startswith(prefixes)]
    assert own
    silent = [n for n in own if out["metrics"][n]["value"] == 0 and not MAY_BE_ZERO.fullmatch(n)]
    assert not silent, f"{workload}: its own layers report 0 for {silent}"
    assert "error_rate = 0 " in proc.stdout
    assert not (ROOT / ".perfbench_work").exists()


def test_untraced_run_emits_every_end_to_end_metric():
    proc, out = _run("--workload", "sparkify_etl", "--seed", "4", "--seconds", "0")
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert out["correct"] and out["attempted"] >= 1 and out["failed"] == 0
    assert list(out["metrics"]) == run.END_TO_END
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc, out = _run("--workload", "curation", "--seed", "1", "--seconds", "1",
                     "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert out is None
