"""The benchmark's own tests, at a tiny corpus size.

Run from the repository root (Spark runs are serial, about a minute each):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, ROOT)

import load  # noqa: E402
import run  # noqa: E402

TINY = "60"


def _engine_processes() -> set[tuple[int, str]]:
    """(pid, command name) of every live JVM and Python process."""
    out = set()
    for name in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{name}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if comm == "java" or comm.startswith("python"):
            out.add((int(name), comm))
    return out


def _bench(*args: str, cwd: str = ROOT) -> tuple[int, str]:
    before = _engine_processes()
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    left = _engine_processes() - before
    assert not left, f"the run left processes behind: {left}"
    return proc.returncode, proc.stdout


def _result(*args: str) -> dict:
    rc, out = _bench(*args, "--seed", "7", "--seconds", "1", "--convs", TINY)
    result = json.loads(out.strip().splitlines()[-1])
    assert rc == 0 and result["correct"], result
    assert result["failed"] == 0 and result["attempted"] >= 1
    return result["metrics"]


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_the_metrics_run_reports():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run._per_layer_units()


def test_drops_are_conversation_complete_and_variants_follow_their_base():
    transcripts, _ = load.synth_corpus(120, seed=3)
    drop = load._drop_of(transcripts["conv_id"], load.STREAM_DROPS)
    per_conv = pd.DataFrame({"conv_id": transcripts["conv_id"], "drop": drop})
    assert (per_conv.groupby("conv_id")["drop"].nunique() == 1).all()
    first = per_conv.drop_duplicates("conv_id").set_index("conv_id")["drop"]
    variants = [c for c in first.index if len(c) > 7]
    assert variants
    for v in variants:
        assert first[v] == first[v[:7]] + 1
    assert set(first) == set(range(load.STREAM_DROPS))


def test_without_the_engine_it_fails_and_prints_no_result(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    rc, out = _bench("--workload", "batch-small", "--seed", "1", "--seconds", "1",
                     "--trace", "0", cwd=str(tmp_path))
    assert rc != 0
    assert '"correct"' not in out


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    metrics = _result("--workload", workload, "--trace", "0")
    assert {k: m["unit"] for k, m in metrics.items()} == run.END_TO_END
    for name, m in metrics.items():
        assert m["value"] > 0, name


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_run_prints_every_layer_metric_and_its_walls_add_up(workload):
    metrics = _result("--workload", workload, "--trace", "1")
    assert {k: m["unit"] for k, m in metrics.items()} == run._per_layer_units()
    v = {k: m["value"] for k, m in metrics.items()}
    layer_walls = sum(v[f"{layer}.wall_s"] for layer in run.LAYERS)
    assert abs(layer_walls + v["trace.harvest_s"] - v["trace.traced_wall_s"]) < 0.5
    assert v["twed.pairs_per_cpu_s"] > 0 and v["scoring.udf_pairs_per_cpu_s"] > 0
    if workload == "stream":
        assert v["ingest.jobs"] > 0 and v["ingest.state_convs"] > 0
    else:
        assert v["scoring.python_cpu_s"] > 0 and v["scoring.shuffle_write_mb"] > 0
        assert v["clustering.rounds"] >= 1


def test_recorded_check_fails_on_a_mismatch_and_says_when_a_seed_is_unrecorded(
    tmp_path, monkeypatch, capsys
):
    expected = tmp_path / "expected.json"
    expected.write_text(json.dumps({"stream": {"4": {"edges": 3, "f1": 0.5}}}))
    monkeypatch.setattr(run, "EXPECTED", str(expected))
    run.recorded_check("stream", 4, {"edges": 3, "f1": 0.5}, record=False)
    with pytest.raises(run.CheckFailed):
        run.recorded_check("stream", 4, {"edges": 4, "f1": 0.5}, record=False)
    run.recorded_check("stream", 5, {"edges": 9, "f1": 0.25}, record=False)
    assert "no values recorded for stream seed 5" in capsys.readouterr().err
    run.recorded_check("stream", 5, {"edges": 9, "f1": 0.25}, record=True)
    assert json.loads(expected.read_text())["stream"]["5"] == {"edges": 9, "f1": 0.25}
