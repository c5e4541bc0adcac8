"""The scaling driver (scripts/bench_scaling.py) without Spark: each level's
JSON is fixed, so the efficiency pairs, the gate and the written record
are checked for every protocol."""

import importlib.util
import json
import os
import sys

import pytest

from otel_tail_sampler_spark.sources import generator

_spec = importlib.util.spec_from_file_location(
    "bench_scaling",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "bench_scaling.py"),
)
bench_scaling = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_scaling)


def _level(protocol, cores, rate):
    fields = {
        "pipeline": {"n_spans": 600, "n_traces": 120, "traces_per_sec": rate / 5,
                     "spans_per_sec": rate},
        "prep": {"n_rows": 60, "n_tokens": 3000, "n_examples": 6, "tokens_per_sec": rate},
        "selection": {"n_docs": 480, "docs_per_sec": rate, "draws": [1.5]},
    }[protocol]
    return {"cores": cores, "dataset": "0.01", "warm_sec": 1.5, **fields}


def _run(monkeypatch, capsys, tmp_path, args, rates):
    """Run the driver's main on ``args`` with each level at its fixed rate;
    return its result JSON and the files it wrote under BENCH/."""
    monkeypatch.setattr(bench_scaling, "REPO", str(tmp_path))
    monkeypatch.setattr(
        bench_scaling, "run_level", lambda p, cores, d, r: _level(p, cores, rates[cores])
    )
    monkeypatch.setattr(generator, "ensure_dataset", lambda dataset: {})
    monkeypatch.setattr(sys, "argv", ["bench_scaling.py", *args])
    bench_scaling.main()
    out = capsys.readouterr().out
    result = json.loads(out[out.index("{\n"):out.rindex("\n}") + 2])
    bench = tmp_path / "BENCH"
    return result, {f: (bench / f).read_text() for f in os.listdir(bench)}


@pytest.mark.parametrize(
    "protocol, artifact, header",
    [
        ("pipeline", "BASELINE.md", "| cores | warm sec | traces/sec | spans/sec |"),
        ("prep", "PREP_SCALING.md", "| cores | warm sec | examples | tokens/sec |"),
        ("selection", "SELECTION_SCALING.md", "| cores | warm sec | docs/sec | draws |"),
    ],
)
def test_protocol_record(protocol, artifact, header, monkeypatch, capsys, tmp_path):
    """Every pair's efficiency, the first pair as the gated one, and the
    protocol's own record with its table header and gate line."""
    result, files = _run(
        monkeypatch, capsys, tmp_path,
        ["--protocol", protocol, "0.01", "1", "1", "4", "16"],
        {1: 100.0, 4: 360.0, 16: 720.0},
    )
    assert result["scaling_efficiency"] == {"1->4": 0.9, "4->16": 0.5}
    assert result["primary_pair"] == [1, 4]
    assert result["pass_0.8_gate"] is True
    assert sorted(result["levels"]) == ["1", "16", "4"]
    assert list(files) == [artifact]
    text = files[artifact]
    assert f"{header}\n|---|---|---|---|\n| 1 | 1.5 |" in text
    assert "Scaling efficiency = rate(4c) / (4 x\nrate(1c)) = **0.9**\n" in text
    assert "(gate: >= 0.8 -> PASS)" in text


def test_positional_usage_runs_the_pipeline_protocol(monkeypatch, capsys, tmp_path):
    """``bench_scaling.py [dataset] [repeats] [levels...]`` runs the
    pipeline protocol; a first pair below 0.8 fails the gate."""
    result, files = _run(
        monkeypatch, capsys, tmp_path, ["0.01", "1", "1", "4"], {1: 100.0, 4: 300.0}
    )
    assert result["metric"].startswith("spans/sec")
    assert result["scaling_efficiency"] == {"1->4": 0.75}
    assert result["pass_0.8_gate"] is False
    assert list(files) == ["BASELINE.md"]
    assert "(gate: >= 0.8 -> FAIL)" in files["BASELINE.md"]
