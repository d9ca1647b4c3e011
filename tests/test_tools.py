"""The measuring and parity tools: one timed noop-sink run shared by
bench.py and tools/, ``measure time``'s one-line record, and the
driver gauntlet's named-entry mode, ``measure plans``' argument check."""

from __future__ import annotations

import ast
import glob
import inspect
import json
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _noop_sink_calls() -> list[tuple[str, int]]:
    calls = []
    for path in [os.path.join(ROOT, "bench.py"), *glob.glob(os.path.join(ROOT, "tools", "*.py"))]:
        for node in ast.walk(ast.parse(open(path).read())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "format"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "noop"
            ):
                calls.append((path, node.lineno))
    return calls


def test_noop_sink_is_written_in_one_function():
    """Every timing tool reaches the noop sink through bench.noop_run,
    so a change to the timing method is made in one place."""
    import bench

    (call,) = _noop_sink_calls()
    lines, start = inspect.getsourcelines(bench.noop_run)
    assert call[0] == inspect.getsourcefile(bench.noop_run)
    assert start <= call[1] < start + len(lines)


def test_measure_time_prints_one_json_line(spark, sf_dir, capsys, monkeypatch):
    import tools.measure as measure

    monkeypatch.setattr(measure, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(measure, "_calibrate", lambda: 0.0)
    monkeypatch.setattr(measure, "_calibrate_mc", lambda: {"wall": 0.0})
    measure.main(["time", "--sf", sf_dir, "ref_dedup_distinct"])
    (line,) = capsys.readouterr().out.strip().splitlines()
    rec = json.loads(line)
    assert list(rec["queries"]) == ["ref_dedup_distinct"]
    assert len(rec["runs"]["ref_dedup_distinct"]) == measure.ROUNDS
    assert rec["queries"]["ref_dedup_distinct"] == min(rec["runs"]["ref_dedup_distinct"]) > 0
    assert rec["aged_n"] == 0 and rec["sf_dir"] == sf_dir


def test_driver_gauntlet_checks_exactly_the_named_entries(spark, sf_dir, capsys):
    from tools import driver_gauntlet

    names = ["rel_q1_pricing", "ref_dedup_distinct"]
    assert driver_gauntlet.main([sf_dir, *names]) == 0
    out = capsys.readouterr().out.splitlines()
    checked = [ln.split()[1].rstrip(":") for ln in out if ln[:1] in ("✓", "✗", "~")]
    assert checked == names
    assert f"2 pass, 0 fail, 0 rows-only of 2 ({sf_dir})" in out[-1]


def test_measure_plans_rejects_a_partial_named_form(capsys):
    """``plans --out DIR`` without ``--suffix``/names must not fall
    through to rewriting PLANS.md."""
    import tools.measure as measure

    for argv in (["--out", "x"], ["--suffix", "s"], ["--out", "x", "rel_q1_pricing"]):
        with pytest.raises(SystemExit):
            measure.main(["plans", *argv])
    assert "go together" in capsys.readouterr().err
