"""scripts/drive.py: the oracle loop and the gate-artifact validator, plus
the layout rule that keeps perfbench's modules importable."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from scala_data_pipeline_spark.queries import all_oracles, all_queries, extra_oracles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "drive", os.path.join(ROOT, "scripts", "drive.py")
)
drive = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(drive)


def _drive_record(names, **over) -> dict:
    rec = {
        "n": 99,
        "head": drive.git("rev-parse", "HEAD"),
        "sf_dir": "/data/sf0.1",
        "queries": len(names),
        "exact": len(names),
        "rows_only": 0,
        "fails": 0,
        "results": {n: {"exact": True} for n in names},
    }
    rec.update(over)
    return rec


def _bench_record(**over) -> dict:
    parsed = {
        "value": 30.0,
        "queries": {n: 0.5 for n in all_queries()},
    }
    parsed.update(over)
    return {"n": 99, "rc": 0, "cpus": 4, "sf": 0.1, "parsed": parsed}


def _problems(tmp_path, name, rec, current=True) -> list[str]:
    path = tmp_path / name
    path.write_text(json.dumps(rec))
    return drive.problems(str(path), current)


def test_validator_accepts_sound_artifacts(tmp_path):
    head = drive.git("rev-parse", "HEAD")
    assert _problems(tmp_path, "GATE_r99.json", {"n": 99, "head": head}) == []
    assert _problems(tmp_path, "FULLDRIVE_r99.json", _drive_record(all_queries())) == []
    assert _problems(tmp_path, "SWEEP_r99.json", _drive_record(extra_oracles())) == []
    assert _problems(tmp_path, "BENCH_r99.json", _bench_record()) == []
    # An earlier round's bench timed an earlier registry.
    old = _bench_record(queries={"retired_query": 1.0})
    assert _problems(tmp_path, "BENCH_r01.json", old, current=False) == []


def test_validator_rejects_doctored_artifacts(tmp_path):
    driver, extras = sorted(all_queries()), sorted(extra_oracles())
    doctored = {
        "FULLDRIVE_r99.json": (_drive_record(driver, fails=1), "1 failures"),
        "SWEEP_r99.json": (
            _drive_record(extras[1:]),
            f"not driven: ['{extras[0]}']",
        ),
        "BENCH_r99.json": ({"n": 99, "rc": 0, "parsed": None}, "parsed is null"),
        "BENCH_r98.json": (_bench_record(value="30.0"), "total missing"),
        "BENCH_r97.json": (
            _bench_record(queries={n: 0.5 for n in driver[1:]}),
            f"missing timings ['{driver[0]}']",
        ),
        "GATE_r99.json": ({"n": 99, "suite": "green"}, "no head"),
        "GATE_r98.json": ({"n": 98, "head": "0" * 40}, "lacks the last source commit"),
    }
    for name, (rec, why) in doctored.items():
        found = _problems(tmp_path, name, rec)
        assert len(found) == 1 and why in found[0], (name, found)
    # Records of earlier rounds must still hold a parsed result.
    clobbered = doctored["BENCH_r99.json"][0]
    assert _problems(tmp_path, "BENCH_r01.json", clobbered, current=False)


def test_drive_records_exact_raising_and_mismatching(spark, sf_dir, monkeypatch):
    def boom(spark, sf):
        raise RuntimeError("construction failed")

    queries = {
        "exact": all_queries()["flagship_datamart"],
        "boom": boom,
        "bad": lambda spark, sf: spark.sql("SELECT 1 AS x"),
    }
    oracles = {
        "exact": all_oracles()["flagship_datamart"],
        "boom": "SELECT 1 AS x",
        "bad": "SELECT 2 AS x",
    }
    body = drive.drive(spark, sorted(queries), queries, oracles, sf_dir)
    results = body["results"]
    assert results["exact"] == {"exact": True}
    assert "construction failed" in results["boom"]["err"]
    assert "value mismatch" in results["bad"]["err"]
    counts = [body[k] for k in ("queries", "exact", "rows_only", "fails")]
    assert counts == [3, 1, 0, 2]
    monkeypatch.delenv("ROUND", raising=False)
    with pytest.raises(SystemExit) as ex:
        drive.finish("FULLDRIVE", body)
    assert ex.value.code == 1


def test_no_root_module_shadows_perfbench():
    """perfbench/run.py puts the repo root ahead of perfbench/ on
    sys.path, so a root module named like one of perfbench's would
    replace it."""
    perfbench = os.listdir(os.path.join(ROOT, "perfbench"))
    perf = {f[:-3] for f in perfbench if f.endswith(".py")}
    root = {f[:-3] for f in os.listdir(ROOT) if f.endswith(".py")}
    root |= {
        d
        for d in os.listdir(ROOT)
        if os.path.isfile(os.path.join(ROOT, d, "__init__.py"))
    }
    assert perf and not perf & root
