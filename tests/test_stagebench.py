"""jobs/stagebench: the pure math and renderer, every STAGES row at a
tiny size on the shared session, and one real ``--cell`` subprocess."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from osm_io_spark.jobs import stagebench as SB
from osm_io_spark.jobs.mdout import HAND_MARKER, write_preserving

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_TINY = SB.SF_DIR.replace("sf0.1", "sf0.001")   # the tiny tables


def test_efficiency_and_summary_math():
    assert SB.efficiency(8.0, 2.0, 1, 4) == pytest.approx(1.0)
    assert SB.efficiency(8.0, 4.0, 1, 4) == pytest.approx(0.5)
    assert SB.efficiency(3.0, 1.0, 2, 8) == pytest.approx(0.75)
    assert SB.summary([3.0, 1.0, 2.0]) == (1.0, 2.0, 1.0)
    mn, med, spread = SB.summary([4.0, 4.0, 5.0, 6.0])
    assert (mn, med) == (4.0, 4.5) and spread == pytest.approx(2 / 4.5)
    lo, hi = SB.levels()
    assert 1 <= lo <= hi and lo == max(1, hi // 4)


def _cell(samples, counts, load=(0.5, 1.25)):
    return {"samples": samples, "counts": counts, "load": list(load)}


def test_render_canned_cells(tmp_path):
    stage = next(s for s in SB.STAGES if s.id == "TILES/clip")
    control = {1: _cell([8.0, 8.5, 9.0], {"sum": 7}),
               4: _cell([2.5, 2.6, 3.0], {"sum": 7})}
    rows = [(stage, {1: _cell([12.0, 13.0, 12.5], {"features": 900}),
                     4: _cell([4.0, 4.2, 4.4], {"features": 1234567,
                                                "ratio": 0.123456})})]
    md = SB.render("TILES", rows, control, (1, 4), "tables/")
    lines = md.splitlines()
    assert lines[0].startswith("# BENCH/TILES — ")
    table = [ln for ln in lines if ln.startswith("| ")]
    assert table[0].startswith("| stage | size | counts | local[1] s min")
    ctrl_row, clip_row = table[1], table[2]
    assert ctrl_row.startswith("| control | 300,000,000 | sum=7 |")
    # counts come from the high level; ints get separators, floats 4 sig
    assert "features=1,234,567, ratio=0.1235" in clip_row
    assert "| 12.00 / 12.50 (8%) | 4.00 / 4.20 (10%) |" in clip_row
    # efficiency (12/4)/4 = 0.75 next to the control's (8/2.5)/4 = 0.8
    assert "| 0.750 | 0.800 |" in clip_row and "| 0.800 | 0.800 |" in ctrl_row
    assert clip_row.endswith("| 0.50→1.25 / 0.50→1.25 |")
    # the renderer writes through write_preserving: the tail survives
    path = tmp_path / "TILES.md"
    path.write_text("old table\n\n" + HAND_MARKER + "\nhand notes\n")
    write_preserving(str(path), md)
    text = path.read_text()
    assert text.startswith(md) and text.endswith(HAND_MARKER + "\nhand notes\n")
    assert "old table" not in text


def test_stage_table_shape():
    ids = [s.id for s in SB.STAGES]
    assert len(ids) == len(set(ids))
    assert {s.file for s in SB.STAGES} == set(SB.TITLES)
    # {cell, bands} x {unsalted, salted}; the AQE-off twins are dropped
    assert sum(s.file == "SKEW" for s in SB.STAGES) == 4
    for s in SB.STAGES:
        assert s.conf is None or s.file == "SKEW", s.id


def _tiny(stage):
    # small sizes (polygon copies, doc counts) and table-driven rows
    # (None) stay: the tiny tables under SF_TINY shrink those inputs
    if stage.size is None or stage.size <= 400:
        return stage.size
    return max(96, stage.size // 1000)


@pytest.mark.parametrize("stage", SB.STAGES, ids=lambda s: s.id)
def test_stage_runs_and_checks_at_tiny_size(spark, monkeypatch, stage):
    monkeypatch.setattr(SB, "SF_DIR", SF_TINY)
    out = SB.measure(spark, stage, _tiny(stage), runs=1, warmup=0)
    assert len(out["samples"]) == 1 and out["samples"][0] > 0
    assert out["counts"], stage.id
    assert any(v for v in out["counts"].values()), (stage.id, out["counts"])


def test_session_conf_is_restored(spark):
    key = "spark.sql.adaptive.skewJoin.enabled"
    before = spark.conf.get(key)
    with SB.session_conf(spark, {key: "false"}):
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == before


def test_check_failure_raises():
    stage = next(s for s in SB.STAGES if s.id == "S2/cap_cover_precision")
    with pytest.raises(RuntimeError, match="cover incomplete"):
        stage.check(None, 1, {"missed": 3, "hits": [1], "candidates": [2]})


def test_cell_subprocess_prints_one_json_line():
    p = subprocess.run(
        [sys.executable, "-m", "osm_io_spark.jobs.stagebench",
         "--cell", "control:4", "--sf-dir", SF_TINY],
        capture_output=True, text=True, cwd=ROOT, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.splitlines()
    assert len(lines) == 1, p.stdout
    out = json.loads(lines[0])
    assert out["stage"] == "control" and out["cpus"] == 4
    assert len(out["samples"]) == SB.RUNS and min(out["samples"]) > 0
    assert out["counts"]["sum"] > 0 and len(out["load"]) == 2
    phases = out["phases"]
    assert list(phases) == ["setup", "warmup", "timed", "check"]
    assert phases["setup"] > 0 and phases["warmup"] > 0
    assert phases["timed"] == pytest.approx(sum(out["samples"]), abs=0.01)
    assert phases["check"] >= 0
    # the control's timed runs each build and collect one query
    assert out["py4j_round_trips"] >= SB.RUNS
    assert out["spark_jobs"] >= SB.RUNS
    # run_cell adds the subprocess wall; totals sum it and each phase
    totals = SB.phase_totals([{**out, "wall": 10.0}, {**out, "wall": 5.0}])
    assert totals == {"wall": 15.0, **{k: round(2 * v, 1)
                                       for k, v in phases.items()}}


def test_only_resolves_registry_names(capsys):
    # argparse level, no JVM: a registry name is an unlisted stage at
    # the tables' size; an unknown name lists both kinds of name
    st = SB.resolve("mvt_tiles")
    assert (st.id, st.file, st.size) == ("mvt_tiles", "", None)
    assert SB.resolve("TILES/mvt") is next(
        s for s in SB.STAGES if s.id == "TILES/mvt")
    with pytest.raises(KeyError):
        SB.resolve("no_such_query")
    with pytest.raises(SystemExit):
        SB.main(["--only", "TILES,no_such_query"])
    err = capsys.readouterr().err
    assert "unknown --only names ['no_such_query']" in err
    assert "'INGEST'" in err and "'mvt_tiles'" in err
