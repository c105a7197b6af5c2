"""bench.py writes a round-stamped detail file only for an explicit
$SPARK_GRAFT_ROUND, so an unstamped run cannot overwrite a committed
round's artifact."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _run_finish(tmp_path, monkeypatch, round_):
    monkeypatch.setattr(bench, "_ROUND", round_)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(tmp_path / "BENCH_DETAIL.json"))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    bench._finish({"queries": {"q": 1.0}, "streaming": {}}, 1.0)


def test_unset_round_writes_no_stamped_file(tmp_path, monkeypatch, capsys):
    _run_finish(tmp_path, monkeypatch, None)
    out, err = capsys.readouterr()
    assert sorted(os.listdir(tmp_path)) == ["BENCH_DETAIL.json"]
    assert "SPARK_GRAFT_ROUND is unset" in err
    assert json.loads(out.splitlines()[-1])["detail_file"] == "BENCH_DETAIL.json"


def test_set_round_writes_stamped_file(tmp_path, monkeypatch, capsys):
    _run_finish(tmp_path, monkeypatch, "14")
    out, _ = capsys.readouterr()
    assert (tmp_path / "BENCH_DETAIL_r14_c4.json").exists()
    assert json.loads(out.splitlines()[-1])["detail_file"] == "BENCH_DETAIL_r14_c4.json"
