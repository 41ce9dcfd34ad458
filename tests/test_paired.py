"""The paired fresh-JVM scaling harness (bench/paired.py), without a JVM:
worker spawn and log parsing, the pairing and summary math, the
cross-pair determinism check and best-of rep selection."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "bench"))
import paired  # noqa: E402

STUB = '''
import json, os, sys
assert sys.argv[1] == "--worker"
print('{"cpus": -1, "kernels": {}}')
print("WARN SparkContext: noise {\\"cpus\\" mid-line")
print('{"setup": 1}')
print(json.dumps({"cpus": int(sys.argv[2]), "kernels": {"k": {"secs": 1.0, "rows": 3, "sig": 7}},
                  "argv": sys.argv[3:], "omp": os.environ.get("OMP_NUM_THREADS")}))
print("INFO shutdown hook")
sys.exit(int(sys.argv[3]))
'''


def test_spawn_parses_last_json_line_and_drops_log(tmp_path):
    script = tmp_path / "stub.py"
    script.write_text(STUB)
    got = paired.spawn(str(script), 2, ["0", "x"], str(tmp_path))
    assert got["cpus"] == 2 and got["argv"] == ["0", "x"]
    assert got["kernels"]["k"] == {"secs": 1.0, "rows": 3, "sig": 7}
    assert got["omp"] == "1"  # single-threaded BLAS in the worker
    assert not list(tmp_path.glob("*.log"))


def test_spawn_failure_keeps_log_and_names_it(tmp_path):
    script = tmp_path / "stub.py"
    script.write_text(STUB)
    with pytest.raises(RuntimeError, match="exited 3") as err:
        paired.spawn(str(script), 8, ["3"], str(tmp_path))
    (log,) = tmp_path.glob("*.log")
    assert str(log) in str(err.value)
    assert "noise" in log.read_text()


def _leg(cpus, secs, rows=10, sig=5):
    return {"cpus": cpus, "kernels": {"a": {"secs": secs, "rows": 1, "sig": 0},
                                      "b": {"secs": 2 * secs, "rows": rows, "sig": sig}}}


def _fake_spawn(monkeypatch, legs):
    it = iter(legs)
    monkeypatch.setattr(paired, "spawn", lambda script, cpus, argv, tmp: next(it))


def test_pairs_and_summary_math(monkeypatch):
    # three pairs at local[2]/local[8]: kernel a effs 1.0, 0.5, 0.75
    _fake_spawn(monkeypatch, [_leg(2, 8.0), _leg(8, 2.0), _leg(2, 6.0), _leg(8, 3.0),
                              _leg(2, 9.0), _leg(8, 3.0)])
    series = paired.run_pairs("w.py", [], 2, 8, 3, "/tmp")
    assert [p["a"]["eff"] for p in series] == [1.0, 0.5, 0.75]
    assert series[0]["b"] == {
        "local2_secs": 16.0, "local8_secs": 4.0, "rows": 10, "sig": 5, "eff": 1.0,
    }
    summary = paired.summarize(series, 2, 8, 0.75)
    assert summary["a"] == {
        "median_eff": 0.75,
        "windows_passing": 2,
        "best_eff": 1.0,
        "local2_min_secs": 6.0,
        "local8_min_secs": 2.0,
    }


def test_extra_fields_join_the_pair(monkeypatch):
    _fake_spawn(monkeypatch, [_leg(1, 4.0), _leg(2, 2.0)])
    series = paired.run_pairs("w.py", [], 1, 2, 1, "/tmp", extra=lambda k, a, b: {"k": k})
    assert series[0]["b"]["k"] == "b" and series[0]["b"]["eff"] == 1.0


@pytest.mark.parametrize("bad", [{"rows": 11}, {"sig": 6}])
def test_mismatch_in_a_later_pair_names_the_kernel(monkeypatch, bad):
    # pair 1 agrees within itself; pair 2's hi leg differs from pair 1
    _fake_spawn(monkeypatch, [_leg(2, 8.0), _leg(8, 2.0), _leg(2, 8.0),
                              _leg(8, 2.0, **bad)])
    with pytest.raises(AssertionError, match="nondeterministic b at local\\[8\\]"):
        paired.run_pairs("w.py", [], 2, 8, 2, "/tmp")


def test_best_of_keeps_rep0_on_tie_and_releases_losers(monkeypatch):
    clock = iter([0.0, 2.0, 10.0, 12.0, 20.0, 21.0, 30.0, 31.5])
    monkeypatch.setattr(paired.time, "time", lambda: next(clock))
    released = []
    secs, best, walls = paired.best_of(4, lambda rep: f"r{rep}", released.append)
    # walls 2, 2 (tie: rep 0 stays), 1 (new best), 1.5
    assert walls == [2.0, 2.0, 1.0, 1.5]
    assert (secs, best) == (1.0, "r2")
    assert released == [None, "r1", "r0", "r3"]
