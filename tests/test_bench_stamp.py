"""Round detection for the full bench artifact (bench._detect_round):
the stamp must advance past COMMITTED CORRECTNESS rounds only — a
staged-but-uncommitted artifact is the driver mid-close and must keep
the current stamp (r8 ADVICE: `git ls-files` reflected the index and
mislabeled the closing round's artifact)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import _detect_round  # noqa: E402


def _git(repo, *args):
    return subprocess.run(
        ["git", "-C", str(repo), *args],
        capture_output=True, text=True, check=True,
    ).stdout


def _make_repo(tmp_path):
    repo = tmp_path / "stamp_repo"
    repo.mkdir()
    _git(repo, "init", "-q")
    _git(repo, "config", "user.email", "t@t")
    _git(repo, "config", "user.name", "t")
    (repo / "seed.txt").write_text("seed\n")
    _git(repo, "add", "seed.txt")
    _git(repo, "commit", "-qm", "seed")
    return repo


def test_no_correctness_committed_uses_by_rows(tmp_path):
    repo = _make_repo(tmp_path)
    assert _detect_round(str(repo), 9) == 9


def test_older_committed_round_keeps_by_rows(tmp_path):
    repo = _make_repo(tmp_path)
    (repo / "CORRECTNESS_r08.json").write_text("{}\n")
    _git(repo, "add", "CORRECTNESS_r08.json")
    _git(repo, "commit", "-qm", "r8 artifact")
    assert _detect_round(str(repo), 9) == 9


def test_committed_current_round_advances_stamp(tmp_path):
    repo = _make_repo(tmp_path)
    (repo / "CORRECTNESS_r09.json").write_text("{}\n")
    _git(repo, "add", "CORRECTNESS_r09.json")
    _git(repo, "commit", "-qm", "r9 artifact")
    # round closed without a regen yet: the next bench belongs to r10
    assert _detect_round(str(repo), 9) == 10


def test_staged_uncommitted_artifact_does_not_advance(tmp_path):
    """The ADVICE case: `git add -A` mid-close stages the new
    CORRECTNESS file; the stamp must NOT advance until it is
    committed."""
    repo = _make_repo(tmp_path)
    (repo / "CORRECTNESS_r09.json").write_text("{}\n")
    _git(repo, "add", "CORRECTNESS_r09.json")  # staged, NOT committed
    assert _detect_round(str(repo), 9) == 9


def test_untracked_artifact_does_not_advance(tmp_path):
    repo = _make_repo(tmp_path)
    (repo / "CORRECTNESS_r09.json").write_text("{}\n")  # untracked
    assert _detect_round(str(repo), 9) == 9


def test_non_git_dir_falls_back_to_by_rows(tmp_path):
    plain = tmp_path / "plain"
    plain.mkdir()
    assert _detect_round(str(plain), 7) == 7


def test_full_artifact_stamps_cpus_and_suffixes_non32(tmp_path, monkeypatch, capsys):
    """r15 verdict item 2: the driver's 8-core scaling run clobbered the
    canonical 32-core BENCH_FULL artifact.  Non-32-core runs must write a
    suffixed file, the payload must record its core count, and nothing may
    be printed on either stream (the r14 parse failure was trailing notes
    lines after the stdout JSON)."""
    import json

    import bench

    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "16")
    payload = {"metric": "m", "value": 1.5, "unit": "sec",
               "queries": {"q1": 1.5}, "sf": 0.1}

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    bench._write_full_artifact(payload)
    canon = tmp_path / "BENCH_FULL_r16.json"
    assert canon.exists()
    full = json.loads(canon.read_text())
    assert full["cpus"] == 32
    assert "BENCH_FULL_r16.json" in full["notes"]
    canon_bytes = canon.read_bytes()

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    bench._write_full_artifact(payload)
    low = tmp_path / "BENCH_FULL_r16_c8.json"
    assert low.exists()
    assert json.loads(low.read_text())["cpus"] == 8
    # the canonical 32-core artifact is untouched by the low-core run
    assert canon.read_bytes() == canon_bytes

    # stdout/stderr silent: the one JSON line printed by main() must be
    # the last thing on any stream
    out, err = capsys.readouterr()
    assert out == "" and err == ""


def test_full_artifact_skips_non_driver_sf(tmp_path, monkeypatch):
    import bench

    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "16")
    bench._write_full_artifact({"metric": "m", "value": 1.0, "unit": "sec",
                                "queries": {}, "sf": 0.01})
    assert not list(tmp_path.glob("BENCH_FULL_*"))


def test_full_artifact_defaults_cpus_to_machine_count(tmp_path, monkeypatch):
    """With SPARK_GRAFT_CPUS unset the artifact records the machine's
    CPU count, and any count other than 32 gets the ``_c{n}`` suffix."""
    import json
    import os

    import bench

    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "16")
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    payload = {"metric": "m", "value": 1.5, "unit": "sec",
               "queries": {"q1": 1.5}, "sf": 0.1}

    for n in (32, 6):
        monkeypatch.setattr(os, "cpu_count", lambda n=n: n)
        bench._write_full_artifact(payload)
        suffix = "" if n == 32 else f"_c{n}"
        art = tmp_path / f"BENCH_FULL_r16{suffix}.json"
        assert json.loads(art.read_text())["cpus"] == n
