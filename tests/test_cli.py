"""CLI surface (difPy O25): flag parity, mutual exclusion, output files."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def test_parser_defaults_match_reference():
    from sparkdedup.__main__ import build_parser
    p = build_parser()
    a = p.parse_args(["-D", "t"])
    # reference defaults (dif.py:977-995)
    assert a.recursive is True
    assert a.in_folder is False
    assert a.limit_extensions is True
    assert a.similarity == "duplicates"
    assert a.rotate is True
    assert a.delete is False
    assert a.silent_del is False
    assert a.move_to is None


def test_lazy_flag_rejected():
    from sparkdedup.__main__ import main
    with pytest.raises(Exception, match="difPy v4.2"):
        main(["-D", "t", "-la", "True"])


def test_move_and_delete_mutually_exclusive():
    from sparkdedup.__main__ import main
    with pytest.raises(Exception, match="mutually exclusive"):
        main(["-D", "t", "-mv", "/tmp/x", "-d", "True"])


def test_cli_end_to_end(spark, tmp_path):
    """Full subprocess run on a small corpus parquet."""
    from sparkdedup.corpus import files_table
    corpus = tmp_path / "corpus.parquet"
    files_table(spark, n=200, seed=42).write.parquet(str(corpus))
    out = tmp_path / "out"
    r = subprocess.run(
        [sys.executable, "-m", "sparkdedup",
         "-D", str(corpus), "-Z", str(out),
         "-s", "similar", "-ro", "True",
         "-proc", str(min(8, os.cpu_count() or 1)), "-d", "True"],
        capture_output=True, text=True, cwd=str(REPO), timeout=420)
    assert r.returncode == 0, r.stderr[-2000:]
    assert (out / "clusters").exists()
    assert (out / "ranked").exists()
    assert (out / "lower_quality").exists()
    assert (out / "invalid").exists()
    assert (out / "actions").exists()
    stats_files = list(out.glob("sparkdedup_*_stats.json"))
    assert len(stats_files) == 1
    stats = json.loads(stats_files[0].read_text())
    assert stats["results"]["matched_files"] > 0
    results_files = list(out.glob("sparkdedup_*_results.json"))
    assert len(results_files) == 1
    result = json.loads(results_files[0].read_text())
    assert isinstance(result, dict) and len(result) > 0
