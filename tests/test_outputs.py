"""Output surfaces: difPy-shaped result dict, stats schema, actions
table (O15, O18, O19-O21)."""

from __future__ import annotations

from datetime import datetime

from sparkdedup.config import DedupConfig
from sparkdedup.corpus import files_table
from sparkdedup.plans.pipeline import run as run_pipeline
from sparkdedup.sources.files import INPUT_SCHEMA


def _res(spark, **kw):
    cfg = DedupConfig(similarity="similar", **kw)
    return run_pipeline(spark, cfg, files_table(spark, n=250, seed=11)), cfg


def test_result_dict_shape(spark):
    res, _ = _res(spark)
    d = res.result()
    assert d
    for primary, matches in d.items():
        assert isinstance(primary, str)
        for m in matches:
            assert isinstance(m, list) and len(m) == 2
            path, dist = m
            assert isinstance(path, str)
            assert dist is None or 0.0 <= dist <= 0.30001


def test_result_in_folder_nests_by_repo(spark):
    res, _ = _res(spark, in_folder=True)
    d = res.result()
    for repo, groups in d.items():
        assert repo.startswith("repo_")
        assert isinstance(groups, dict)
        for primary, matches in groups.items():
            assert isinstance(matches, list)


def test_stats_schema(spark):
    res, cfg = _res(spark)
    s = res.stats()
    # key-structure parity with the reference's documented stats layout
    # (docs/getting_started/output.rst:74-104, dif.py:748-805)
    assert isinstance(s["directory"], list)
    assert isinstance(s["total_files"], int)
    assert s["total_files"] == (s["process"]["search"]["files_searched"]
                                + s["invalid_files"]["count"])
    inv = s["invalid_files"]
    assert isinstance(inv["count"], int)
    assert isinstance(inv["logs"], dict)
    assert len(inv["logs"]) <= inv["count"]
    for reason in inv["logs"].values():
        assert isinstance(reason, str)
    for proc in ("build", "search"):
        dur = s["process"][proc]["duration"]
        # ISO-8601 start/end round-trip + elapsed
        datetime.fromisoformat(dur["start"])
        datetime.fromisoformat(dur["end"])
        assert dur["seconds_elapsed"] >= 0
        assert isinstance(s["process"][proc]["parameters"], dict)
    bp = s["process"]["build"]["parameters"]
    assert set(bp) >= {"recursive", "in_folder", "limit_extensions",
                       "px_size", "processes"}
    sp = s["process"]["search"]["parameters"]
    assert set(sp) >= {"similarity_mse", "rotate", "same_dim",
                       "processes", "chunksize"}
    assert sp["similarity_mse"] == cfg.threshold
    assert sp["rotate"] == cfg.containment
    mf = s["process"]["search"]["matches_found"]
    assert set(mf) == {"duplicates", "similar"}
    r = s["results"]
    for key in ("matched_files", "clusters", "duplicate_pairs",
                "similar_pairs", "contained_pairs", "capped_star_pairs"):
        assert isinstance(r[key], int)
    assert r["matched_files"] >= r["clusters"]
    assert res.stats_json().startswith("{")


def test_actions_table(spark):
    res, _ = _res(spark)
    move = res.actions("move", "/dest").collect()
    assert all(r["action"] == "move" and r["destination"] == "/dest"
               for r in move)
    # moved_path mirrors dif.py:658-663: destination + basename(path)
    assert all(r["moved_path"] == "/dest/" + r["path"].rsplit("/", 1)[-1]
               for r in move)
    delete = res.actions("delete").collect()
    assert all(r["action"] == "delete" and r["destination"] is None
               and r["moved_path"] is None for r in delete)
    # actions cover exactly the lower-quality set
    lq = {r["file_id"] for r in res.lower_quality_df.collect()}
    assert {r["file_id"] for r in delete} == lq


def test_lower_quality_excludes_representatives(spark):
    res, _ = _res(spark)
    keep = {r["file_id"] for r in res.ranked.filter("is_keep").collect()}
    lq = {r["file_id"] for r in res.lower_quality_df.collect()}
    assert not (keep & lq)
    assert keep and lq


def test_stats_invalid_count_exact_above_log_cap(spark):
    """With more invalid files than ``max_invalid_logs``, the log is
    capped and ``count`` is still the exact number of invalid rows."""
    rows = ([("r", f"ok{i}.py", "c", "python", f"def f{i}(): return {i}")
             for i in range(4)]
            + [("r", f"bad{i}.py", "c", "python", None) for i in range(5)])
    res = run_pipeline(spark, DedupConfig(similarity="similar"),
                       spark.createDataFrame(rows, INPUT_SCHEMA))
    for cap in (0, 2, 5, 6):
        inv = res.stats(max_invalid_logs=cap)["invalid_files"]
        assert inv["count"] == 5, cap
        assert len(inv["logs"]) == min(cap, 5), cap
    assert res.stats(max_invalid_logs=2)["total_files"] == 9
