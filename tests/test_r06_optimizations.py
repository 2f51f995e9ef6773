"""Round-6 optimization invariants.

Each optimization that touched an operator's internals gets a focused
check here: the narrow-scan widener (parallelism fix, results
unchanged), and the sort-free LSH band expansion (canonical src<dst
pairs, identical pair set to the per-row kernel truth).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkdedup.config import DedupConfig
from sparkdedup.corpus import files_table
from sparkdedup.operators.lsh import candidate_pairs, dedup_pairs
from sparkdedup.plans.pipeline import build_signatures
from sparkdedup.sources.files import widen_narrow_scan


def test_widen_narrow_scan_preserves_rows_and_widens(spark):
    df = files_table(spark, n=300, seed=3, partitions=1)
    wide = widen_narrow_scan(df)
    assert wide.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism
    assert sorted(r["path"] for r in wide.collect()) == \
        sorted(r["path"] for r in df.collect())


def test_widen_narrow_scan_never_narrows(spark):
    target = spark.sparkContext.defaultParallelism
    df = files_table(spark, n=300, seed=3, partitions=target + 4)
    assert widen_narrow_scan(df) is df


def test_candidate_pairs_are_canonical_and_deduped(spark):
    """Sort-free band expansion: every emitted pair is src < dst and
    appears once after cross-band dedup, with a valid gen label."""
    cfg = DedupConfig(similarity="similar")
    sigs, _ = build_signatures(spark, cfg, files_table(spark, n=600, seed=5))
    pairs = dedup_pairs(candidate_pairs(sigs, cfg)).collect()
    assert pairs, "corpus plants near-dups; expansion must emit pairs"
    seen = set()
    for r in pairs:
        assert r["src"] < r["dst"]
        assert r["gen"] in ("allpairs", "star")
        assert (r["src"], r["dst"]) not in seen
        seen.add((r["src"], r["dst"]))


def test_custom_threshold_disables_hamming_precut(spark):
    """Round-5 verdict "What's wrong #1": SIMHASH_HAM_MAX (22) was
    measured for est-Jaccard >= 0.7 pairs; a legal
    DedupConfig(similarity=0.5) admits true pairs whose Hamming exceeds
    it, which the band expansion silently dropped. Planted pair: a
    24-line doc and its 12-line prefix — kernel-measured exact J 0.520,
    lane-estimate dist 0.484 <= 0.5, SimHash Hamming 24 > 22, and they
    co-bucket in 2 bands. With the threshold-coupled cut the edge is
    found; the preset regimes keep the cut active."""
    import numpy as np

    from sparkdedup.corpus import _base_text
    from sparkdedup.functions.shingles import signature_of
    from sparkdedup.operators.verify import jaccard_edges

    lines = _base_text(42, 9_000_042, n_lines=24)
    a, b = "\n".join(lines), "\n".join(lines[:12])
    # the planted pair really is beyond the constant cut
    _, sim_a, _, _ = signature_of(a, 7, 128, 42)
    _, sim_b, _, _ = signature_of(b, 7, 128, 42)
    ham = bin(int(np.uint64(np.int64(sim_a))
                  ^ np.uint64(np.int64(sim_b)))).count("1")
    assert ham > 22, f"fixture drifted: ham={ham}"

    cfg = DedupConfig(similarity=0.5)
    assert cfg.effective_ham_cut is None
    assert DedupConfig(similarity="similar").effective_ham_cut == 22
    assert DedupConfig(similarity="duplicates").effective_ham_cut == 22

    files = spark.createDataFrame(
        [("r", "a.py", "c" * 40, "python", a),
         ("r", "b.py", "c" * 40, "python", b)],
        "repo string, path string, commit string, lang string, "
        "content string")
    sigs, _ = build_signatures(spark, cfg, files)
    edges = jaccard_edges(dedup_pairs(candidate_pairs(sigs, cfg)),
                          sigs, cfg).collect()
    assert len(edges) == 1, "true J~0.5 pair must survive at tau=0.5"
    assert abs(edges[0]["dist"] - 0.484375) < 1e-9


def test_signatures_partitioning_invariant(spark):
    """build_signatures output is identical whether the source arrives
    as 1 partition (widened) or many (left alone)."""
    cfg = DedupConfig(similarity="similar")
    a, _ = build_signatures(spark, cfg, files_table(spark, n=200, seed=9,
                                                    partitions=1))
    b, _ = build_signatures(spark, cfg, files_table(spark, n=200, seed=9,
                                                    partitions=40))
    cols = ["file_id", "sha256", "simhash", "n_shingles"]
    ra = sorted(map(tuple, a.select(*cols).collect()))
    rb = sorted(map(tuple, b.select(*cols).collect()))
    assert ra == rb
