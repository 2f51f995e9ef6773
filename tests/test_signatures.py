"""Unit tests for the shingle/MinHash/SimHash kernel (difPy O4)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkdedup.config import DedupConfig
from sparkdedup.functions.shingles import (BatchScratch, minhash_params,
                                           normalize_text, shingle_hashes,
                                           signature_of, signatures_of_batch,
                                           with_signature)

CFG = dict(k=7, num_perm=128, seed=42, anchor_mod=32, max_anchors=512)


def test_deterministic_across_calls():
    mh1, s1, n1, b1 = signature_of("def foo(x): return x + 1", **CFG)
    mh2, s2, n2, b2 = signature_of("def foo(x): return x + 1", **CFG)
    assert np.array_equal(mh1, mh2) and s1 == s2 and n1 == n2
    assert np.array_equal(b1, b2)


def test_seed_changes_signature():
    mh1, *_ = signature_of("some content here", **CFG)
    mh2, *_ = signature_of("some content here", k=7, num_perm=128, seed=43)
    assert not np.array_equal(mh1, mh2)


def test_normalization_collapses_whitespace():
    a = shingle_hashes("a  b\n\tc", 2)
    b = shingle_hashes("a b c", 2)
    assert np.array_equal(a, b)


def test_short_and_empty_strings():
    assert shingle_hashes("", 7).size == 0
    one = shingle_hashes("ab", 7)
    assert one.size == 1  # whole-string fallback shingle
    mh, sim, n, bot = signature_of("", **CFG)
    assert n == 0 and bot.size == 0 and mh.shape == (128,)


def test_jaccard_estimate_tracks_true_jaccard():
    rng = np.random.default_rng(0)
    words = [f"w{i}" for i in range(200)]
    base = " ".join(rng.choice(words, 150))
    # mutate ~10% of words
    toks = base.split()
    idx = rng.choice(len(toks), size=15, replace=False)
    for i in idx:
        toks[i] = "zz" + toks[i]
    other = " ".join(toks)
    sa = set(shingle_hashes(base, 7).tolist())
    sb = set(shingle_hashes(other, 7).tolist())
    true_j = len(sa & sb) / len(sa | sb)
    mha, *_ = signature_of(base, **CFG)
    mhb, *_ = signature_of(other, **CFG)
    est_j = (mha == mhb).mean()
    assert abs(est_j - true_j) < 0.12  # 128 lanes -> stderr ~0.04


def test_identical_content_identical_everything():
    mha, sa, _, ba = signature_of("x = compute(value) + 42", **CFG)
    mhb, sb, _, bb = signature_of("x = compute(value) + 42", **CFG)
    assert np.array_equal(mha, mhb) and sa == sb and np.array_equal(ba, bb)


def test_simhash_hamming_separates_planted_kinds():
    """Pins the bounds the simhash_hamming driver oracle relies on:
    exact copy -> ham 0; suffix-extended copy -> small ham; letter-
    rotated text (disjoint shingles) -> ham near 32 of 64 bits."""
    rot = str.maketrans("abcdefghijklmnopqrstuvwxyz",
                        "nopqrstuvwxyzabcdefghijklm")
    base = ("the quick brown fox jumps over the lazy dog and then "
            "sorts a merge join over the filtered customer table ") * 3
    _, s0, _, _ = signature_of(base, **CFG)
    _, s1, _, _ = signature_of(base, **CFG)
    _, s2, _, _ = signature_of(base + " qq ww ee rr tt yy uu", **CFG)
    _, s3, _, _ = signature_of(base.translate(rot), **CFG)
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(s0, s1) == 0
    assert ham(s0, s2) <= 17
    assert ham(s0, s3) >= 19


def test_anchor_sketch_is_subset_for_contained_text():
    small = "the quick brown fox jumps over the lazy dog " * 3
    big = "prefix padding text here " + small + " suffix padding text"
    hs = set(shingle_hashes(small, 7).tolist())
    hb = set(shingle_hashes(big, 7).tolist())
    assert hs <= hb  # containment => shingle subset (normalized)


@settings(max_examples=30, deadline=None)
@given(st.text(min_size=0, max_size=300))
def test_signature_total_function(text):
    mh, sim, n, bot = signature_of(text, **CFG)
    assert mh.shape == (128,)
    assert isinstance(sim, int)
    assert bot.size <= 16


def test_batch_kernel_matches_per_doc_oracle():
    """signatures_of_batch (the production kernel) must be bit-identical
    to signature_of per doc, across edge cases, with a REUSED scratch."""
    rng = np.random.default_rng(7)
    import string
    alpha = list(string.ascii_letters + "     .,;")
    texts = ["", " ", "ab", "abcdef", "abcdefg", "aaa", "zz",
             "日本語テキスト短", "x y  z\t\nw",
             "日本語のテキストです。これは長い文章でシングルが出ます。" * 3,
             "abcabcabc" * 50, "the the the the the" * 20]
    texts += ["".join(rng.choice(alpha, size=int(rng.integers(0, 600))))
              for _ in range(150)]
    params = minhash_params(128, 42)
    sc = BatchScratch()
    for _rep in range(2):  # reused scratch must not leak state
        mh_b, sim_b, cnt_b, anch_b = signatures_of_batch(
            texts, 7, 128, 42, 32, 512, params, sc)
        for i, t in enumerate(texts):
            mh, sim, n, anc = signature_of(t, **CFG)
            assert np.array_equal(mh, mh_b[i]), f"minhash doc {i}"
            assert sim == sim_b[i], f"simhash doc {i}"
            assert n == cnt_b[i], f"n_shingles doc {i}"
            assert np.array_equal(anc, anch_b[i]), f"anchors doc {i}"


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=120), min_size=1, max_size=12))
def test_batch_kernel_parity_property(texts):
    params = minhash_params(32, 42)
    mh_b, sim_b, cnt_b, anch_b = signatures_of_batch(
        texts, 7, 32, 42, 32, 512, params)
    for i, t in enumerate(texts):
        mh, sim, n, anc = signature_of(t, 7, 32, 42, 32, 512, params)
        assert np.array_equal(mh, mh_b[i])
        assert sim == sim_b[i] and n == cnt_b[i]
        assert np.array_equal(anc, anch_b[i])


def test_spark_udf_matches_kernel(spark):
    rows = [("r", f"p{i}", "c", "python", f"def f_{i}(): return {i} " * 5)
            for i in range(20)]
    df = spark.createDataFrame(rows,
                               "repo string, path string, commit string, "
                               "lang string, content string")
    cfg = DedupConfig()
    out = {r["path"]: r for r in with_signature(df, cfg).collect()}
    params = minhash_params(cfg.num_perm, cfg.seed)
    for repo, path, commit, lang, content in rows:
        mh, sim, n, anc = signature_of(content, cfg.shingle_k, cfg.num_perm,
                                       cfg.seed, cfg.anchor_mod,
                                       cfg.max_anchors, params)
        got = out[path]
        assert got["minhash"] == mh.astype("int64").tolist()
        assert got["simhash"] == sim
        assert got["n_shingles"] == n
        assert got["anchors"] == anc.tolist()


def test_normalize_text():
    assert normalize_text("  a\t\nb   c ") == "a b c"
