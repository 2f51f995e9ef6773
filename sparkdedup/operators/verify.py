"""Pair verification: SimHash Hamming pre-cut + MinHash Jaccard estimate
+ similarity threshold (difPy O10-O13).

Reference behavior: difPy computes MSE per candidate pair — optionally
minimized over rotations (`/root/reference/difPy/dif.py:697-717`; note
the loop at :701 covers 0/90/180 only, never the documented 270 —
SURVEY.md §2.2) — then keeps pairs with ``mse <= similarity``
(`dif.py:450,461,497-507`). Our distance is ``1 - estimated Jaccard``
where the estimate is the fraction of agreeing MinHash lanes; SimHash
Hamming distance (``bit_count(xor)``) is the cheap first cut, exactly as
difPy's ``same_dim``/equality short-circuits run before float MSE.

Everything here is JVM builtins inside whole-stage codegen —
``bit_count``/``xor`` for Hamming, ``zip_with``+``aggregate`` for lane
agreement. No Python in the per-pair hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkdedup.config import DedupConfig


def _lane_agree(a: str, b: str) -> F.Column:
    """Count of agreeing array lanes — one zip_with pass inside
    whole-stage codegen. (The former packed-binary encoding needed
    2*num_perm substring() byte-array allocations per pair — measured
    6x slower and GC-noisy at 1M pairs, round 3.)"""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, x: acc + x)


def jaccard_edges(pairs: DataFrame, sigs: DataFrame,
                  cfg: DedupConfig) -> DataFrame:
    """MinHash-lane verification of candidate pairs; keeps pairs with
    ``dist = 1 - est_jaccard <= cfg.threshold``. Emits
    ``(src, dst, dist, kind='near', gen)``.

    ``pairs`` arrives NARROW (src, dst, gen — the Hamming cut already
    ran inside the band expansion, operators/lsh.py). The wide minhash
    table is SEMI-JOIN-PRUNED to the candidate-pair ids BEFORE the two
    per-side hash joins: the pair set is orders of magnitude smaller
    than the corpus, so without the prune both joins re-shuffled every
    file's 128-lane (1 KB) signature row regardless of how few pairs
    survived the banding — the same discipline the round-4 containment
    verify gained (operators/containment.py), applied here per the
    round-4 verdict. The id list is a distinct over the narrow pairs;
    AQE sizes it at runtime and broadcasts the semi-join, so the wide
    side never moves for ids that no pair references.

    The ``pairs`` subplan appears three times (two id projections + the
    join spine), so it is materialized with an eager ``localCheckpoint``
    first: relying on exchange reuse (ReusedExchange / AQE stage reuse)
    to dedupe the three subtrees does NOT hold in practice — the
    projections diverge below the dedup exchange and AQE re-plans each
    independently, so the whole banding pipeline executed up to 3x
    (measured round 5 at sf0.1: verify stage 8.4s -> 4.3s with the
    checkpoint, identical edges; the same pathology at any scale, since
    banding cost grows with the corpus). The checkpointed rows are
    narrow (src, dst, gen — ~24 B/pair) and bounded by the bucket
    cap per band, so the materialization is tiny relative to the signature
    table at every scale; blocks are freed by the ContextCleaner when
    the returned DataFrame is garbage-collected. ``sigs`` may be a
    union (the streaming batch ∪ history minhash): the id semi-join
    pushes down through it onto each side's scan.

    A low-bit digest PRE-filter before this join was built and measured
    in round 4 and rejected: after the Hamming cut ~41% of surviving
    candidates are true positives on the planted corpus, so the extra
    digest join + survivor re-join cost ~3x the single exact join it
    was meant to shrink (600k files, same-session A/B).
    """
    pairs = pairs.localCheckpoint(eager=True)
    ids = (pairs.select(F.col("src").alias("file_id"))
           .unionByName(pairs.select(F.col("dst").alias("file_id")))
           .distinct())
    mh = sigs.select("file_id", "minhash").join(ids, "file_id", "left_semi")
    joined = (pairs
              .join(mh.withColumnRenamed("minhash", "mh_src"),
                    pairs["src"] == mh["file_id"]).drop("file_id")
              .join(mh.withColumnRenamed("minhash", "mh_dst").alias("m2"),
                    F.col("dst") == F.col("m2.file_id")).drop("file_id"))
    agree = _lane_agree("mh_src", "mh_dst")
    dist = F.lit(1.0) - agree.cast("double") / F.lit(float(cfg.num_perm))
    return (joined
            .withColumn("dist", dist)
            .filter(F.col("dist") <= F.lit(cfg.threshold))
            .select("src", "dst", "dist", F.lit("near").alias("kind"), "gen"))
