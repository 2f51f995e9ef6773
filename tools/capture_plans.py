"""Capture .explain('formatted') for the headline query paths into
plans/<tag>/<query>_<suffix>.txt (guide §1: plan shape evidence).

Usage: python tools/capture_plans.py <tag> <before|after>
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from sparkdedup.config import DedupConfig  # noqa: E402
from sparkdedup.corpus import documents_as_files  # noqa: E402
from sparkdedup.operators.lsh import candidate_pairs, dedup_pairs  # noqa: E402
from sparkdedup.operators.similarity import (  # noqa: E402
    cosine_topk_vectorized, derive_n_bits, srp_candidate_pairs)
from sparkdedup.plans.pipeline import (build_signatures,  # noqa: E402
                                       search_clusters)
from sparkdedup.session import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = Path(__file__).resolve().parent.parent / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark(app_name="sparkdedup-plans", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    files = documents_as_files(spark, sf)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cfg = DedupConfig(similarity="similar", containment=True)

    def dump(name: str, df) -> None:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        (out_dir / f"{name}_{suffix}.txt").write_text(buf.getvalue())
        print("wrote", name)

    sigs, invalid = build_signatures(spark, cfg, files)
    dump("q1_signatures", sigs)
    sigs = sigs.persist()
    sigs.count()
    dump("q2_lsh_pairs", dedup_pairs(candidate_pairs(sigs, cfg)))
    res = search_clusters(sigs, invalid, cfg)
    dump("q3_edges", res.edges)
    dump("q3_ranked", res.ranked)
    dump("q4_cosine_topk", cosine_topk_vectorized(
        emb, emb.filter(F.col("vec_id") < 20), k=5))
    dump("q5_srp_pairs", srp_candidate_pairs(
        emb, dim=64, n_bits=derive_n_bits(emb.count()), n_tables=8))
    res.release()
    sigs.unpersist()


if __name__ == "__main__":
    main()
