"""Seeded inputs for the workloads, with ground truth kept here.

The engine only ever sees ``(repo, path, commit, lang, content)`` parquet;
the ``gt_kind`` / ``gt_group`` / ``gt_member`` columns stay on the
benchmark side and are keyed by the engine's own ``file_id``
(``xxhash64(repo, path, commit)``, computed by ``with_file_id``).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

INPUT_COLS = ["repo", "path", "commit", "lang", "content"]
GT_COLS = ["file_id", "gt_kind", "gt_group", "gt_member"]

def planted(spark, n: int, seed: int) -> pd.DataFrame:
    """The ``sparkdedup.corpus`` planted mix (exact / near / contained /
    chain / skew / invalid / singleton regions) with its ``file_id``,
    rows shuffled by a seeded permutation so every region is spread over
    the whole input (and over every epoch of a stream)."""
    from sparkdedup.corpus import corpus_df
    from sparkdedup.functions.hashing import with_file_id
    parts = spark.sparkContext.defaultParallelism
    pdf = with_file_id(corpus_df(spark, n=n, seed=seed,
                                 partitions=parts)).toPandas()
    order = np.random.default_rng(seed).permutation(len(pdf))
    return pdf.iloc[order].reset_index(drop=True)


def write_parquet(pdf: pd.DataFrame, out_dir: str, n_files: int) -> int:
    """Write the engine-visible columns as ``n_files`` parquet files;
    returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.Table.from_pandas(pdf[INPUT_COLS], preserve_index=False)
    bounds = np.linspace(0, len(pdf), n_files + 1).astype(int)
    size = 0
    for k in range(n_files):
        path = os.path.join(out_dir, f"part-{k:03d}.parquet")
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                       path)
        size += os.path.getsize(path)
    return size
