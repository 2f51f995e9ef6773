"""Quality ranking / representative selection (difPy O16; the O17
match counts are ``SearchResult.stats()``, by edge ``kind``).

Reference behavior: within each match group difPy re-opens every file and
ranks by ``sum(image.size)`` (w+h) descending with path tiebreak
(`/root/reference/difPy/dif.py:733-742`), keeps the best and pools the
rest into ``lower_quality`` (`dif.py:564-597`), deduped globally
(`dif.py:596,632`). We never re-open anything — ``n_chars`` is already a
column — and the ranking is one window: ``row_number() over
(partition by cluster_id order by n_chars desc, path asc)``.

difPy ranks ties by path DESCENDING (tuple sort at dif.py:741 sorts
(size, path) and takes the last); we use path ASCENDING as the stable,
documented choice and the oracle mirrors it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rank_clusters(clusters: DataFrame, files: DataFrame) -> DataFrame:
    """Join cluster ids back to file metadata and rank members.

    ``clusters``: (file_id, cluster_id); ``files``: (file_id, repo, path,
    n_chars). Returns (cluster_id, file_id, repo, path, n_chars, rn,
    is_keep) — ``rn==1`` is the representative, ``rn>1`` is
    ``lower_quality``. Hash join on file_id + one window shuffle.
    """
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("path"), F.asc("file_id"))
    return (
        clusters.join(files, "file_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("is_keep", F.col("rn") == 1)
        .select("cluster_id", "file_id", "repo", "path", "n_chars",
                "rn", "is_keep")
    )


def lower_quality(ranked: DataFrame) -> DataFrame:
    """difPy ``search.lower_quality`` (dif.py:564-597): every non-best
    member, globally distinct."""
    return (ranked.filter(~F.col("is_keep"))
            .select("file_id", "repo", "path").distinct())

