"""The workloads: seeded inputs, the timed job, and the checks each
repeat's outputs must pass. ``README.md`` explains the choice."""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

#: ``files`` generated per seed and written as ``input_files`` parquet
#: files (a stream ingests one per trigger); the warm-up pass runs on the
#: first ``warm[0]`` rows written as ``warm[1]`` files. A fixed file
#: count keeps the engine's scan partitioning the same on every host.
#: README.md explains the choice and the sizes.
WORKLOADS = {
    "batch-planted": dict(kind="batch", files=10000, input_files=4,
                          warm=(300, 4)),
    "stream-ingest": dict(kind="stream", files=600, input_files=2,
                          warm=(25, 1)),
}


@dataclass
class Rep:
    """One timed operation and what its outputs were checked against."""
    job_s: float
    epochs_s: list
    write_bytes: int
    quality: dict
    failures: list = field(default_factory=list)


def config(tables=()):
    from sparkdedup import DedupConfig
    return DedupConfig(tables=tuple(tables), similarity="similar",
                       containment=True)


class Workload:
    """Set-up shared by both kinds: seeded input written as parquet,
    ground truth kept here, one untimed warm-up pass on a small slice."""

    def __init__(self, spark, spec, seed, work):
        self.spark, self.spec, self.seed, self.work = spark, spec, seed, work

    def prepare(self) -> None:
        import inputs
        t0 = time.monotonic()
        pdf = inputs.planted(self.spark, self.spec["files"], self.seed)
        self.gt = pdf[inputs.GT_COLS]
        self.pdf, self.n_files = pdf, len(pdf)
        self.input_dir = os.path.join(self.work, "input")
        self.input_bytes = inputs.write_parquet(pdf, self.input_dir,
                                                self.spec["input_files"])
        warm_dir = os.path.join(self.work, "warm_input")
        rows, files = self.spec["warm"]
        inputs.write_parquet(pdf.iloc[:rows], warm_dir, files)
        self.inputs_s = time.monotonic() - t0
        t0 = time.monotonic()
        self.warm(warm_dir, os.path.join(self.work, "warm_out"))
        self.warmup_s = time.monotonic() - t0


class Batch(Workload):
    """read parquet -> build_signatures -> search_clusters -> write
    ``ranked`` and ``lower_quality`` -> ``stats()``."""

    def warm(self, input_dir, out_dir) -> None:
        _, res, _ = self.job(input_dir, out_dir)
        res.release()

    def job(self, input_dir, out_dir):
        """The timed job; returns ``(seconds, SearchResult, stats)`` with
        the result's caches still pinned for the checks."""
        from sparkdedup import build_signatures, search_clusters
        cfg = config([input_dir])
        t0 = time.monotonic()
        sigs, invalid = build_signatures(self.spark, cfg)
        res = search_clusters(sigs, invalid, cfg)
        res.ranked.write.mode("overwrite").parquet(f"{out_dir}/ranked")
        res.lower_quality_df.write.mode("overwrite").parquet(
            f"{out_dir}/lower_quality")
        stats = res.stats()
        return time.monotonic() - t0, res, stats

    def rep(self, i: int, around=contextlib.nullcontext) -> Rep:
        """Run the job inside ``around()``, then check its outputs."""
        import measure
        out_dir = os.path.join(self.work, f"out{i}")
        with around():
            job_s, res, stats = self.job(self.input_dir, out_dir)
        try:
            kinds = {r["kind"]: r["count"] for r in
                     res.edges.groupBy("kind").count().collect()}
            clusters = res.clusters.toPandas()
        finally:
            res.release()
        q = measure.quality(self.gt, clusters)
        got = stats["results"]
        want = {"duplicate_pairs": kinds.get("exact", 0),
                "similar_pairs": kinds.get("near", 0),
                "contained_pairs": kinds.get("contained", 0),
                "matched_files": len(clusters),
                "clusters": int(clusters["cluster_id"].nunique())}
        failures = [f"stats {k}={got[k]} but outputs give {v}"
                    for k, v in want.items() if got[k] != v]
        n_ranked = pq.ParquetDataset(f"{out_dir}/ranked").read(
            columns=["file_id"]).num_rows
        if n_ranked != len(clusters):
            failures.append(f"ranked has {n_ranked} rows for "
                            f"{len(clusters)} clustered files")
        failures += _common_failures(q)
        return Rep(job_s, [job_s], measure.data_bytes(out_dir), q, failures)


class Stream(Workload):
    """``incremental_dedup(near_dup=True)`` draining one parquet file per
    trigger (``availableNow``) -> ``current_clusters(...).count()``."""

    def warm(self, input_dir, out_dir) -> None:
        ingest(self.spark, input_dir, out_dir)

    def rep(self, i: int, around=contextlib.nullcontext) -> Rep:
        """Run the job inside ``around()``, then check its outputs."""
        import measure
        from sparkdedup.streaming.ingest import current_clusters
        out_dir = os.path.join(self.work, f"out{i}")
        with around():
            job_s, epochs = ingest(self.spark, self.input_dir, out_dir)
        clusters = current_clusters(self.spark, out_dir).toPandas()
        q = measure.quality(self.gt, clusters)
        failures = _common_failures(q)
        if len(epochs) != self.spec["input_files"]:
            failures.append(f"{len(epochs)} epochs ran for "
                            f"{self.spec['input_files']} files")
        return Rep(job_s, epochs,
                   measure.data_bytes(out_dir, skip=("_checkpoint",)),
                   q, failures)


def ingest(spark, input_dir, out_dir):
    """The timed stream job; returns ``(seconds, per-epoch seconds)``."""
    from sparkdedup.streaming.ingest import (current_clusters,
                                             incremental_dedup)
    t0 = time.monotonic()
    q = incremental_dedup(spark, config(), input_dir, out_dir,
                          max_files_per_trigger=1, near_dup=True)
    q.awaitTermination()
    current_clusters(spark, out_dir).count()
    job_s = time.monotonic() - t0
    epochs = [p["durationMs"]["addBatch"] / 1000 for p in q.recentProgress
              if p["numInputRows"] > 0 and "addBatch" in p["durationMs"]]
    return job_s, epochs


def _common_failures(q: dict) -> list:
    out = []
    if q["exact_recall"] < 1.0:
        out.append(f"exact-duplicate recall {q['exact_recall']:.4f} < 1")
    if q["unknown_ids"]:
        out.append(f"{q['unknown_ids']} clustered ids not in the input")
    return out
