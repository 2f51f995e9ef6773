"""Traced run: each engine layer timed from outside, through its public
function, on materialized inputs.

Every layer call runs in a ``phase``: a wall-clock window under its own
Spark job-group label. After the session stops, the Spark event log is
read back and task time, shuffle bytes and stages are summed per label.
Jobs the engine submits from its own worker threads carry no label
(PySpark keeps job groups per Python thread) and a streaming query labels
its jobs with its run id, so a job without one of these labels is
credited to the phase whose window it was submitted in; phases never
overlap.

Operator inputs are the persisted signature table and one row per
``sha256`` (its min ``file_id``), built here with a plain aggregate. The
merged edge set that connected components and ranking consume is the
engine's own (``search_clusters(...).edges``), so nothing here re-states
the pipeline.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

#: (epochs, files per epoch) of the stream a batch workload's traced run
#: ingests, from its own input, to measure the streaming layer
STREAM_SLICE = (2, 100)

#: every per-layer metric and its unit, in BENCHMARK.json order
UNITS = {
    "session.start_s": "s", "session.gc_s": "s", "session.peak_rss_mb": "MB",
    "sources.wall_s": "s", "sources.rows_valid": "count",
    "sources.rows_invalid": "count",
    "featurize.wall_s": "s", "featurize.task_s": "s",
    "featurize.rows": "count", "featurize.content_mb": "MB",
    "exact.wall_s": "s", "exact.edges": "count",
    "lsh.wall_s": "s", "lsh.task_s": "s", "lsh.shuffle_mb": "MB",
    "lsh.pairs": "count", "lsh.star_pairs": "count",
    "verify.wall_s": "s", "verify.task_s": "s", "verify.shuffle_mb": "MB",
    "verify.edges": "count", "verify.yield": "ratio",
    "containment.wall_s": "s", "containment.task_s": "s",
    "containment.shuffle_mb": "MB", "containment.stages": "count",
    "containment.edges": "count",
    "components.wall_s": "s", "components.distributed_s": "s",
    "components.edges_in": "count", "components.clusters": "count",
    "ranking.wall_s": "s", "ranking.rows": "count",
    "pipeline.search_s": "s", "pipeline.plan_edges_s": "s",
    "pipeline.materialize_edges_s": "s", "pipeline.cc_s": "s",
    "pipeline.stats_s": "s", "pipeline.jobs": "count",
    "pipeline.stages": "count", "pipeline.task_s": "s",
    "pipeline.shuffle_mb": "MB", "pipeline.overlap": "ratio",
    "streaming.epoch_first_s": "s", "streaming.epoch_last_s": "s",
    "streaming.epoch_slope_s": "s", "streaming.sig_files": "count",
    "streaming.signatures_mb": "MB", "streaming.bands_mb": "MB",
    "streaming.edges_mb": "MB", "streaming.clusters_mb": "MB",
    "streaming.read_clusters_s": "s", "streaming.task_s": "s",
    "streaming.shuffle_mb": "MB",
    "trace.overhead_s": "s",
}


class Tracer:
    """Wall-clock phases, each under its own job-group label."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.windows: list[tuple[str, float, float]] = []
        self.wall: dict[str, float] = {}

    @contextmanager
    def phase(self, label: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(label, label)
        t0, w0 = time.monotonic(), time.time() * 1000
        try:
            yield
        finally:
            self.wall[label] = time.monotonic() - t0
            self.windows.append((label, w0, time.time() * 1000))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def label_of(self, job_group: str | None, submitted_ms: float):
        if job_group in self.wall:
            return job_group
        # unlabelled, or labelled by the engine itself (a streaming query
        # runs its micro-batches under its own run id)
        for label, lo, hi in self.windows:
            if lo <= submitted_ms <= hi:
                return label
        return None


def read_event_log(event_dir: str, tracer: Tracer) -> dict:
    """Per label: jobs, stages that ran tasks, task seconds and shuffle
    read+write MB."""
    stage_label: dict[int, str] = {}
    agg: dict = defaultdict(lambda: {"jobs": 0, "stages": set(),
                                     "task_s": 0.0, "shuffle_mb": 0.0})
    files = sorted(glob.glob(os.path.join(event_dir, "**", "events_*"),
                             recursive=True))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    label = tracer.label_of(props.get("spark.jobGroup.id"),
                                            ev["Submission Time"])
                    if label is None:
                        continue
                    agg[label]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_label[sid] = label
                elif kind == "SparkListenerTaskEnd":
                    label = stage_label.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if label is None or not m:
                        continue
                    a = agg[label]
                    a["stages"].add(ev["Stage ID"])
                    a["task_s"] += m["Executor Run Time"] / 1000
                    rd = m["Shuffle Read Metrics"]
                    wr = m["Shuffle Write Metrics"]
                    a["shuffle_mb"] += (rd["Remote Bytes Read"]
                                        + rd["Local Bytes Read"]
                                        + wr["Shuffle Bytes Written"]) / 2**20
    return {k: dict(v, stages=len(v["stages"])) for k, v in agg.items()}


def jvm_gc_s(spark) -> float:
    """Collection time of every JVM collector so far; in local mode the
    driver JVM runs all tasks, so this is all GC of the run."""
    beans = (spark.sparkContext._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return sum(b.getCollectionTime() for b in beans) / 1000


def batch_layers(tr: Tracer, input_dir: str) -> tuple[dict, list]:
    """Each batch-pipeline layer once, on persisted inputs; returns the
    figures and the failed checks."""
    from pyspark.sql import functions as F

    from sparkdedup import build_signatures, search_clusters
    from sparkdedup.operators.components import connected_components
    from sparkdedup.operators.containment import containment_edges
    from sparkdedup.operators.exact import exact_edges
    from sparkdedup.operators.lsh import candidate_pairs, dedup_pairs
    from sparkdedup.operators.ranking import rank_clusters
    from sparkdedup.operators.verify import jaccard_edges
    from sparkdedup.sources.files import read_files, split_invalid
    from workloads import config

    spark, cfg, out = tr.spark, config([input_dir]), {}
    with tr.phase("sources"):
        valid, invalid = split_invalid(read_files(spark, cfg), cfg)
        out["sources.rows_valid"] = valid.count()
        out["sources.rows_invalid"] = invalid.count()
    with tr.phase("featurize"):
        sigs, invalid = build_signatures(spark, cfg)
        sigs = sigs.persist()
        out["featurize.rows"] = sigs.count()
    out["featurize.content_mb"] = (
        sigs.agg(F.sum("n_chars")).first()[0] / 2**20)
    firsts = sigs.groupBy("sha256").agg(F.min("file_id").alias("file_id"))
    reps = sigs.join(firsts.select("file_id"), "file_id",
                     "left_semi").persist()
    reps.count()
    with tr.phase("exact"):
        out["exact.edges"] = exact_edges(sigs, cfg).count()
    with tr.phase("lsh"):
        pairs = dedup_pairs(candidate_pairs(reps, cfg)).persist()
        out["lsh.pairs"] = pairs.count()
    out["lsh.star_pairs"] = pairs.filter(F.col("gen") == "star").count()
    with tr.phase("verify"):
        out["verify.edges"] = jaccard_edges(pairs, reps, cfg).count()
    out["verify.yield"] = out["verify.edges"] / max(out["lsh.pairs"], 1)
    with tr.phase("containment"):
        out["containment.edges"] = containment_edges(reps, cfg).count()
    pairs.unpersist()
    reps.unpersist()

    with tr.phase("pipeline"):
        t0 = time.monotonic()
        res = search_clusters(sigs, invalid, cfg)
        out["pipeline.search_s"] = time.monotonic() - t0
        t0 = time.monotonic()
        stats = res.stats()
        out["pipeline.stats_s"] = time.monotonic() - t0
    timings = stats["process"]["search"]["timings_sec"]
    out["pipeline.plan_edges_s"] = timings["plan_edges"]
    out["pipeline.materialize_edges_s"] = timings["materialize_edges"]
    out["pipeline.cc_s"] = timings["connected_components"]

    edges = res.edges
    out["components.edges_in"] = edges.count()
    with tr.phase("components"):
        clusters = connected_components(edges)
        out["components.clusters"] = (
            clusters.select("cluster_id").distinct().count())
    with tr.phase("components_distributed"):
        dist = connected_components(edges, driver_max_edges=0)
        dist_clusters = dist.select("cluster_id").distinct().count()
    failures = []
    if dist_clusters != out["components.clusters"]:
        failures.append(f"distributed CC found {dist_clusters} clusters, "
                        f"driver CC {out['components.clusters']}")
    with tr.phase("ranking"):
        ranked = rank_clusters(
            clusters, sigs.select("file_id", "repo", "path", "n_chars"))
        ranked.write.format("noop").mode("overwrite").save()
    out["ranking.rows"] = ranked.count()
    res.release()
    sigs.unpersist()
    return out, failures


def streaming_layer(tr: Tracer, epochs: list, out_dir: str) -> dict:
    """Per-epoch latencies of a finished ``incremental_dedup`` drain, a
    timed ``current_clusters`` read and the sizes of its tables."""
    import measure
    from sparkdedup.streaming.ingest import current_clusters
    with tr.phase("read_clusters"):
        current_clusters(tr.spark, out_dir).count()
    out = {"streaming.epoch_first_s": epochs[0],
           "streaming.epoch_last_s": epochs[-1],
           "streaming.epoch_slope_s":
               (epochs[-1] - epochs[0]) / max(len(epochs) - 1, 1),
           "streaming.read_clusters_s": tr.wall["read_clusters"],
           "streaming.sig_files":
               measure.count_files(os.path.join(out_dir, "signatures"))}
    for table in ("signatures", "bands", "edges", "clusters"):
        out[f"streaming.{table}_mb"] = measure.data_bytes(
            os.path.join(out_dir, table)) / 2**20
    return out


def run(wl, session_s: float, jvm_pid: int, event_dir: str, restart):
    """Untraced job, traced job, then every layer; returns ``(metrics,
    reps, extra)``. The stream workload's traced job is its
    streaming-layer measurement; a batch workload ingests a slice of its
    input as a stream for it.

    ``trace.overhead_s`` is the traced job's wall minus the untraced
    job's wall, both in this process: one untraced repeat, then
    ``restart()`` turns the event log on before the traced repeat. The
    restart keeps the JVM (and its JIT and codegen caches) but starts new
    Python workers, which the traced repeat then pays for."""
    import inputs
    import measure
    from workloads import ingest

    sampler = measure.RssSampler(jvm_pid).start()
    wl.prepare()
    setup_gc_s = jvm_gc_s(wl.spark)
    untraced = wl.rep(0)
    spark = wl.spark = restart()
    tr = Tracer(spark)
    stream = wl.spec["kind"] == "stream"
    traced = wl.rep(1, around=lambda: tr.phase("streaming" if stream
                                                else "e2e"))
    if stream:
        epochs, stream_out = traced.epochs_s, os.path.join(wl.work, "out1")
    else:
        n, per = STREAM_SLICE
        slice_dir = os.path.join(wl.work, "stream_slice")
        inputs.write_parquet(wl.pdf.iloc[:n * per], slice_dir, n)
        stream_out = os.path.join(wl.work, "stream_out")
        with tr.phase("streaming"):
            _, epochs = ingest(spark, slice_dir, stream_out)
    layer = streaming_layer(tr, epochs, stream_out)
    batch, failures = batch_layers(tr, wl.input_dir)
    layer.update(batch)
    layer["session.peak_rss_mb"] = sampler.stop()
    spark.stop()
    ev = read_event_log(event_dir, tr)

    def agg(label, key):
        return ev.get(label, {}).get(key, 0)

    layer["session.start_s"] = session_s
    layer["session.gc_s"] = setup_gc_s
    layer["sources.wall_s"] = tr.wall["sources"]
    for name in ("featurize", "exact", "lsh", "verify", "containment",
                 "components", "ranking"):
        layer[f"{name}.wall_s"] = tr.wall[name]
    layer["featurize.task_s"] = agg("featurize", "task_s")
    for name in ("lsh", "verify", "containment"):
        layer[f"{name}.task_s"] = agg(name, "task_s")
        layer[f"{name}.shuffle_mb"] = agg(name, "shuffle_mb")
    layer["containment.stages"] = agg("containment", "stages")
    layer["components.distributed_s"] = tr.wall["components_distributed"]
    for key in ("jobs", "stages", "task_s", "shuffle_mb"):
        layer[f"pipeline.{key}"] = agg("pipeline", key)
    layer["pipeline.overlap"] = sum(
        tr.wall[n] for n in ("exact", "lsh", "verify", "containment",
                             "components")) / layer["pipeline.search_s"]
    layer["streaming.task_s"] = agg("streaming", "task_s")
    layer["streaming.shuffle_mb"] = agg("streaming", "shuffle_mb")
    layer["trace.overhead_s"] = traced.job_s - untraced.job_s
    traced.failures += failures
    metrics = {k: {"value": layer[k], "unit": u} for k, u in UNITS.items()}
    extra = {"untraced_job_s": untraced.job_s, "traced_job_s": traced.job_s,
             "phases_s": {k: round(v, 4) for k, v in tr.wall.items()},
             "labels": ev}
    return metrics, [untraced, traced], extra
