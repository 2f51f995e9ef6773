"""End-to-end pipelines mirroring difPy's two entry points (SURVEY.md §3).

``build_signatures``  ≙ ``difPy.build(...)``
(`/root/reference/difPy/dif.py:28-94`): scan -> validate/split ->
identity + sha256 + length cols -> MinHash/SimHash featurize. The
returned signature DataFrame is the reusable "build artifact" (difPy's
dif object of six dicts, dif.py:61; decode-once-search-many per
docs/getting_started/basic_usage.rst:16-21).

``search_clusters``  ≙ ``difPy.search(dif, ...)``
(`dif.py:254-314`): exact edges (sha256 groups) ∪ near edges (LSH ->
Hamming -> Jaccard-threshold) ∪ containment edges (suffix-array stage)
-> connected components -> rank representatives -> result / lower_quality
/ stats / actions.

Scale notes: the near-dup stage runs on ONE representative per sha256
group (`_distinct_reps`), so a 10^4-copy boilerplate file is a single
LSH node — exact-dup skew never reaches the band shuffle. All stats are
computed in ONE job over the edge set; result-dict materialization
(difPy-shaped) is test-scale only and says so.
"""

from __future__ import annotations

import json
import logging
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkdedup.config import DedupConfig
from sparkdedup.functions.hashing import (with_file_id, with_length_cols,
                                          with_sha256)
from sparkdedup.functions.shingles import with_signature
from sparkdedup.operators.components import connected_components
from sparkdedup.operators.containment import containment_edges
from sparkdedup.operators.exact import exact_edges
from sparkdedup.operators.lsh import candidate_pairs, dedup_pairs
from sparkdedup.operators.ranking import lower_quality, rank_clusters
from sparkdedup.operators.verify import jaccard_edges
from sparkdedup.sources.files import (read_files, split_invalid,
                                      widen_narrow_scan)

#: O23 progress reporting: difPy's console bar (dif.py:947-956) maps to
#: the Spark UI plus these structured log lines and the stats document.
log = logging.getLogger("sparkdedup")

SIGNATURE_COLS = [
    "file_id", "repo", "path", "commit", "lang", "content", "sha256",
    "n_chars", "n_lines", "len_bucket", "minhash", "simhash",
    "n_shingles", "anchors",
]


def build_signatures(spark: SparkSession, cfg: DedupConfig,
                     files: DataFrame | None = None
                     ) -> tuple[DataFrame, DataFrame]:
    """difPy build stage: returns ``(signatures, invalid_files)``."""
    if files is None:
        files = read_files(spark, cfg)
    valid, invalid = split_invalid(files, cfg)
    return featurize(widen_narrow_scan(valid), cfg), invalid


def featurize(valid: DataFrame, cfg: DedupConfig) -> DataFrame:
    """identity + sha256 + length cols + MinHash/SimHash over valid
    rows, projected to ``SIGNATURE_COLS``. Row-at-a-time only, so the
    streaming ingest applies the same lineage to a ``readStream``."""
    sigs = with_signature(
        with_length_cols(with_sha256(with_file_id(valid))), cfg)
    return sigs.select(*SIGNATURE_COLS)


def _distinct_reps(sigs: DataFrame, cfg: DedupConfig,
                   n_rows: int | None = None) -> DataFrame:
    """One representative row per sha256 group (scoped by repo when
    in_folder) — collapses exact-dup mass before the LSH shuffle.

    The representatives are the rows that are no leaf of an exact star:
    ``exact_edges`` already roots each duplicate group at its min id, so
    its ``dst`` column IS the loser set, and the group-min aggregate is
    stated once (operators/exact.py). Anti-joining the LOSERS instead of
    inner-joining the representative ids keeps the wide signature rows
    off the shuffle: losers are the strictly smaller side (only
    dup-group members beyond the first)."""
    losers = exact_edges(sigs, cfg).select(F.col("dst").alias("file_id"))
    # The anti-join broadcast is EXPLICIT when the corpus row count
    # (known from the materialize count) bounds the loser list well
    # under spark.driver.maxResultSize (4g, session.py): 4M ids is a
    # ~64 MB UnsafeRow relation. Round-3 used 20M, which could approach
    # the driver ceiling on a real cluster (round-3 advice); above the
    # bound the shuffle anti-join stands and AQE converts when the
    # runtime size allows.
    if n_rows is not None and n_rows <= 4_000_000:
        losers = F.broadcast(losers)
    return sigs.join(losers, "file_id", "left_anti")


def plan_edges(sigs: DataFrame, reps: DataFrame,
               cfg: DedupConfig) -> DataFrame:
    """The one edge plan: exact edges over ``sigs`` ∪ near edges (LSH ->
    Hamming -> Jaccard) over ``reps`` ∪ containment edges over ``reps``
    when ``cfg.containment``, merged to one row per pair
    (``merge_edges``). Lazy apart from the eager pair/candidate
    checkpoints inside the near and containment branches. Batch search
    and the resumable run both plan through here."""
    edges = exact_edges(sigs, cfg).withColumn("gen", F.lit("exact"))
    # The near stage runs at threshold 0 too: difPy's 'duplicates' is
    # MSE == 0, which matches files that are not byte-identical
    # (dif.py:450,461); here dist <= 0 admits pairs whose MinHash agrees
    # on every lane (whitespace-normalized / shingle-set-equal files)
    # that sha256 grouping alone would miss. The Hamming cut runs
    # inside the band-bucket expansion (operators/lsh.py), so the pairs
    # arrive narrow and pre-cut.
    # The LSH-pair and containment-candidate materializations are
    # INDEPENDENT eager jobs over the same cached reps (each ends
    # in a localCheckpoint before the final edge DAG references it
    # several times). Submit each from its own thread so the
    # scheduler interleaves their stages: each job's stage tails
    # (the straggling last tasks of a shuffle) leave idle slots the
    # other job fills. Sequential submission measured ~54% executor
    # occupancy across the edge-planning phase at local[8]/1.2M;
    # overlap costs nothing at low parallelism (the scheduler just
    # queues) and lifts occupancy exactly where spare slots exist.
    # The verify stages themselves stay LAZY here on purpose: the
    # edge-merge action downstream runs the exact, Jaccard-verify
    # and SA-verify subtrees as independent stages of ONE job, which
    # the scheduler already overlaps — a round-6 variant that
    # eagerly checkpointed each verified branch in its own thread
    # measured +0.9 s at sf0.1 (three extra job barriers) and a
    # wash at 1.2M, so it was reverted. Session-level job
    # submission is thread-safe; both closures only read sigs/reps.
    with ThreadPoolExecutor(max_workers=2) as pool:
        branches = [pool.submit(lambda: jaccard_edges(
            dedup_pairs(candidate_pairs(reps, cfg)), reps, cfg))]
        if cfg.containment:
            # containment_edges manages its own transient storage (eager
            # localCheckpoint + internal unpersist) — nothing to release
            branches.append(pool.submit(
                lambda: containment_edges(reps, cfg)
                .withColumn("gen", F.lit("contain"))))
        for branch in branches:
            edges = edges.unionByName(branch.result())
    return merge_edges(edges)


def merge_edges(edges: DataFrame) -> DataFrame:
    """One row per ``(src, dst)``: the smallest ``dist``, the ``kind``
    that carries it, and the min ``gen`` when the input has that column
    (the streaming ``edges/`` table has none). Batch search, the
    resumable run and every streaming epoch merge through here.

    min_by over (dist, kind) — NOT dist alone: a pair can carry the
    same best distance under two kinds (byte-identical files are both
    an exact edge and an all-lane near edge at dist 0.0), and min_by on
    a tied ordering key is nondeterministic. A re-run, a resumed
    ``edges`` stage or a replayed streaming epoch could then write a
    different label and break the byte-identical rewrite. The struct
    tie-break is total ('exact' < 'near' lexicographically — exact
    wins the 0.0 tie, the right semantics)."""
    aggs = [F.min("dist").alias("dist"),
            F.min_by("kind", F.struct(F.col("dist"), F.col("kind")))
            .alias("kind")]
    if "gen" in edges.columns:
        aggs.append(F.min("gen").alias("gen"))
    return edges.groupBy("src", "dst").agg(*aggs)


@dataclass
class SearchResult:
    """difPy ``search`` output surface (dif.py:290: .result,
    .lower_quality, .stats) as DataFrames + builders."""

    cfg: DedupConfig
    edges: DataFrame          # (src, dst, dist, kind)
    clusters: DataFrame       # (file_id, cluster_id)
    ranked: DataFrame         # (cluster_id, file_id, repo, path, n_chars, rn, is_keep)
    invalid: DataFrame        # (repo, path, commit, reason)
    _timings: dict = field(default_factory=dict)
    _persisted: list = field(default_factory=list)
    _n_files: int = 0         # valid files searched (difPy files_searched)
    _durations: dict = field(default_factory=dict)  # build/search ISO spans
    _edge_counts: list = field(default_factory=list)  # {kind, gen, count}

    def release(self) -> None:
        """Unpersist every DataFrame the search pinned (sigs, reps,
        edges) — repeated searches in one session must not accumulate
        executor storage."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def __enter__(self) -> "SearchResult":
        return self

    def __exit__(self, *exc) -> None:
        self.release()

    @property
    def lower_quality_df(self) -> DataFrame:
        return lower_quality(self.ranked)

    def result(self, max_rows: int = 100_000) -> dict:
        """difPy-shaped dict {primary_path: [[match_path, dist], ...]}
        (O15, dif.py:400-430,533-562). COLLECTS — test scale only.
        ``in_folder`` nests one level under the repo, mirroring
        dif.py:545-562."""
        ranked = self.ranked.limit(max_rows + 1).collect()
        if len(ranked) > max_rows:
            raise ValueError(
                f"result(): more than {max_rows} matched files; "
                "read .ranked / .clusters DataFrames instead")
        # the edge set can be far larger than the member list (multi-band
        # survivors, containment edges) — guard this collect the same way
        max_edges = 10 * max_rows
        edge_rows = self.edges.limit(max_edges + 1).collect()
        if len(edge_rows) > max_edges:
            raise ValueError(
                f"result(): more than {max_edges} edges; "
                "read .edges DataFrame instead")
        dists = {(r["src"], r["dst"]): r["dist"] for r in edge_rows}
        # distance of each member to its cluster root: edges are sparse
        # (stars/LSH survivors), so non-adjacent display pairs get the
        # root-path upper bound d(a,root)+d(root,b) — exactly 0 for
        # exact-duplicate groups, a conservative estimate otherwise
        to_root: dict = {}
        for (a, b), d in dists.items():
            to_root[b] = min(to_root.get(b, d), d)
            to_root[a] = min(to_root.get(a, d), d)
        by_cluster: dict = {}
        for r in sorted(ranked, key=lambda r: r["rn"]):
            by_cluster.setdefault(r["cluster_id"], []).append(r)
        out: dict = {}
        for members in by_cluster.values():
            primary = members[0]
            matches = []
            for m in members[1:]:
                d = dists.get((primary["file_id"], m["file_id"]),
                              dists.get((m["file_id"], primary["file_id"]),
                                        None))
                if d is None and primary["file_id"] in to_root \
                        and m["file_id"] in to_root:
                    d = min(1.0, to_root[primary["file_id"]]
                            + to_root[m["file_id"]])
                matches.append([m["path"],
                                float(d) if d is not None else None])
            if self.cfg.in_folder:
                out.setdefault(primary["repo"], {})[primary["path"]] = matches
            else:
                out[primary["path"]] = matches
        return out

    def stats(self, max_invalid_logs: int = 10_000) -> dict:
        """difPy-shaped stats document (O18, dif.py:744-805) with the
        documented key structure (docs/getting_started/output.rst:74-104):
        ``directory`` / ``total_files`` / ``invalid_files.count+logs`` /
        ``process.build|search.duration{start,end,seconds_elapsed}`` +
        ``parameters`` / ``files_searched`` / ``matches_found``.

        The edge counts are the rows ``search_clusters`` collected when
        it materialized the edges, so this runs one aggregate over the
        clusters and one bounded collect of the invalid rows. The per-file
        invalid log is capped at ``max_invalid_logs`` entries (``count``
        stays exact: the invalid rows are counted only when there are
        more than that) — difPy collects all of them, which is
        driver-unsafe at 10^12-file scale; deliberate deviation.
        Engine-specific extras live under the additive ``results`` key.
        """
        n_matched, n_clusters = self.clusters.agg(
            F.count(F.lit(1)), F.countDistinct("cluster_id")).first()
        inv_rows = self.invalid.limit(max_invalid_logs + 1).collect()
        n_invalid = (self.invalid.count() if len(inv_rows) > max_invalid_logs
                     else len(inv_rows))
        logs = {f"{r['repo']}/{r['path']}": r["reason"]
                for r in inv_rows[:max_invalid_logs]}
        edge_rows = self._edge_counts
        dup = sum(r["count"] for r in edge_rows if r["kind"] == "exact")
        near = sum(r["count"] for r in edge_rows if r["kind"] == "near")
        contained = sum(r["count"] for r in edge_rows
                        if r["kind"] == "contained")
        capped = sum(r["count"] for r in edge_rows if r["gen"] == "star")
        cfg = self.cfg
        return {
            "directory": list(cfg.tables),
            "total_files": self._n_files + n_invalid,
            "invalid_files": {"count": n_invalid, "logs": logs},
            "process": {
                "build": {
                    "duration": self._durations.get("build", {}),
                    "parameters": {
                        "recursive": cfg.recursive,
                        "in_folder": cfg.in_folder,
                        "limit_extensions": cfg.limit_extensions,
                        # px_size ≙ signature resolution (config.py map)
                        "px_size": cfg.num_perm,
                        "shingle_k": cfg.shingle_k,
                        "processes": cfg.processes,
                    },
                },
                "search": {
                    "duration": self._durations.get("search", {}),
                    "parameters": {
                        "similarity_mse": cfg.threshold,
                        "rotate": cfg.containment,
                        "same_dim": cfg.same_dim,
                        "processes": cfg.processes,
                        "chunksize": cfg.chunksize,
                        "num_perm": cfg.num_perm,
                        "num_bands": cfg.num_bands,
                        "in_folder": cfg.in_folder,
                    },
                    "files_searched": self._n_files,
                    "matches_found": {"duplicates": dup, "similar": near},
                    "timings_sec": self._timings,
                },
            },
            "results": {
                "matched_files": n_matched,
                "clusters": n_clusters,
                "duplicate_pairs": dup,
                "similar_pairs": near,
                "contained_pairs": contained,
                "capped_star_pairs": capped,
            },
        }

    def stats_json(self) -> str:
        return json.dumps(self.stats(), indent=2, sort_keys=True)

    def actions(self, action: str = "delete",
                destination: str | None = None) -> DataFrame:
        """difPy move_to/delete sinks (O20/O21, dif.py:635-691) as DATA:
        an actions table, not filesystem mutation. ``moved_path``
        mirrors move_to's post-move path rewrite (dif.py:658-663:
        ``os.path.join(destination, tail)`` — destination + basename),
        which difPy writes back into ``lower_quality``."""
        lq = self.lower_quality_df
        if destination is not None:
            moved = F.concat(F.lit(destination.rstrip("/") + "/"),
                             F.element_at(F.split("path", "/"), -1))
        else:
            moved = F.lit(None).cast("string")
        return lq.select(
            "file_id", "repo", "path",
            F.lit(action).alias("action"),
            F.lit(destination).cast("string").alias("destination"),
            moved.alias("moved_path"),
        )


def search_clusters(sigs: DataFrame, invalid: DataFrame,
                    cfg: DedupConfig,
                    stage: Callable[[str, Callable[[], DataFrame]],
                                    DataFrame] | None = None
                    ) -> SearchResult:
    """difPy search stage over a signature DataFrame.

    ``sigs`` is consumed by several branches (exact edges, LSH, the
    containment index, final ranking) — persist it here so the
    featurize UDF runs ONCE, mirroring difPy's build-once/search-many
    artifact (dif.py:61). Same for the sha256 representatives.

    ``stage(name, build)`` runs the ``"edges"`` and ``"clusters"``
    stages; the default just calls ``build()``. The resumable run
    passes ``StageRunner.stage``, which commits each stage to disk or
    reads it back, so a resumed run searches through this same body.
    The reps are built inside the edges stage: a resume whose edges are
    committed never computes them. If anything raises, every DataFrame
    pinned so far is unpersisted before the error propagates.
    """
    stage = stage or (lambda _name, build: build())
    timings: dict[str, float] = {}
    build_start = datetime.now()
    persisted = [sigs.persist()]
    try:
        # materialize: ONE featurize pass feeds all branches
        n_sigs = sigs.count()
        build_end = datetime.now()
        log.info("search: %d signatures materialized", n_sigs)
        t0 = time.monotonic()

        def edges_build() -> DataFrame:
            reps = _distinct_reps(sigs, cfg, n_rows=n_sigs).persist()
            persisted.append(reps)
            log.info("search: %d distinct-content representatives",
                     reps.count())
            return plan_edges(sigs, reps, cfg)

        edges = stage("edges", edges_build).persist()
        persisted.append(edges)
        timings["plan_edges"] = time.monotonic() - t0

        # Materialize the merged edge set explicitly: every upstream
        # stage (band shuffle, Hamming/Jaccard verify, SA containment
        # verify) runs HERE, so its wall-time is attributable separately
        # from the CC rounds that follow (which then iterate over the
        # cached edges). The materializing job is the (kind, gen) count
        # that stats() reports, so stats() needs no edge job of its own.
        t1 = time.monotonic()
        edge_counts = [r.asDict() for r in
                       edges.groupBy("kind", "gen").count().collect()]
        n_edges = sum(r["count"] for r in edge_counts)
        timings["materialize_edges"] = time.monotonic() - t1
        t1 = time.monotonic()
        clusters = stage("clusters", lambda: connected_components(edges))
        timings["connected_components"] = time.monotonic() - t1
    except BaseException:
        for df in persisted:
            df.unpersist()
        raise
    log.info("search: plan %.1fs, %d edges in %.1fs, "
             "connected components %.1fs", timings["plan_edges"],
             n_edges, timings["materialize_edges"],
             timings["connected_components"])

    ranked = rank_clusters(clusters,
                           sigs.select("file_id", "repo", "path", "n_chars"))
    search_end = datetime.now()
    durations = {"build": _duration(build_start, build_end),
                 # search window ends when planning + CC complete; the
                 # lazily-consumed ranked/result outputs execute later
                 "search": _duration(build_end, search_end)}
    return SearchResult(cfg=cfg, edges=edges, clusters=clusters,
                        ranked=ranked, invalid=invalid, _timings=timings,
                        _persisted=persisted, _n_files=n_sigs,
                        _durations=durations, _edge_counts=edge_counts)


def _duration(start: datetime, end: datetime) -> dict:
    """difPy duration block (dif.py:764-768): ISO-8601 start/end +
    rounded seconds_elapsed."""
    return {"start": start.isoformat(), "end": end.isoformat(),
            "seconds_elapsed": round((end - start).total_seconds(), 4)}


def run(spark: SparkSession, cfg: DedupConfig,
        files: DataFrame | None = None) -> SearchResult:
    """build + search in one call (difPy CLI flow, dif.py:1014-1015)."""
    sigs, invalid = build_signatures(spark, cfg, files)
    return search_clusters(sigs, invalid, cfg)
