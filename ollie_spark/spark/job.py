"""The full KG-construction job: documents -> mentions -> linked graph
tables, materialized with per-bucket lineage and resume.

This is the single entry point a pipeline operator calls (and what
``spark-submit scripts/extract_job.py --link --output`` drives): each
north_rule stage lands as a bucketed table with a manifest, so a killed
run resumes from the last completed buckets of each stage.

    graph/
      mentions/  data/bucket=N/...  manifest/     (stage 1: extraction)
      nodes/     data/...           manifest/     (stage 2+3: linking)
      edges/     data/...           manifest/
      nary/      data/...           manifest/     (n-ary rollup)

Stage DAG: mentions -> {link -> {nodes, edges}, nary}.  ``nary`` reads
only the written mentions table and ``nodes`` / ``edges`` read only the
link step's output, so once mentions is written ``nary`` runs alongside
the link step, and ``nodes`` is written alongside ``edges``.  Each
stage is a handful of small Spark jobs at this size, so the overlap
fills cores that one stage alone leaves idle.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor, wait

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from .linking import canonicalize
from .materialize import StageWriter
from .nary import nary_extractions
from .pipeline import run_extraction


def build_graph(spark: SparkSession, documents: DataFrame, root: str,
                n_buckets: int = 16, conf_threshold: float = 0.0,
                salt: int = 8) -> dict:
    """Run every stage, resuming any stage whose manifest is partial.

    mentions runs first; then ``nary`` and the link step (canonicalize,
    timed as the ``link`` pseudo-stage) run concurrently, and ``nodes``
    is written concurrently with ``edges``.  The concurrent stages run
    on pool threads wrapped in ``inheritable_thread_target``, so their
    Spark jobs carry the caller's job group, description and tags.  A
    failing stage's exception is re-raised here after the other stages
    finish; its manifest stays empty, so the next call resumes it.

    Returns per-stage metrics: {stage: {buckets, rows, wall_ms,
    run_id}}.  Each ``wall_ms`` is that stage's own wall; the
    concurrent stages' walls overlap, so their sum exceeds the call's.
    """
    w = StageWriter(spark, root, n_buckets=n_buckets)
    metrics = {}

    # stage 1: extraction (bucketed by doc_id)
    mentions = run_extraction(documents, conf_threshold=conf_threshold)
    metrics["mentions"] = w.run_stage("mentions", mentions)
    mentions_t = w.read_stage("mentions")

    with ThreadPoolExecutor(max_workers=2) as pool:
        def submit(fn, *args, **kwargs):
            # wrapped here, in the caller's thread: the wrapper copies
            # the caller's local properties when it is created
            return pool.submit(inheritable_thread_target(spark)(fn),
                               *args, **kwargs)

        nary = submit(lambda: w.run_stage("nary",
                                          nary_extractions(mentions_t)))

        # stages 2+3: linking + canonicalization -> nodes / edges,
        # bucketed on their own canonical keys.  canonicalize's eager
        # work (LSH signatures + connected components + canonical-map
        # count) is timed as its own pseudo-stage so a per-stage
        # decomposition can name it.
        link_split: dict = {}
        link_caches: list = []
        t0 = time.monotonic()
        linked, nodes, edges = canonicalize(mentions_t, salt=salt,
                                            metrics_out=link_split,
                                            caches_out=link_caches)
        metrics["link"] = {
            "stage": "link", "buckets": [], "rows": 0,
            "wall_ms": int((time.monotonic() - t0) * 1000),
            "run_id": "", "split": link_split}
        nodes_run = submit(w.run_stage, "nodes", nodes, key="node_id")
        try:
            edges_m = w.run_stage("edges", edges, key="src_node")
        finally:
            # release canonicalize's full-corpus caches once both
            # readers are done, so repeated build_graph calls in one
            # session don't stack them (no-op on the localCheckpoint
            # path, real release on the cluster persist path)
            wait([nodes_run])
            for c in link_caches:
                c.unpersist()
        metrics["nodes"] = nodes_run.result()
        metrics["edges"] = edges_m
        metrics["nary"] = nary.result()
    return metrics


def read_graph(spark: SparkSession, root: str) -> dict:
    """-> {mentions, nodes, edges, nary} DataFrames."""
    w = StageWriter(spark, root)
    out = {}
    for stage in ("mentions", "nodes", "edges", "nary"):
        out[stage] = w.read_stage(stage)
    return out
