"""Full-job integration: documents -> materialized graph tables with
manifests; resume re-processes only pending buckets."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ollie_spark.spark.corpus import corpus
from ollie_spark.spark.job import build_graph, read_graph
from ollie_spark.spark.materialize import StageWriter


def test_build_graph_end_to_end(spark, tmp_path):
    docs = corpus(spark, 60, seed=42, partitions=4)
    root = str(tmp_path / "graph")
    metrics = build_graph(spark, docs, root, n_buckets=4)

    for stage in ("mentions", "nodes", "edges", "nary"):
        assert metrics[stage]["rows"] > 0, stage
        assert len(metrics[stage]["buckets"]) == 4

    g = read_graph(spark, root)
    assert g["mentions"].count() == metrics["mentions"]["rows"]
    node_ids = {r.node_id for r in g["nodes"].collect()}
    e = g["edges"].select("src_node", "dst_node").collect()
    assert all(r.src_node in node_ids and r.dst_node in node_ids
               for r in e)

    # resume: everything complete -> all stages no-op
    again = build_graph(spark, docs, root, n_buckets=4)
    assert all(again[s]["buckets"] == [] for s in again)

    # lineage: every stage has a per-bucket manifest with wall_ms
    w = StageWriter(spark, root, n_buckets=4)
    for stage in ("mentions", "nodes", "edges", "nary"):
        m = w.metrics(stage)
        assert m.where(F.col("wall_ms") >= 0).count() >= 4


def test_build_graph_resumes_mid_run(spark, tmp_path):
    """Crash between stages: extraction's manifest is complete but no
    graph tables exist — a fresh build_graph call must no-op the
    mentions stage (resume, not re-extract) and build the rest."""
    from ollie_spark.spark.pipeline import run_extraction
    docs = corpus(spark, 60, seed=42, partitions=4)
    root = str(tmp_path / "graph_midrun")
    StageWriter(spark, root, n_buckets=4).run_stage(
        "mentions", run_extraction(docs))

    m = build_graph(spark, docs, root, n_buckets=4)
    assert m["mentions"]["buckets"] == []       # resumed, not re-run
    for stage in ("nodes", "edges", "nary"):
        assert m[stage]["rows"] > 0, stage
    g = read_graph(spark, root)
    assert g["mentions"].count() > 0
    assert g["nary"].count() == m["nary"]["rows"]


def _parts_per_bucket(root, stage):
    """bucket dir -> number of parquet data files in it."""
    data = os.path.join(root, stage, "data")
    return {d: sum(f.endswith(".parquet") for f in os.listdir(
                os.path.join(data, d)))
            for d in os.listdir(data) if d.startswith("bucket=")}


def test_stage_writes_one_file_per_bucket(spark, tmp_path):
    """Every row of a bucket is shuffled into one write task, so each
    bucket dir holds exactly one data file per run — whatever the
    input's partition count, on a subset run and on its resume."""
    from ollie_spark.spark.pipeline import run_extraction
    # more input partitions (12) than the session's cores (4)
    m = run_extraction(corpus(spark, 60, seed=42, partitions=4)) \
        .repartition(12)
    root = str(tmp_path / "aligned")
    w = StageWriter(spark, root, n_buckets=8)
    w.run_stage("mentions", m, buckets=[1, 4, 6])
    parts = _parts_per_bucket(root, "mentions")
    assert sorted(parts) == ["bucket=1", "bucket=4", "bucket=6"]
    assert set(parts.values()) == {1}, parts
    # resume writes the five remaining buckets, one file each
    r = w.run_stage("mentions", m)
    assert sorted(r["buckets"]) == [0, 2, 3, 5, 7]
    parts = _parts_per_bucket(root, "mentions")
    assert len(parts) == 8 and set(parts.values()) == {1}, parts
    assert w.read_stage("mentions").count() == m.count()
    # one manifest file per append
    manifest = os.path.join(root, "mentions", "manifest")
    assert sum(f.endswith(".parquet")
               for f in os.listdir(manifest)) == 2


def _row_set(df):
    return {json.dumps(r.asDict(recursive=True), sort_keys=True)
            for r in df.collect()}


def test_build_graph_matches_sequential_stages(spark, tmp_path):
    """The concurrent stage tail writes the same tables, manifests and
    files as running the same run_stage sequence one stage at a time."""
    from ollie_spark.spark.linking import canonicalize
    from ollie_spark.spark.nary import nary_extractions
    from ollie_spark.spark.pipeline import run_extraction
    docs = corpus(spark, 60, seed=7, partitions=4)

    seq_root = str(tmp_path / "sequential")
    seq = StageWriter(spark, seq_root, n_buckets=4)
    seq.run_stage("mentions", run_extraction(docs))
    mentions_t = seq.read_stage("mentions")
    _, nodes, edges = canonicalize(mentions_t, salt=8)
    seq.run_stage("nodes", nodes, key="node_id")
    seq.run_stage("edges", edges, key="src_node")
    seq.run_stage("nary", nary_extractions(mentions_t))

    root = str(tmp_path / "concurrent")
    build_graph(spark, docs, root, n_buckets=4)
    w = StageWriter(spark, root, n_buckets=4)

    for stage in ("mentions", "nodes", "edges", "nary"):
        got, want = w.read_stage(stage), seq.read_stage(stage)
        if stage == "nodes":    # aliases is a collect_set: compare sets
            got = got.withColumn("aliases", F.array_sort("aliases"))
            want = want.withColumn("aliases", F.array_sort("aliases"))
        assert _row_set(got) == _row_set(want), stage
        assert got.count() > 0, stage
        rows = {(r.bucket, r.rows) for r in
                w.metrics(stage).select("bucket", "rows").collect()}
        assert rows == {(r.bucket, r.rows) for r in
                        seq.metrics(stage).select("bucket", "rows")
                        .collect()}, stage
        parts = _parts_per_bucket(root, stage)
        assert set(parts.values()) == {1}, (stage, parts)
        assert parts == _parts_per_bucket(seq_root, stage), stage


def test_build_graph_jobs_carry_caller_job_group(spark, tmp_path):
    """Stages written on pool threads must inherit the caller's local
    properties: every Spark job the call submits — the writes of all
    four stages included — lands in the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    docs = corpus(spark, 60, seed=42, partitions=4)
    docs.count()
    before = max(tracker.getJobIdsForGroup(None))
    group = "build-graph-group"
    sc.setJobGroup(group, "build_graph under a caller job group")
    try:
        build_graph(spark, docs, str(tmp_path / "grouped"), n_buckets=4)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc.parallelize([0], 1).count()     # one ungrouped job: the end mark
    after = max(tracker.getJobIdsForGroup(None))
    grouped = set(tracker.getJobIdsForGroup(group))
    submitted = set(range(before + 1, after))
    # 4 stage writes + their 4 manifest read-backs, at the least
    assert len(submitted) >= 8
    assert submitted == grouped, sorted(submitted - grouped)


def test_build_graph_failing_stage_raises_and_resumes(spark, tmp_path,
                                                      monkeypatch):
    """A stage that fails on a pool thread fails the call, leaves its
    manifest empty, and the next call builds only that stage."""
    from ollie_spark.spark import job

    def boom(mentions):
        raise RuntimeError("nary rollup failed")

    docs = corpus(spark, 60, seed=42, partitions=4)
    root = str(tmp_path / "failing")
    monkeypatch.setattr(job, "nary_extractions", boom)
    with pytest.raises(RuntimeError, match="nary rollup failed"):
        build_graph(spark, docs, root, n_buckets=4)
    w = StageWriter(spark, root, n_buckets=4)
    assert w.completed_buckets("nary") == set()
    for stage in ("mentions", "nodes", "edges"):
        assert w.completed_buckets(stage) == {0, 1, 2, 3}, stage

    monkeypatch.undo()
    m = build_graph(spark, docs, root, n_buckets=4)
    for stage in ("mentions", "nodes", "edges"):
        assert m[stage]["buckets"] == [], stage
    assert sorted(m["nary"]["buckets"]) == [0, 1, 2, 3]
    assert m["nary"]["rows"] > 0
    assert w.metrics("nary").count() == 4
