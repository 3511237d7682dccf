"""The benchmark workloads.

Each workload is a class with the same protocol:

- ``make_inputs()``: seeded input generation (before any session);
  its wall is reported apart from set-up.
- ``setup(spark, phase)``: everything before the first timed call that
  the program itself does (the warm-up pass, a seed map); ``phase``
  names a fresh output directory, so a second session starts clean.
- ``op(spark)``: one timed call into the program; returns the items it
  processed.  ``release(spark)`` runs untimed before each op.
- ``check(spark)``: output checks, outside every timed region.
- ``layers(spark)``: the traced run's per-layer decomposition,
  made only through public functions and their return values.

Per-layer numbers never come from ``metrics_out`` / ``caches_out``
arguments: the benchmark passes neither.
"""

from __future__ import annotations

import inspect
import math
import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entry
from bench import HEADLINE
from gen import (bcubed_scores, open_vocab_mentions, pair_scores,
                 write_curation_tables)
from ollie_spark.extract.ollie import Ollie
from ollie_spark.spark.corpus import build_doc, expected_triples
from ollie_spark.spark.job import build_graph, read_graph
from ollie_spark.spark.linking import (band_entities, canonicalize,
                                       connected_components,
                                       dropped_buckets, entity_mentions,
                                       incremental_link, lsh_candidate_pairs)
from ollie_spark.spark.pipeline import (extraction_errors, run_extraction,
                                        sentences)
from ollie_spark.spark.streaming import link_mention_batch
from ollie_spark.spark.synth import FIXTURE_PARSES, parse_text

# canonicalize resolves blocking in the driver at or below this many
# distinct norms; the program reports which path ran only through
# metrics_out, so the benchmark derives it from the public default
HATCH_NORMS = inspect.signature(canonicalize).parameters[
    "local_blocking_threshold"].default


@dataclass
class Check:
    attempted: int
    failed: int
    precision: float
    recall: float
    notes: list
    # per-layer values only the checks can compute
    layers: dict = field(default_factory=dict)


def _tree_size(path: str, data_only: bool = False) -> tuple[int, int]:
    """(files, bytes) under ``path``; ``data_only`` counts parquet part
    files only."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if data_only and not n.endswith(".parquet"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def _write_parquet_parts(pdf, path: str, parts: int, schema=None) -> None:
    """Write a pandas frame as ``parts`` parquet files (scan parallelism
    for the session's cores)."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(pdf) // parts)
    for i in range(parts):
        chunk = pdf.iloc[i * step:(i + 1) * step]
        table = pa.Table.from_pandas(chunk, schema=schema,
                                     preserve_index=False)
        pq.write_table(table, f"{path}/part-{i:05d}.parquet")


def _force(df) -> None:
    """Compute every row and column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    op_span = ""  # span and Spark job tag of the timed call

    def __init__(self, seed: int, work: str, cores: int, tracer,
                 traced: bool):
        self.seed, self.work, self.cores = seed, work, cores
        self.tr, self.traced = tracer, traced
        self.input_size: dict = {}

    def release(self, spark) -> None:
        # the benchmark's own handle on cached frames: drop every
        # persisted frame between calls (a call that grows the cache
        # shows in retained memory instead of slowing the next call)
        spark.catalog.clearCache()

    def prepare(self, spark, phase: str) -> None:
        """Per-session state (output directories under ``phase``)."""

    def from_log(self, log, ops: int, vals: dict) -> dict:
        """Per-layer values read off the traced session's event log
        (``ops`` timed calls; ``vals`` holds the values so far)."""
        return {}

    def setup(self, spark, phase: str) -> None:
        """Per-session state, then one untimed op that fills caches and
        ends lazy set-up."""
        self.prepare(spark, phase)
        with self.tr.span("bench.warmup"):
            self.op(spark)


# ------------------------------------------------------------- kg_build


class KgBuild(Workload):
    """``job.build_graph`` over a seeded corpus, one fresh root per pass."""

    name = "kg_build"
    op_span = "job.build_graph"
    n_docs = 1_500

    def make_inputs(self):
        ids = [f"doc-{i:012d}" for i in range(self.n_docs)]
        spans = [[{"kind": k, "text": t, "media_ref": m, "offset": o}
                  for k, t, m, o in build_doc(d, self.seed)] for d in ids]
        self.doc_ids = ids
        self.texts = [s["text"] for doc in spans for s in doc
                      if s["kind"] == "text"]
        span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                            ("media_ref", pa.string()),
                            ("offset", pa.int32())])
        schema = pa.schema([("doc_id", pa.string()),
                            ("spans", pa.list_(span_t))])
        self.corpus_dir = f"{self.work}/corpus"
        _write_parquet_parts(pd.DataFrame({"doc_id": ids, "spans": spans}),
                             self.corpus_dir, 2 * self.cores, schema)
        self.input_size = {"docs": self.n_docs,
                           "text_spans": len(self.texts)}

    def _docs(self, spark):
        return spark.read.parquet(self.corpus_dir)

    def prepare(self, spark, phase: str):
        self.out = f"{self.work}/{phase}/graph"
        self.passes = 0

    def op(self, spark) -> int:
        root = f"{self.out}/pass-{self.passes:04d}"
        self.passes += 1
        self.stage_metrics = build_graph(spark, self._docs(spark), root)
        self.last_root = root
        return self.n_docs

    def release(self, spark):
        super().release(spark)
        # keep only the newest graph on disk (the one checks read)
        if os.path.isdir(self.out):
            for d in os.listdir(self.out):
                if f"{self.out}/{d}" != getattr(self, "last_root", None):
                    shutil.rmtree(f"{self.out}/{d}")

    def from_log(self, log, ops, vals) -> dict:
        out = {}
        per_call = {"python_total_s": "time to run Python workers",
                    "arrow_sent_bytes": "data sent to Python workers",
                    "arrow_recv_bytes": "data returned from Python workers"}
        for k, metric in per_call.items():
            out[f"pipeline.{k}"] = log.sql_metric(
                {self.op_span}, "MapInPandas", metric) / ops
        # boot and init are paid when the session's Python workers
        # start, which is during the warm-up call
        for k, metric in (("python_boot_s", "time to start Python workers"),
                          ("python_init_s",
                           "time to initialize Python workers")):
            out[f"pipeline.{k}"] = log.sql_metric(
                {"bench.warmup"}, "MapInPandas", metric)
        for k in out:
            if k.endswith("_s"):
                out[k] /= 1000  # SQL timing metrics are in ms
        out["pipeline.task_skew"] = log.task_skew({"pipeline.run_extraction"})
        return out

    def _fixture_goldens(self) -> dict:
        ollie = Ollie()
        return {t: {(r.arg1_text, r.rel_text, r.arg2_text)
                    for r in ollie.extract(parse_text(t))}
                for t in FIXTURE_PARSES}

    def check(self, spark) -> Check:
        got = {tuple(r) for r in read_graph(spark, self.last_root)
               ["mentions"].select("doc_id", "arg1_text", "rel_text",
                                   "arg2_text").collect()}
        goldens = self._fixture_goldens()
        exp = set()
        for d in self.doc_ids:
            exp |= {(d, a, r, b) for a, r, b, _, _ in
                    expected_triples(d, self.seed)}
            for _, text, _, _ in build_doc(d, self.seed):
                exp |= {(d, *t) for t in goldens.get(text, ())}
        tp = len(got & exp)
        precision = tp / len(got) if got else 0.0
        recall = tp / len(exp) if exp else 1.0
        n_sent = sentences(self._docs(spark)).count()
        errors = extraction_errors(self._docs(spark)).count()
        notes = []
        ok = precision >= 0.95 and recall >= 0.95
        if not ok:
            notes.append(f"triples P={precision:.4f} R={recall:.4f} "
                         f"below 0.95")
        if errors:
            notes.append(f"{errors} shielded extraction errors")
        # one triple check plus one attempt per text span extracted
        return Check(1 + n_sent, (not ok) + errors, precision, recall,
                     notes, {"pipeline.sentences": n_sent,
                             "pipeline.errors": errors})

    def layers(self, spark) -> dict:
        out = {}
        # single-core, in the driver: median of three passes over up to
        # 1,000 corpus sentences (model load excluded)
        sample = self.texts[:1_000]
        ollie = Ollie()
        parse, ext = [], []
        for _ in range(3):
            with self.tr.span("extract.parse_text"):
                t0 = time.perf_counter()
                graphs = [parse_text(t) for t in sample]
                parse.append(time.perf_counter() - t0)
            with self.tr.span("extract.extract"):
                t0 = time.perf_counter()
                n_triples = sum(len(ollie.extract(g)) for g in graphs
                                if g is not None)
                ext.append(time.perf_counter() - t0)
        out["extract.parse_us"] = statistics.median(parse) / len(sample) * 1e6
        out["extract.extract_us"] = statistics.median(ext) / len(sample) * 1e6
        out["extract.triples_per_sentence"] = n_triples / len(sample)

        docs = self._docs(spark)
        with self.tr.span("pipeline.run_extraction"):
            t0 = time.monotonic()
            _force(run_extraction(docs))
            out["pipeline.extract_s"] = time.monotonic() - t0
        m = self.stage_metrics
        out["pipeline.mentions"] = m["mentions"]["rows"]
        for stage in ("mentions", "link", "nodes", "edges", "nary"):
            out[f"job.{stage}_s"] = m[stage]["wall_ms"] / 1000
        out["linking.canonicalize_s"] = out["job.link_s"]
        files, size = _tree_size(self.last_root)
        out["materialize.files"], out["materialize.bytes"] = files, size
        with self.tr.span("linking.entity_mentions"):
            ments = read_graph(spark, self.last_root)["mentions"]
            out["linking.distinct_norms"] = (
                entity_mentions(ments).select("norm").distinct().count())
        out["linking.hatch"] = int(out["linking.distinct_norms"]
                                   <= HATCH_NORMS)
        return out


# ------------------------------------------------------ link_open_vocab


def _surface_labels(rows) -> dict:
    """surface string -> node id, from (arg1_text, arg1_node,
    arg2_text, arg2_node) rows."""
    labels = {}
    for a1, n1, a2, n2 in rows:
        labels[a1], labels[a2] = n1, n2
    return labels


def _linked_rows(linked):
    return linked.select("arg1_text", "arg1_node", "arg2_text",
                         "arg2_node").collect()


class LinkOpenVocab(Workload):
    """``linking.canonicalize`` over open-vocabulary mentions, with the
    returned nodes and edges forced.

    The traced run also drives the incremental path over the same
    entity population: the timed input seeds a canonical map through
    ``streaming.link_mention_batch``, then the held-out tail of the
    mention stream arrives as small batches (one client, closed loop).
    It then runs the curation query battery, whose q12/q14 share the
    capped-bucket self-join with linking's blocking."""

    name = "link_open_vocab"
    op_span = "linking.canonicalize"
    n_clusters = 6_000
    n_mentions = 20_000
    batch_mentions = 200
    n_batches = 3

    def make_inputs(self):
        stream, self.truth = open_vocab_mentions(
            self.seed, self.n_clusters,
            self.n_mentions + self.batch_mentions * (self.n_batches + 1))
        pdf = stream.iloc[:self.n_mentions]
        self.path = f"{self.work}/mentions"
        _write_parquet_parts(pdf, self.path, 2 * self.cores)
        self.surfaces = set(pdf["arg1_text"]) | set(pdf["arg2_text"])
        self.batch_paths = []
        for b in range(self.n_batches + 1):
            lo = self.n_mentions + b * self.batch_mentions
            path = f"{self.work}/stream/batch-{b:03d}"
            _write_parquet_parts(stream.iloc[lo:lo + self.batch_mentions],
                                 path, 1)
            self.batch_paths.append(path)
        self.input_size = {"mentions": len(pdf),
                           "clusters": self.n_clusters,
                           "surfaces": len(self.surfaces),
                           "batch_mentions": self.batch_mentions}
        # (what, failed) of the traced run's stability checks
        self.stream_checks: list = []
        if self.traced:
            self.battery = CurationBattery(self.seed, self.work, self.tr)
            self.input_size["tables"] = self.battery.make_inputs()

    def _mentions(self, spark):
        return spark.read.parquet(self.path)

    def prepare(self, spark, phase: str):
        self.phase = phase

    def op(self, spark) -> int:
        linked, nodes, edges = canonicalize(self._mentions(spark))
        _force(nodes)
        _force(edges)
        self.linked = linked
        return self.n_mentions

    def check(self, spark) -> Check:
        labels = _surface_labels(_linked_rows(self.linked))
        pair_p, pair_r = pair_scores(labels, self.truth)
        precision, recall = bcubed_scores(labels, self.truth)
        missing = len(self.surfaces - labels.keys())
        checks = [
            (f"{missing} input surfaces got no node", missing > 0),
            (f"B-cubed P={precision:.4f} R={recall:.4f} below 0.95",
             precision < 0.95 or recall < 0.95),
        ] + self.stream_checks
        if self.traced:
            checks += self.battery.checks()
        notes = [what for what, failed in checks if failed]
        return Check(len(checks), len(notes), precision, recall, notes,
                     {"linking.pair_precision": pair_p,
                      "linking.pair_recall": pair_r})

    def layers(self, spark) -> dict:
        out = {}
        ments = self._mentions(spark)
        with self.tr.span("linking.entity_mentions"):
            t0 = time.monotonic()
            em = entity_mentions(ments).localCheckpoint(eager=True)
            out["linking.normalize_s"] = time.monotonic() - t0
        entities = em.select("norm").distinct().localCheckpoint(eager=True)
        out["linking.distinct_norms"] = entities.count()
        with self.tr.span("linking.lsh_candidate_pairs"):
            t0 = time.monotonic()
            pairs = lsh_candidate_pairs(entities).localCheckpoint(eager=True)
            out["linking.blocking_s"] = time.monotonic() - t0
        out["linking.pairs"] = pairs.count()
        with self.tr.span("linking.dropped_buckets"):
            out["linking.dropped_buckets"] = dropped_buckets(entities)
        with self.tr.span("linking.connected_components"):
            t0 = time.monotonic()
            comp = connected_components(pairs, entities).localCheckpoint(
                eager=True)
            out["linking.cc_s"] = time.monotonic() - t0
        out["linking.components"] = (
            comp.select("component").distinct().count())
        out["linking.hatch"] = int(out["linking.distinct_norms"]
                                   <= HATCH_NORMS)
        spark.catalog.clearCache()
        out.update(self._incremental(spark))
        spark.catalog.clearCache()
        out.update(self.battery.run(spark))
        return out

    def from_log(self, log, ops, vals) -> dict:
        totals = log.spark_totals({self.op_span})
        batch = log.spark_totals({"streaming.link_mention_batch"})
        return {
            "linking.canonicalize_s": vals["trace.traced_op_s"],
            "linking.jobs": totals["jobs"] / ops,
            "linking.shuffle_write_bytes":
                totals["shuffle_write_bytes"] / ops,
            "linking.task_skew": log.task_skew({self.op_span}),
            "streaming.batch_jobs":
                batch["jobs"] / max(vals["streaming.batches"], 1),
            **self.battery.from_log(log),
        }

    def _incremental(self, spark) -> dict:
        """Seed a map from the timed input, then link the held-out
        batches one call at a time; checks the stability contract."""
        out = {}
        map_dir = f"{self.work}/{self.phase}/map"
        linked_dir = f"{self.work}/{self.phase}/linked"
        with self.tr.span("streaming.seed_map"):
            link_mention_batch(self._mentions(spark), 0, map_dir, linked_dir)
        seed_map = dict(spark.read.parquet(map_dir)
                        .select("norm", "node_id").collect())
        known = (spark.read.parquet(map_dir).select("norm", "node_id")
                 .localCheckpoint(eager=True))

        # one direct incremental_link call on the first held-out batch
        batch = spark.read.parquet(self.batch_paths[0])
        banded = band_entities(known).localCheckpoint(eager=True)
        with self.tr.span("linking.incremental_link"):
            t0 = time.monotonic()
            linked, delta = incremental_link(batch, known,
                                             existing_banded=banded)
            _force(linked)
            delta = delta.localCheckpoint(eager=True)
            out["linking.incremental_s"] = time.monotonic() - t0
        norms = entity_mentions(batch).select("norm").distinct()
        out["linking.exact"] = norms.join(known, "norm", "left_semi").count()
        old_ids = known.select("node_id").distinct()
        out["linking.attached"] = delta.join(old_ids, "node_id",
                                             "left_semi").count()
        out["linking.novel"] = delta.join(old_ids, "node_id",
                                          "left_anti").count()

        state: dict = {}
        walls = []
        for b, path in enumerate(self.batch_paths[1:], start=1):
            with self.tr.span("streaming.link_mention_batch"):
                t0 = time.monotonic()
                link_mention_batch(spark.read.parquet(path), b, map_dir,
                                   linked_dir, banded_state=state)
                walls.append(time.monotonic() - t0)
        out["streaming.batches"] = len(walls)
        out["streaming.batch_p50_s"] = statistics.median(walls)
        out["streaming.batch_max_s"] = max(walls)
        out["streaming.map_rows"] = spark.read.parquet(map_dir).count()
        written = [_tree_size(f"{d}/batch_id={b}", data_only=True)[0]
                   for b in range(1, len(walls) + 1)
                   for d in (map_dir, linked_dir)]
        out["streaming.files_per_batch"] = sum(written) / len(walls)

        # stability contract: no map row changes node_id across batches,
        # and a surface keeps one node id in every batch that links it
        seen: dict = {}
        dup = 0
        for norm, node in (spark.read.parquet(map_dir)
                           .select("norm", "node_id").collect()):
            dup += norm in seen and seen[norm] != node
            seen.setdefault(norm, node)
        changed = sum(1 for k, v in seed_map.items() if seen.get(k) != v)
        labels: dict = {}
        flips = 0
        for a1, n1, a2, n2 in _linked_rows(spark.read.parquet(linked_dir)):
            for surface, node in ((a1, n1), (a2, n2)):
                flips += surface in labels and labels[surface] != node
                labels.setdefault(surface, node)
        self.stream_checks = [
            (f"{dup} map norms carry two node ids", dup > 0),
            (f"{changed} seed-map rows changed node_id", changed > 0),
            (f"{flips} linked surfaces changed node id across batches",
             flips > 0)]
        out["streaming.unstable_rows"] = dup + changed + flips
        out["streaming.bcubed_recall"] = bcubed_scores(labels,
                                                      self.truth)[1]
        return out


# ----------------------------------------------------- curation battery

# queries whose plans are built by ollie_spark.spark.textops helpers
TEXTOPS_QUERIES = ("q12_dedup_minhash", "q13_dedup_simhash",
                   "q14_ngram_jaccard_pairs", "q16_token_count",
                   "q18_ann_cosine_topk", "q19_ivf_bucketed_ann",
                   "q21_embedding_neardup")


def _row_keys(cols, rows) -> Counter:
    """Order-insensitive fingerprint of a result: a multiset of rows,
    columns sorted by name, floats rounded to 6 places (the repo's
    oracle-gate convention)."""

    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 6)
        return v

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(repr(tuple(norm(r[i]) for i in order)) for r in rows)


class CurationBattery:
    """The 12 ``bench.py`` headline queries of ``__spark_entry__``,
    collected, on seeded tables, with each result checked against the
    DuckDB ``oracle_sql()`` result (expected rows computed before any
    session exists)."""

    n_orders = 15_000
    n_docs = 1_000

    def __init__(self, seed: int, work: str, tracer):
        self.seed, self.tr = seed, tracer
        self.tables = f"{work}/tables"

    def make_inputs(self) -> dict:
        os.makedirs(self.tables)
        rows = write_curation_tables(self.tables, self.seed,
                                     n_orders=self.n_orders,
                                     n_docs=self.n_docs)
        con = duckdb.connect()
        for t in rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.tables}/{t}.parquet'")
        oracles = entry.oracle_sql()
        self.expected = {}
        for q in HEADLINE:
            res = con.execute(oracles[q])
            self.expected[q] = _row_keys([d[0] for d in res.description],
                                         res.fetchall())
        con.close()
        return rows

    def run(self, spark) -> dict:
        """One untimed warm-up pass, then one pass with a span per
        query; -> query.<name>_s."""
        qs = entry.queries()
        with self.tr.span("query.warmup"):
            for q in HEADLINE:
                qs[q](spark, self.tables).collect()
        out = {}
        self.results = {}
        for q in HEADLINE:
            with self.tr.span(f"query.{q}"):
                t0 = time.monotonic()
                df = qs[q](spark, self.tables)
                self.results[q] = (df.columns, df.collect())
                out[f"query.{q}_s"] = time.monotonic() - t0
        return out

    def checks(self) -> list:
        """[(what, failed)] per query of the last ``run``."""
        return [(f"{q}: result differs from the DuckDB oracle",
                 _row_keys(*self.results[q]) != self.expected[q])
                for q in HEADLINE]

    def from_log(self, log) -> dict:
        textops = log.spark_totals({f"query.{q}" for q in TEXTOPS_QUERIES})
        return {"textops.shuffle_write_bytes":
                textops["shuffle_write_bytes"]}


WORKLOADS = {w.name: w for w in (KgBuild, LinkOpenVocab)}

# every per-layer metric, in report order; a workload that does not
# exercise a layer reports 0 for it
PER_LAYER = (
    ["bench.input_gen_s", "bench.peak_rss_mb", "bench.ops",
     "session.start_s", "session.warmup_s", "trace.untraced_op_s",
     "trace.traced_op_s", "trace.overhead_s"]
    + [f"self.{layer}_s" for layer in
       ("bench", "session", "extract", "pipeline", "job", "linking",
        "streaming", "query")]
    + ["extract.parse_us", "extract.extract_us",
       "extract.triples_per_sentence",
       "pipeline.extract_s", "pipeline.sentences", "pipeline.mentions",
       "pipeline.errors", "pipeline.python_total_s",
       "pipeline.python_boot_s", "pipeline.python_init_s",
       "pipeline.arrow_sent_bytes", "pipeline.arrow_recv_bytes",
       "pipeline.task_skew",
       "job.mentions_s", "job.link_s", "job.nodes_s", "job.edges_s",
       "job.nary_s", "materialize.files", "materialize.bytes",
       "linking.normalize_s", "linking.blocking_s", "linking.cc_s",
       "linking.canonicalize_s", "linking.distinct_norms",
       "linking.pairs", "linking.components", "linking.hatch",
       "linking.dropped_buckets", "linking.jobs",
       "linking.shuffle_write_bytes", "linking.task_skew",
       "linking.pair_precision", "linking.pair_recall",
       "linking.incremental_s", "linking.exact", "linking.attached",
       "linking.novel",
       "streaming.batches", "streaming.batch_p50_s",
       "streaming.batch_max_s", "streaming.batch_jobs",
       "streaming.map_rows", "streaming.files_per_batch",
       "streaming.unstable_rows", "streaming.bcubed_recall"]
    + [f"query.{q}_s" for q in HEADLINE]
    + ["textops.shuffle_write_bytes"]
    + [f"spark.{k}" for k in ("jobs", "stages", "tasks",
                              "shuffle_write_bytes", "spill_bytes",
                              "gc_s", "executor_run_s", "core_busy_share")]
)

