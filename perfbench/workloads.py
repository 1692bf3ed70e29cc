"""The benchmark's workloads: inputs from the seed, the calls, their checks.

Each workload makes its inputs from ``variant = seed % VARIANTS``; pins.json
holds, per variant, a fingerprint of the inputs and checksums of the outputs,
recorded with ``run.py --record-pins``.  A call whose output differs from the
pin counts as failed.

- ``build``: ``plans.pipeline.run_pipeline`` (side tables on) over one
  corpus.  One call is one full build.  The traced run then also writes the
  same corpus through ``streaming.incremental.IncrementalKG.process_batch``
  and requires the same triples.
- ``graph_query``: a fixed mix of graph, dedup and similarity operators over
  the graph ``run_pipeline`` builds from a seeded corpus (stored under
  data/graph, rebuilt and compared in the traced run), and the sf0.1
  documents and embeddings.  One call is one operator.
"""
from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F, types as T

import spans
from knowledgegraphsiqidis_spark.operators import (analytics, dedup, extract,
                                                   infer, inference,
                                                   materialize, nlquery,
                                                   similarity)
from knowledgegraphsiqidis_spark.plans.pipeline import run_pipeline
from knowledgegraphsiqidis_spark.sources.transcripts import transcripts_df
from knowledgegraphsiqidis_spark.streaming.incremental import IncrementalKG

VARIANTS = 8
BUILD_CONVS, WARMUP_CONVS = 600, 40
# graph_query inputs: the graph run_pipeline builds over GRAPH_CONVS
# conversations, and the documents and embeddings under data/
GRAPH_CONVS, QUERY_VECS = 150, 8
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def graph_paths(variant: int) -> tuple[str, str]:
    """The stored nodes and edges of the variant's graph."""
    d = os.path.join(DATA, "graph", f"v{variant}")
    return os.path.join(d, "nodes.parquet"), os.path.join(d, "edges.parquet")

# graph_query's operator mix, in call order (transitive_inference is left
# out: on its own it takes longer than the rest of the mix)
OPS = ("analytics.top_connected", "analytics.relation_patterns",
       "analytics.n_hop_neighborhood", "analytics.shortest_path_length",
       "analytics.pagerank", "analytics.clusters",
       "analytics.betweenness_sampled", "nlquery.query",
       "inference.common_neighbor_inference", "dedup.ngram_jaccard_pairs",
       "dedup.minhash_lsh_pairs", "similarity.ivf_topk")
# graph_query's set-up calls these once before the round: their first call
# in a session costs 1-2.2 s more than later ones, against 0.3 s or less for
# each of the others.  A warm-up of the whole mix took twice as long and
# would not fit the benchmark's budget of about a minute per run.
WARMUP_OPS = ("dedup.ngram_jaccard_pairs", "dedup.minhash_lsh_pairs",
              "similarity.ivf_topk")
# layers with Spark span metrics; graph_query's operators get their own
# job groups (``<module>.<op>``) with wall and job counts only
SPAN_LAYERS = ("extract", "infer", "resolve", "materialize", "incremental")
MATERIALIZE_FNS = ("fact_nodes", "with_node_embeddings", "resolve_names",
                   "materialize_edges", "fact_about_edges", "aliases_table",
                   "mentions_table")


def checksum(df) -> list[int]:
    """[rows, order-insensitive xxhash64 of the rows]; doubles rounded to 6
    places, nested values hashed through their JSON form."""
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            cols.append(F.round(F.col(f.name), 6))
        elif isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            cols.append(F.to_json(F.col(f.name)))
        else:
            cols.append(F.col(f.name))
    row = df.agg(F.count(F.lit(1)),
                 F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0))).first()
    return [int(row[0]), int(row[1])]


def triples_checksum(df) -> list[int]:
    """The triple-set checksum of BENCH_SCALING.md."""
    return checksum(df.select("subj", "pred", "obj"))


def input_fingerprint(transcripts) -> list[int]:
    """[turns, order-insensitive hash of (conv_id, turn_idx, text)]."""
    return checksum(transcripts.select("conv_id", "turn_idx", "text"))


class Build:
    name = "build"
    layers = ("extract", "infer", "resolve", "materialize")  # per round
    work_unit = "turns"

    def __init__(self, spark, variant: int, tmp: str):
        self.spark = spark
        self.variant = variant
        self.out_dir = os.path.join(tmp, "incremental")
        self.transcripts = None
        self.n_turns = 0
        self.result = None
        self.kg = None
        self.phases: dict[str, float] = {}  # set-up seconds by phase

    def record(self) -> dict:
        return {}  # no stored inputs

    def setup(self, tracer) -> dict:
        t0 = time.perf_counter()
        tr = transcripts_df(self.spark, BUILD_CONVS,
                            seed=self.variant).localCheckpoint()
        fp = input_fingerprint(tr)
        self.transcripts, self.n_turns = tr, fp[0]
        self.phases["inputs"] = time.perf_counter() - t0
        # warm-up on a small corpus: the first build in a JVM runs far
        # slower than later ones, whatever the corpus size
        t0 = time.perf_counter()
        warm = transcripts_df(self.spark, WARMUP_CONVS, seed=1000 + self.variant)
        run_pipeline(self.spark, warm).triples().count()
        self.phases["warmup"] = time.perf_counter() - t0
        return {"input": fp}

    def trace_layers(self, tracer) -> None:
        tracer.wrap(extract, "extract_stage", "extract")
        tracer.wrap(infer, "infer_stage", "infer")
        tracer.wrap(infer, "infer_facts_stage", "infer")
        # canonical_map returns its occurrence map (element 3) lazily, and
        # the pipeline pins it only after the materialize calls: pin it
        # inside the resolve span so its jobs count as resolve.  The
        # pipeline's own pin then copies it once more (one extra job).
        # The node table is left lazy: the pipeline unions it with the fact
        # nodes before pinning it, in materialize.
        tracer.wrap(materialize, "canonical_map", "resolve", after=lambda out:
                    out[:3] + (out[3] if out[3] is None
                               else out[3].localCheckpoint(),))
        for fn in MATERIALIZE_FNS:
            tracer.wrap(materialize, fn, "materialize")

    def calls(self, tracer):
        """One call: a full build, timed from the call to its return (every
        stage is materialized by then)."""
        def build():
            t0 = time.perf_counter()
            self.result = run_pipeline(self.spark, self.transcripts,
                                       n_turns=self.n_turns)
            tracer.leave()
            return time.perf_counter() - t0
        yield "run_pipeline", build, self.n_turns, \
            lambda: {"triples": triples_checksum(self.result.triples())}

    def after_rounds(self, tracer) -> dict:
        """Traced runs only: write the same corpus through the incremental
        path (one micro-batch into a fresh store); its triples are checked
        against the build's pin."""
        self.kg = IncrementalKG(self.spark, self.out_dir)
        tracer.enter("incremental")
        t0 = time.perf_counter()
        self.kg.process_batch(self.transcripts)
        self.phases["incremental_batch"] = time.perf_counter() - t0
        tracer.leave()
        return {"triples": triples_checksum(self.kg.triples())}

    def layer_rows(self) -> dict:
        """Rows each layer handed on, from the last build's tables and the
        incremental store."""
        t = self.result.tables
        forms = t["forms"]
        written = [os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(self.out_dir) for f in fs]
        return {
            "extract.rows_out": t["extractions"].count(),
            "infer.rows_out": t["raw_triples"].count(),
            "resolve.rows_out": forms.count(),
            "materialize.rows_out": sum(t[k].count() for k in (
                "nodes", "edges", "aliases", "mentions")),
            "resolve.matches": forms.filter(
                F.col("component") != F.col("form_key")).count(),
            "incremental.rows_out": self.kg.triples().count(),
            "incremental.scored_pairs": sum(
                m["n_scored_pairs"] for m in self.kg.batch_metrics()),
            "incremental.files_written": len(written),
            "incremental.bytes_written_mb": sum(written) / 1024.0 / 1024.0,
            "incremental.batch_s": self.phases["incremental_batch"],
        }


def pipeline_graph(spark, variant: int):
    """(corpus fingerprint, nodes, edges) of the graph ``run_pipeline``
    builds from the variant's corpus."""
    tr = transcripts_df(spark, GRAPH_CONVS, seed=variant).localCheckpoint()
    tables = run_pipeline(spark, tr, side_tables=False).tables
    return input_fingerprint(tr), tables["nodes"], tables["edges"]


class Inputs:
    """One set of graph_query inputs: the variant's stored pipeline graph,
    cached in the session as the package's own query entry point caches
    it, plus the sf0.1 documents and embeddings (perfbench/data, copies of
    the TPC-H-style test data)."""

    def __init__(self, spark, variant: int):
        nodes, edges = graph_paths(variant)
        self.nodes = spark.read.parquet(nodes).cache()
        self.edges = spark.read.parquet(edges).cache()
        self.docs = spark.read.parquet(os.path.join(DATA, "documents.parquet"))
        self.vecs = spark.read.parquet(os.path.join(DATA,
                                                    "embeddings.parquet"))
        for df in (self.nodes, self.edges):
            df.count()
        top = (analytics.degree(self.edges)
               .orderBy(F.desc("connections"), F.asc("id")).limit(2).collect())
        self.hub_a, self.hub_b = top[0]["id"], top[1]["id"]
        self.start = spark.createDataFrame([(self.hub_a,)], "id string")
        lo, hi = QUERY_VECS * variant, QUERY_VECS * (variant + 1) - 1
        self.queries = (self.vecs.filter(F.col("vec_id").between(lo, hi))
                        .select(F.col("vec_id").alias("query_id"),
                                F.col("embedding").alias("query_vec")))


def _ops(x: Inputs) -> dict:
    n, e = x.nodes, x.edges
    return {
        "analytics.top_connected": lambda: analytics.top_connected(n, e, 10),
        "analytics.relation_patterns":
            lambda: analytics.relation_patterns(n, e),
        "analytics.n_hop_neighborhood":
            lambda: analytics.n_hop_neighborhood(e, x.start, hops=2),
        "analytics.shortest_path_length":
            lambda: analytics.shortest_path_length(e, x.hub_a, x.hub_b),
        "analytics.pagerank": lambda: analytics.pagerank(n, e, iterations=5),
        "analytics.clusters": lambda: analytics.clusters(n, e),
        "analytics.betweenness_sampled":
            lambda: analytics.betweenness_sampled(n, e, n_sources=2),
        # an aggregation question: relationship and entity questions end in
        # an unordered LIMIT, whose rows are not deterministic
        "nlquery.query": lambda: nlquery.query(
            "How many entities and relations are there?", n, e),
        "inference.common_neighbor_inference":
            lambda: inference.common_neighbor_inference(n, e),
        "dedup.ngram_jaccard_pairs":
            lambda: dedup.ngram_jaccard_pairs(x.docs, n=3, threshold=0.2,
                                              max_df=100),
        "dedup.minhash_lsh_pairs":
            lambda: dedup.minhash_lsh_pairs(x.docs, num_hashes=64, bands=16,
                                            threshold=0.5),
        "similarity.ivf_topk":
            lambda: similarity.ivf_topk(x.vecs, x.queries, k=5,
                                        n_centroids=16, n_probe=4),
    }


def _result(res) -> list[int]:
    return (checksum(res) if hasattr(res, "schema")
            else [1, int(-1 if res is None else res)])


class GraphQuery:
    name = "graph_query"
    layers = OPS  # per round
    work_unit = "operator calls"

    def __init__(self, spark, variant: int, tmp: str):
        self.spark = spark
        self.variant = variant
        self.inputs = None
        self.phases: dict[str, float] = {}  # set-up seconds by phase

    def setup(self, tracer) -> dict:
        t0 = time.perf_counter()
        self.inputs = x = Inputs(self.spark, self.variant)
        self.phases["inputs"] = time.perf_counter() - t0
        # Warm-up: the operators of WARMUP_OPS run once, untraced and
        # untimed, so that their first-use cost does not land in the round.
        # Their outputs are checked too.
        t0 = time.perf_counter()
        warm = {}
        for name, call, _, check in self.calls(spans.NullTracer()):
            if name in WARMUP_OPS:
                call()
                warm.update(check()["ops"])
        self.phases["warmup"] = time.perf_counter() - t0
        return {"input": [checksum(x.nodes), checksum(x.edges),
                          checksum(x.docs), checksum(x.vecs)], "ops": warm}

    def record(self) -> dict:
        """Build the variant's graph with ``run_pipeline`` and store it
        (``run.py --record-pins``); returns its pin."""
        fp, nodes, edges = pipeline_graph(self.spark, self.variant)
        for df, path in zip((nodes, edges), graph_paths(self.variant)):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(df.orderBy("id").toArrow(), path)
        return {"graph": [fp, checksum(nodes), checksum(edges)]}

    def trace_layers(self, tracer) -> None:
        pass  # calls() enters each operator's group

    def after_rounds(self, tracer) -> dict:
        """Traced runs only: rebuild the graph with ``run_pipeline``; it
        must equal the stored one (the pin)."""
        fp, nodes, edges = pipeline_graph(self.spark, self.variant)
        return {"graph": [fp, checksum(nodes), checksum(edges)]}

    def calls(self, tracer):
        """One call per operator, timed from the call until its result is
        materialized (the checksum is the materializing action)."""
        ops = _ops(self.inputs)
        for name in OPS:
            op, out = ops[name], {}

            def run(name=name, op=op, out=out):
                tracer.enter(name)
                t0 = time.perf_counter()
                out[name] = _result(op())
                tracer.leave()
                return time.perf_counter() - t0
            yield name, run, 1, lambda out=out: {"ops": out}

    def layer_rows(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (Build, GraphQuery)}
