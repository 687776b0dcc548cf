"""The benchmark workloads: what one operation is, and how it is checked.

Each workload drives the program only through public functions.  An
operation is one complete user-visible unit of work; ``op`` runs it
under the timer and returns what ``check`` needs, and ``check`` runs
outside the timed region.

Which end-to-end metric each per-layer metric should move, written down
before any optimization is measured against it:

| per-layer metric                          | moves                         | on         | ~0 on      |
|-------------------------------------------|-------------------------------|------------|------------|
| pipeline.mentions.busy_s (detect kernel)  | items_per_s, rows_out_per_s,  | kg_build   | query_mix  |
|                                           | capped by its share of wall   |            |            |
| pipeline.triples.*, pipeline.graph_tables.*| items_per_s                  | kg_build   | query_mix  |
| pipeline.*.jobs, pipeline.*.idle_ratio    | items_per_s (driver latency)  | kg_build   | query_mix  |
| queries.build.wall_s, queries.*.idle_ratio,| items_per_s, rows_out_per_s  | query_mix  | kg_build   |
| queries.<q>.jobs, queries.<q>.wall_s      |                               |            |            |
| queries.dedup_jaccard.* (LSH chain)       | items_per_s                   | query_mix  | kg_build   |
| queries.graph_pagerank.* (operators.graph)| items_per_s                   | query_mix  | kg_build   |
| <workload>.first_op_s                     | (cold cost, not timed)        | its own    |            |
| setup.*                                   | setup_s                       | both       |            |

``items_per_s`` counts pages for kg_build and queries for query_mix;
``rows_out_per_s`` counts triples for kg_build (the north-star
triples/s) and result rows for query_mix.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time

import inputs
from checks import check_triples, frame_hash, query_references, triples_reference

KG_DOCS = 1000  # base documents rendered to pages (15% are zh)
KG_REPLICAS = 2  # seed-picked replica ids per run
QUERY_DOCS = 500  # documents in the query tables (the sf0.01 size)

# The query mix: a query for each layer kg_build does not reach, and one
# single-shuffle query; few enough that a cold and a timed pass fit in a run.
#   dedup_jaccard       operators.dedup: the LSH candidate chain + Jaccard verify
#   graph_pagerank      operators.graph: PageRank over the entity graph of the
#                       triples pipeline (the driver twin at this size)
#   pack_chunks         a materialized sort after one shuffle and a per-shard window
QUERY_MIX = ["dedup_jaccard", "graph_pagerank", "pack_chunks"]


class OpResult:
    """What one operation produced: its timed samples and its outputs."""

    def __init__(self, samples: list[float], items: int, rows_out: int, payload=None):
        self.op = None  # the operation's number in its run
        self.samples = samples  # latency of each call the operation made
        self.items = items  # input items the operation processed
        self.rows_out = rows_out  # output rows it produced
        self.payload = payload  # what check() needs


class KGBuild:
    """pages → KGPipeline.run → write_graph_tables: the spark-submit path,
    into a fresh out_dir every time."""

    name = "kg_build"
    checks_per_op = 1

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.out_root = os.path.join(work, "out", "kg_build")

    def make_inputs(self) -> dict[str, str]:
        self.sf = inputs.sf_dir(self.work, KG_DOCS)
        self.pages_path = inputs.pages_dir(self.work, KG_DOCS, self.seed, KG_REPLICAS)
        self.ref = triples_reference(self.sf)
        return {"pages": self.pages_path}

    def prepare(self, spark) -> None:
        self.spark = spark
        self.pages = spark.read.parquet(self.pages_path)
        self.n_pages = self.pages.count()

    def _pipeline(self, out: str):
        from knowledgeextraction_spark.pipeline import KGPipeline
        from knowledgeextraction_spark.sources import pages as ps

        spark = self.spark
        return KGPipeline(
            spark,
            entities=ps.entities_df(spark),
            rules=ps.rules_df(spark),
            equivalences=ps.equivalences_df(spark, ps.doc_equivalences()),
            out_dir=out,
        )

    def _fresh_out(self, i: int) -> str:
        shutil.rmtree(self.out_root, ignore_errors=True)
        return os.path.join(self.out_root, f"op{i}")

    def op(self, tracer, i: int, collect: bool = False) -> OpResult:
        out = self._fresh_out(i)
        t0 = time.monotonic()
        if tracer.enabled:
            stage_times = self._traced_run(tracer, i, out)
        else:
            pipe = self._pipeline(out)
            result = pipe.run(self.pages)
            pipe.write_graph_tables(result, out)
            stage_times = result.stage_times
        wall = time.monotonic() - t0
        release(self.spark)
        return OpResult([wall], self.n_pages, _parquet_rows(os.path.join(out, "triples")),
                        {"out": out, "stage_times": stage_times})

    def _traced_run(self, tracer, i: int, out: str) -> dict[str, float]:
        """KGPipeline.run's stage order and out_dir layout, one span per
        public stage method; each stage's snapshot is written (forced)
        before the next stage reads it back."""
        from pyspark.sql import functions as F

        spark = self.spark
        pipe = self._pipeline(out)
        times: dict[str, float] = {}

        def stage(name: str, build):
            path = os.path.join(out, name)
            with tracer.span(f"pipeline.{name}", i):
                t0 = time.monotonic()
                build().write.mode("overwrite").parquet(path)
                wall_ms = (time.monotonic() - t0) * 1000
                times[name] = wall_ms
                (
                    spark.read.parquet(path)
                    .groupBy(F.spark_partition_id().alias("partition_id"))
                    .count()
                    .withColumn("stage", F.lit(name))
                    .withColumn("wall_ms", F.lit(wall_ms))
                    .withColumn("ts", F.current_timestamp())
                    .write.mode("append").parquet(os.path.join(out, "_lineage"))
                )
            return spark.read.parquet(path)

        records = stage("records", lambda: pipe.records(self.pages))
        mentions = stage("mentions", lambda: pipe.mentions(records))
        linked = stage("linked", lambda: pipe.linked(mentions))
        triples = stage("triples", lambda: pipe.triples(linked, records))
        from knowledgeextraction_spark.pipeline import PipelineResult

        with tracer.span("pipeline.graph_tables", i):
            pipe.write_graph_tables(PipelineResult(records, mentions, linked, triples), out)
        tracer.count("pipeline.records.rows", _parquet_rows(os.path.join(out, "records")))
        tracer.count("pipeline.mentions.rows", _parquet_rows(os.path.join(out, "mentions")))
        tracer.count("pipeline.triples.rows", _parquet_rows(os.path.join(out, "triples")))
        tracer.count("pipeline.graph_tables.bytes", _dir_bytes(os.path.join(out, "graph")))
        return times

    def check(self, r: OpResult) -> bool:
        return check_triples(r.payload["out"], self.ref, KG_REPLICAS)

    def close(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)


class QueryMix:
    """One pass over QUERY_MIX in a seeded order, each query built with
    ``QUERIES[name]`` and executed through the noop sink."""

    name = "query_mix"
    checks_per_op = len(QUERY_MIX)

    def __init__(self, work: str, seed: int):
        self.work = work
        self.order = list(QUERY_MIX)
        random.Random(seed).shuffle(self.order)

    def make_inputs(self) -> dict[str, str]:
        self.sf = inputs.sf_dir(self.work, QUERY_DOCS)
        self.refs = query_references(self.sf, QUERY_MIX)
        return {"documents": os.path.join(self.sf, "documents.parquet")}

    def prepare(self, spark) -> None:
        self.spark = spark

    def op(self, tracer, i: int, collect: bool = False) -> OpResult:
        """One pass.  ``collect`` fetches every result to the driver
        instead of the noop sink: the warm-up pass uses it to check
        values; timed passes only count rows (an observed metric of
        the same execution)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from knowledgeextraction_spark.queries import QUERIES

        samples, rows, results = [], 0, {}
        for name in self.order:
            t0 = time.monotonic()
            with tracer.span("queries.build", i, label=name):
                df = QUERIES[name](self.spark, self.sf)
            with tracer.span("queries.execute", i, label=name):
                if collect:
                    got = df.toPandas()
                    n = len(got)
                    results[name] = frame_hash(got)
                else:
                    obs = Observation(f"rows_{name}_{i}")
                    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    n = obs.get["n"]
                    results[name] = (n, None)
            samples.append(time.monotonic() - t0)
            rows += n
            release(self.spark)
        return OpResult(samples, len(self.order), rows, results)

    def check(self, r: OpResult) -> list[bool]:
        """One verdict per query: rows (and, when fetched, the value hash)
        equal the reference's."""
        out = []
        for name in self.order:
            n, h = r.payload[name]
            ref_n, ref_h = self.refs[name]
            ok = n == ref_n and (h is None or h == ref_h)
            if not ok:
                print(f"perfbench: {name}: rows {n}, hash {h}; reference rows {ref_n}, hash {ref_h}",
                      file=sys.stderr)
            out.append(ok)
        return out

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (KGBuild, QueryMix)}


def release(spark) -> None:
    """Free every materialization a call left behind: cached tables and
    every persisted RDD, including localCheckpoint blocks, which
    ``clearCache`` does not release."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def _parquet_rows(path: str) -> int:
    return inputs.dir_size(path)[0]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
