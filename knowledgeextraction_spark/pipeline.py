"""End-to-end KG-construction pipeline with lineage + resume.

Stage DAG (SURVEY.md §7, the reference serving path re-expressed as
one declarative dataflow — §3.1):

    pages ─ filter(lang='zh') ─ extract(F16) ─ pack(F1+W3, narrow)
          ─ detect(M1+M2 mapInPandas, broadcast weights) ─ mentions
          ─ link(J8 broadcast join) ─ pair+rules(M8/M9) ─ triples
          ─ canonicalize(M10 components) ─ triples/nodes/edges tables

Resumability [NORTH]: each materialized stage writes parquet (stands in
for an Iceberg snapshot) and is skipped when its output already exists
— mirroring the reference's compute-if-absent TFRecord cache
(run_crf_albert.py:153-157). Per-stage lineage rows (stage, partition
counts, row counts, wall ms) append to a ``_lineage`` table (A11).

Partitioning [NORTH]: the triples sink is written partitioned by
``predicate`` (low cardinality — one dir per relation) and bucketed by
``subj_id`` hash into ``n_buckets`` files per partition, the parquet
stand-in for Iceberg's ``partitionedBy(pred, bucket(N, subj_id))``.

Dimension tables: the surface dictionary (linked stage) and the entity
→ canonical component map (triples stage) are resolved once per
pipeline, by the first stage that joins one (``DimensionTables``). At
or below ``DRIVER_MAX_ROWS`` entity and equivalence rows they are
collected once and built on the driver by the parity-tested twins into
small local relations, so each stage pays one broadcast instead of
re-running the explode+groupBy and connected-components sub-DAGs;
above the bound the distributed operators stay the scale path.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from functools import cached_property

import pandas as pd
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from .operators.bounded import DRIVER_MAX_ROWS, bounded_collect
from .operators.canonicalize import entity_component_map, entity_component_map_rows
from .operators.detect import detect_mentions, detect_records_from_pages
from .operators.extract import extracted_text
from .operators.link import link_mentions, surface_dictionary, surface_dictionary_rows
from .operators.segment import packed_records
from .operators.triples import canonicalized_triples, emit_triples


@dataclass
class PipelineResult:
    records: DataFrame
    mentions: DataFrame
    linked: DataFrame
    triples: DataFrame
    stage_times: dict[str, float] = field(default_factory=dict)


def _lineage_rows(spark: SparkSession, out_dir: str, stage: str, df: DataFrame, wall_ms: float) -> None:
    counts = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .count()
        .withColumn("stage", F.lit(stage))
        .withColumn("wall_ms", F.lit(wall_ms))
        .withColumn("ts", F.current_timestamp())
    )
    counts.write.mode("append").parquet(os.path.join(out_dir, "_lineage"))


class DimensionTables:
    """The surface dictionary and the entity → canonical component map,
    resolved together on first use and then reused.

    Entities and equivalences of at most ``DRIVER_MAX_ROWS`` rows each
    are collected once (``bounded_collect``) and turned into local
    relations by the driver twins ``link.surface_dictionary_rows`` and
    ``canonicalize.entity_component_map_rows`` (parity pytest-asserted
    against the distributed operators).  Over the bound the tables are
    the distributed ``surface_dictionary`` / ``entity_component_map``
    plans, unchanged.
    """

    def __init__(self, entities: DataFrame, equivalences: DataFrame):
        self.entities = entities
        self.equivalences = equivalences

    @cached_property
    def _rows(self) -> tuple[list[Row] | None, list[Row] | None]:
        """(entity rows, equivalence rows), each None over the bound."""
        return (
            bounded_collect(
                self.entities.select("entity_id", "canonical_name", "aliases", "label_type"),
                DRIVER_MAX_ROWS,
            ),
            bounded_collect(
                self.equivalences.select("surface_a", "surface_b"), DRIVER_MAX_ROWS
            ),
        )

    def _local_relation(self, rows: list[tuple], ddl: str) -> DataFrame:
        """Driver rows as a LocalRelation, built through Arrow: a
        ``createDataFrame`` of a python list is an RDD that every scan
        (each broadcast build) re-pickles through a Python worker."""
        columns = [f.split()[0] for f in ddl.split(",")]
        return self.entities.sparkSession.createDataFrame(
            pd.DataFrame(rows, columns=columns), ddl
        )

    @cached_property
    def dictionary(self) -> DataFrame:
        """(surface, label_type, entity_id)."""
        ents, _ = self._rows
        if ents is None:
            return surface_dictionary(self.entities)
        return self._local_relation(
            surface_dictionary_rows(ents),
            "surface string, label_type string, entity_id long",
        )

    @cached_property
    def component_map(self) -> DataFrame:
        """(entity_id, canonical_id)."""
        ents, eqs = self._rows
        if ents is None or eqs is None:
            return entity_component_map(self.equivalences, self.dictionary)
        return self._local_relation(
            entity_component_map_rows(eqs, ents), "entity_id long, canonical_id long"
        )


class KGPipeline:
    """Composable pipeline; stages are lazily-declared DataFrames.

    ``out_dir=None`` keeps everything in one unmaterialized DAG (used
    by tests/bench); with ``out_dir`` each stage materializes + resumes.
    """

    def __init__(
        self,
        spark: SparkSession,
        entities: DataFrame,
        rules: DataFrame,
        equivalences: DataFrame,
        max_seq_length: int = 382,
        lang: str = "zh",
        out_dir: str | None = None,
    ):
        self.spark = spark
        self.entities = entities
        self.rules = rules
        self.equivalences = equivalences
        self.max_seq_length = max_seq_length
        self.lang = lang
        self.out_dir = out_dir
        self._weights_bc = None
        self.dimensions = DimensionTables(entities, equivalences)

    @property
    def weights_bc(self):
        if self._weights_bc is None:
            from .broadcast import weights_broadcast

            self._weights_bc = weights_broadcast(self.spark)
        return self._weights_bc

    # --- stage declarations (lazy) -------------------------------------

    def records(self, pages: DataFrame) -> DataFrame:
        gated = pages.filter(F.col("lang") == self.lang)  # P8 language gate
        with_text = gated.select(
            "url", extracted_text("html").alias("text")
        )  # F16; html pruned after this projection
        return packed_records(with_text, self.max_seq_length)

    def mentions(self, records: DataFrame) -> DataFrame:
        # the encoder is the FLOP-dominant stage: rebalance records
        # across all cores first (tiny rows — the shuffle is far cheaper
        # than idle executors during the matmul)
        par = self.spark.sparkContext.defaultParallelism
        return detect_mentions(records.repartition(par), self.weights_bc)

    def records_with_mentions(self, pages: DataFrame) -> DataFrame:
        """Fused hot path (see detect_records_from_pages): pages →
        (url, rec_id, text, mentions) in ONE python stage."""
        par = self.spark.sparkContext.defaultParallelism
        gated = pages.filter(F.col("lang") == self.lang).select("url", "html")
        return detect_records_from_pages(
            gated.repartition(par * 2), self.weights_bc, self.max_seq_length
        )

    @staticmethod
    def split_records_mentions(rm: DataFrame) -> tuple[DataFrame, DataFrame]:
        records = rm.select("url", "rec_id", "text")
        mentions = rm.select(
            "url", "rec_id", F.explode("mentions").alias("m")
        ).select(
            "url",
            "rec_id",
            F.col("m.start_pos").alias("start_pos"),
            F.col("m.end_pos").alias("end_pos"),
            F.col("m.label_type").alias("label_type"),
            F.col("m.surface").alias("surface"),
        )
        return records, mentions

    def linked(self, mentions: DataFrame) -> DataFrame:
        return link_mentions(
            mentions, self.entities, dictionary=self.dimensions.dictionary
        )

    def component_map(self) -> DataFrame:
        return self.dimensions.component_map

    def triples(self, linked: DataFrame, records: DataFrame) -> DataFrame:
        raw = emit_triples(linked, records, self.rules)
        return canonicalized_triples(raw, self.component_map())

    # --- orchestration --------------------------------------------------

    def _stage(self, name: str, build, times: dict[str, float]) -> DataFrame:
        """Materialize-or-resume one stage (compute-if-absent).

        A freshly written snapshot is read back once, with the schema it
        was written with: inferring a parquet schema is a Spark job of
        its own.  A resumed snapshot infers it."""
        if self.out_dir is None:
            return build()
        path = os.path.join(self.out_dir, name)
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            return self.spark.read.parquet(path)
        t0 = time.monotonic()
        df = build()
        df.write.mode("overwrite").parquet(path)
        wall_ms = (time.monotonic() - t0) * 1000
        times[name] = wall_ms
        snapshot = self.spark.read.schema(df.schema).parquet(path)
        _lineage_rows(self.spark, self.out_dir, name, snapshot, wall_ms)
        return snapshot

    def run(self, pages: DataFrame) -> PipelineResult:
        times: dict[str, float] = {}
        records = self._stage("records", lambda: self.records(pages), times)
        mentions = self._stage("mentions", lambda: self.mentions(records), times)
        linked = self._stage("linked", lambda: self.linked(mentions), times)
        triples_df = self._stage(
            "triples", lambda: self.triples(linked, records), times
        )
        return PipelineResult(records, mentions, linked, triples_df, times)

    def write_graph_tables(self, result: PipelineResult, base: str, n_buckets: int = 16) -> None:
        """Materialize triples/nodes/edges partitioned for query access.

        Parquet stand-in for Iceberg ``partitionedBy(pred,
        bucket(n_buckets, subj_id))``: directory partition on predicate,
        in-partition files bucketed by repartitioning on a subj_id hash.

        Outputs land under ``base``/graph/ — NOT directly under ``base``
        — so that ``base`` may be the pipeline's own ``out_dir``: the
        resumed ``result.triples`` is backed by the ``out_dir/triples``
        stage snapshot, and writing the partitioned table to the same
        path would overwrite the files mid-read (found by the
        spark-submit smoke run).
        """
        base = os.path.join(base, "graph")
        t = result.triples.withColumn(
            "subj_bucket", F.pmod(F.hash("subj_id"), F.lit(n_buckets))
        )
        (
            t.repartition("predicate", "subj_bucket")
            .write.mode("overwrite")
            .partitionBy("predicate")
            .parquet(os.path.join(base, "triples"))
        )
        nodes = (
            result.triples.select(F.col("subj_id").alias("entity_id"))
            .unionByName(result.triples.select(F.col("obj_id").alias("entity_id")))
            .distinct()
        )
        nodes.write.mode("overwrite").parquet(os.path.join(base, "nodes"))
        edges = result.triples.groupBy("subj_id", "predicate", "obj_id").agg(
            F.count("*").alias("weight")
        )
        edges.write.mode("overwrite").parquet(os.path.join(base, "edges"))


    def write_graph_tables_bucketed(
        self, result: PipelineResult, n_buckets: int = 16, prefix: str = "kg"
    ) -> None:
        write_bucketed_graph_tables(result.triples, n_buckets, prefix)


def _drop_managed_table(spark: SparkSession, name: str) -> None:
    """DROP TABLE IF EXISTS + remove any ORPHANED location.

    A managed-table directory left by a PREVIOUS session is not in the
    current in-memory catalog, so ``mode("overwrite")`` cannot drop it
    and ``saveAsTable`` fails with LOCATION_ALREADY_EXISTS; with a
    persistent metastore the DROP alone removes the location and the
    rmtree is a no-op."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    if warehouse.scheme in ("", "file"):
        shutil.rmtree(os.path.join(warehouse.path, name.lower()), ignore_errors=True)


def write_bucketed_graph_tables(
    triples: DataFrame, n_buckets: int = 16, prefix: str = "kg"
) -> None:
    """Catalog-registered BUCKETED graph tables (Spark bucketing ≈
    Iceberg ``bucket(N, entity_id)`` partition transform).

    ``{prefix}_triples`` is bucketed AND sort-ordered by ``subj_id``;
    ``{prefix}_nodes`` by ``entity_id`` with the same bucket count.
    A subsequent triples⋈nodes equi-join on the bucket key needs NO
    exchange on either side (verified in
    tests/test_bucketed_join.py by asserting the join plan is
    Exchange-free) — at 10^12 rows this is the difference between a
    co-located merge join and re-shuffling the whole fact table per
    query."""
    spark = triples.sparkSession
    _drop_managed_table(spark, f"{prefix}_triples")
    _drop_managed_table(spark, f"{prefix}_nodes")
    (
        triples.write.mode("overwrite")
        .bucketBy(n_buckets, "subj_id")
        .sortBy("subj_id")
        .format("parquet")
        .saveAsTable(f"{prefix}_triples")
    )
    nodes = (
        triples.select(F.col("subj_id").alias("entity_id"))
        .unionByName(triples.select(F.col("obj_id").alias("entity_id")))
        .distinct()
    )
    (
        nodes.write.mode("overwrite")
        .bucketBy(n_buckets, "entity_id")
        .sortBy("entity_id")
        .format("parquet")
        .saveAsTable(f"{prefix}_nodes")
    )
