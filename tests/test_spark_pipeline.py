"""Spark pipeline vs single-node oracle: the parity gate.

BASELINE.json north_rule: emitted triples must match the reference
pipeline's outputs at P/R ≥ 0.95. Oracle and pipeline share weights and
per-row code, so we assert exact equality (P/R = 1.0) on every stage.
"""

import pytest

from knowledgeextraction_spark.core.packing import pack_sentences
from knowledgeextraction_spark.core.textops import extract_text
from knowledgeextraction_spark.oracle.pipeline import run_pipeline
from knowledgeextraction_spark.pipeline import KGPipeline
from knowledgeextraction_spark.sources.pages import (
    entities_df,
    equivalences_df,
    fixture_pages,
    rules_df,
)


@pytest.fixture(scope="module")
def pipeline_result(spark, corpus):
    pages = fixture_pages(spark, corpus)
    pipe = KGPipeline(
        spark,
        entities=entities_df(spark, corpus.entities),
        rules=rules_df(spark, corpus.rules),
        equivalences=equivalences_df(spark, corpus.equivalences),
    )
    return pipe.run(pages), pipe


@pytest.fixture(scope="module")
def oracle_result(corpus):
    return run_pipeline(corpus)


def test_extract_byte_identical(spark, corpus):
    """[NORTH] per-row invariant: extracted text byte-identical per url."""
    from pyspark.sql import functions as F

    from knowledgeextraction_spark.operators.extract import extracted_text

    pages = fixture_pages(spark, corpus)
    got = {
        r["url"]: r["t"]
        for r in pages.select("url", extracted_text("html").alias("t")).collect()
    }
    for p in corpus.pages:
        assert got[p.url] == extract_text(p.html) == p.text, p.url


def test_records_match_oracle(pipeline_result, oracle_result):
    result, _ = pipeline_result
    oracle_records, _, _ = oracle_result
    got = {(r["url"], r["rec_id"]): r["text"] for r in result.records.collect()}
    assert got == oracle_records


def test_mentions_match_oracle_exactly(pipeline_result, oracle_result):
    result, _ = pipeline_result
    _, oracle_mentions, _ = oracle_result
    got = {
        (r["url"], r["rec_id"], r["start_pos"], r["end_pos"], r["label_type"], r["surface"])
        for r in result.mentions.collect()
    }
    want = {
        (m.url, m.rec_id, m.start_pos, m.end_pos, m.label_type, m.surface)
        for m in oracle_mentions
    }
    assert got == want


def test_triples_pr_gate(pipeline_result, oracle_result):
    """The north_rule gate: P/R ≥ 0.95 vs reference outputs (expect 1.0)."""
    result, _ = pipeline_result
    _, _, oracle_triples = oracle_result
    got = {
        (r["subj_id"], r["predicate"], r["obj_id"], r["url"], r["rec_id"])
        for r in result.triples.collect()
    }
    want = {
        (t.subj_id, t.predicate, t.obj_id, t.url, t.rec_id) for t in oracle_triples
    }
    assert len(want) > 0, "oracle produced no triples — fixture too sparse"
    tp = len(got & want)
    precision = tp / max(len(got), 1)
    recall = tp / len(want)
    assert precision >= 0.95, f"precision {precision:.3f}: extra={sorted(got - want)[:5]}"
    assert recall >= 0.95, f"recall {recall:.3f}: missing={sorted(want - got)[:5]}"
    assert got == want  # stronger: exact


def test_components_match_expected(spark, corpus):
    from knowledgeextraction_spark.operators.canonicalize import surface_components
    from knowledgeextraction_spark.operators.link import surface_dictionary

    sc = surface_components(
        equivalences_df(spark, corpus.equivalences),
        surface_dictionary(entities_df(spark, corpus.entities)),
    )
    got = {r["surface"]: r["component_id"] for r in sc.collect()}
    assert got == corpus.expected_components


def test_entity_component_map_local_parity(spark, corpus):
    """The driver fast path (entity_component_map_rows, r06) must equal
    the distributed operator bit-for-bit — on the pytest fixture
    dictionary AND on the doc-world dictionary q_kg_triples actually
    feeds it."""
    from knowledgeextraction_spark.operators.canonicalize import (
        entity_component_map,
        entity_component_map_rows,
    )
    from knowledgeextraction_spark.operators.link import surface_dictionary
    from knowledgeextraction_spark.sources import pages as ps

    from knowledgeextraction_spark.operators.link import surface_dictionary_rows

    for eq, ents in [
        (corpus.equivalences, corpus.entities),
        (ps.doc_equivalences(), ps.dictionary()[0]),
    ]:
        dist = entity_component_map(
            equivalences_df(spark, eq),
            surface_dictionary(entities_df(spark, ents)),
        )
        want = sorted((r["entity_id"], r["canonical_id"]) for r in dist.collect())
        got = entity_component_map_rows(eq, ents)
        assert got == want
        dic_dist = sorted(
            (r["surface"], r["label_type"], r["entity_id"])
            for r in surface_dictionary(entities_df(spark, ents)).collect()
        )
        assert surface_dictionary_rows(ents) == dic_dist


def test_resume_skips_completed_stages(spark, corpus, tmp_path):
    """[NORTH] resumability: second run re-reads snapshots, outputs equal."""
    pages = fixture_pages(spark, corpus)
    out = str(tmp_path / "kg")

    def build():
        return KGPipeline(
            spark,
            entities=entities_df(spark, corpus.entities),
            rules=rules_df(spark, corpus.rules),
            equivalences=equivalences_df(spark, corpus.equivalences),
            out_dir=out,
        )

    r1 = build().run(pages)
    t1 = {tuple(r) for r in r1.triples.collect()}
    assert r1.stage_times  # first run actually computed stages

    r2 = build().run(pages)
    t2 = {tuple(r) for r in r2.triples.collect()}
    assert r2.stage_times == {}  # nothing recomputed
    assert t1 == t2

    lineage = spark.read.parquet(f"{out}/_lineage")
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert stages == {"records", "mentions", "linked", "triples"}


def test_fused_narrow_path_matches_granular(spark, corpus, pipeline_result, oracle_result):
    """detect_records_from_pages + emit_triples_narrow == granular plan
    == oracle, on every stage output."""
    from knowledgeextraction_spark.operators.canonicalize import entity_component_map
    from knowledgeextraction_spark.operators.link import surface_dictionary
    from knowledgeextraction_spark.operators.triples import emit_triples_narrow

    pages = fixture_pages(spark, corpus)
    pipe = KGPipeline(
        spark,
        entities=entities_df(spark, corpus.entities),
        rules=rules_df(spark, corpus.rules),
        equivalences=equivalences_df(spark, corpus.equivalences),
    )
    rm = pipe.records_with_mentions(pages)
    records, mentions = KGPipeline.split_records_mentions(rm)

    oracle_records, oracle_mentions, oracle_triples = oracle_result
    got_records = {(r["url"], r["rec_id"]): r["text"] for r in records.collect()}
    assert got_records == oracle_records
    got_m = {
        (r["url"], r["rec_id"], r["start_pos"], r["end_pos"], r["label_type"], r["surface"])
        for r in mentions.collect()
    }
    want_m = {
        (m.url, m.rec_id, m.start_pos, m.end_pos, m.label_type, m.surface)
        for m in oracle_mentions
    }
    assert got_m == want_m

    cmap = entity_component_map(
        equivalences_df(spark, corpus.equivalences),
        surface_dictionary(entities_df(spark, corpus.entities)),
    )
    triples = emit_triples_narrow(
        rm, rules_df(spark, corpus.rules), entities_df(spark, corpus.entities), cmap
    )
    got_t = {
        (r["subj_id"], r["predicate"], r["obj_id"], r["url"], r["rec_id"])
        for r in triples.collect()
    }
    want_t = {
        (t.subj_id, t.predicate, t.obj_id, t.url, t.rec_id) for t in oracle_triples
    }
    assert got_t == want_t


def test_digit_alias_narrow_granular_oracle_parity(spark, corpus):
    """Digit-bearing mention surfaces link and emit triples identically
    through the narrow plan, the granular plan, and the numpy oracle.

    Round-2 verdict finding #1: the narrow path joined RAW surfaces
    against the digit-normalized dictionary, the granular path
    normalized the mention side, and the fixture oracle did a raw dict
    lookup — three conventions that agreed only while surfaces carried
    no digits.  This fixture plants a mention whose raw surface is a
    digit VARIANT ('…2') of a dictionary digit alias ('…1'): both
    normalize to '…0', so all three paths must emit the triple."""
    from pyspark.sql import functions as F

    from knowledgeextraction_spark.operators.canonicalize import entity_component_map
    from knowledgeextraction_spark.operators.detect import RECORDS_MENTIONS_SCHEMA
    from knowledgeextraction_spark.operators.link import link_mentions, surface_dictionary
    from knowledgeextraction_spark.operators.triples import (
        canonicalized_triples,
        emit_triples,
        emit_triples_narrow,
    )
    from knowledgeextraction_spark.oracle import pipeline as opl

    e0 = corpus.entities[0]  # carries digit aliases (generator post-step)
    assert any(any(c.isdigit() for c in a) for a in e0.aliases)
    rule = next(r for r in corpus.rules if r.subj_label == e0.label_type)
    obj_ent = next(
        e for e in corpus.entities if e.label_type == rule.obj_label and e is not e0
    )
    # record text: <digit-variant of e0's alias><connective><obj surface>。
    surf1 = e0.canonical_name + "2"  # normalizes to canonical+'0', like the '1' alias
    surf2 = obj_ent.canonical_name
    text = surf1 + rule.pattern + surf2 + "。"
    m1 = (0, len(surf1), e0.label_type, surf1)
    m2 = (
        len(surf1) + len(rule.pattern),
        len(surf1) + len(rule.pattern) + len(surf2),
        rule.obj_label,
        surf2,
    )
    rm = spark.createDataFrame(
        [("https://digit.test/p0", 0, text, [m1, m2])], RECORDS_MENTIONS_SCHEMA
    )

    entities = entities_df(spark, corpus.entities)
    rules = rules_df(spark, corpus.rules)
    cmap = entity_component_map(
        equivalences_df(spark, corpus.equivalences),
        surface_dictionary(entities),
    )

    narrow = {
        tuple(r)
        for r in emit_triples_narrow(rm, rules, entities, cmap)
        .select("subj_id", "predicate", "obj_id", "url", "rec_id")
        .collect()
    }

    records, mentions = KGPipeline.split_records_mentions(rm)
    linked = link_mentions(mentions, entities)
    granular = {
        tuple(r)
        for r in canonicalized_triples(emit_triples(linked, records, rules), cmap)
        .select("subj_id", "predicate", "obj_id", "url", "rec_id")
        .collect()
    }

    oracle_linked = opl.link_mentions(
        [
            opl.Mention("https://digit.test/p0", 0, s, e, t, surf)
            for s, e, t, surf in (m1, m2)
        ],
        corpus.entities,
    )
    comp_of_entity = {
        e.entity_id: corpus.expected_components[e.canonical_name]
        for e in corpus.entities
    }
    oracle = {
        (t.subj_id, t.predicate, t.obj_id, t.url, t.rec_id)
        for t in opl.emit_triples(
            oracle_linked,
            {("https://digit.test/p0", 0): text},
            corpus.rules,
            comp_of_entity,
        )
    }

    assert len(narrow) == 1, "digit-alias mention failed to link via the narrow path"
    assert narrow == granular == oracle


def test_distributed_components_match_driver_path(spark, corpus):
    """The iterative min-label-propagation CC (the 100-TB path) and the
    driver union-find fast path produce identical components."""
    from knowledgeextraction_spark.operators.canonicalize import connected_components
    from knowledgeextraction_spark.operators.link import surface_dictionary

    sid = surface_dictionary(entities_df(spark, corpus.entities)).select(
        "surface", "entity_id"
    )
    from pyspark.sql import functions as F

    e = (
        equivalences_df(spark, corpus.equivalences)
        .join(sid.withColumnRenamed("surface", "surface_a"), "surface_a")
        .withColumnRenamed("entity_id", "src")
        .join(
            sid.withColumnRenamed("surface", "surface_b").withColumnRenamed(
                "entity_id", "dst"
            ),
            "surface_b",
        )
        .select("src", "dst")
    )
    dist = {
        (r["id"], r["component"])
        for r in connected_components(e, driver_threshold=0).collect()
    }
    local = {
        (r["id"], r["component"]) for r in connected_components(e).collect()
    }
    assert dist == local and len(dist) > 0


def _jobs_in_group(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` launches, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_dimensions_match_distributed(spark, corpus, monkeypatch):
    """KGPipeline's driver-resident dimension tables (under
    DRIVER_MAX_ROWS) and the distributed operators (bound forced to 0)
    give identical linked mentions and triples."""
    from knowledgeextraction_spark import pipeline

    pages = fixture_pages(spark, corpus)

    def run():
        pipe = KGPipeline(
            spark,
            entities=entities_df(spark, corpus.entities),
            rules=rules_df(spark, corpus.rules),
            equivalences=equivalences_df(spark, corpus.equivalences),
        )
        result = pipe.run(pages)
        linked = {tuple(r) for r in result.linked.collect()}
        triples = {tuple(r) for r in result.triples.collect()}
        return linked, triples, pipe.dimensions

    linked_d, triples_d, dims_d = run()
    monkeypatch.setattr(pipeline, "DRIVER_MAX_ROWS", 0)
    linked_s, triples_s, dims_s = run()

    assert dims_d._rows[0] is not None and dims_d._rows[1] is not None
    assert dims_s._rows == (None, None)
    assert linked_d == linked_s and len(linked_d) > 0
    assert triples_d == triples_s and len(triples_d) > 0


def test_driver_dimensions_job_budget(spark, corpus, tmp_path):
    """Resolving the dimension tables and writing the triples stage
    stays within 10 Spark jobs (9 on this fixture; the distributed
    operators, with the bound forced to 0, take 19)."""
    pages = fixture_pages(spark, corpus)

    def build():
        return KGPipeline(
            spark,
            entities=entities_df(spark, corpus.entities),
            rules=rules_df(spark, corpus.rules),
            equivalences=equivalences_df(spark, corpus.equivalences),
        )

    first = build().run(pages)
    first.records.write.parquet(str(tmp_path / "records"))
    first.linked.write.parquet(str(tmp_path / "linked"))
    records = spark.read.parquet(str(tmp_path / "records"))
    linked = spark.read.parquet(str(tmp_path / "linked"))

    pipe = build()

    def dims_and_triples():
        pipe.dimensions.dictionary
        pipe.triples(linked, records).write.parquet(str(tmp_path / "triples"))

    jobs = _jobs_in_group(spark, "dims+triples", dims_and_triples)
    assert jobs <= 10, jobs
    got = {tuple(r) for r in spark.read.parquet(str(tmp_path / "triples")).collect()}
    assert got == {tuple(r) for r in first.triples.collect()}


def test_connected_components_driver_path_is_one_job(spark):
    """Under driver_threshold the size probe and the collect are one
    bounded_collect: the driver twin costs a single Spark job."""
    from knowledgeextraction_spark.operators.canonicalize import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 4), (6, 6)], "src long, dst long"
    )
    out = {}
    jobs = _jobs_in_group(
        spark, "cc-driver", lambda: out.update(cc=connected_components(edges))
    )
    assert jobs == 1
    got = {(r["id"], r["component"]) for r in out["cc"].collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)}
    dist = connected_components(edges, driver_threshold=0)
    assert {(r["id"], r["component"]) for r in dist.collect()} == got


def test_fresh_stage_snapshots_match_resumed(spark, corpus, tmp_path):
    """A freshly written stage is read back once, with the schema it was
    written with: the frames equal the resumed (schema-inferred)
    snapshots, writing a stage launches no schema-inference job, and
    the triples, deduplicated only after canonicalization, hold no
    duplicate row."""
    pages = fixture_pages(spark, corpus)
    out = str(tmp_path / "kg")

    def build():
        return KGPipeline(
            spark,
            entities=entities_df(spark, corpus.entities),
            rules=rules_df(spark, corpus.rules),
            equivalences=equivalences_df(spark, corpus.equivalences),
            out_dir=out,
        )

    fresh = build().run(pages)
    resumed = build().run(pages)
    assert resumed.stage_times == {}
    for name in ("records", "mentions", "linked", "triples"):
        a, b = getattr(fresh, name), getattr(resumed, name)
        assert a.schema == b.schema, name
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect())), name
    assert fresh.triples.count() == fresh.triples.distinct().count() > 0

    # resumed, a stage is one read that infers the schema; fresh, it is
    # the snapshot write, then the lineage rows' aggregate and write
    # (two jobs under adaptive execution), with no read-back job
    pipe = build()
    jobs = _jobs_in_group(
        spark, "records-stage",
        lambda: pipe._stage("records", lambda: fresh.records, {}),
    )
    assert jobs == 1, jobs
    pipe.out_dir = str(tmp_path / "kg2")
    jobs = _jobs_in_group(
        spark, "records-stage-fresh",
        lambda: pipe._stage("records", lambda: fresh.records, {}),
    )
    assert jobs <= 3, jobs
