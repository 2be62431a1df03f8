"""Incremental/resume semantics: skip-unchanged, re-run-on-change,
delete-one-mapping's-output, kill/resume equivalence.

Mirrors the behavior (not the mechanism) of the reference's incremental
dump (Generator.java:90-273): hash-match → skip; mapping or data change
→ regenerate exactly that mapping's triples."""

from __future__ import annotations

import pytest

from r2rml_parser_spark.mapping.parse import parse_mapping_document
from r2rml_parser_spark.plans.engine import MappingEngine
from r2rml_parser_spark.sinks.checkpoint import GraphStore, IncrementalRunner

MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <http://ex.org/> .
<#A> rr:logicalTable [ rr:tableName "ta" ];
  rr:subjectMap [ rr:template "http://x/a/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "v" ] ] .
<#B> rr:logicalTable [ rr:tableName "tb" ];
  rr:subjectMap [ rr:template "http://x/b/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "v" ] ] .
"""


@pytest.fixture
def engine(spark):
    ta = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"])
    tb = spark.createDataFrame([(9, "z")], ["id", "v"])
    doc = parse_mapping_document(MAPPING)
    return MappingEngine(spark, doc, sources={"ta": ta, "tb": tb})


def _graph(store):
    return {tuple(r) for r in store.read().collect()}


def test_set_difference_sync(spark, tmp_path):
    """Reference TDB sync semantics (Generator.java:701-748): compute
    removed = existing∖new and added = new∖existing, apply exactly the
    delta, and skip untouched mappings ('No changes detected')."""
    ta = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"])
    tb = spark.createDataFrame([(9, "z")], ["id", "v"])
    doc = parse_mapping_document(MAPPING)
    engine = MappingEngine(spark, doc, sources={"ta": ta, "tb": tb})
    store = GraphStore(spark, str(tmp_path / "store"))

    first = store.sync(engine.triples(lineage=True))
    assert first["removed"] == 0 and first["added"] == 3  # 2 from <#A>, 1 from <#B>
    assert sorted(first["unchanged"]) == []
    baseline = _graph(store)

    # no-op sync: zero delta, nothing rewritten
    again = store.sync(engine.triples(lineage=True))
    assert again["added"] == 0 and again["removed"] == 0
    assert again["rewritten"] == [] and len(again["unchanged"]) == 2
    assert _graph(store) == baseline

    # change ONE source row: only that mapping rewrites, delta is exact
    ta2 = spark.createDataFrame([(1, "x"), (2, "CHANGED")], ["id", "v"])
    engine2 = MappingEngine(spark, doc, sources={"ta": ta2, "tb": tb})
    delta = store.sync(engine2.triples(lineage=True))
    assert delta["added"] == 1 and delta["removed"] == 1
    assert len(delta["rewritten"]) == 1 and len(delta["unchanged"]) == 1
    graph = _graph(store)
    assert ("http://x/a/2", "iri", "http://ex.org/v", "CHANGED", "literal", None, None) in graph
    assert not any(r[3] == "y" for r in graph)
    # end state identical to a from-scratch build
    fresh = {tuple(r) for r in engine2.triples(lineage=False).collect()}
    assert graph == fresh

    # a mapping disappearing from the new graph is dropped
    only_a = engine2.triples(lineage=True)
    from pyspark.sql import functions as F

    only_a = only_a.where(F.col("source_map").contains("#A"))
    drop = store.sync(only_a)
    assert len(drop["deleted"]) == 1 and drop["removed"] == 1
    assert all("/b/" not in r[0] for r in _graph(store))


def test_source_hash_is_multiplicity_sensitive(spark):
    """ADVICE r1: bit_xor cancels even multiplicities — {A,A,B} and
    {C,C,B} (or 1 vs 3 copies of a row) must NOT collide, or the
    incremental runner silently skips a changed source."""
    from r2rml_parser_spark.sinks.checkpoint import source_content_hash

    one = spark.createDataFrame([(1, "a")], ["id", "v"])
    three = spark.createDataFrame([(1, "a")] * 3, ["id", "v"])
    aab = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], ["id", "v"])
    ccb = spark.createDataFrame([(3, "c"), (3, "c"), (2, "b")], ["id", "v"])
    assert source_content_hash(one) != source_content_hash(three)
    assert source_content_hash(aab) != source_content_hash(ccb)
    # order-insensitivity preserved
    baa = spark.createDataFrame([(2, "b"), (1, "a"), (1, "a")], ["id", "v"])
    assert source_content_hash(aab) == source_content_hash(baa)


def test_skip_then_invalidate(spark, engine, tmp_path):
    store = GraphStore(spark, str(tmp_path / "g"))
    runner = IncrementalRunner(engine, store)

    s1 = runner.run()
    assert sorted(s1["generated"]) == ["#A", "#B"] and not s1["skipped"]
    g1 = _graph(store)
    assert len(g1) == 3

    # unchanged → everything skipped, graph identical
    s2 = runner.run()
    assert sorted(s2["skipped"]) == ["#A", "#B"] and not s2["generated"]
    assert _graph(store) == g1

    # change ta's data → only #A regenerates
    engine.sources["ta"] = spark.createDataFrame([(1, "x"), (2, "CHANGED")], ["id", "v"])
    s3 = runner.run()
    assert s3["generated"] == ["#A"] and s3["skipped"] == ["#B"]
    g3 = _graph(store)
    assert ("http://x/a/2", "iri", "http://ex.org/v", "CHANGED", "literal", None, None) in g3
    assert len(g3) == 3  # old triple replaced, not appended


def _jobs_during(spark, group, fn):
    """Run fn() under a Spark job group; return the job ids it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_metadata_first_skip_launches_zero_jobs(spark, tmp_path):
    """VERDICT r2 #5: at 100 TB 'decide to skip' must not mean 'read
    100 TB'. With parquet-backed sources, an unchanged-source re-run
    must decide to skip from file METADATA alone — zero Spark jobs."""
    for name, rows in (("ta", [(1, "x"), (2, "y")]), ("tb", [(9, "z")])):
        spark.createDataFrame(rows, ["id", "v"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))

    def mk_engine():
        doc = parse_mapping_document(MAPPING)
        return MappingEngine(
            spark,
            doc,
            sources={
                "ta": spark.read.parquet(str(tmp_path / "ta")),
                "tb": spark.read.parquet(str(tmp_path / "tb")),
            },
        )

    store = GraphStore(spark, str(tmp_path / "g"))
    runner = IncrementalRunner(mk_engine(), store)
    s1 = runner.run()
    assert sorted(s1["generated"]) == ["#A", "#B"]
    manifest = store.read_manifest()
    assert all(e["source_files"] for e in manifest["mappings"].values())

    # unchanged files → skip with ZERO jobs (metadata gate only)
    runner2 = IncrementalRunner(mk_engine(), store)
    s2 = {}
    jobs = _jobs_during(spark, "skip-zero-jobs", lambda: s2.update(runner2.run()))
    assert sorted(s2["skipped"]) == ["#A", "#B"] and not s2["generated"]
    assert jobs == [], f"metadata-first skip launched jobs: {jobs}"

    # rewrite ta with IDENTICAL content (new mtimes): metadata gate
    # misses, the content hash catches it — still skipped, and the
    # fingerprint refreshes so the NEXT run is metadata-only again
    spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "ta"))
    runner3 = IncrementalRunner(mk_engine(), store)
    s3 = runner3.run()
    assert sorted(s3["skipped"]) == ["#A", "#B"] and not s3["generated"]
    runner4 = IncrementalRunner(mk_engine(), store)
    s4 = {}
    jobs4 = _jobs_during(spark, "skip-zero-jobs-2", lambda: s4.update(runner4.run()))
    assert sorted(s4["skipped"]) == ["#A", "#B"] and jobs4 == []

    # a REAL change still regenerates exactly that mapping
    spark.createDataFrame([(1, "x"), (2, "CHANGED")], ["id", "v"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "ta"))
    s5 = IncrementalRunner(mk_engine(), store).run()
    assert s5["generated"] == ["#A"] and s5["skipped"] == ["#B"]
    assert (
        "http://x/a/2", "iri", "http://ex.org/v", "CHANGED", "literal", None, None
    ) in _graph(store)


def test_sync_job_count_constant_in_mapping_count(spark, tmp_path):
    """VERDICT r2 #6: the no-op sync diff is ONE lineage-keyed job, not
    2 exceptAll jobs per mapping — job count must not grow with the
    number of mappings."""
    from pyspark.sql import functions as F  # noqa: F401

    def lineage_triples(n_maps):
        rows = [
            (f"http://x/{m}/s{i}", "iri", "http://x/p", f"v{i}", "literal",
             None, None, f"http://map/{m}")
            for m in range(n_maps)
            for i in range(10)
        ]
        cols = ["subj", "subj_kind", "pred", "obj", "obj_kind", "lang", "dtype", "source_map"]
        return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))

    counts = {}
    for n_maps in (3, 9):
        store = GraphStore(spark, str(tmp_path / f"s{n_maps}"))
        store.sync(lineage_triples(n_maps))
        out = {}
        jobs = _jobs_during(
            spark, f"sync-noop-{n_maps}",
            lambda: out.update(store.sync(lineage_triples(n_maps))),
        )
        assert out["added"] == 0 and out["removed"] == 0
        assert len(out["unchanged"]) == n_maps and not out["rewritten"]
        counts[n_maps] = len(jobs)
    # 3× the mappings, same diff job count (the old loop was ~2/mapping)
    assert counts[9] <= counts[3] + 1, counts


def test_kill_and_resume_produces_identical_graph(spark, engine, tmp_path):
    full_store = GraphStore(spark, str(tmp_path / "full"))
    IncrementalRunner(engine, full_store).run()
    expected = _graph(full_store)

    crash_store = GraphStore(spark, str(tmp_path / "crash"))
    runner = IncrementalRunner(engine, crash_store)
    with pytest.raises(RuntimeError, match="simulated crash"):
        runner.run(fail_after=1)  # commits exactly one mapping, dies
    manifest = crash_store.read_manifest()
    assert len(manifest["mappings"]) == 1  # partial commit visible

    s = runner.run()  # resume: completed mapping skipped
    assert len(s["skipped"]) == 1 and len(s["generated"]) == 1
    assert _graph(crash_store) == expected


def test_per_partition_lineage_metrics(spark, engine, tmp_path):
    store = GraphStore(spark, str(tmp_path / "g"))
    IncrementalRunner(engine, store).run()
    manifest = store.read_manifest()
    for uri, entry in manifest["mappings"].items():
        assert entry["triples"] == sum(entry["partition_counts"])
        assert entry["snapshot"] == manifest["snapshot"]
    assert manifest["mappings"]["#A"]["triples"] == 2
    assert manifest["mappings"]["#B"]["triples"] == 1


def test_store_is_range_clustered(spark, tmp_path):
    """write_mapping range-clusters on (subj, pred, obj): buckets are
    balanced, sorted within, and cover DISJOINT key ranges — the
    Iceberg sort-order analogue that makes subj/pred equality filters
    file-prunable via parquet min/max stats."""
    from pyspark.sql import functions as F

    store = GraphStore(spark, str(tmp_path / "g"), cluster_partitions=4)
    df = spark.range(400).select(
        F.concat(F.lit("http://x/e"), F.format_string("%03d", "id")).alias("subj"),
        F.lit("iri").alias("subj_kind"),
        F.lit("http://x/p").alias("pred"),
        F.concat(F.lit("v"), F.col("id")).alias("obj"),
        F.lit("literal").alias("obj_kind"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("dtype"),
    )
    counts = store.write_mapping("http://x/m", df)
    assert sum(counts) == 400 and len(counts) == 4
    assert all(c > 0 for c in counts)  # sampler balanced the buckets

    part = spark.read.parquet(store._mapping_dir("http://x/m"))
    spans = (
        part.groupBy("_pid")
        .agg(F.min("subj").alias("lo"), F.max("subj").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    for a, b in zip(spans, spans[1:]):
        assert a["hi"] <= b["lo"]  # disjoint, globally ordered ranges

    # the read path still returns the plain triple set
    assert store.read().count() == 400


def test_store_query_and_ask(spark, engine, tmp_path):
    """SPARQL directly over the persisted store (GraphStore.query):
    constant-pred BGP reaches the clustered parquet scan as a pushed
    filter; ASK probes emptiness."""
    store = GraphStore(spark, str(tmp_path / "g"))
    IncrementalRunner(engine, store).run()
    out = store.query(
        'PREFIX ex: <http://ex.org/> SELECT ?s ?v WHERE { ?s ex:v ?v . FILTER (?v != "z") }'
    )
    got = {(r.s, r.v) for r in out.collect()}
    assert got == {("http://x/a/1", "x"), ("http://x/a/2", "y")}
    assert store.ask('PREFIX ex: <http://ex.org/> ASK { ?s ex:v "z" }') is True
    assert store.ask('PREFIX ex: <http://ex.org/> ASK { ?s ex:v "nope" }') is False


def test_store_construct_and_describe(spark, engine, tmp_path):
    """All four query forms are store-native (late r4): CONSTRUCT and
    DESCRIBE return 7-column triples DFs straight off the clustered
    store, composing with every sink."""
    store = GraphStore(spark, str(tmp_path / "g4"))
    IncrementalRunner(engine, store).run()
    derived = store.construct(
        "PREFIX ex: <http://ex.org/> "
        "CONSTRUCT { ?s ex:w ?v } WHERE { ?s ex:v ?v }"
    )
    assert derived.columns == [
        "subj", "subj_kind", "pred", "obj", "obj_kind", "lang", "dtype"
    ]
    got = {(r.subj, r.pred, r.obj) for r in derived.collect()}
    assert got == {
        ("http://x/a/1", "http://ex.org/w", "x"),
        ("http://x/a/2", "http://ex.org/w", "y"),
        ("http://x/b/9", "http://ex.org/w", "z"),
    }
    desc = store.describe("DESCRIBE <http://x/a/1>")
    assert {(r.subj, r.pred, r.obj) for r in desc.collect()} == {
        ("http://x/a/1", "http://ex.org/v", "x"),
    }


def test_store_dataset_query_per_mapping_graphs(spark, engine, tmp_path):
    """Store-as-dataset (r5): each mapping's partition is a named graph
    (IRI = the triples-map URI) — GRAPH ?g answers 'which mapping
    produced this triple' straight off the store layout, GRAPH <iri>
    prunes to one partition directory, and with include_default the
    plain patterns still see everything."""
    store = GraphStore(spark, str(tmp_path / "gq"))
    IncrementalRunner(engine, store).run()
    out = store.query_dataset(
        "PREFIX ex: <http://ex.org/> "
        "SELECT ?g (COUNT(?s) AS ?n) WHERE { GRAPH ?g { ?s ex:v ?o } } "
        "GROUP BY ?g ORDER BY ?g"
    )
    got = [(r.g, r.n) for r in out.collect()]
    assert len(got) == 2 and [n for _, n in got] == [2, 1]
    assert all(g.endswith(("#A", "#B")) for g, _ in got)
    # constant-graph slice: only mapping A's partition
    a_uri = got[0][0]
    only_a = store.query_dataset(
        f"SELECT ?s ?o WHERE {{ GRAPH <{a_uri}> {{ ?s ?p ?o }} }}"
    )
    assert {r.s for r in only_a.collect()} == {"http://x/a/1", "http://x/a/2"}
    # union-default semantics: plain patterns match the whole graph
    assert store.query_dataset(
        "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:v ?o }"
    ).count() == 3
    # named-graphs-only dataset: the default graph is empty
    assert store.query_dataset(
        "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:v ?o }",
        include_default=False,
    ).count() == 0


def _executed_plans(spark, fn) -> list[str]:
    """Run fn(); return the final physical plans (the adaptive plan's
    final section) of the SQL executions it started, as plan trees."""
    sc = spark.sparkContext
    status = spark._jsparkSession.sharedState().statusStore()
    before = {e.executionId() for e in _scala_list(status.executionsList())}
    fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    plans = []
    for e in _scala_list(status.executionsList()):
        if e.executionId() in before:
            continue
        text = e.physicalPlanDescription().split("\n\n")[0]
        if "== Final Plan ==" in text:
            text = text.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
        plans.append(text)
    return plans


def _scala_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def test_write_mapping_dedups_with_one_exchange(spark, tmp_path):
    """The writer owns the set invariant: duplicates handed to
    write_mapping are stored once, and the dedup rides on the range
    exchange instead of planning one of its own, also when the
    predicate is a constant the optimizer folds."""
    from pyspark.sql import functions as F

    store = GraphStore(spark, str(tmp_path / "g"), cluster_partitions=2)
    # 60 rows, 20 distinct triples (id % 20 fixes id % 4)
    df = spark.range(60).select(
        F.concat(F.lit("http://x/e"), (F.col("id") % 20).cast("string")).alias("subj"),
        F.lit("iri").alias("subj_kind"),
        F.lit("http://x/p").alias("pred"),
        F.concat(F.lit("v"), (F.col("id") % 4).cast("string")).alias("obj"),
        F.lit("literal").alias("obj_kind"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("dtype"),
    )
    counts = []
    plans = _executed_plans(
        spark, lambda: counts.extend(store.write_mapping("http://x/m", df))
    )
    assert sum(counts) == 20
    (write,) = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert "HashAggregate" in write
    assert write.count("Exchange (") == 1, write


MAPPING_SHARED = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <http://ex.org/> .
<#A> rr:logicalTable [ rr:tableName "ta" ];
  rr:subjectMap [ rr:template "http://x/a/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "v" ] ] .
<#C> rr:logicalTable [ rr:tableName "tb" ];
  rr:subjectMap [ rr:template "http://x/a/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "v" ] ] .
"""


def test_disjoint_maps_read_without_dedup(spark, engine, tmp_path):
    """Maps whose subject templates cannot render the same IRI are
    disjoint by proof, so read() is a plain scan: no aggregate, no
    exchange, and building it launches no job."""
    store = GraphStore(spark, str(tmp_path / "g"))
    IncrementalRunner(engine, store).run()
    jobs = _jobs_during(spark, "read-no-jobs", store.read)
    assert jobs == [], f"read() launched jobs: {jobs}"
    df = store.read()
    assert "Aggregate" not in df._jdf.queryExecution().optimizedPlan().toString()
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
    assert df.count() == 3


def test_overlapping_maps_count_shared_triple_once(spark, tmp_path):
    """Two maps with the same subject template and predicate may share
    triples; the one they both emit is in the graph once, through read()
    and through the store-as-dataset's default graph."""
    ta = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"])
    tb = spark.createDataFrame([(2, "y"), (3, "z")], ["id", "v"])
    engine = MappingEngine(
        spark, parse_mapping_document(MAPPING_SHARED), sources={"ta": ta, "tb": tb}
    )
    store = GraphStore(spark, str(tmp_path / "g"))
    IncrementalRunner(engine, store).run()
    assert store.read().count() == 3
    count = "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"
    assert store.query(count).collect()[0]["n"] == 3
    assert store.query_dataset(count).collect()[0]["n"] == 3


try:
    from hypothesis import given, settings, strategies as st

    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False

#: subject maps: overlapping and disjoint IRI templates, and a blank
#: node subject (no signature template, so it overlaps on predicates)
SUBJECT_MAPS = [
    '[ rr:template "http://x/a/{id}" ]',
    '[ rr:template "http://x/b/{id}" ]',
    '[ rr:template "http://x/a/{v}" ]',
    '[ rr:template "http://x/a/{id}/{v}" ]',
    '[ rr:template "b{id}"; rr:termType rr:BlankNode ]',
]
map_st = (
    st.tuples(
        st.sampled_from(SUBJECT_MAPS),
        st.booleans(),  # rr:class ex:C
        st.lists(
            st.tuples(st.sampled_from(["p", "q"]), st.sampled_from(["id", "v"])),
            min_size=1, max_size=2,
        ),
    )
    if HAVE_HYP else None
)
rows_st = (
    st.lists(
        st.tuples(st.integers(0, 3), st.sampled_from(["x", "y"])), min_size=1, max_size=6
    )
    if HAVE_HYP else None
)


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=8, deadline=None)
@given(maps=st.lists(map_st, min_size=2, max_size=4), rows=rows_st)
def test_store_read_is_distinct_union_differential(spark, maps, rows):
    """Random map sets over one table with duplicate rows: read() equals
    the distinct union of every map's emissions, and default-graph
    counts through query_dataset equal those through query."""
    import tempfile

    ttl = ["@prefix rr: <http://www.w3.org/ns/r2rml#> .",
           "@prefix ex: <http://ex.org/> ."]
    for i, (subject, cls, poms) in enumerate(maps):
        if cls:
            subject = subject[:-1] + "; rr:class ex:C ]"
        ttl.append(
            f'<#M{i}> rr:logicalTable [ rr:tableName "t" ]; rr:subjectMap {subject}'
            + "".join(
                f'; rr:predicateObjectMap [ rr:predicate ex:{p}; '
                f'rr:objectMap [ rr:column "{c}" ] ]'
                for p, c in poms
            )
            + " ."
        )
    table = spark.createDataFrame(rows, "id int, v string")
    engine = MappingEngine(
        spark, parse_mapping_document("\n".join(ttl)), sources={"t": table}
    )
    expected = {
        tuple(r)[:7]
        for tm in engine.doc.topo_sorted()
        for r in engine.triples_for(tm).collect()
    }
    with tempfile.TemporaryDirectory() as d:
        store = GraphStore(spark, d, cluster_partitions=1)
        IncrementalRunner(engine, store).run()
        got = store.read().collect()
        assert len(got) == len(expected) and {tuple(r) for r in got} == expected
        q = "SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p"
        plain = {(r.p, r.n) for r in store.query(q).collect()}
        assert {(r.p, r.n) for r in store.query_dataset(q).collect()} == plain
