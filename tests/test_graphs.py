"""Named graphs: rr:graphMap quad emission (R2RML §9) + SPARQL GRAPH
compilation (§13.3) — r5, closing VERDICT r4 "What's missing" #1.

The reference parses rr:graphMap as a log-only stub
(Parser.java:241-270) and gets quad-capable ARQ for free via Jena
(UtilImpl.java:148-210); here the engine materializes an 8-column quad
relation and the SPARQL compiler evaluates GRAPH blocks against it.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from r2rml_parser_spark import MappingEngine, parse_mapping_document
from r2rml_parser_spark.plans.engine import GRAPH_COLUMN, lineage_quads
from r2rml_parser_spark.mapping.parse import MappingError
from r2rml_parser_spark.plans.sparql import (
    SparqlError,
    sparql_ask,
    sparql_select,
)

EX = "http://ex.org/"
COLS = "subj subj_kind pred obj obj_kind lang dtype graph".split()


@pytest.fixture(scope="module")
def quads(spark):
    rows = [
        # default graph
        (EX + "a", "iri", EX + "p", "litA", "literal", None, None, None),
        (EX + "c", "iri", EX + "p", "litC", "literal", None, None, None),
        # named graph g1
        (EX + "a", "iri", EX + "p", "litG1", "literal", None, None, EX + "g1"),
        (EX + "b", "iri", EX + "q", EX + "a", "iri", None, None, EX + "g1"),
        # named graph g2
        (EX + "a", "iri", EX + "p", "litG2", "literal", None, None, EX + "g2"),
        (EX + "b", "iri", EX + "q", EX + "c", "iri", None, None, EX + "g2"),
    ]
    return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))


def test_default_graph_only_outside_graph(quads):
    """Patterns outside GRAPH match ONLY the default graph — named
    triples are invisible to them (§13.3)."""
    q = f"SELECT ?o WHERE {{ <{EX}a> <{EX}p> ?o }}"
    assert sorted(r.o for r in sparql_select(quads, q).collect()) == ["litA"]


def test_graph_var_binds_each_named_graph(quads):
    q = f"SELECT ?g ?o WHERE {{ GRAPH ?g {{ <{EX}a> <{EX}p> ?o }} }}"
    got = sorted((r.g, r.o) for r in sparql_select(quads, q).collect())
    assert got == [(EX + "g1", "litG1"), (EX + "g2", "litG2")]


def test_graph_iri_slices_one_graph(quads):
    q = f"SELECT ?o WHERE {{ GRAPH <{EX}g1> {{ <{EX}a> <{EX}p> ?o }} }}"
    assert [r.o for r in sparql_select(quads, q).collect()] == ["litG1"]


def test_graph_var_same_graph_constraint(quads):
    """All patterns of one GRAPH ?g block come from the SAME graph: the
    b-q-a chain closes only inside g1 (g2 has b-q-c)."""
    q = f"SELECT ?g ?s WHERE {{ GRAPH ?g {{ ?s <{EX}q> ?x . ?x <{EX}p> ?o }} }}"
    got = sorted((r.g, r.s) for r in sparql_select(quads, q).collect())
    assert got == [(EX + "g1", EX + "b")]


def test_graph_joins_default_pattern(quads):
    """A GRAPH block composes with default-graph patterns through the
    ordinary join on shared variables."""
    q = f"""SELECT ?g ?x WHERE {{
      GRAPH ?g {{ ?b <{EX}q> ?x }}
      ?x <{EX}p> ?d . }}"""
    got = sorted((r.g, r.x) for r in sparql_select(quads, q).collect())
    assert got == [(EX + "g1", EX + "a"), (EX + "g2", EX + "c")]


def test_graph_var_bound_by_outer_pattern(quads):
    """?g bound elsewhere constrains which named graphs the block
    reads (join on the graph variable)."""
    q = f"""SELECT ?o WHERE {{
      GRAPH ?g {{ <{EX}a> <{EX}p> ?o }}
      VALUES ?g {{ <{EX}g2> }} }}"""
    assert [r.o for r in sparql_select(quads, q).collect()] == ["litG2"]


def test_graph_var_repeated_in_pattern(quads, spark):
    """GRAPH ?g { ?g ?p ?o }: subject must BE the graph IRI."""
    rows = [
        (EX + "g1", "iri", EX + "p", "self", "literal", None, None, EX + "g1"),
        (EX + "z", "iri", EX + "p", "other", "literal", None, None, EX + "g1"),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = "SELECT ?o WHERE { GRAPH ?g { ?g ?p ?o } }"
    assert [r.o for r in sparql_select(g, q).collect()] == ["self"]


def test_graph_aggregation(quads):
    q = """SELECT ?g (COUNT(?s) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } }
    GROUP BY ?g ORDER BY ?g"""
    got = [(r.g, r.n) for r in sparql_select(quads, q).collect()]
    assert got == [(EX + "g1", 2), (EX + "g2", 2)]


def test_graph_iri_full_group_content(quads):
    """GRAPH <iri> is a pure dataset slice: OPTIONAL and FILTER inside
    the block compile through the full group machinery."""
    q = f"""SELECT ?s ?x WHERE {{ GRAPH <{EX}g1> {{
      ?s <{EX}p> ?o . FILTER(STRSTARTS(?o, "lit"))
      OPTIONAL {{ ?b <{EX}q> ?s . BIND(STR(?b) AS ?x) }}
    }} }}"""
    got = {(r.s, r.x) for r in sparql_select(quads, q).collect()}
    assert got == {(EX + "a", EX + "b")}


def test_graph_var_full_group_content(quads):
    """GRAPH ?g carries the full group grammar (r5 session 2): nested
    OPTIONAL and FILTER EXISTS compile with ?g threaded through every
    scan — the OPTIONAL only extends within the SAME graph."""
    q = f"""SELECT ?g ?b ?x WHERE {{ GRAPH ?g {{
      ?b <{EX}q> ?t .
      OPTIONAL {{ ?t <{EX}p> ?x }}
    }} }}"""
    got = {(r.g, r.b, r.x) for r in sparql_select(quads, q).collect()}
    # g1: b-q->a and a has p litG1 IN g1; g2: b-q->c but c's p triple
    # is in the DEFAULT graph, so the OPTIONAL stays unbound
    assert got == {
        (EX + "g1", EX + "b", "litG1"),
        (EX + "g2", EX + "b", None),
    }
    q2 = f"""SELECT ?g ?b WHERE {{ GRAPH ?g {{
      ?b <{EX}q> ?t . FILTER EXISTS {{ ?t <{EX}p> ?x }}
    }} }}"""
    got2 = {(r.g, r.b) for r in sparql_select(quads, q2).collect()}
    # the probe also binds ?g: only g1's target has a same-graph p edge
    assert got2 == {(EX + "g1", EX + "b")}
    # BIND inside GRAPH ?g
    q3 = f"""SELECT ?g ?u WHERE {{ GRAPH ?g {{
      <{EX}a> <{EX}p> ?o . BIND(UCASE(?o) AS ?u)
    }} }}"""
    got3 = {(r.g, r.u) for r in sparql_select(quads, q3).collect()}
    assert got3 == {(EX + "g1", "LITG1"), (EX + "g2", "LITG2")}


def test_graph_var_minus_and_bind_exists_keep_same_graph(quads):
    """Inside GRAPH ?g every pattern binds ?g, so a MINUS domain and a
    BIND(EXISTS) correlation include it: each compares within the same
    graph only."""
    # g1 has b-q-a, so the MINUS removes g1's row (domain {?b, ?g});
    # g2's b-q-c row has no same-graph b-q-a and stays
    q = f"""SELECT ?g ?x WHERE {{ GRAPH ?g {{
      ?b <{EX}q> ?x MINUS {{ ?b <{EX}q> <{EX}a> }}
    }} }}"""
    got = sorted((r.g, r.x) for r in sparql_select(quads, q).collect())
    assert got == [(EX + "g2", EX + "c")]
    # the probe substitutes ?b and ?g: true only in g1
    q2 = f"""SELECT ?g ?x ?k WHERE {{ GRAPH ?g {{
      ?b <{EX}q> ?x BIND(EXISTS {{ ?b <{EX}q> <{EX}a> }} AS ?k)
    }} }}"""
    got2 = sorted((r.g, r.x, r.k) for r in sparql_select(quads, q2).collect())
    assert got2 == [(EX + "g1", EX + "a", "true"), (EX + "g2", EX + "c", "false")]


def test_graph_seven_col_dataset_is_empty(quads):
    """A 7-column dataset has no named graphs: GRAPH matches nothing
    (the spec's answer), while default patterns still work."""
    seven = quads.where("graph is null").drop("graph")
    q = "SELECT ?g ?o WHERE { GRAPH ?g { ?s ?p ?o } }"
    assert sparql_select(seven, q).count() == 0
    ask = f"ASK {{ GRAPH ?g {{ <{EX}a> ?p ?o }} }}"
    assert sparql_ask(seven, ask) is False
    assert sparql_ask(quads, ask) is True


def test_graph_seven_col_nested_optional_is_empty(quads):
    """The empty GRAPH result over a 7-column dataset carries the
    variables of the block's nested OPTIONALs too, so projecting one
    answers the empty bag instead of raising."""
    seven = quads.where("graph is null").drop("graph")
    q = f"SELECT ?x WHERE {{ GRAPH <{EX}g1> {{ ?s ?p ?o OPTIONAL {{ ?s ?q ?x }} }} }}"
    assert sparql_select(seven, q).collect() == []


def test_graph_rejections(quads):
    # GRAPH inside OPTIONAL: a <q> link into ?s exists in g1 (to a) and
    # g2 (to c), so each default-graph subject picks up its graph
    got = sparql_select(
        quads,
        f"SELECT ?s ?g WHERE {{ ?s <{EX}p> ?o "
        f"OPTIONAL {{ GRAPH ?g {{ ?x <{EX}q> ?s }} }} }}",
    ).collect()
    assert sorted((r.s, r.g) for r in got) == [
        (EX + "a", EX + "g1"), (EX + "c", EX + "g2"),
    ]
    # paths under a variable graph
    with pytest.raises(SparqlError, match="paths"):
        sparql_select(
            quads,
            f"SELECT ?s WHERE {{ GRAPH ?g {{ ?s <{EX}q>+ ?o }} }}",
        )
    # paths inside a nested OPTIONAL under a variable graph reject too
    with pytest.raises(SparqlError, match="paths"):
        sparql_select(
            quads,
            f"SELECT ?s WHERE {{ GRAPH ?g {{ ?s <{EX}q> ?o "
            f"OPTIONAL {{ ?o <{EX}p>+ ?v }} }} }}",
        )
    # literal graph name
    with pytest.raises(SparqlError, match="IRI"):
        sparql_select(quads, 'SELECT ?s WHERE { GRAPH "g" { ?s ?p ?o } }')
    # GRAPH textually after an OPTIONAL sharing its variables: the
    # default graph has no <q> triple, so ?x is unbound on the left and
    # compatible with both graph rows — Join(LeftJoin(A, G), GRAPH)
    got = sparql_select(
        quads,
        f"""SELECT ?s ?x ?g WHERE {{ ?s <{EX}p> ?o .
          OPTIONAL {{ ?s <{EX}q> ?x }}
          GRAPH ?g {{ ?y <{EX}q> ?x }} }}""",
    ).collect()
    assert sorted((r.s, r.x, r.g) for r in got) == [
        (EX + "a", EX + "a", EX + "g1"), (EX + "a", EX + "c", EX + "g2"),
        (EX + "c", EX + "a", EX + "g1"), (EX + "c", EX + "c", EX + "g2"),
    ]


# ---------------------------------------------------------------------------
# rr:graphMap quad emission


GRAPH_MAPPING = f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <{EX}> .
<#A> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "t" ];
  rr:subjectMap [ rr:template "{EX}s/{{id}}"; rr:class ex:Thing;
                  rr:graphMap [ rr:template "{EX}g/{{grp}}" ] ];
  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "name" ] ];
  rr:predicateObjectMap [ rr:predicate ex:tag; rr:objectMap [ rr:column "tag" ];
                          rr:graph ex:tags ];
  rr:predicateObjectMap [ rr:predicate ex:plain; rr:objectMap [ rr:column "name" ];
                          rr:graphMap [ rr:constant rr:defaultGraph ] ] .
"""


@pytest.fixture(scope="module")
def graph_engine(spark):
    t = spark.createDataFrame(
        [(1, "alpha", "x", "g1"), (2, "beta", "y", None)],
        "id int, name string, tag string, grp string",
    )
    doc = parse_mapping_document(GRAPH_MAPPING)
    return MappingEngine(spark, doc, sources={"t": t})


def test_quads_emission(graph_engine):
    q = graph_engine.quads()
    assert q.columns[-1] == GRAPH_COLUMN
    got = {
        (r.subj.rsplit("/", 1)[-1], r.pred.rsplit("/", 1)[-1], r.obj, r.graph)
        for r in q.collect()
    }
    assert got == {
        # subject graphs apply to class + name triples; row 2's graph
        # template hits a NULL column -> term generation error -> the
        # named quad is suppressed (R2RML §9), so row 2 only surfaces
        # through explicit default/named-constant graphs
        ("1", "22-rdf-syntax-ns#type", EX + "Thing", EX + "g/g1"),
        ("1", "name", "alpha", EX + "g/g1"),
        # POM graphs are the UNION of subject + POM graph maps
        ("1", "tag", "x", EX + "g/g1"),
        ("1", "tag", "x", EX + "tags"),
        ("2", "tag", "y", EX + "tags"),
        # rr:defaultGraph constant -> NULL graph (default), alongside
        # the subject-level named graph
        ("1", "plain", "alpha", EX + "g/g1"),
        ("1", "plain", "alpha", None),
        ("2", "plain", "beta", None),
    }


def test_quads_feed_sparql(graph_engine):
    q = graph_engine.quads()
    query = """PREFIX ex: <http://ex.org/>
    SELECT ?g (COUNT(?s) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } }
    GROUP BY ?g ORDER BY ?g"""
    got = [(r.g, r.n) for r in sparql_select(q, query).collect()]
    assert got == [(EX + "g/g1", 4), (EX + "tags", 2)]
    # default-graph patterns see only rr:defaultGraph emissions
    query2 = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ?s ex:plain ?o }"
    assert sorted(r.o for r in sparql_select(q, query2).collect()) == [
        "alpha", "beta",
    ]


def test_graph_map_on_ref_object(spark):
    mapping = f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <{EX}> .
<#C> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "child" ];
  rr:subjectMap [ rr:template "{EX}c/{{id}}" ];
  rr:predicateObjectMap [ rr:predicate ex:ref;
    rr:graphMap [ rr:template "{EX}g/{{side}}" ];
    rr:objectMap [ a rr:RefObjectMap; rr:parentTriplesMap <#P>;
                   rr:joinCondition [ rr:child "pid"; rr:parent "id" ] ] ] .
<#P> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "parent" ];
  rr:subjectMap [ rr:template "{EX}p/{{id}}" ];
  rr:predicateObjectMap [ rr:predicate ex:label; rr:objectMap [ rr:column "lbl" ] ] .
"""
    child = spark.createDataFrame(
        [(1, 10, "L"), (2, 10, None)], "id int, pid int, side string"
    )
    parent = spark.createDataFrame([(10, "ten")], "id int, lbl string")
    doc = parse_mapping_document(mapping)
    eng = MappingEngine(spark, doc, sources={"child": child, "parent": parent})
    q = eng.quads()
    ref = {(r.subj, r.obj, r.graph) for r in q.where("pred like '%ref'").collect()}
    # child 2's graph template is NULL -> quad suppressed
    assert ref == {(EX + "c/1", EX + "p/10", EX + "g/L")}
    # parent's own triples land in the default graph
    lbl = {(r.subj, r.graph) for r in q.where("pred like '%label'").collect()}
    assert lbl == {(EX + "p/10", None)}


def test_graph_map_literal_rejected():
    bad = f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
<#A> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "t" ];
  rr:subjectMap [ rr:template "{EX}s/{{id}}";
                  rr:graphMap [ rr:template "{EX}g/{{id}}";
                                rr:termType rr:Literal ] ] .
"""
    with pytest.raises(MappingError, match="IRI"):
        parse_mapping_document(bad)


def test_lineage_quads(graph_engine):
    tr = graph_engine.triples(lineage=True)
    lq = lineage_quads(tr)
    # every named quad's graph is the generating triples map
    graphs = {r.graph for r in lq.where("graph is not null").collect()}
    assert graphs == {"#A"} or all(g.endswith("#A") for g in graphs)
    # union-default: plain patterns still match everything
    n_triples = tr.count()
    assert lq.where("graph is null").count() == n_triples
    q = "SELECT ?g (COUNT(?s) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } } GROUP BY ?g"
    got = [(r.g, r.n) for r in sparql_select(lq, q).collect()]
    assert len(got) == 1 and got[0][1] == n_triples
    # named-graphs-only form: default slice is empty
    only = lineage_quads(tr, include_default=False)
    assert only.where("graph is null").count() == 0
    with pytest.raises(MappingError, match="source_map"):
        lineage_quads(graph_engine.triples(lineage=False))


def test_dataset_default_graph_is_a_set(spark, tmp_path):
    """A triple two maps emit lands once in the store-as-dataset's
    default graph: ``query_dataset`` counts what ``query`` counts,
    while each map's named graph still holds its copy."""
    from r2rml_parser_spark.sinks.checkpoint import GraphStore, IncrementalRunner

    twice = f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <{EX}> .
<#A> a rr:TriplesMap; rr:logicalTable [ rr:tableName "t" ];
  rr:subjectMap [ rr:template "{EX}s/{{id}}" ];
  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "name" ] ] .
<#B> a rr:TriplesMap; rr:logicalTable [ rr:tableName "t" ];
  rr:subjectMap [ rr:template "{EX}s/{{id}}" ];
  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "name" ] ] .
"""
    t = spark.createDataFrame([(1, "alpha"), (2, "beta")], "id int, name string")
    engine = MappingEngine(spark, parse_mapping_document(twice), sources={"t": t})
    store = GraphStore(spark, str(tmp_path / "store"))
    IncrementalRunner(engine, store).run()
    q = "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"
    assert [r.n for r in store.query(q).collect()] == [2]
    assert [r.n for r in store.query_dataset(q).collect()] == [2]
    per_graph = "SELECT ?g (COUNT(*) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } } GROUP BY ?g"
    assert sorted(r.n for r in store.query_dataset(per_graph).collect()) == [2, 2]


# ---------------------------------------------------------------------------
# N-Quads sink


def test_nquads_dump(graph_engine, spark, tmp_path):
    from r2rml_parser_spark.sinks import nquads, ntriples

    q = graph_engine.quads()
    out = nquads.dump_string(q)
    lines = out.split("\n")
    assert lines == sorted(lines)  # deterministic global order
    # named quads carry the graph label, default-graph quads do not
    assert any(line.endswith(f"<{EX}tags> .") for line in lines)
    assert any(line.endswith('" .') for line in lines)  # default-graph literal
    # default-graph quads render as plain triple lines: every line of
    # the N-Triples dump of the default slice appears verbatim
    default7 = q.where("graph is null").drop("graph")
    for ln in ntriples.dump_string(default7).split("\n"):
        assert ln in lines
    # escaping matches the N-Triples rules (shared renderer)
    rows = [("http://x/s", "iri", "http://x/p", 'he said "hi"\n', "literal",
             None, None, "http://x/g")]
    g = spark.createDataFrame(
        rows, ", ".join(f"{c} string" for c in COLS)
    )
    s = nquads.dump_string(g)
    assert s == ('<http://x/s> <http://x/p> "he said \\"hi\\"\\n" '
                 "<http://x/g> .")
    # cluster-scale writer: globally ordered part files
    path = str(tmp_path / "nq")
    nquads.write_sorted(q, path, partitions=2)
    import glob

    parts = sorted(glob.glob(path + "/part-*"))
    joined = []
    for p in parts:
        with open(p) as fh:
            chunk = [ln.rstrip("\n") for ln in fh if ln.strip()]
        assert chunk == sorted(chunk)
        joined.extend(chunk)
    assert joined == sorted(joined) and len(joined) == len(lines)


def test_construct_over_quads(quads):
    """CONSTRUCT { tpl } WHERE { GRAPH ?g { ... } }: the WHERE clause
    resolves against the dataset (named slice), the template mints a
    plain 7-column triples DF — provenance reified into the default
    graph."""
    from r2rml_parser_spark.plans.sparql import SparqlError, sparql_construct

    q = f"""CONSTRUCT {{ ?s <{EX}seenIn> ?g }}
    WHERE {{ GRAPH ?g {{ ?s <{EX}p> ?o }} }}"""
    out = sparql_construct(quads, q)
    assert out.columns == "subj subj_kind pred obj obj_kind lang dtype".split()
    got = {(r.subj, r.obj) for r in out.collect()}
    assert got == {(EX + "a", EX + "g1"), (EX + "a", EX + "g2")}
    # the CONSTRUCT WHERE shorthand stays a plain-BGP form: GRAPH inside
    # it is rejected (the §10.2.3 grammar has no GRAPH production)
    with pytest.raises(SparqlError, match="shorthand|plain"):
        sparql_construct(
            quads, f"CONSTRUCT WHERE {{ GRAPH ?g {{ ?s <{EX}p> ?o }} }}"
        )


def test_graph_union_branches(quads):
    """(r5) a UNION branch that IS one GRAPH block: per-graph
    alternation — graph-var and constant-graph branches mix with plain
    branches; the constant branch leaves ?g unbound."""
    q = f"""SELECT ?g ?s ?o WHERE {{
      {{ GRAPH ?g {{ ?s <{EX}p> ?o }} }}
      UNION
      {{ GRAPH <{EX}g2> {{ ?s <{EX}p> ?o }} }}
    }}"""
    got = {(r.g, r.s, r.o) for r in sparql_select(quads, q).collect()}
    assert got == {
        (EX + "g1", EX + "a", "litG1"),
        (EX + "g2", EX + "a", "litG2"),
        (None, EX + "a", "litG2"),
    }
    # GRAPH branch + plain (default-graph) branch
    q2 = f"""SELECT ?s ?o WHERE {{
      {{ GRAPH <{EX}g1> {{ ?s <{EX}p> ?o }} }} UNION {{ ?s <{EX}p> ?o }}
    }}"""
    got2 = {(r.s, r.o) for r in sparql_select(quads, q2).collect()}
    assert got2 == {
        (EX + "a", "litG1"), (EX + "a", "litA"), (EX + "c", "litC"),
    }
    # a branch mixing GRAPH with sibling patterns is a group like any
    # other: its GRAPH rows (litG1, litG2) join the default ?s <p> ?z
    got3 = sparql_select(
        quads,
        f"""SELECT ?s ?o WHERE {{
          {{ GRAPH ?g {{ ?s <{EX}p> ?o }} . ?s <{EX}p> ?z }}
          UNION {{ ?s <{EX}p> ?o }} }}""",
    ).collect()
    assert sorted((r.s, r.o) for r in got3) == [
        (EX + "a", "litA"), (EX + "a", "litG1"), (EX + "a", "litG2"),
        (EX + "c", "litC"),
    ]


def test_graph_inside_subquery(quads):
    """A { SELECT } subquery re-enters the FULL dataset: GRAPH blocks
    inside it see the named graphs (r5 fix — the subquery used to
    receive the pre-sliced default graph and returned empty)."""
    q = """SELECT ?g ?n WHERE {
      { SELECT ?g (COUNT(?s) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } }
        GROUP BY ?g }
    } ORDER BY ?g"""
    got = [(r.g, r.n) for r in sparql_select(quads, q).collect()]
    assert got == [(EX + "g1", 2), (EX + "g2", 2)]
    # ...while the subquery's plain patterns still see only the default
    q2 = """SELECT ?n WHERE {
      { SELECT (COUNT(?s) AS ?n) WHERE { ?s ?p ?o } }
    }"""
    assert [r.n for r in sparql_select(quads, q2).collect()] == [2]


def test_nquads_round_trip(graph_engine):
    """quads() → N-Quads dump → parse_nquads: the parsed quad set is
    exactly the relation's rows (literal escaping, graph labels, and
    the default-graph plain-line form all survive the round trip)."""
    from r2rml_parser_spark.rdf.terms import IRI, Literal
    from r2rml_parser_spark.rdf.turtle import parse_nquads
    from r2rml_parser_spark.sinks import nquads

    q = graph_engine.quads()
    # plus one hand-written quad in a blank-node graph, which the
    # N-Quads grammar allows as a graph label
    bnode_quad = f'<{EX}s/9> <{EX}p> "nine" _:g9 .'
    parsed = parse_nquads(nquads.dump_string(q) + "\n" + bnode_quad + "\n")

    def term_key(t):
        if isinstance(t, IRI):
            return ("iri", t.value, None, None)
        if isinstance(t, Literal):
            return ("literal", t.lexical, t.lang, t.datatype)
        return ("bnode", t.label, None, None)

    got = {
        (
            term_key(s), term_key(p), term_key(o),
            (g.value if isinstance(g, IRI) else term_key(g)) if g else None,
        )
        for s, p, o, g in parsed
    }
    want = {(
        ("iri", EX + "s/9", None, None), ("iri", EX + "p", None, None),
        ("literal", "nine", None, None), ("bnode", "g9", None, None),
    )}
    for r in q.collect():
        s = ("iri" if r.subj_kind == "iri" else "bnode", r.subj, None, None)
        if r.subj_kind == "bnode":
            s = ("bnode", r.subj, None, None)
        o = (
            (r.obj_kind, r.obj, None, None)
            if r.obj_kind != "literal"
            else ("literal", r.obj, r.lang, r.dtype)
        )
        want.add((s, ("iri", r.pred, None, None), o, r.graph))
    assert got == want


def test_trig_dump(graph_engine, tmp_path):
    """TriG sink: named quads render as <g> { subject-blocks }, default
    quads as top-level Turtle; prefixes shared with the Turtle sink."""
    from r2rml_parser_spark.sinks import trig

    q = graph_engine.quads()
    out = trig.dump_string(q)
    assert "@prefix" in out.splitlines()[0]
    # one wrapped block per (graph, subject)
    assert f"<{EX}tags> {{" in out
    assert f"<{EX}g/g1> {{" in out
    # default-graph statements appear unwrapped at the top level
    assert "\n<http://ex.org/s/1> " in out or "\nns1:" in out or " ns" in out
    # the braces balance and every named line sits inside some block
    assert out.count("{") == out.count("}")
    # distributed parts: globally ordered statements + prefix sidecar
    path = str(tmp_path / "trig")
    trig.write_trig_parts(q, path, partitions=2)
    import glob

    parts = sorted(glob.glob(path + "/part-*"))
    assert parts and any("_00_prefixes" in f for f in glob.glob(path + "/*"))
    # graph labels may repeat across blocks (TriG union semantics) —
    # check the wrapped form round-trips through the N-Quads twin:
    # every named quad's graph appears as a wrapped label
    graphs = {r.graph for r in q.where("graph is not null").collect()}
    for g in graphs:
        assert f"<{g}> {{" in out
