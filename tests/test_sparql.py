"""SPARQL-BGP query surface over the triples DataFrame.

Mirrors the reference's own query tests: ComplianceTests.testSparqlQuery
(ComplianceTests.java:147-168) runs ``SELECT ?x ?z WHERE {?x dc:source
?z}`` with prefixes injected from the model's namespace map
(UtilImpl.java:151-159).
"""

from __future__ import annotations

import pytest

from r2rml_parser_spark.plans.sparql import (
    SparqlError,
    register_triples_view,
    sparql_select,
)

COLS = "subj subj_kind pred obj obj_kind lang dtype".split()
DC = "http://purl.org/dc/elements/1.1/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
EX = "http://ex.org/"


@pytest.fixture(scope="module")
def graph(spark):
    rows = [
        (EX + "m1", "iri", DC + "source", EX + "mapA", "iri", None, None),
        (EX + "m2", "iri", DC + "source", EX + "mapB", "iri", None, None),
        (EX + "p1", "iri", RDF + "type", EX + "Person", "iri", None, None),
        (EX + "p2", "iri", RDF + "type", EX + "Person", "iri", None, None),
        (EX + "p1", "iri", EX + "name", "Ada", "literal", None, None),
        (EX + "p2", "iri", EX + "name", "Grace", "literal", "en", None),
        (EX + "p1", "iri", EX + "knows", EX + "p2", "iri", None, None),
        # literal whose lexical form equals an IRI's — must not conflate
        (EX + "p1", "iri", EX + "note", EX + "p2", "literal", None, None),
    ]
    return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))


def test_reference_sample_query_dc_source(graph):
    """The reference's own sample query shape, prefixes from the map."""
    out = sparql_select(graph, "SELECT ?x ?z WHERE {?x dc:source ?z}", {"dc": DC})
    got = {(r.x, r.z) for r in out.collect()}
    assert got == {(EX + "m1", EX + "mapA"), (EX + "m2", EX + "mapB")}


def test_bgp_join_with_type_slice_and_a_keyword(graph):
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p ?n WHERE { ?p a ex:Person . ?p ex:name ?n }
    """
    got = {(r.p, r.n) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "Ada"), (EX + "p2", "Grace")}


def test_iri_and_literal_do_not_conflate(graph):
    # ?o bound via ex:knows (IRI) joined against ?o via ex:note (literal
    # with identical lexical form) must NOT join
    q = "PREFIX ex: <http://ex.org/> SELECT ?a ?o WHERE { ?a ex:knows ?o . ?a ex:note ?o }"
    assert sparql_select(graph, q).count() == 0
    # but the individual patterns each match
    assert sparql_select(graph, "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ?a ex:knows ?o }").count() == 1


def test_literal_lang_and_limit_and_distinct(graph):
    q = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name "Grace"@en }'
    assert [r.p for r in sparql_select(graph, q).collect()] == [EX + "p2"]
    q2 = "SELECT DISTINCT ?t WHERE { ?s a ?t } LIMIT 1"
    assert sparql_select(graph, q2).count() == 1


def test_filter_comparison_and_regex(graph):
    q = 'PREFIX ex: <http://ex.org/> SELECT ?p ?n WHERE { ?p ex:name ?n . FILTER (?n != "Ada") }'
    assert {(r.p, r.n) for r in sparql_select(graph, q).collect()} == {(EX + "p2", "Grace")}
    q2 = 'PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER regex(?n, "^A") }'
    assert [r.n for r in sparql_select(graph, q2).collect()] == ["Ada"]
    # lexical ordering comparison + var-vs-var
    q3 = 'PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER (?n < "B") }'
    assert [r.n for r in sparql_select(graph, q3).collect()] == ["Ada"]
    with pytest.raises(SparqlError):
        sparql_select(graph, 'SELECT ?x WHERE { ?x dc:source ?z . FILTER (?unbound = "v") }', {"dc": DC})


def test_select_star_and_errors(graph):
    out = sparql_select(graph, "SELECT * WHERE { ?x dc:source ?z }", {"dc": DC})
    assert sorted(out.columns) == ["x", "z"]
    with pytest.raises(SparqlError):
        sparql_select(graph, "SELECT ?x WHERE { ?x unknown:p ?z }")
    with pytest.raises(SparqlError):
        sparql_select(graph, "ASK { ?s ?p ?o }")
    with pytest.raises(SparqlError):
        sparql_select(graph, "SELECT ?missing WHERE { ?x dc:source ?z }", {"dc": DC})


def test_optional_left_join(graph):
    # p1 knows p2; p2 knows nobody — OPTIONAL keeps p2 with a NULL ?q
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p ?n ?q WHERE {
      ?p a ex:Person .
      ?p ex:name ?n .
      OPTIONAL { ?p ex:knows ?q }
    }
    """
    got = {(r.p, r.n, r.q) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "Ada", EX + "p2"), (EX + "p2", "Grace", None)}


def test_optional_errors(graph):
    # (an OPTIONAL sharing no variable is a LeftJoin over disjoint
    # domains since full r4 — exact semantics asserted in
    # test_optional_disjoint_domains, no longer an error)
    with pytest.raises(SparqlError):  # OPTIONAL with no required part
        sparql_select(graph, "SELECT ?p WHERE { OPTIONAL { ?p ?x ?z } }")
    # (one level of nested OPTIONAL is supported since r3 —
    # see test_nested_optional; depth-2 rejection is tested there)


def test_filter_inside_optional_group(graph):
    # LeftJoin(A, G, F): the filter restricts which OPTIONAL rows
    # extend a solution — non-matching rows leave the OPTIONAL vars
    # unbound, they do NOT drop the required-side row
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p ?n WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:name ?n . FILTER (?n = "Ada") }
    }
    """
    got = {(r.p, r.n) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "Ada"), (EX + "p2", None)}
    # a group filter needing a variable from OUTSIDE the group is
    # SPARQL's LeftJoin(A, G, F) with a cross-group F — compiled into
    # the left-join condition (r4): p1 (name "Ada") keeps its knows
    # edge, p2 fails the filter and keeps the row with ?q unbound
    q2 = (
        "PREFIX ex: <http://ex.org/> SELECT ?p ?q WHERE "
        '{ ?p ex:name ?o . OPTIONAL { ?p ex:knows ?q . FILTER (?o = "Ada") } }'
    )
    got2 = {(r.p, r.q) for r in sparql_select(graph, q2).collect()}
    assert got2 == {(EX + "p1", EX + "p2"), (EX + "p2", None)}


def test_filter_inside_union_branch(graph):
    q = """
    PREFIX ex: <http://ex.org/>
    PREFIX dc: <http://purl.org/dc/elements/1.1/>
    SELECT ?s ?v WHERE {
      { ?s ex:name ?v . FILTER regex(?v, "^G") } UNION { ?s dc:source ?v }
    }
    """
    got = {(r.s, r.v) for r in sparql_select(graph, q).collect()}
    assert got == {
        (EX + "p2", "Grace"), (EX + "m1", EX + "mapA"), (EX + "m2", EX + "mapB"),
    }


def test_required_pattern_after_optional_sharing_vars_rejected(graph):
    # Join(LeftJoin(A,G),B) when B shares ?q with the OPTIONAL — since
    # late r4 this evaluates EXACTLY in textual order (the pattern
    # becomes a late segment, compatible-joined after the OPTIONAL's
    # left join) instead of being rejected: p1's bound ?q = p2
    # equi-joins the name pattern, while p2's UNBOUND ?q is compatible
    # with ANY binding and takes the pattern's — both named subjects
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p ?q WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q }
      ?q ex:name ?n
    }
    """
    assert sorted(
        (r.p, r.q) for r in sparql_select(graph, q).collect()
    ) == [
        (EX + "p1", EX + "p2"),
        (EX + "p2", EX + "p1"),
        (EX + "p2", EX + "p2"),
    ]
    # UNION after OPTIONAL sharing a var (full r4, formerly rejected):
    # evaluates at its textual position via the compatible join —
    # p1's bound ?q = p2 matches the two ?q = p2 union rows, p2's
    # UNBOUND ?q is compatible with all four and takes their binding
    q2 = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p ?q ?n WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q }
      { ?q ex:name ?n } UNION { ?q a ex:Person }
    }
    """
    key = lambda t: (t[0], t[1], t[2] or "")  # noqa: E731
    assert sorted(
        ((r.p, r.q, r.n) for r in sparql_select(graph, q2).collect()), key=key
    ) == sorted(
        [
            (EX + "p1", EX + "p2", "Grace"),
            (EX + "p1", EX + "p2", None),
            (EX + "p2", EX + "p1", "Ada"),
            (EX + "p2", EX + "p2", "Grace"),
            (EX + "p2", EX + "p1", None),
            (EX + "p2", EX + "p2", None),
        ],
        key=key,
    )
    # non-overlapping later patterns stay accepted (hoisting is
    # semantics-preserving when no variable is shared)
    q3 = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p ?n ?x ?z WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:name ?n }
      ?x dc:source ?z
    }
    """
    assert sparql_select(graph, q3, {"dc": DC}).count() == 4  # 2 persons × 2 sources


def test_late_pattern_fold_interleaved_optionals(graph):
    """((P ⟕ G1) ⋈ B) ⟕ G2 — the late segment joins between the two
    OPTIONALs in textual order, and G2 joins on ?q, which the late
    pattern re-bound (non-null) even where G1 left it unbound."""
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p ?q ?n ?m WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q }
      ?q ex:name ?n .
      OPTIONAL { ?q ex:knows ?m }
    }
    """
    got = sorted((r.p, r.q, r.n, r.m) for r in sparql_select(graph, q).collect())
    assert got == [
        (EX + "p1", EX + "p2", "Grace", None),
        (EX + "p2", EX + "p1", "Ada", EX + "p2"),
        (EX + "p2", EX + "p2", "Grace", None),
    ]
    # a late pattern may introduce NEW variables
    q2 = """
    PREFIX ex: <http://ex.org/>
    SELECT * WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q }
      ?q a ?t .
    }
    """
    assert sparql_select(graph, q2).count() == 3


@pytest.fixture(scope="module")
def numeric_graph(spark):
    XSD = "http://www.w3.org/2001/XMLSchema#"
    rows = [
        # typed integers
        (EX + "a", "iri", EX + "age", "9", "literal", None, XSD + "integer"),
        (EX + "b", "iri", EX + "age", "10", "literal", None, XSD + "integer"),
        (EX + "c", "iri", EX + "age", "11", "literal", None, XSD + "integer"),
        # plain (untyped) numeric strings
        (EX + "d", "iri", EX + "score", "9", "literal", None, None),
        (EX + "e", "iri", EX + "score", "11", "literal", None, None),
        # non-numeric literal and an IRI object
        (EX + "f", "iri", EX + "score", "lots", "literal", None, None),
        (EX + "g", "iri", EX + "score", EX + "big", "iri", None, None),
    ]
    return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))


def test_numeric_filter_comparison(numeric_graph):
    # ?age > 10 must be NUMERIC: "9" > 10 is false even though the
    # string "9" > "10" lexically (VERDICT r2 #3)
    q = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age ?n . FILTER (?n > 10) }"
    assert [r.s for r in sparql_select(numeric_graph, q).collect()] == [EX + "c"]
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age ?n . FILTER (?n <= 10) }"
    assert {r.s for r in sparql_select(numeric_graph, q2).collect()} == {EX + "a", EX + "b"}
    # decimal constant against integer-rendered values
    q3 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age ?n . FILTER (?n >= 10.5) }"
    assert [r.s for r in sparql_select(numeric_graph, q3).collect()] == [EX + "c"]
    # plain numeric strings also compare numerically (bindings carry no
    # datatype — documented approximation)
    q4 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:score ?n . FILTER (?n > 10) }"
    assert [r.s for r in sparql_select(numeric_graph, q4).collect()] == [EX + "e"]
    # non-numeric literal vs numeric constant → type error → dropped,
    # NOT string-compared ("lots" > "10" lexically); IRI objects drop too
    q5 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:score ?n . FILTER (?n < 100) }"
    assert {r.s for r in sparql_select(numeric_graph, q5).collect()} == {EX + "d", EX + "e"}


def test_ordering_filter_dispatch_var_vs_var(numeric_graph, graph):
    # numbers on both sides → numeric: 9 < 11 via two different subjects
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?x ?y WHERE { ?x ex:age ?m . ?y ex:age ?n . FILTER (?m < ?n) }"""
    got = {(r.x, r.y) for r in sparql_select(numeric_graph, q).collect()}
    assert got == {(EX + "a", EX + "b"), (EX + "a", EX + "c"), (EX + "b", EX + "c")}
    # strings on both sides → codepoint comparison (unchanged behavior)
    q2 = 'PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER (?n < "B") }'
    assert [r.n for r in sparql_select(graph, q2).collect()] == ["Ada"]
    # numeric/string mix → type error → dropped (never string-compared)
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?x ?y WHERE { ?x ex:age ?m . ?y ex:score ?n . FILTER (?m < ?n) }"""
    got3 = {(r.x, r.y) for r in sparql_select(numeric_graph, q3).collect()}
    # only numeric scores ("9", "11") participate; "lots" and the IRI
    # drop (type error), so 9<11 and 10<11 are the only matches
    assert got3 == {(EX + "a", EX + "e"), (EX + "b", EX + "e")}


def test_bare_numeric_literal_in_pattern(numeric_graph):
    # SPARQL shorthand: 10 ≡ "10"^^xsd:integer as an object term
    q = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age 10 }"
    assert [r.s for r in sparql_select(numeric_graph, q).collect()] == [EX + "b"]


def test_order_by_asc_desc_limit(graph):
    q = "PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n } ORDER BY ?n"
    assert [r.n for r in sparql_select(graph, q).collect()] == ["Ada", "Grace"]
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n } ORDER BY DESC(?n) LIMIT 1"
    assert [r.n for r in sparql_select(graph, q2).collect()] == ["Grace"]
    # non-projected order keys sort pre-projection (r4, §18.2.5)
    q3 = "PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n } ORDER BY DESC(?n)"
    assert [r.p for r in sparql_select(graph, q3).collect()] == [EX + "p2", EX + "p1"]
    with pytest.raises(SparqlError):  # ...but DISTINCT restricts to projected
        sparql_select(
            graph,
            "PREFIX ex: <http://ex.org/> SELECT DISTINCT ?p "
            "WHERE { ?p ex:name ?n } ORDER BY ?n",
        )


def test_chained_optional_nullable_join_var_rejected(graph):
    # ?q may be NULL after the first OPTIONAL; the second OPTIONAL's
    # LeftJoin takes the slice-decomposed LEFT compatible join (full
    # r4, formerly rejected). p1's ?q is the IRI p2 — the note group's
    # LITERAL "…p2" is a DIFFERENT term, no compatible row, μ kept;
    # p2's ?q is unbound and the note group has no ?p = p2 row, kept.
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p ?q WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q }
      OPTIONAL { ?p ex:note ?q }
    }
    """
    got = sorted(
        ((r.p, r.q) for r in sparql_select(graph, q).collect()),
        key=lambda t: (t[0], t[1] or ""),
    )
    assert got == [(EX + "p1", EX + "p2"), (EX + "p2", None)]
    # and the unbound-left slice TAKES the second group's binding when
    # one is compatible: knows is optional-empty for p2, note then
    # binds ?q for p1 only — p2 has no note, stays unbound
    q2 = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p ?q WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:name "nobody" . ?p ex:knows ?q }
      OPTIONAL { ?p ex:note ?q }
    }
    """
    got2 = sorted(
        ((r.p, r.q) for r in sparql_select(graph, q2).collect()),
        key=lambda t: (t[0], t[1] or ""),
    )
    assert got2 == [(EX + "p1", EX + "p2"), (EX + "p2", None)]


def test_optional_disjoint_domains(graph):
    # OPTIONAL sharing no variable (full r4, formerly rejected): every
    # group solution is compatible — a bag cross product when the group
    # matches, pass-through with unbound vars when it is empty
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?s WHERE { ?p a ex:Person . OPTIONAL { ?x dc:source ?s } }"""
    got = sorted((r.p, r.s) for r in sparql_select(graph, q, {"dc": DC}).collect())
    assert got == [
        (EX + "p1", EX + "mapA"),
        (EX + "p1", EX + "mapB"),
        (EX + "p2", EX + "mapA"),
        (EX + "p2", EX + "mapB"),
    ]
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?z WHERE { ?p a ex:Person . OPTIONAL { ?x ex:nothing ?z } }"""
    got2 = sorted((r.p, r.z) for r in sparql_select(graph, q2).collect())
    assert got2 == [(EX + "p1", None), (EX + "p2", None)]


def test_optional_crossgroup_filter_nullable_key(graph):
    # LeftJoin(A, G, F) where the join key ?q may be unbound (earlier
    # OPTIONAL) AND F references the enclosing group's ?p (late r4,
    # formerly rejected): F joins the slice decomposition as an extra
    # ON conjunct. p1 binds ?q=p2 and F(?p=p1) is true → matched with
    # Grace; p2's unbound ?q is compatible with every G row but
    # F(?p=p1) is false → kept, ?s unbound.
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p ?q ?s WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q }
      OPTIONAL { ?q ex:name ?s . FILTER (?p = <http://ex.org/p1>) }
    }
    """
    got = sorted(
        ((r.p, r.q, r.s) for r in sparql_select(graph, q).collect()),
        key=lambda t: (t[0], t[1] or "", t[2] or ""),
    )
    assert got == [(EX + "p1", EX + "p2", "Grace"), (EX + "p2", None, None)]
    # flipped constant: p1's compatible row fails F → kept with ?s
    # unbound; p2's unbound-?q slice passes F and matches EVERY G row,
    # taking G's (?q, ?s) binding
    q2 = q.replace("p1>)", "p2>)")
    got2 = sorted(
        ((r.p, r.q, r.s) for r in sparql_select(graph, q2).collect()),
        key=lambda t: (t[0], t[1] or "", t[2] or ""),
    )
    assert got2 == [
        (EX + "p1", EX + "p2", None),
        (EX + "p2", EX + "p1", "Ada"),
        (EX + "p2", EX + "p2", "Grace"),
    ]


def test_optional_crossgroup_filter_references_unbound_key(graph):
    # F = (?q = ?p) references the possibly-unbound join key itself:
    # in the unbound-?q slice the merged solution's ?q IS the group's,
    # so the renamed reference must resolve to G's column. p1 (?q=p2):
    # compatible row Grace fails ?q=?p → kept unbound; p2 (?q unbound):
    # G's row (p2, Grace) satisfies ?q=?p → matched.
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p ?q ?s WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q }
      OPTIONAL { ?q ex:name ?s . FILTER (?q = ?p) }
    }
    """
    got = sorted(
        ((r.p, r.q, r.s) for r in sparql_select(graph, q).collect()),
        key=lambda t: (t[0], t[1] or "", t[2] or ""),
    )
    assert got == [
        (EX + "p1", EX + "p2", None),
        (EX + "p2", EX + "p2", "Grace"),
    ]


def test_optional_disjoint_crossgroup_filter(graph):
    # disjoint-domain OPTIONAL (no shared variable) whose filter
    # references the enclosing group — a pure conditional left join
    # (late r4, formerly rejected): p1 passes F and cross-products the
    # group, p2 fails and is kept with ?z unbound
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p ?z WHERE {
      ?p a ex:Person .
      OPTIONAL { ?x dc:source ?z . FILTER (?p = <http://ex.org/p1>) }
    }
    """
    got = sorted(
        ((r.p, r.z) for r in sparql_select(graph, q, {"dc": DC}).collect()),
        key=lambda t: (t[0], t[1] or ""),
    )
    assert got == [
        (EX + "p1", EX + "mapA"),
        (EX + "p1", EX + "mapB"),
        (EX + "p2", None),
    ]
    # sequential OPTIONALs on a REQUIRED-bound variable stay fine
    q2 = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p ?n ?q WHERE {
      ?p a ex:Person . OPTIONAL { ?p ex:name ?n } OPTIONAL { ?p ex:knows ?q }
    }
    """
    assert sparql_select(graph, q2).count() == 2


def test_filter_equality_is_term_equality(graph):
    # ex:note's object is a LITERAL whose text equals the IRI ex:p2 —
    # FILTER (?v = <iri>) must not match it, FILTER (?v != <iri>) must
    q = "PREFIX ex: <http://ex.org/> SELECT ?v WHERE { ?s ex:note ?v . FILTER (?v = <http://ex.org/p2>) }"
    assert sparql_select(graph, q).count() == 0
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?v WHERE { ?s ex:note ?v . FILTER (?v != <http://ex.org/p2>) }"
    assert sparql_select(graph, q2).count() == 1
    # var-vs-var: ex:knows binds an IRI, ex:note a literal of equal text
    q3 = "PREFIX ex: <http://ex.org/> SELECT ?a WHERE { ?s ex:knows ?a . ?t ex:note ?b . FILTER (?a = ?b) }"
    assert sparql_select(graph, q3).count() == 0
    q4 = "PREFIX ex: <http://ex.org/> SELECT ?a WHERE { ?s ex:knows ?a . ?t ex:note ?b . FILTER (?a != ?b) }"
    assert sparql_select(graph, q4).count() == 1


def test_repeated_variable_is_term_equality(spark):
    rows = [
        ("http://ex.org/A", "iri", "http://ex.org/p", "http://ex.org/A", "literal", None, None),
        ("http://ex.org/B", "iri", "http://ex.org/p", "http://ex.org/B", "iri", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    # ?x p ?x: subject IRI 'A' and literal object "...A" are different
    # terms — only B (IRI both sides) matches
    out = sparql_select(g, "PREFIX ex: <http://ex.org/> SELECT ?x WHERE { ?x ex:p ?x }")
    assert [r.x for r in out.collect()] == ["http://ex.org/B"]


def test_union_same_vars(graph):
    # names via ex:name UNION sources via dc:source — same shape? No:
    # use two predicate alternatives binding the same (?s ?v) pair
    q = """
    PREFIX ex: <http://ex.org/>
    PREFIX dc: <http://purl.org/dc/elements/1.1/>
    SELECT ?s ?v WHERE {
      { ?s ex:name ?v } UNION { ?s dc:source ?v }
    }
    """
    got = {(r.s, r.v) for r in sparql_select(graph, q).collect()}
    assert got == {
        (EX + "p1", "Ada"), (EX + "p2", "Grace"),
        (EX + "m1", EX + "mapA"), (EX + "m2", EX + "mapB"),
    }


def test_union_joins_with_required_patterns(graph):
    # the union unit joins against the required class slice on ?s
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?s ?v WHERE {
      ?s a ex:Person .
      { ?s ex:name ?v } UNION { ?s ex:knows ?v }
    }
    """
    got = {(r.s, r.v) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "Ada"), (EX + "p2", "Grace"), (EX + "p1", EX + "p2")}
    # IRI binding from ex:knows and literal binding from ex:name both
    # survive the union (kind column carried through)


def test_union_different_vars(graph):
    # SPARQL 1.1: branches may bind different variables — a variable
    # missing from a branch is unbound (NULL) in its solutions
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?s ?n ?q WHERE {
      { ?s ex:name ?n } UNION { ?s ex:knows ?q }
    }
    """
    got = {(r.s, r.n, r.q) for r in sparql_select(graph, q).collect()}
    assert got == {
        (EX + "p1", "Ada", None),
        (EX + "p2", "Grace", None),
        (EX + "p1", None, EX + "p2"),
    }
    # bound() separates the branches; !bound on the union-nullable var
    q2 = """
    PREFIX ex: <http://ex.org/>
    SELECT ?s WHERE {
      { ?s ex:name ?n } UNION { ?s ex:knows ?q }
      FILTER (!bound(?n))
    }
    """
    assert [r.s for r in sparql_select(graph, q2).collect()] == [EX + "p1"]


def test_union_different_vars_compatible_join(graph):
    # ?n is unbound in the knows-branch: joining the later pattern
    # ?s ex:name ?n must treat unbound-?n rows as compatible (take the
    # pattern's binding), not equi-join NULL away — §18.5 Join
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?s ?n ?q WHERE {
      ?s ex:name ?n .
      { ?s ex:name ?n } UNION { ?s ex:knows ?q }
    }
    """
    got = {(r.s, r.n, r.q) for r in sparql_select(graph, q).collect()}
    assert got == {
        (EX + "p1", "Ada", None),
        (EX + "p2", "Grace", None),
        (EX + "p1", "Ada", EX + "p2"),  # unbound ?n takes "Ada"
    }


def test_union_both_sides_nullable_joins(graph):
    # (late r4) ?n may be unbound in BOTH union blocks — the two-sided
    # compatible-join decomposition unifies: an unbound ?n on either
    # side is compatible and takes the other side's binding; unbound on
    # both sides stays unbound. Hand-computed §18.5 multiset:
    #   Ω1 = {(p1, n=Ada), (p2, n=Grace@en), (p1, q=p2)}
    #   Ω2 = {(p1, n=Ada), (p2, n=Grace@en), (m1, z=mapA), (m2, z=mapB)}
    # join on {s, n} → (p1,Ada,-,-), (p2,Grace,-,-), (p1,Ada,q=p2,-)
    from collections import Counter

    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?s ?n ?q ?z WHERE {
      { ?s ex:name ?n } UNION { ?s ex:knows ?q }
      { ?s ex:name ?n } UNION { ?s dc:source ?z }
    }
    """
    got = Counter(
        (r.s, r.n, r.q, r.z) for r in sparql_select(graph, q, {"dc": DC}).collect()
    )
    assert got == Counter(
        {
            (EX + "p1", "Ada", None, None): 1,
            (EX + "p2", "Grace", None, None): 1,
            (EX + "p1", "Ada", EX + "p2", None): 1,
        }
    )


def test_union_errors(graph):
    # a lone braced group is a group like any other: Join(Ω, G) = G
    got = sparql_select(
        graph, "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { { ?s ex:name ?n } }"
    ).collect()
    assert sorted(r.s for r in got) == [EX + "p1", EX + "p2"]


def test_sql_over_triples_matches_sparql(graph, spark):
    register_triples_view(graph, "g")
    sql = spark.sql(
        """
        SELECT t1.subj AS p, t2.obj AS n FROM g t1
        JOIN g t2 ON t1.subj = t2.subj
        WHERE t1.pred = '{rdf}type' AND t1.obj = '{ex}Person'
          AND t2.pred = '{ex}name'
        """.format(rdf=RDF, ex=EX)
    )
    sparql = sparql_select(
        graph,
        "PREFIX ex: <http://ex.org/> SELECT ?p ?n WHERE { ?p a ex:Person . ?p ex:name ?n }",
    )
    assert {tuple(r) for r in sql.collect()} == {tuple(r) for r in sparql.collect()}


def test_sparql_over_generated_graph(spark):
    """Query a graph the engine itself generated (the reference queries
    its own dump in testSparqlQuery)."""
    from r2rml_parser_spark.mapping.parse import parse_mapping_document
    from r2rml_parser_spark.plans.engine import MappingEngine

    mapping = """
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    @prefix ex: <http://ex.org/> .
    <#N> a rr:TriplesMap ;
      rr:logicalTable [ rr:tableName "nation" ] ;
      rr:subjectMap [ rr:template "http://ex.org/nation/{n_nationkey}" ; rr:class ex:Nation ] ;
      rr:predicateObjectMap [ rr:predicate ex:name ; rr:objectMap [ rr:column "n_name" ] ] .
    """
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    doc = parse_mapping_document(mapping)
    engine = MappingEngine(spark, doc, sources={"nation": nation})
    triples = engine.triples()
    out = sparql_select(
        triples,
        "PREFIX ex: <http://ex.org/> SELECT ?s ?n WHERE { ?s a ex:Nation . ?s ex:name ?n }",
    )
    rows = {(r.s, r.n) for r in out.collect()}
    assert len(rows) == nation.count()
    first_name = nation.where("n_nationkey = 0").first()["n_name"]
    assert (EX + "nation/0", first_name) in rows


# -- aggregates, accessors, full-term model (r3) -----------------------

def test_aggregate_global_count(graph):
    q = "PREFIX ex: <http://ex.org/> SELECT (COUNT(*) AS ?n) WHERE { ?s a ex:Person }"
    assert sparql_select(graph, q).collect()[0].n == 2


def test_aggregate_group_by(graph):
    q = "SELECT ?t (COUNT(?s) AS ?n) WHERE { ?s a ?t } GROUP BY ?t"
    assert [(r.t, r.n) for r in sparql_select(graph, q).collect()] == [
        (EX + "Person", 2)
    ]


def test_aggregate_sum_avg_min_max(numeric_graph, graph):
    q = """PREFIX ex: <http://ex.org/>
    SELECT (SUM(?n) AS ?total) (AVG(?n) AS ?mean) WHERE { ?s ex:age ?n }"""
    row = sparql_select(numeric_graph, q).collect()[0]
    assert float(row.total) == 30.0 and float(row.mean) == 10.0
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT (MIN(?n) AS ?lo) (MAX(?n) AS ?hi) WHERE { ?p ex:name ?n }"""
    row2 = sparql_select(graph, q2).collect()[0]
    assert (row2.lo, row2.hi) == ("Ada", "Grace")


def test_count_distinct_counts_terms_not_lexical_forms(graph, numeric_graph):
    # p1's objects: Person (iri), "Ada" (lit), p2 (iri), p2's IRI text
    # as a literal — 4 distinct TERMS though only 3 lexical forms
    q = "SELECT (COUNT(DISTINCT ?o) AS ?n) WHERE { <http://ex.org/p1> ?p ?o }"
    assert sparql_select(graph, q).collect()[0].n == 4
    # scores: "9", "11", "lots" literals + one IRI object = 4 terms
    q2 = "PREFIX ex: <http://ex.org/> SELECT (COUNT(DISTINCT ?o) AS ?n) WHERE { ?s ex:score ?o }"
    assert sparql_select(numeric_graph, q2).collect()[0].n == 4


def test_aggregate_order_by_alias_and_limit(numeric_graph):
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?n (COUNT(?s) AS ?c) WHERE { ?s ex:age ?n }
    GROUP BY ?n ORDER BY DESC(?c) ?n LIMIT 2"""
    got = [(r.n, r.c) for r in sparql_select(numeric_graph, q).collect()]
    # tiebreak on ?n is VALUE-aware (r3): 9 < 10, not "10" < "9"
    assert got == [("9", 1), ("10", 1)]


def test_sum_avg_distinct_dedup_by_term(spark):
    # §18.5.1 Distinct(M) is over RDF TERMS: the two "5"^^xsd:int
    # collapse, but "5.0"^^xsd:decimal is a DIFFERENT term with the
    # same numeric value and must still add
    XSD = "http://www.w3.org/2001/XMLSchema#"
    rows = [
        (EX + "a", "iri", EX + "score", "5", "literal", None, XSD + "int"),
        (EX + "b", "iri", EX + "score", "5", "literal", None, XSD + "int"),
        (EX + "c", "iri", EX + "score", "5.0", "literal", None, XSD + "decimal"),
        (EX + "d", "iri", EX + "score", "3", "literal", None, XSD + "int"),
    ]
    gdf = _mk(spark, rows)
    q = """PREFIX ex: <http://ex.org/>
    SELECT (SUM(?v) AS ?all) (SUM(DISTINCT ?v) AS ?ded)
           (AVG(DISTINCT ?v) AS ?mean)
    WHERE { ?s ex:score ?v }"""
    row = sparql_select(gdf, q).collect()[0]
    assert float(row.all) == 18.0
    assert float(row.ded) == 13.0
    assert abs(float(row.mean) - 13.0 / 3) < 1e-9
    # MIN/MAX/SAMPLE accept the modifier as a no-op
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT (MIN(DISTINCT ?v) AS ?lo) (MAX(DISTINCT ?v) AS ?hi)
           (SAMPLE(DISTINCT ?v) AS ?one)
    WHERE { ?s ex:score ?v }"""
    row2 = sparql_select(gdf, q2).collect()[0]
    assert (row2.lo, row2.hi, row2.one) == ("3", "5.0", "3")
    # a BOUND uncastable term is a §18.5.1.5 type error that errors
    # the WHOLE group (W3C agg-err behavior): SUM(DISTINCT) → unbound
    rows3 = rows + [
        (EX + "e", "iri", EX + "score", "lots", "literal", None, None),
    ]
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT (SUM(DISTINCT ?v) AS ?ded) WHERE { ?s ex:score ?v }"""
    assert sparql_select(_mk(spark, rows3), q3).collect()[0].ded is None


def test_sum_avg_error_whole_group_w3c_agg_err(numeric_graph):
    """§18.5.1.5 strict error propagation (late r4): a bound value
    that does not cast to decimal — "lots", an IRI — errors the WHOLE
    group's SUM/AVG (unbound), the W3C agg-err expected behavior; the
    clean ex:age group still folds."""
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p (SUM(?v) AS ?s) (AVG(?v) AS ?m) WHERE { ?x ?p ?v }
    GROUP BY ?p"""
    got = {r.p: (r.s, r.m) for r in sparql_select(numeric_graph, q).collect()}
    assert float(got[EX + "age"][0]) == 30.0
    assert float(got[EX + "age"][1]) == 10.0
    assert got[EX + "score"] == (None, None)


def test_min_max_value_aware_total_order(numeric_graph):
    """MIN/MAX extrema under the ORDER BY total order (late r4):
    numeric terms by VALUE before non-numeric terms by codepoint —
    MIN over ages {"9","10","11"} is "9" (numeric), not the codepoint
    minimum "10"; over the mixed ex:score group MIN is the numeric
    minimum and MAX the codepoint maximum of the non-numeric terms."""
    q = """PREFIX ex: <http://ex.org/>
    SELECT (MIN(?n) AS ?lo) (MAX(?n) AS ?hi) WHERE { ?s ex:age ?n }"""
    row = sparql_select(numeric_graph, q).collect()[0]
    assert (row.lo, row.hi) == ("9", "11")
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT (MIN(?v) AS ?lo) (MAX(?v) AS ?hi) WHERE { ?s ex:score ?v }"""
    row2 = sparql_select(numeric_graph, q2).collect()[0]
    # scores: numeric "9","11"; non-numeric "lots" and the IRI — MIN
    # is the numeric minimum, MAX the codepoint max of non-numerics
    assert (row2.lo, row2.hi) == ("9", "lots")


def _mk(spark, rows):
    return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))


def test_group_by_without_aggregates_is_distinct_terms(graph):
    q = "SELECT ?t WHERE { ?s a ?t } GROUP BY ?t"
    assert [r.t for r in sparql_select(graph, q).collect()] == [EX + "Person"]


def test_aggregate_errors(graph):
    with pytest.raises(SparqlError):  # plain var not in GROUP BY
        sparql_select(graph, "SELECT ?s (COUNT(?t) AS ?n) WHERE { ?s a ?t }")
    with pytest.raises(SparqlError):  # SELECT * with GROUP BY
        sparql_select(graph, "SELECT * WHERE { ?s a ?t } GROUP BY ?t")
    with pytest.raises(SparqlError):  # unaliased aggregate
        sparql_select(graph, "SELECT (COUNT(?t)) WHERE { ?s a ?t }")
    # HAVING without GROUP BY filters the single implicit group (r4)
    qh = "SELECT (COUNT(?s) AS ?n) WHERE { ?s a ?t } HAVING (?n > 1)"
    assert [r.n for r in sparql_select(graph, qh).collect()] == [2]
    qh2 = "SELECT (COUNT(?s) AS ?n) WHERE { ?s a ?t } HAVING (?n > 5)"
    assert sparql_select(graph, qh2).count() == 0
    with pytest.raises(SparqlError):  # alias collides with a bound var
        sparql_select(graph, "SELECT (COUNT(?t) AS ?s) WHERE { ?s a ?t }")


def test_lang_accessor(graph):
    q = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER (lang(?n) = "en") }'
    assert [r.p for r in sparql_select(graph, q).collect()] == [EX + "p2"]
    # SPARQL: lang() of a plain literal is ""
    q2 = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER (lang(?n) = "") }'
    assert [r.p for r in sparql_select(graph, q2).collect()] == [EX + "p1"]
    # lang() of an IRI is a type error → row dropped, not ""
    q3 = 'PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ?a ex:knows ?o . FILTER (lang(?o) = "") }'
    assert sparql_select(graph, q3).count() == 0


def test_langmatches_basic_filtering(graph, spark):
    # exact match, case-insensitive per RFC 4647
    q = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER langMatches(lang(?n), "EN") }'
    assert [r.p for r in sparql_select(graph, q).collect()] == [EX + "p2"]
    # "*" matches any non-empty tag — excludes the plain literal
    q2 = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER langMatches(lang(?n), "*") }'
    assert [r.p for r in sparql_select(graph, q2).collect()] == [EX + "p2"]
    # negated form keeps only the plain literal
    q3 = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER (!langMatches(lang(?n), "*")) }'
    assert [r.p for r in sparql_select(graph, q3).collect()] == [EX + "p1"]
    # range prefix: "en" matches en-GB and en, not "fr" or plain
    rows = [
        (EX + "a", "iri", EX + "t", "colour", "literal", "en-GB", None),
        (EX + "b", "iri", EX + "t", "color", "literal", "en", None),
        (EX + "c", "iri", EX + "t", "couleur", "literal", "fr", None),
        (EX + "d", "iri", EX + "t", "plain", "literal", None, None),
        # IRI object: type error inside langMatches → dropped both ways
        (EX + "e", "iri", EX + "t", EX + "x", "iri", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q4 = 'PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:t ?v . FILTER langMatches(lang(?v), "en") }'
    assert {r.s for r in sparql_select(g, q4).collect()} == {EX + "a", EX + "b"}
    # "en" must NOT match "enx" (prefix requires a '-' boundary)
    rows2 = rows + [(EX + "f", "iri", EX + "t", "x", "literal", "enx", None)]
    g2 = spark.createDataFrame(rows2, ", ".join(f"{c} string" for c in COLS))
    assert {r.s for r in sparql_select(g2, q4).collect()} == {EX + "a", EX + "b"}
    # the IRI row drops under negation too (error, not false)
    q5 = 'PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:t ?v . FILTER (!langMatches(lang(?v), "en")) }'
    assert {r.s for r in sparql_select(g, q5).collect()} == {EX + "c", EX + "d"}


def test_langmatches_rejections(graph):
    with pytest.raises(SparqlError):  # first arg must be lang(?v)
        sparql_select(graph, 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER langMatches(?n, "en") }')
    with pytest.raises(SparqlError):  # range must be a string literal
        sparql_select(graph, 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER langMatches(lang(?n), ?n) }')
    with pytest.raises(SparqlError):  # unbound variable inside lang()
        sparql_select(graph, 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER langMatches(lang(?zz), "en") }')


def test_datatype_accessor(numeric_graph, graph):
    XSD = "http://www.w3.org/2001/XMLSchema#"
    q = f"""PREFIX ex: <http://ex.org/>
    SELECT ?s WHERE {{ ?s ex:age ?n . FILTER (datatype(?n) = <{XSD}integer>) }}"""
    assert sparql_select(numeric_graph, q).count() == 3
    # plain literals are xsd:string (SPARQL 1.1); the IRI object drops
    q2 = f"""PREFIX ex: <http://ex.org/>
    SELECT ?s WHERE {{ ?s ex:score ?n . FILTER (datatype(?n) = <{XSD}string>) }}"""
    assert {r.s for r in sparql_select(numeric_graph, q2).collect()} == {
        EX + "d", EX + "e", EX + "f"
    }
    # lang-tagged literals are rdf:langString
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p ex:name ?n .
      FILTER (datatype(?n) = <http://www.w3.org/1999/02/22-rdf-syntax-ns#langString>) }"""
    assert [r.p for r in sparql_select(graph, q3).collect()] == [EX + "p2"]


def test_equality_is_full_term_equality(graph, numeric_graph):
    # "Grace" (simple) does not equal "Grace"@en — different terms
    q = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER (?n = "Grace") }'
    assert sparql_select(graph, q).count() == 0
    q2 = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER (?n = "Grace"@en) }'
    assert [r.p for r in sparql_select(graph, q2).collect()] == [EX + "p2"]
    # a numeric constant pins VALUE equality: 10.0 = "10"^^xsd:integer
    q3 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age ?n . FILTER (?n = 10.0) }"
    assert [r.s for r in sparql_select(numeric_graph, q3).collect()] == [EX + "b"]
    # numeric != is a type error on the non-numeric rows (dropped), so
    # "lots" and the IRI never satisfy != 7
    q4 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:score ?n . FILTER (?n != 7) }"
    assert {r.s for r in sparql_select(numeric_graph, q4).collect()} == {EX + "d", EX + "e"}


def test_join_distinguishes_lang_variants(spark):
    rows = [
        (EX + "x", "iri", EX + "p", "hello", "literal", None, None),
        (EX + "y", "iri", EX + "q", "hello", "literal", "en", None),
        (EX + "z", "iri", EX + "q", "hello", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    # join on ?v must key the full term: "hello" joins "hello", not "hello"@en
    q = "PREFIX ex: <http://ex.org/> SELECT ?a ?b WHERE { ?a ex:p ?v . ?b ex:q ?v }"
    assert {(r.a, r.b) for r in sparql_select(g, q).collect()} == {(EX + "x", EX + "z")}


def test_count_skips_optional_unbound(graph):
    # p1 knows p2, p2 knows nobody: COUNT(?q) counts only bound rows,
    # COUNT(*) counts all rows (SPARQL error-skip vs cardinality)
    q = """PREFIX ex: <http://ex.org/>
    SELECT (COUNT(?q) AS ?bound) (COUNT(*) AS ?all) WHERE {
      ?p a ex:Person . OPTIONAL { ?p ex:knows ?q }
    }"""
    row = sparql_select(graph, q).collect()[0]
    assert (row.bound, row.all) == (1, 2)


def test_aggregate_over_union(graph):
    # names arrive via two disjoint branches; group per person
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p (COUNT(?n) AS ?c) WHERE {
      { ?p ex:name ?n } UNION { ?p ex:note ?n }
    } GROUP BY ?p ORDER BY ?p"""
    got = [(r.p, r.c) for r in sparql_select(graph, q).collect()]
    assert got == [(EX + "p1", 2), (EX + "p2", 1)]


def test_bound_and_negation(graph):
    # !bound is the standard SPARQL left-join negation: persons who
    # know nobody
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person . OPTIONAL { ?p ex:knows ?q }
      FILTER (!bound(?q)) }"""
    assert [r.p for r in sparql_select(graph, q).collect()] == [EX + "p2"]
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person . OPTIONAL { ?p ex:knows ?q }
      FILTER bound(?q) }"""
    assert [r.p for r in sparql_select(graph, q2).collect()] == [EX + "p1"]


def test_is_kind_tests(graph):
    # p1's objects span iri + literal kinds with one shared lexical form
    q = "SELECT ?o WHERE { <http://ex.org/p1> ?p ?o . FILTER isLiteral(?o) }"
    got = sorted(r.o for r in sparql_select(graph, q).collect())
    assert got == ["Ada", EX + "p2"]  # the note literal shares p2's text
    q2 = "SELECT ?o WHERE { <http://ex.org/p1> ?p ?o . FILTER (isIRI(?o)) }"
    assert sparql_select(graph, q2).count() == 2  # Person class + knows target
    # isURI is an alias; isBlank matches nothing here
    q3 = "SELECT ?o WHERE { <http://ex.org/p1> ?p ?o . FILTER isURI(?o) }"
    assert sparql_select(graph, q3).count() == 2
    q4 = "SELECT ?o WHERE { <http://ex.org/p1> ?p ?o . FILTER isBlank(?o) }"
    assert sparql_select(graph, q4).count() == 0


def test_is_kind_on_unbound_is_type_error(graph):
    # !isIRI(?q) with ?q OPTIONAL-unbound: type error → dropped (NOT
    # kept the way !bound keeps it)
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person . OPTIONAL { ?p ex:knows ?q }
      FILTER (!isIRI(?q)) }"""
    assert sparql_select(graph, q).count() == 0
    with pytest.raises(SparqlError):
        sparql_select(graph, "SELECT ?s WHERE { ?s a ?t . FILTER bound(?nope) }")


def test_string_tests_and_str_accessor(graph):
    # CONTAINS on literal bindings
    q = 'PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER CONTAINS(?n, "ra") }'
    assert [r.n for r in sparql_select(graph, q).collect()] == ["Grace"]
    q2 = 'PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER STRSTARTS(?n, "A") }'
    assert [r.n for r in sparql_select(graph, q2).collect()] == ["Ada"]
    q3 = 'PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER (STRENDS(?n, "a")) }'
    assert [r.n for r in sparql_select(graph, q3).collect()] == ["Ada"]
    # negated form keeps the complement (on literal bindings)
    q4 = 'PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER (!CONTAINS(?n, "ra")) }'
    assert [r.n for r in sparql_select(graph, q4).collect()] == ["Ada"]
    # a bare IRI argument is a type error under BOTH forms
    q5 = 'PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ?a ex:knows ?o . FILTER CONTAINS(?o, "p2") }'
    assert sparql_select(graph, q5).count() == 0
    q6 = 'PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ?a ex:knows ?o . FILTER (!CONTAINS(?o, "p2")) }'
    assert sparql_select(graph, q6).count() == 0
    # STR() unwraps the IRI for string testing and equality
    q7 = 'PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ?a ex:knows ?o . FILTER CONTAINS(STR(?o), "p2") }'
    assert [r.o for r in sparql_select(graph, q7).collect()] == [EX + "p2"]
    q8 = f'PREFIX ex: <http://ex.org/> SELECT ?a WHERE {{ ?a ex:knows ?o . FILTER (STR(?o) = "{EX}p2") }}'
    assert [r.a for r in sparql_select(graph, q8).collect()] == [EX + "p1"]
    # STR() of a lang literal is its bare lexical form
    q9 = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER (STR(?n) = "Grace") }'
    assert [r.p for r in sparql_select(graph, q9).collect()] == [EX + "p2"]


def test_values_single_var(graph):
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n WHERE { ?p ex:name ?n . VALUES ?n { "Ada" "Nobody" } }"""
    assert [(r.p, r.n) for r in sparql_select(graph, q).collect()] == [(EX + "p1", "Ada")]
    # term-precise: plain "Grace" does not match "Grace"@en
    q2 = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . VALUES ?n { "Grace" } }'
    assert sparql_select(graph, q2).count() == 0
    q3 = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . VALUES ?n { "Grace"@en } }'
    assert [r.p for r in sparql_select(graph, q3).collect()] == [EX + "p2"]


def test_values_multi_var_and_iris(graph):
    q = f"""PREFIX ex: <http://ex.org/>
    SELECT ?p ?n WHERE {{ ?p ex:name ?n .
      VALUES (?p ?n) {{ (<{EX}p1> "Ada") (<{EX}p2> "wrong") }} }}"""
    assert [(r.p, r.n) for r in sparql_select(graph, q).collect()] == [(EX + "p1", "Ada")]


def test_values_fresh_var_cross_joins(graph):
    # a VALUES var not bound by any pattern multiplies bindings (bag)
    q = 'SELECT ?t ?tag WHERE { ?s a ?t . VALUES ?tag { "x" "y" } }'
    assert sparql_select(graph, q).count() == 4  # 2 persons × 2 tags


def test_values_undef_is_compatible_with_anything(graph):
    # §18.5: an UNDEF cell is an unbound binding, compatible with every
    # solution — the row constrains nothing and ?t keeps the graph value
    q = 'SELECT ?s ?t WHERE { ?s a ?t . VALUES ?t { UNDEF } }'
    got = {(r.s, r.t) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", EX + "Person"), (EX + "p2", EX + "Person")}
    # mixed rows: a non-matching constant row adds nothing, the UNDEF
    # row admits everything — bag union of the two slices
    q2 = f'SELECT ?s WHERE {{ ?s a ?t . VALUES ?t {{ <{EX}Nothing> UNDEF }} }}'
    assert sparql_select(graph, q2).count() == 2


def test_values_undef_multi_var_rows(graph):
    # each row constrains only the variables it binds
    q = f"""PREFIX ex: <http://ex.org/>
    SELECT ?p ?n WHERE {{ ?p ex:name ?n .
      VALUES (?p ?n) {{ (<{EX}p1> UNDEF) (UNDEF "Grace"@en) }} }}"""
    got = {(r.p, r.n) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "Ada"), (EX + "p2", "Grace")}


def test_values_undef_fresh_var_is_nullable(graph):
    # an unshared VALUES var with UNDEF rows reaches the query unbound
    # in those rows: projection shows NULL, bound() sees it
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?s ?tag WHERE { ?s a ex:Person . VALUES ?tag { "x" UNDEF } }"""
    rows = sparql_select(graph, q).collect()
    assert len(rows) == 4  # 2 persons × 2 rows
    assert sorted(r.tag for r in rows if r.tag is not None) == ["x", "x"]
    assert sum(r.tag is None for r in rows) == 2
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?s ?tag WHERE { ?s a ex:Person . VALUES ?tag { "x" UNDEF }
      FILTER bound(?tag) }"""
    assert sparql_select(graph, q2).count() == 2


def test_values_undef_both_sides_nullable_joins(graph):
    # (late r4) ?n is nullable from the mixed-variable UNION AND has
    # UNDEF rows in VALUES — two-sided compatibility. Hand-computed:
    #   Ω1 = {(p1,-), (p2,-), (p1,Ada), (p2,Grace@en)}
    #   Ω2 = {(n=Ada), (n=UNDEF)}
    # every pair is compatible except (p2,Grace@en)×(Ada):
    #   (p1,Ada)×3  [(p1,-)×Ada, (p1,Ada)×Ada, (p1,Ada)×UNDEF]
    #   (p1,-)×1 (p2,Ada)×1 (p2,-)×1 (p2,Grace)×1
    from collections import Counter

    q = f"""PREFIX ex: <http://ex.org/>
    SELECT ?p ?n WHERE {{
      {{ ?p a ex:Person }} UNION {{ ?p ex:name ?n }}
      VALUES ?n {{ "Ada" UNDEF }} }}"""
    got = Counter((r.p, r.n) for r in sparql_select(graph, q).collect())
    assert got == Counter(
        {
            (EX + "p1", "Ada"): 3,
            (EX + "p1", None): 1,
            (EX + "p2", "Ada"): 1,
            (EX + "p2", None): 1,
            (EX + "p2", "Grace"): 1,
        }
    )


def test_values_errors(graph):
    with pytest.raises(SparqlError):
        sparql_select(graph, 'SELECT ?s WHERE { ?s a ?t . VALUES ?t { ?v } }')
    with pytest.raises(SparqlError):
        sparql_select(graph, 'SELECT ?s WHERE { ?s a ?t . VALUES ?t { } }')


def test_values_after_optional_guard(graph):
    # VALUES constraining an OPTIONAL-introduced var (full r4, formerly
    # rejected): evaluates at its textual position — p1's bound ?q = p2
    # matches the row, p2's UNBOUND ?q is compatible and takes it
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?q WHERE { ?p a ex:Person . OPTIONAL { ?p ex:knows ?q }
      VALUES ?q { <http://ex.org/p2> } }"""
    assert sorted((r.p, r.q) for r in sparql_select(graph, q).collect()) == [
        (EX + "p1", EX + "p2"),
        (EX + "p2", EX + "p2"),
    ]


def test_offset_and_limit(graph):
    base = "SELECT ?o WHERE { <http://ex.org/p1> ?p ?o } ORDER BY ?o"
    all_rows = [r.o for r in sparql_select(graph, base).collect()]
    assert len(all_rows) == 4
    got = [r.o for r in sparql_select(graph, base + " LIMIT 2 OFFSET 1").collect()]
    assert got == all_rows[1:3]
    got2 = [r.o for r in sparql_select(graph, base + " OFFSET 3").collect()]
    assert got2 == all_rows[3:]
    with pytest.raises(SparqlError):
        sparql_select(graph, base + " OFFSET -1")


def test_boolean_filter_expressions(graph):
    # disjunction across term-precise equalities
    q = '''PREFIX ex: <http://ex.org/>
    SELECT ?n WHERE { ?p ex:name ?n . FILTER (?n = "Ada" || ?n = "Grace"@en) }'''
    assert sorted(r.n for r in sparql_select(graph, q).collect()) == ["Ada", "Grace"]
    # conjunction; && binds tighter than ||
    q2 = '''PREFIX ex: <http://ex.org/>
    SELECT ?n WHERE { ?p ex:name ?n .
      FILTER (?n = "Ada" || STRSTARTS(?n, "G") && STRENDS(?n, "e")) }'''
    assert sorted(r.n for r in sparql_select(graph, q2).collect()) == ["Ada", "Grace"]
    # general negation of a comparison
    q3 = 'PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER (!(?n = "Ada")) }'
    assert [r.n for r in sparql_select(graph, q3).collect()] == ["Grace"]
    # contradiction
    q4 = 'PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER (?n = "Ada" && ?n != "Ada") }'
    assert sparql_select(graph, q4).count() == 0


def test_kleene_error_propagation(graph):
    # TRUE || error = TRUE: p2's ?q is unbound (error in CONTAINS),
    # but bound(?q)=false... use name test as the TRUE side
    q = '''PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person . OPTIONAL { ?p ex:knows ?q }
      FILTER (CONTAINS(?n0, "x") || !bound(?q) || bound(?q)) }'''
    # ?n0 is unbound-never-bound → SparqlError (not silently NULL)
    with pytest.raises(SparqlError):
        sparql_select(graph, q)
    # TRUE || error: STR comparison errors on the unbound ?q row for
    # the left disjunct, the right disjunct rescues it
    q2 = '''PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person . OPTIONAL { ?p ex:knows ?q }
      FILTER (CONTAINS(STR(?q), "p2") || !bound(?q)) }'''
    assert sorted(r.p for r in sparql_select(graph, q2).collect()) == [EX + "p1", EX + "p2"]
    # FALSE && error = FALSE (row dropped, no error surfaced)
    q3 = '''PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person . OPTIONAL { ?p ex:knows ?q }
      FILTER (bound(?q) && CONTAINS(STR(?q), "p2")) }'''
    assert [r.p for r in sparql_select(graph, q3).collect()] == [EX + "p1"]


def test_regex_on_iri_is_type_error(graph):
    q = 'PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ?a ex:knows ?o . FILTER regex(?o, "p2") }'
    assert sparql_select(graph, q).count() == 0
    q2 = 'PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ?a ex:knows ?o . FILTER regex(STR(?o), "p2") }'
    assert [r.o for r in sparql_select(graph, q2).collect()] == [EX + "p2"]


def test_filter_exists_and_not_exists(graph):
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person . FILTER EXISTS { ?p ex:knows ?q } }"""
    assert [r.p for r in sparql_select(graph, q).collect()] == [EX + "p1"]
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person . FILTER NOT EXISTS { ?p ex:knows ?q } }"""
    assert [r.p for r in sparql_select(graph, q2).collect()] == [EX + "p2"]
    # group-local FILTER inside EXISTS
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person .
      FILTER EXISTS { ?p ex:name ?n . FILTER (lang(?n) = "en") } }"""
    assert [r.p for r in sparql_select(graph, q3).collect()] == [EX + "p2"]


def test_exists_never_multiplies_rows(spark):
    rows = [
        (EX + "p", "iri", RDF + "type", EX + "T", "iri", None, None),
        (EX + "p", "iri", EX + "knows", EX + "x", "iri", None, None),
        (EX + "p", "iri", EX + "knows", EX + "y", "iri", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?s WHERE { ?s a ex:T . FILTER EXISTS { ?s ex:knows ?o } }"""
    # two matching knows edges; EXISTS is a per-row test → one row out
    assert [r.s for r in sparql_select(g, q).collect()] == [EX + "p"]


def test_exists_in_boolean_expression(graph):
    # SPARQL 1.1 ExistsFunc composes inside boolean expressions (r4):
    # compiled to a per-row flag via a left join on the group's
    # distinct shared keys — p1 knows someone, p2 has a lang-tagged
    # name; the || admits both, && neither
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person . ?p ex:name ?n .
      FILTER (EXISTS { ?p ex:knows ?q } || lang(?n) = "en")
    }
    """
    got = {r.p for r in sparql_select(graph, q).collect()}
    assert got == {EX + "p1", EX + "p2"}
    q2 = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person . ?p ex:name ?n .
      FILTER (EXISTS { ?p ex:knows ?q } && lang(?n) = "en")
    }
    """
    assert sparql_select(graph, q2).count() == 0
    # NOT EXISTS / !EXISTS inside the expression; flag never multiplies
    # rows (p1 has two outgoing predicates on the probe pattern)
    q3 = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person .
      FILTER (NOT EXISTS { ?p ex:knows ?q } || ?p = ex:p1)
    }
    """
    got3 = [r.p for r in sparql_select(graph, q3).collect()]
    assert sorted(got3) == [EX + "p1", EX + "p2"]
    # uncorrelated EXISTS inside an expression = a constant test
    q4 = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person .
      FILTER (EXISTS { ?x ex:nosuchpred ?y } || ?p = ex:p1)
    }
    """
    assert [r.p for r in sparql_select(graph, q4).collect()] == [EX + "p1"]


def test_exists_formerly_rejected_shapes(graph):
    """Shapes rejected before the late-r4 §18.6 substitution work now
    evaluate exactly (no rejections left on these paths)."""
    # standalone EXISTS sharing NO variable = a per-query constant:
    # substituting the solution into the pattern changes nothing, so
    # one emptiness probe decides for every row
    assert sorted(
        r.p
        for r in sparql_select(
            graph,
            "PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p a ex:Person . FILTER EXISTS { ?x ex:knows ?y } }",
        ).collect()
    ) == [EX + "p1", EX + "p2"]
    # EXISTS inside an OPTIONAL group compiles since r4
    # (test_exists_inside_optional_group and friends)
    assert sparql_select(
        graph,
        "PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p a ex:Person . OPTIONAL { ?p ex:knows ?q . FILTER EXISTS { ?q ex:name ?n } } }",
    ).count() == 2
    # join var nullable via an earlier OPTIONAL: §18.6 substitution —
    # p1's ?q = p2 (bound) matches p2's name, so NOT EXISTS drops it;
    # p2's ?q is UNBOUND, so the substituted pattern keeps ?q as a free
    # variable and { ?q ex:name ?n } is non-empty → dropped too
    assert (
        sparql_select(
            graph,
            "PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p a ex:Person . OPTIONAL { ?p ex:knows ?q } FILTER NOT EXISTS { ?q ex:name ?n } }",
        ).count()
        == 0
    )


def test_exists_over_subquery(graph):
    """An EXISTS probe whose group is a { SELECT } correlates through the
    subquery's projection, in a BIND and in an OPTIONAL group's filter."""
    p = "PREFIX ex: <http://ex.org/> "
    sub = "{ { SELECT ?p WHERE { ?p ex:knows ?q } } }"
    got = sparql_select(
        graph, p + f"SELECT ?p ?k WHERE {{ ?p a ex:Person . BIND(EXISTS {sub} AS ?k) }}"
    ).collect()
    assert sorted((r.p, r.k) for r in got) == [(EX + "p1", "true"), (EX + "p2", "false")]
    # only p1 knows someone: p2's OPTIONAL group filters to empty
    got = sparql_select(
        graph,
        p + "SELECT ?p ?n WHERE { ?p a ex:Person . "
        f"OPTIONAL {{ ?p ex:name ?n FILTER EXISTS {sub} }} }}",
    ).collect()
    assert sorted((r.p, r.n) for r in got) == [(EX + "p1", "Ada"), (EX + "p2", None)]


def test_cross_group_optional_filter_semantics(spark):
    # LeftJoin(A, G, F) with F referencing A: employees with optional
    # bonus kept only when bonus > salary-dependent threshold — the
    # textbook case where Filter(F, LeftJoin) ≠ LeftJoin(..., F)
    rows = [
        (EX + "e1", "iri", EX + "salary", "10", "literal", None, None),
        (EX + "e2", "iri", EX + "salary", "50", "literal", None, None),
        (EX + "e1", "iri", EX + "bonus", "20", "literal", None, None),
        (EX + "e2", "iri", EX + "bonus", "20", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?e ?b WHERE {
      ?e ex:salary ?s .
      OPTIONAL { ?e ex:bonus ?b . FILTER (?b > ?s) }
    }
    """
    got = {(r.e, r.b) for r in sparql_select(g, q).collect()}
    # e1: bonus 20 > salary 10 → joined; e2: 20 > 50 fails → row KEPT
    # with ?b unbound (Diff half of LeftJoin), not dropped
    assert got == {(EX + "e1", "20"), (EX + "e2", None)}
    # two levels out (r5, formerly rejected): SPARQL scopes F at its
    # own LeftJoin, where ?s is UNBOUND → the comparison errors →
    # false → the inner OPTIONAL contributes nothing, rows kept with
    # ?c unbound — NOT evaluated against the outer ?s binding
    q2 = """
    PREFIX ex: <http://ex.org/>
    SELECT ?e ?c WHERE {
      ?e ex:salary ?s .
      OPTIONAL { ?e ex:bonus ?b . OPTIONAL { ?e ex:bonus ?c . FILTER (?c > ?s) } }
    }
    """
    got2 = {(r.e, r.c) for r in sparql_select(g, q2).collect()}
    assert got2 == {(EX + "e1", None), (EX + "e2", None)}


def test_nested_optional_cross_group_filter(spark):
    # the nested OPTIONAL's filter references its PARENT group's var:
    # compiled into the nested left-join condition
    rows = [
        (EX + "e1", "iri", EX + "salary", "10", "literal", None, None),
        (EX + "e1", "iri", EX + "bonus", "20", "literal", None, None),
        (EX + "e1", "iri", EX + "cap", "15", "literal", None, None),
        (EX + "e2", "iri", EX + "salary", "50", "literal", None, None),
        (EX + "e2", "iri", EX + "bonus", "20", "literal", None, None),
        (EX + "e2", "iri", EX + "cap", "60", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?e ?b ?c WHERE {
      ?e ex:salary ?s .
      OPTIONAL { ?e ex:bonus ?b . OPTIONAL { ?e ex:cap ?c . FILTER (?c > ?b) } }
    }
    """
    got = {(r.e, r.b, r.c) for r in sparql_select(g, q).collect()}
    # e1: cap 15 < bonus 20 → inner unbound; e2: cap 60 > 20 → bound
    assert got == {(EX + "e1", "20", None), (EX + "e2", "20", "60")}


def test_subquery_nullable_projection_compatible_join(spark):
    # a subquery projecting a variable its inner OPTIONAL may leave
    # unbound: the outer join must treat unbound as compatible (take
    # the outer binding), not equi-join the NULL away
    rows = [
        (EX + "p1", "iri", RDF + "type", EX + "T", "iri", None, None),
        (EX + "p2", "iri", RDF + "type", EX + "T", "iri", None, None),
        (EX + "p1", "iri", EX + "name", "Ada", "literal", None, None),
        (EX + "p2", "iri", EX + "name", "Grace", "literal", None, None),
        (EX + "p1", "iri", EX + "nick", "A", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p ?n WHERE {
      ?p ex:name ?n .
      { SELECT ?p ?k WHERE { ?p a ex:T . OPTIONAL { ?p ex:nick ?k } } }
    }
    """
    got = {(r.p, r.n) for r in sparql_select(g, q).collect()}
    assert got == {(EX + "p1", "Ada"), (EX + "p2", "Grace")}
    # and joining ON the nullable var itself: p2's ?k is unbound in the
    # subquery → compatible with the outer ?k binding from ex:name
    q2 = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p ?k WHERE {
      ?p ex:name ?k .
      { SELECT ?p ?k WHERE { ?p a ex:T . OPTIONAL { ?p ex:nick ?k } } }
    }
    """
    got2 = {(r.p, r.k) for r in sparql_select(g, q2).collect()}
    # p1: subquery binds ?k="A" ≠ name "Ada" → incompatible, dropped;
    # p2: subquery ?k unbound → compatible, takes "Grace"
    assert got2 == {(EX + "p2", "Grace")}


@pytest.fixture(scope="module")
def city_graph(spark):
    XSD = "http://www.w3.org/2001/XMLSchema#"
    rows = []
    for name, city, age in [
        ("a", "X", 10), ("b", "X", 20), ("c", "Y", 30), ("d", "Y", 50), ("e", "Y", 40),
    ]:
        p = EX + name
        rows.append((p, "iri", EX + "city", EX + city, "iri", None, None))
        rows.append(
            (p, "iri", EX + "age", str(age), "literal", None, XSD + "integer")
        )
    return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))


def test_subquery_post_aggregation_select_expression(city_graph):
    # (r4) §18.2.4.4 SELECT expressions over aggregate aliases run
    # INSIDE { SELECT } subqueries: group keys + constituent aggregates
    # compute first, the expression extends the grouped relation
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?c ?mean WHERE {
      { SELECT ?c (SUM(?a) / COUNT(?a) AS ?mean)
        WHERE { ?p ex:city ?c . ?p ex:age ?a } GROUP BY ?c }
    }
    """
    got = sorted((r.c, float(r.mean)) for r in sparql_select(city_graph, q).collect())
    assert got == [(EX + "X", 15.0), (EX + "Y", 40.0)]


def test_subquery_post_bind_joins_outer_on_group_key(city_graph):
    # the subquery's group key joins the outer pattern; the expression
    # alias rides along as a derived value
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?p ?tot2 WHERE {
      ?p ex:city ?c .
      { SELECT ?c (SUM(?a) * 2 AS ?tot2)
        WHERE { ?p2 ex:city ?c . ?p2 ex:age ?a } GROUP BY ?c }
    } ORDER BY ?p
    """
    got = [
        (r.p[-1], float(r.tot2)) for r in sparql_select(city_graph, q).collect()
    ]
    assert got == [("a", 60.0), ("b", 60.0), ("c", 240.0), ("d", 240.0), ("e", 240.0)]


def test_subquery_order_by_post_bind_alias_is_numeric(city_graph):
    # ORDER BY a post-bind alias inside the subquery sorts by VALUE
    # (the alias keeps its natural decimal type), so LIMIT picks the
    # numerically-largest group
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?c ?m WHERE {
      { SELECT ?c (SUM(?a) / COUNT(?a) AS ?m)
        WHERE { ?p ex:city ?c . ?p ex:age ?a }
        GROUP BY ?c ORDER BY DESC(?m) LIMIT 1 }
    }
    """
    got = [(r.c, float(r.m)) for r in sparql_select(city_graph, q).collect()]
    assert got == [(EX + "Y", 40.0)]


def test_subquery_hidden_raw_aggregate_in_having(city_graph):
    # a raw aggregate in the subquery's HAVING hoists to a hidden
    # alias, computes with the aggregation, and is narrowed away
    # before the outer join
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?c WHERE {
      { SELECT ?c WHERE { ?p ex:city ?c . ?p ex:age ?a }
        GROUP BY ?c HAVING (SUM(?a) > 50) }
    }
    """
    assert [r.c for r in sparql_select(city_graph, q).collect()] == [EX + "Y"]


def test_subquery_post_bind_rejections(city_graph):
    # expression referencing a non-group, non-alias variable
    q = """
    PREFIX ex: <http://ex.org/>
    SELECT ?c WHERE {
      { SELECT ?c (?a + 1 AS ?bad)
        WHERE { ?p ex:city ?c . ?p ex:age ?a } GROUP BY ?c }
    }
    """
    with pytest.raises(SparqlError, match="group"):
        sparql_select(city_graph, q)
    # post-bind alias colliding with an outer variable: still a
    # derived alias, never an outer join key
    q2 = """
    PREFIX ex: <http://ex.org/>
    SELECT ?m WHERE {
      ?p ex:age ?m .
      { SELECT ?c (SUM(?a) + 0 AS ?m)
        WHERE { ?p2 ex:city ?c . ?p2 ex:age ?a } GROUP BY ?c }
    }
    """
    with pytest.raises(SparqlError, match="collide"):
        sparql_select(city_graph, q2)


def test_sameterm(numeric_graph, spark):
    # sameTerm is TERM identity: "10"^^xsd:integer is sameTerm 10 but
    # NOT sameTerm 10.0 — while numeric '=' treats them as equal
    q = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age ?n . FILTER sameTerm(?n, 10) }"
    assert [r.s for r in sparql_select(numeric_graph, q).collect()] == [EX + "b"]
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age ?n . FILTER sameTerm(?n, 10.0) }"
    assert sparql_select(numeric_graph, q2).count() == 0
    # plain "hello" is not sameTerm "hello"@en
    rows = [
        (EX + "y", "iri", EX + "q", "hello", "literal", "en", None),
        (EX + "z", "iri", EX + "q", "hello", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q3 = 'PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:q ?v . FILTER sameTerm(?v, "hello") }'
    assert [r.s for r in sparql_select(g, q3).collect()] == [EX + "z"]
    # negated form: an unbound argument is an error → dropped both ways
    q4 = """PREFIX ex: <http://ex.org/> SELECT ?s WHERE {
      ?s ex:q ?v . OPTIONAL { ?s ex:none ?w } FILTER (!sameTerm(?w, "hello")) }"""
    assert sparql_select(g, q4).count() == 0


def test_in_and_not_in(graph, numeric_graph):
    q = 'PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER (?n IN ("Ada", "Nobody")) }'
    assert [r.n for r in sparql_select(graph, q).collect()] == ["Ada"]
    # numeric membership dispatches numerically: 10.0 matches "10"^^xsd:integer
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age ?n . FILTER (?n IN (10.0, 11)) }"
    assert {r.s for r in sparql_select(numeric_graph, q2).collect()} == {EX + "b", EX + "c"}
    # NOT IN: != is an error on the non-numeric/IRI rows → dropped
    q3 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:score ?n . FILTER (?n NOT IN (9, 10)) }"
    assert [r.s for r in sparql_select(numeric_graph, q3).collect()] == [EX + "e"]
    # empty lists: IN () is FALSE, NOT IN () is TRUE
    q4 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age ?n . FILTER (?n IN ()) }"
    assert sparql_select(numeric_graph, q4).count() == 0
    q5 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age ?n . FILTER (?n NOT IN ()) }"
    assert sparql_select(numeric_graph, q5).count() == 3


def test_ask(graph):
    from r2rml_parser_spark.plans.sparql import sparql_ask

    assert sparql_ask(graph, "ASK { ?s dc:source ?o }", {"dc": DC}) is True
    assert sparql_ask(graph, "PREFIX ex: <http://ex.org/> ASK WHERE { ?s ex:nope ?o }") is False
    # FILTERs participate
    q = 'PREFIX ex: <http://ex.org/> ASK { ?p ex:name ?n . FILTER (?n = "Ada") }'
    assert sparql_ask(graph, q) is True
    with pytest.raises(SparqlError):  # ASK through sparql_select
        sparql_select(graph, "ASK { ?s ?p ?o }")
    with pytest.raises(SparqlError):  # SELECT through sparql_ask
        sparql_ask(graph, "SELECT ?s WHERE { ?s ?p ?o }")
    with pytest.raises(SparqlError):  # ASK takes no modifiers
        sparql_ask(graph, "ASK { ?s ?p ?o } LIMIT 1")


def test_construct_basic(graph):
    from r2rml_parser_spark.plans.sparql import sparql_construct

    q = """PREFIX ex: <http://ex.org/>
    CONSTRUCT { ?p a ex:Agent . ?p ex:label ?n }
    WHERE { ?p a ex:Person . ?p ex:name ?n }"""
    out = sparql_construct(graph, q)
    assert out.columns == COLS
    got = {(r.subj, r.pred, r.obj, r.obj_kind, r.lang) for r in out.collect()}
    assert got == {
        (EX + "p1", RDF + "type", EX + "Agent", "iri", None),
        (EX + "p2", RDF + "type", EX + "Agent", "iri", None),
        (EX + "p1", EX + "label", "Ada", "literal", None),
        (EX + "p2", EX + "label", "Grace", "literal", "en"),
    }


def test_construct_composes_with_select(graph):
    from r2rml_parser_spark.plans.sparql import sparql_construct

    # the constructed graph is itself queryable — graph-to-graph
    q = """PREFIX ex: <http://ex.org/>
    CONSTRUCT { ?b ex:knownBy ?a } WHERE { ?a ex:knows ?b }"""
    g2 = sparql_construct(graph, q)
    got = sparql_select(
        g2, "PREFIX ex: <http://ex.org/> SELECT ?x WHERE { ?x ex:knownBy ?y }"
    ).collect()
    assert [r.x for r in got] == [EX + "p2"]


def test_construct_skips_invalid_instantiations(graph):
    from r2rml_parser_spark.plans.sparql import sparql_construct

    # ?n binds literals → as a SUBJECT those instantiations are skipped,
    # and the unbound-?q OPTIONAL rows are skipped, not errors
    q = """PREFIX ex: <http://ex.org/>
    CONSTRUCT { ?n ex:of ?p . ?p ex:met ?q }
    WHERE { ?p ex:name ?n . OPTIONAL { ?p ex:knows ?q } }"""
    got = {(r.subj, r.pred, r.obj) for r in sparql_construct(graph, q).collect()}
    assert got == {(EX + "p1", EX + "met", EX + "p2")}
    # a variable PREDICATE binding a literal is skipped too
    q2 = """PREFIX ex: <http://ex.org/>
    CONSTRUCT { ?p ?n ex:x } WHERE { ?p ex:name ?n }"""
    assert sparql_construct(graph, q2).count() == 0


def test_construct_is_a_set(spark):
    from r2rml_parser_spark.plans.sparql import sparql_construct

    rows = [
        (EX + "a", "iri", EX + "p", "1", "literal", None, None),
        (EX + "a", "iri", EX + "q", "2", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    # both solutions instantiate the same constant triple → one row
    q = "PREFIX ex: <http://ex.org/> CONSTRUCT { ex:a a ex:T } WHERE { ex:a ?p ?o }"
    assert sparql_construct(g, q).count() == 1


def test_construct_modifiers_and_errors(graph):
    from r2rml_parser_spark.plans.sparql import sparql_construct

    # LIMIT applies to solutions before templating
    q = """PREFIX ex: <http://ex.org/>
    CONSTRUCT { ?p ex:label ?n } WHERE { ?p ex:name ?n }
    ORDER BY ?n LIMIT 1"""
    got = sparql_construct(graph, q).collect()
    assert [(r.subj, r.obj) for r in got] == [(EX + "p1", "Ada")]
    with pytest.raises(SparqlError):  # CONSTRUCT through sparql_select
        sparql_select(graph, "CONSTRUCT { ?s ?p ?o } WHERE { ?s ?p ?o }")
    with pytest.raises(SparqlError):  # literal template subject
        sparql_construct(graph, 'CONSTRUCT { "x" ?p ?o } WHERE { ?s ?p ?o }')
    with pytest.raises(SparqlError):  # GROUP BY rejected
        sparql_construct(
            graph,
            "PREFIX ex: <http://ex.org/> CONSTRUCT { ?p a ex:T } WHERE { ?p ?x ?o } GROUP BY ?p",
        )
    with pytest.raises(SparqlError):  # unbound template variable
        sparql_construct(graph, "CONSTRUCT { ?zz ?p ?o } WHERE { ?s ?p ?o }")
    with pytest.raises(SparqlError):  # FILTER in template
        sparql_construct(
            graph, 'CONSTRUCT { FILTER (?s = "x") } WHERE { ?s ?p ?o }'
        )
    with pytest.raises(SparqlError):  # empty template
        sparql_construct(graph, "CONSTRUCT { } WHERE { ?s ?p ?o }")


def test_minus(graph, spark):
    # MINUS removes persons that know someone — p1 drops, p2 stays
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person . MINUS { ?p ex:knows ?q } }"""
    assert [r.p for r in sparql_select(graph, q).collect()] == [EX + "p2"]
    # group-local FILTER inside MINUS
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person .
      MINUS { ?p ex:name ?n . FILTER (lang(?n) = "en") } }"""
    assert [r.p for r in sparql_select(graph, q2).collect()] == [EX + "p1"]
    # disjoint domains: MINUS removes NOTHING (unlike NOT EXISTS)
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person . MINUS { ?x ex:name ?n } }"""
    assert sparql_select(graph, q3).count() == 2
    # nested inside an OPTIONAL group: p1 knows p2, who has a name, so
    # the MINUS empties the group and both persons keep ?q unbound
    got = sparql_select(
        graph,
        "PREFIX ex: <http://ex.org/> SELECT ?p ?q WHERE { ?p a ex:Person . OPTIONAL { ?p ex:knows ?q . MINUS { ?q ex:name ?n } } }",
    ).collect()
    assert sorted((r.p, r.q) for r in got) == [(EX + "p1", None), (EX + "p2", None)]
    # pattern after MINUS sharing its var (full r4, formerly rejected):
    # the anti join runs at the MINUS's textual point (p1 removed),
    # THEN the pattern joins — Join(Minus(A,M),B) per §18.2
    got = sparql_select(
        graph,
        "PREFIX ex: <http://ex.org/> SELECT ?p ?q WHERE { ?p a ex:Person . MINUS { ?p ex:knows ?q } ?p ex:name ?q }",
    ).collect()
    assert [(r.p, r.q) for r in got] == [(EX + "p2", "Grace")]
    # MINUS var nullable via OPTIONAL evaluates exactly since late r4
    # (§8.3 over the bound-mask slices): p1's ?q = p2 is compatible
    # with a MINUS solution → removed; p2's ?q is unbound → disjoint
    # domains → KEPT (where NOT EXISTS would drop it)
    assert [
        r.p
        for r in sparql_select(
            graph,
            "PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p a ex:Person . OPTIONAL { ?p ex:knows ?q } MINUS { ?q ex:name ?n } }",
        ).collect()
    ] == [EX + "p2"]


def test_property_path_sequence(graph):
    # ?p knows/name ?n — two hops through an internal variable
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n WHERE { ?p ex:knows/ex:name ?n }"""
    got = {(r.p, r.n) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "Grace")}
    # the internal variable is projected away from SELECT *
    out = sparql_select(graph, "PREFIX ex: <http://ex.org/> SELECT * WHERE { ?p ex:knows/ex:name ?n }")
    assert sorted(out.columns) == ["n", "p"]


def test_property_path_inverse(graph):
    # ^knows: who is known — and inverse inside a sequence
    q = "PREFIX ex: <http://ex.org/> SELECT ?x WHERE { ?x ^ex:knows ?y }"
    assert [r.x for r in sparql_select(graph, q).collect()] == [EX + "p2"]
    # name of anyone who knows ?x: ?x ^knows/name ?n
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?x ?n WHERE { ?x ^ex:knows/ex:name ?n }"
    got = {(r.x, r.n) for r in sparql_select(graph, q2).collect()}
    assert got == {(EX + "p2", "Ada")}


def test_property_path_multiplicity(spark):
    # two distinct intermediates → two rows for the same endpoints
    # (SPARQL fixed-length paths preserve multiplicity), collapsible
    # by DISTINCT
    rows = [
        (EX + "s", "iri", EX + "p", EX + "m1", "iri", None, None),
        (EX + "s", "iri", EX + "p", EX + "m2", "iri", None, None),
        (EX + "m1", "iri", EX + "q", EX + "o", "iri", None, None),
        (EX + "m2", "iri", EX + "q", EX + "o", "iri", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = "PREFIX ex: <http://ex.org/> SELECT ?s ?o WHERE { ?s ex:p/ex:q ?o }"
    assert sparql_select(g, q).count() == 2
    q2 = "PREFIX ex: <http://ex.org/> SELECT DISTINCT ?s ?o WHERE { ?s ex:p/ex:q ?o }"
    assert sparql_select(g, q2).count() == 1


def test_property_path_in_groups(graph):
    # path inside OPTIONAL
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n WHERE { ?p a ex:Person . OPTIONAL { ?p ex:knows/ex:name ?n } }"""
    got = {(r.p, r.n) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "Grace"), (EX + "p2", None)}
    # path inside UNION branches (internals are branch-local)
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?n WHERE { { ?p ex:knows/ex:name ?n } UNION { ?p ex:name ?n } }"""
    assert sparql_select(graph, q2).count() == 3


def test_property_path_rejections(graph):
    with pytest.raises(SparqlError):  # variable path element
        sparql_select(graph, "SELECT ?s WHERE { ?s ?p/?q ?o }")
    with pytest.raises(SparqlError):  # variable inside an alternation
        sparql_select(graph, "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:a|?p ?o }")


def test_bind_basic(graph):
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?greeting WHERE {
      ?p ex:name ?n . BIND(CONCAT("Hello, ", ?n) AS ?greeting) }"""
    got = {(r.p, r.greeting) for r in sparql_select(graph, q).collect()}
    # (late r4) "Grace"@en is a VALID CONCAT argument per §17.4.3.12;
    # mixed simple+lang arguments yield a SIMPLE literal
    assert got == {(EX + "p1", "Hello, Ada"), (EX + "p2", "Hello, Grace")}
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?g WHERE { ?p ex:name ?n . BIND(CONCAT("Hi ", STR(?n)) AS ?g) }"""
    got2 = {(r.p, r.g) for r in sparql_select(graph, q2).collect()}
    assert got2 == {(EX + "p1", "Hi Ada"), (EX + "p2", "Hi Grace")}


def test_concat_lang_and_type_propagation(spark):
    # §17.4.3.12 compatibility: same tag on EVERY argument → tagged
    # result; all xsd:string → xsd:string; mixed → simple; non-string
    # datatype → error (unbound)
    XSD = "http://www.w3.org/2001/XMLSchema#"
    rows = [
        (EX + "s1", "iri", EX + "a", "bon", "literal", "fr", None),
        (EX + "s1", "iri", EX + "b", "jour", "literal", "fr", None),
        (EX + "s2", "iri", EX + "a", "good", "literal", "en", None),
        (EX + "s2", "iri", EX + "b", "day", "literal", "fr", None),
        (EX + "s3", "iri", EX + "a", "typed", "literal", None, XSD + "string"),
        (EX + "s3", "iri", EX + "b", "str", "literal", None, XSD + "string"),
        (EX + "s4", "iri", EX + "a", "5", "literal", None, XSD + "integer"),
        (EX + "s4", "iri", EX + "b", "x", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?s ?c WHERE { ?s ex:a ?x . ?s ex:b ?y . BIND(CONCAT(?x, ?y) AS ?c) }
    ORDER BY ?s"""
    got = [(r.s.split("/")[-1], r.c) for r in sparql_select(g, q).collect()]
    assert got == [
        ("s1", "bonjour"), ("s2", "goodday"), ("s3", "typedstr"), ("s4", None),
    ]
    # the tag rides into term-sensitive contexts: lang() of the result
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?s WHERE { ?s ex:a ?x . ?s ex:b ?y . BIND(CONCAT(?x, ?y) AS ?c)
      FILTER (lang(?c) = "fr") }"""
    assert {r.s for r in sparql_select(g, q2).collect()} == {EX + "s1"}
    # datatype(): simple results report xsd:string per RDF 1.1, so the
    # mixed-tag s2 matches alongside the all-typed s3; the lang-tagged
    # s1 reports rdf:langString and the errored s4 stays unbound
    q3 = """PREFIX ex: <http://ex.org/> PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
    SELECT ?s WHERE { ?s ex:a ?x . ?s ex:b ?y . BIND(CONCAT(?x, ?y) AS ?c)
      FILTER (datatype(?c) = xsd:string) }"""
    assert {r.s for r in sparql_select(g, q3).collect()} == {EX + "s2", EX + "s3"}


def test_bind_iri_minting_and_filters(graph):
    # mint a new IRI from a literal; the result is IRI-kind (isIRI holds)
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?u WHERE {
      ?p ex:name ?n .
      BIND(IRI(CONCAT("http://ex.org/label/", STR(?n))) AS ?u)
      FILTER isIRI(?u) }"""
    got = {r.u for r in sparql_select(graph, q).collect()}
    assert got == {EX + "label/Ada", EX + "label/Grace"}
    # constant + accessor binds; bound() sees BIND vars
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?l WHERE { ?p ex:name ?n . BIND(lang(?n) AS ?l) FILTER bound(?l) }"""
    got2 = {(r.p, r.l) for r in sparql_select(graph, q2).collect()}
    assert got2 == {(EX + "p1", ""), (EX + "p2", "en")}


def test_bind_in_construct(graph):
    from r2rml_parser_spark.plans.sparql import sparql_construct

    # KG minting: derive a new subject IRI per solution
    q = """PREFIX ex: <http://ex.org/>
    CONSTRUCT { ?u a ex:Label . ?u ex:for ?p }
    WHERE { ?p ex:name ?n
      BIND(IRI(CONCAT("http://ex.org/label/", STR(?n))) AS ?u) }"""
    got = {(r.subj, r.pred, r.obj) for r in sparql_construct(graph, q).collect()}
    assert got == {
        (EX + "label/Ada", RDF + "type", EX + "Label"),
        (EX + "label/Grace", RDF + "type", EX + "Label"),
        (EX + "label/Ada", EX + "for", EX + "p1"),
        (EX + "label/Grace", EX + "for", EX + "p2"),
    }


def test_bind_rejections(graph):
    with pytest.raises(SparqlError):  # target already bound
        sparql_select(
            graph,
            'PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . BIND("x" AS ?n) }',
        )
    with pytest.raises(SparqlError):  # unbound source variable
        sparql_select(
            graph,
            "PREFIX ex: <http://ex.org/> SELECT ?g WHERE { ?p ex:name ?n . BIND(STR(?zz) AS ?g) }",
        )
    # BIND inside OPTIONAL/UNION/MINUS groups compiles since r4
    # (test_bind_inside_groups); inside an EXISTS probe too (late r4 —
    # Extend never removes a probe solution, so existence is unchanged)
    assert [
        r.p
        for r in sparql_select(
            graph,
            'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p a ex:Person . FILTER EXISTS { ?p ex:knows ?q . BIND("x" AS ?z) } }',
        ).collect()
    ] == [EX + "p1"]
    # a BIND-derived variable in a later EXISTS evaluates exactly
    # since late r4 (the nullable-key slicing covers BIND targets):
    # ?v = STR(?n) is a SIMPLE literal, so "Ada" matches p1's plain
    # name term while "Grace" (lang tag stripped) does NOT match the
    # stored "Grace"@en term — term-keyed correlation, not lexical
    assert [
        r.p
        for r in sparql_select(
            graph,
            'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . BIND(STR(?n) AS ?v) FILTER EXISTS { ?x ex:name ?v } }',
        ).collect()
    ] == [EX + "p1"]


def test_having(graph):
    # Person has 2 instances, every other type 1 — HAVING keeps Person
    q = "SELECT ?t (COUNT(?s) AS ?n) WHERE { ?s a ?t } GROUP BY ?t HAVING (?n > 1)"
    got = [(r.t, r.n) for r in sparql_select(graph, q).collect()]
    assert got == [(EX + "Person", 2)]
    # composed condition + string compare on the group key
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?t (COUNT(?s) AS ?n) WHERE { ?s a ?t }
    GROUP BY ?t HAVING (?n >= 1 && ?t = ex:Person)"""
    # group keys are lexical strings; IRI constant operand unsupported → rejected
    with pytest.raises(SparqlError):
        sparql_select(graph, q2)
    q3 = 'SELECT ?t (COUNT(?s) AS ?n) WHERE { ?s a ?t } GROUP BY ?t HAVING (?n >= 1 && ?t = "http://ex.org/Person")'
    got3 = [(r.t, r.n) for r in sparql_select(graph, q3).collect()]
    assert got3 == [(EX + "Person", 2)]
    with pytest.raises(SparqlError):  # unprojected variable in HAVING
        sparql_select(graph, "SELECT ?t (COUNT(?s) AS ?n) WHERE { ?s a ?t } GROUP BY ?t HAVING (?zz > 1)")


@pytest.fixture(scope="module")
def chain_graph(spark):
    # a -> b -> c -> d chain, plus a disjoint x -> y and a literal leaf
    rows = [
        (EX + "a", "iri", EX + "next", EX + "b", "iri", None, None),
        (EX + "b", "iri", EX + "next", EX + "c", "iri", None, None),
        (EX + "c", "iri", EX + "next", EX + "d", "iri", None, None),
        (EX + "x", "iri", EX + "next", EX + "y", "iri", None, None),
        (EX + "d", "iri", EX + "label", "leaf", "literal", None, None),
    ]
    return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))


def test_closure_plus(chain_graph):
    # a next+ ?o reaches b, c, d (not itself, not x/y)
    q = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:a ex:next+ ?o }"
    got = {r.o for r in sparql_select(chain_graph, q).collect()}
    assert got == {EX + "b", EX + "c", EX + "d"}
    # full pair set: 3+2+1 chain pairs + the x->y pair
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?s ?o WHERE { ?s ex:next+ ?o }"
    assert sparql_select(chain_graph, q2).count() == 7


def test_closure_star_and_opt(chain_graph):
    # zero-or-more from a fixed start includes the start itself
    q = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:a ex:next* ?o }"
    got = {r.o for r in sparql_select(chain_graph, q).collect()}
    assert got == {EX + "a", EX + "b", EX + "c", EX + "d"}
    # zero-length identity covers every graph node, even the literal
    q2 = 'PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:next* "leaf" }'
    assert [r.s for r in sparql_select(chain_graph, q2).collect()] == ["leaf"]
    # zero-or-one
    q3 = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:a ex:next? ?o }"
    got3 = {r.o for r in sparql_select(chain_graph, q3).collect()}
    assert got3 == {EX + "a", EX + "b"}


def test_closure_inverse_and_join(chain_graph):
    # ^next+ from d walks back to c, b, a
    q = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ex:d ^ex:next+ ?s }"
    got = {r.s for r in sparql_select(chain_graph, q).collect()}
    assert got == {EX + "a", EX + "b", EX + "c"}
    # closure result joins with an ordinary pattern
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?s ?l WHERE { ?s ex:next+ ?o . ?o ex:label ?l }"""
    got2 = {(r.s, r.l) for r in sparql_select(chain_graph, q2).collect()}
    assert got2 == {(EX + "a", "leaf"), (EX + "b", "leaf"), (EX + "c", "leaf")}


def test_closure_cycle_terminates(spark):
    rows = [
        (EX + "a", "iri", EX + "p", EX + "b", "iri", None, None),
        (EX + "b", "iri", EX + "p", EX + "a", "iri", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = "PREFIX ex: <http://ex.org/> SELECT ?s ?o WHERE { ?s ex:p+ ?o }"
    # cycle: a/b each reach both nodes — 4 pairs, no infinite loop
    assert sparql_select(g, q).count() == 4


def test_closure_inside_sequence(chain_graph):
    # p/p+ = path length ≥ 2 (r4: closure elements compile inside
    # sequences — the closure SET joins the fixed part per §9.1)
    q = "PREFIX ex: <http://ex.org/> SELECT ?s ?o WHERE { ?s ex:next/ex:next+ ?o }"
    got = {(r.s, r.o) for r in sparql_select(chain_graph, q).collect()}
    assert got == {(EX + "a", EX + "c"), (EX + "a", EX + "d"), (EX + "b", EX + "d")}
    # closure first, then a fixed hop
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?s ?l WHERE { ?s ex:next+/ex:label ?l }"
    got2 = {(r.s, r.l) for r in sparql_select(chain_graph, q2).collect()}
    assert got2 == {(EX + "a", "leaf"), (EX + "b", "leaf"), (EX + "c", "leaf")}
    # constant start seeds the walk
    q3 = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:a ex:next/ex:next+ ?o }"
    assert {r.o for r in sparql_select(chain_graph, q3).collect()} == {EX + "c", EX + "d"}


def test_closed_path_groups(chain_graph):
    # (next/next)+ = even path lengths over the derived edge relation
    q = "PREFIX ex: <http://ex.org/> SELECT ?s ?o WHERE { ?s (ex:next/ex:next)+ ?o }"
    got = {(r.s, r.o) for r in sparql_select(chain_graph, q).collect()}
    assert got == {(EX + "a", EX + "c"), (EX + "b", EX + "d")}
    # zero-or-more over a group, constant seed: zero-length + one hop
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:a (ex:next/ex:next)* ?o }"
    assert {r.o for r in sparql_select(chain_graph, q2).collect()} == {EX + "a", EX + "c"}
    # alternation inside a closed group (derived edge union)
    q3 = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:a (ex:next|ex:label)+ ?o }"
    got3 = {r.o for r in sparql_select(chain_graph, q3).collect()}
    assert got3 == {EX + "b", EX + "c", EX + "d", "leaf"}
    # inverse group closure
    q4 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ex:d (^ex:next)+ ?s }"
    assert {r.s for r in sparql_select(chain_graph, q4).collect()} == {
        EX + "a", EX + "b", EX + "c"
    }
    # (r4) closure nested inside a closed group: (next+/label)* —
    # the inner closure becomes a derived edge relation and the outer
    # fixpoint runs over it (_path_relation / "closure_path")
    q5 = (
        "PREFIX ex: <http://ex.org/> SELECT ?o "
        "WHERE { ex:a (ex:next+/ex:label)* ?o }"
    )
    got5 = {r.o for r in sparql_select(chain_graph, q5).collect()}
    # R = next+ ∘ label = {(a,leaf),(b,leaf),(c,leaf)}; R* from a =
    # the zero-length identity plus one R-step
    assert got5 == {EX + "a", "leaf"}


def test_sibling_seeded_variable_closure(chain_graph):
    # ?o restricted by a sibling pattern: the closure walk is seeded
    # from its distinct terms (multi-source frontier), results equal
    # the unseeded full-closure evaluation
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?s ?o WHERE { ?o ex:label ?l . ?s ex:next+ ?o }"""
    got = {(r.s, r.o) for r in sparql_select(chain_graph, q).collect()}
    assert got == {(EX + "a", EX + "d"), (EX + "b", EX + "d"), (EX + "c", EX + "d")}
    # forward seeding: ?s bound first; d has no outgoing next → empty
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?s ?o WHERE { ?s ex:label ?l . ?s ex:next+ ?o }"""
    assert sparql_select(chain_graph, q2).count() == 0
    # multi-seed zero-length semantics: * pairs every seed with itself
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?s ?o WHERE { ?s ex:label ?l . ?s ex:next* ?o }"""
    got3 = {(r.s, r.o) for r in sparql_select(chain_graph, q3).collect()}
    assert got3 == {(EX + "d", EX + "d")}


def test_describe_constant_and_var(graph):
    from r2rml_parser_spark.plans.sparql import sparql_describe

    out = sparql_describe(graph, "DESCRIBE <http://ex.org/p1>")
    got = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert got == {
        (EX + "p1", RDF + "type", EX + "Person"),
        (EX + "p1", EX + "name", "Ada"),
        (EX + "p1", EX + "knows", EX + "p2"),
        (EX + "p1", EX + "note", EX + "p2"),
    }
    # var form with WHERE; prefixed-name constants also accepted
    out2 = sparql_describe(
        graph,
        'PREFIX ex: <http://ex.org/> DESCRIBE ?p WHERE { ?p ex:name ?n . FILTER (lang(?n) = "en") }',
    )
    assert {r.subj for r in out2.collect()} == {EX + "p2"}
    with pytest.raises(SparqlError):  # var without WHERE
        sparql_describe(graph, "DESCRIBE ?x")
    with pytest.raises(SparqlError):  # DESCRIBE through sparql_select
        sparql_select(graph, "DESCRIBE <http://ex.org/p1>")


def test_describe_bnode_closure(spark):
    from r2rml_parser_spark.plans.sparql import sparql_describe

    rows = [
        (EX + "s", "iri", EX + "addr", "b0", "bnode", None, None),
        ("b0", "bnode", EX + "city", "b1", "bnode", None, None),
        ("b1", "bnode", EX + "name", "Springfield", "literal", None, None),
        # not reachable: an IRI object's own triples are NOT pulled in
        (EX + "s", "iri", EX + "friend", EX + "t", "iri", None, None),
        (EX + "t", "iri", EX + "name", "other", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    out = sparql_describe(g, "DESCRIBE <http://ex.org/s>")
    got = {(r.subj, r.pred) for r in out.collect()}
    assert got == {
        (EX + "s", EX + "addr"),
        (EX + "s", EX + "friend"),
        ("b0", EX + "city"),
        ("b1", EX + "name"),
    }


def test_path_alternation(graph):
    # knows|note from p1 reaches p2 twice (two predicates, bag union)
    q = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ?p ex:knows|ex:note ?o }"
    got = [r.o for r in sparql_select(graph, q).collect()]
    assert sorted(got) == [EX + "p2", EX + "p2"]
    # the two alternatives bind different TERMS (IRI p2 vs literal
    # "p2") — DISTINCT dedups SOLUTIONS on full term keys, so both
    # survive as two (lexically identical) rows, per SPARQL §18.5
    q2 = "PREFIX ex: <http://ex.org/> SELECT DISTINCT ?o WHERE { ?p ex:knows|ex:note ?o }"
    assert sparql_select(graph, q2).count() == 2
    # alternation with inverse element + join with another pattern
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?x ?n WHERE { ?x ex:knows|^ex:knows ?y . ?y ex:name ?n }"""
    got3 = {(r.x, r.n) for r in sparql_select(graph, q3).collect()}
    assert got3 == {(EX + "p1", "Grace"), (EX + "p2", "Ada")}


def test_path_alternation_of_sequences_and_closures(chain_graph):
    # '|' binds looser than '/': label | next/label (r4: alternation
    # distributes over sequences into UNION branches)
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?s ?v WHERE { ?s ex:label|ex:next/ex:label ?v }"""
    got = {(r.s, r.v) for r in sparql_select(chain_graph, q).collect()}
    assert got == {(EX + "d", "leaf"), (EX + "c", "leaf")}
    # alternation with a closed alternative
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:a ex:next+|ex:label ?o }"
    got2 = {r.o for r in sparql_select(chain_graph, q2).collect()}
    assert got2 == {EX + "b", EX + "c", EX + "d"}


def test_path_alternation_in_optional_group(graph):
    # r4: a simple forward alternation inside an OPTIONAL compiles (one
    # pred-IN scan); rejection now applies only to complex branches
    # (test_alternation_complex_branch_in_group_still_rejected)
    out = sparql_select(
        graph,
        "PREFIX ex: <http://ex.org/> SELECT ?p ?o WHERE { ?p a ex:Person . OPTIONAL { ?p ex:knows|ex:note ?o } }",
    )
    assert out.count() == 3  # p1 extended by knows AND note, p2 null


def test_negated_property_set(graph):
    # everything p1 relates to EXCEPT via knows/note: type + name
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?o WHERE { <http://ex.org/p1> !(ex:knows|ex:note) ?o }"""
    got = {r.o for r in sparql_select(graph, q).collect()}
    assert got == {EX + "Person", "Ada"}
    # single-IRI form; per-triple multiplicity (2 non-name triples of p1)
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s !ex:name ?o . ?s ex:note ?n }"
    assert sparql_select(graph, q2).count() == 3  # type, knows, note triples of p1
    # (r4) inverse members: !(^knows) matches (x, y) where a triple
    # (y, p, x) exists with p ≠ knows — every non-knows triple flipped
    q3 = "PREFIX ex: <http://ex.org/> SELECT ?s ?o WHERE { ?s !(^ex:knows) ?o }"
    got3 = {(r.s, r.o) for r in sparql_select(graph, q3).collect()}
    assert (EX + "Person", EX + "p1") in got3          # flipped rdf:type
    assert ("Ada", EX + "p1") in got3                  # flipped literal
    # the knows triple is excluded; the (p2, p1) value-pair still
    # appears — via the flipped note triple, whose LITERAL "…p2"
    # shares the IRI's lexical form (kind-distinct, value-equal)
    assert len(got3) == 7                              # 8 triples - 1 knows
    # (r4) mixed members: !(name|^knows) ≡ !name | ^!knows (§9.1)
    q4 = (
        "PREFIX ex: <http://ex.org/> PREFIX dc: <http://purl.org/dc/elements/1.1/> "
        "SELECT ?s ?o WHERE { ?s !(ex:name|^ex:knows) ?o }"
    )
    got4 = [(r.s, r.o) for r in sparql_select(graph, q4).collect()]
    # forward half: 6 non-name triples; inverse half: 7 flipped
    # non-knows triples — a bag union
    assert len(got4) == 13
    assert (EX + "p1", "Ada") not in got4              # name excluded forward
    assert ("Ada", EX + "p1") in got4                  # ...but present flipped
    # (r4) NPS composes with closures: !ex:name+ is a reachability
    # fixpoint over every non-name edge
    q5 = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:p1 !ex:name+ ?o }"
    got5 = {r.o for r in sparql_select(graph, q5).collect()}
    # p1 -type-> Person, p1 -knows-> p2, p1 -note-> "p2"(literal),
    # then p2 -type-> Person; the p2 IRI and "p2" literal solutions
    # share a lexical value, so the value set has two members
    assert got5 == {EX + "Person", EX + "p2"}
    # ...and with sequences: ^knows/name = names of whoever knows ?s
    q6 = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:p2 (^ex:knows/ex:name) ?o }"
    assert [r.o for r in sparql_select(graph, q6).collect()] == ["Ada"]
    q7 = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:p2 (!ex:note/ex:name) ?o }"
    # p2's non-note edges reach Person and "Grace"@en, neither of
    # which has a name — empty
    assert sparql_select(graph, q7).count() == 0


def test_seeded_closure_alp_semantics(spark, chain_graph):
    # seed not occurring in the graph: p* still yields the zero-length
    # pair (SPARQL ALP starts by marking the seed visited)
    q = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:ghost ex:next* ?o }"
    assert [r.o for r in sparql_select(chain_graph, q).collect()] == [EX + "ghost"]
    # ...but p+ from the same seed is empty
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:ghost ex:next+ ?o }"
    assert sparql_select(chain_graph, q2).count() == 0
    # seeded + through a cycle reaches the seed itself
    rows = [
        (EX + "a", "iri", EX + "p", EX + "b", "iri", None, None),
        (EX + "b", "iri", EX + "p", EX + "a", "iri", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q3 = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:a ex:p+ ?o }"
    assert {r.o for r in sparql_select(g, q3).collect()} == {EX + "a", EX + "b"}


def test_filter_arithmetic(numeric_graph):
    q = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age ?n . FILTER (?n + 1 > 10) }"
    assert {r.s for r in sparql_select(numeric_graph, q).collect()} == {EX + "b", EX + "c"}
    # precedence: 9 + 9*2 = 27
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age ?n . FILTER (?n + ?n * 2 = 27) }"
    assert [r.s for r in sparql_select(numeric_graph, q2).collect()] == [EX + "a"]
    # spaced '-' is subtraction; non-numeric and IRI rows are type
    # errors → dropped (scores: "9", "11", "lots", an IRI)
    q3 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:score ?n . FILTER (?n - 1 >= 8) }"
    assert {r.s for r in sparql_select(numeric_graph, q3).collect()} == {EX + "d", EX + "e"}
    # division
    q4 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age ?n . FILTER (?n / 2 = 4.5) }"
    assert [r.s for r in sparql_select(numeric_graph, q4).collect()] == [EX + "a"]


def test_bind_arithmetic(numeric_graph):
    XSD = "http://www.w3.org/2001/XMLSchema#"
    q = f"""PREFIX ex: <http://ex.org/>
    SELECT ?s ?d WHERE {{ ?s ex:age ?n . BIND(?n * 2 AS ?d)
      FILTER (datatype(?d) = <{XSD}decimal>) }}"""
    got = {(r.s, r.d) for r in sparql_select(numeric_graph, q).collect()}
    # canonical lexical: no trailing zeros from the decimal scale
    assert got == {(EX + "a", "18"), (EX + "b", "20"), (EX + "c", "22")}
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?d WHERE { ?s ex:age ?n . BIND(?n / 2 AS ?d) FILTER (?n = 9) }"
    assert [r.d for r in sparql_select(numeric_graph, q2).collect()] == ["4.5"]


def test_parenthesized_arithmetic(numeric_graph):
    # §19.8 ladder: a bracketted group is a PRIMARY — (?n + 1) * 2
    # (ages: a=9, b=10, c=11)
    q = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age ?n . FILTER ((?n + 1) * 2 = 20) }"
    assert [r.s for r in sparql_select(numeric_graph, q).collect()] == [EX + "a"]
    # parens override precedence: 9 * (2 + 1) = 27 vs 9 + 9*2 (same
    # value here by accident of the fixture — use a distinguishing one)
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age ?n . FILTER ((?n + 1) / (?n - 1) = 1.25) }"
    # (10+1)/(10-1)=1.22…, (9+1)/(9-1)=1.25, (11+1)/(11-1)=1.2
    assert [r.s for r in sparql_select(numeric_graph, q2).collect()] == [EX + "a"]
    # nested groups on BOTH comparison sides
    q3 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age ?n . FILTER (((?n - 1) / 2) = (2 + 2)) }"
    assert [r.s for r in sparql_select(numeric_graph, q3).collect()] == [EX + "a"]


def test_parenthesized_arithmetic_in_bind_and_projection(numeric_graph):
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?d WHERE { ?s ex:age ?n . BIND((?n + 1) * 2 AS ?d) FILTER (?n = 9) }"""
    assert [r.d for r in sparql_select(numeric_graph, q).collect()] == ["20"]
    # projection-expression sugar takes the same ladder
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT (((?n + 1) * 2) AS ?d) WHERE { ?s ex:age ?n . FILTER (?n = 10) }"""
    assert [r.d for r in sparql_select(numeric_graph, q2).collect()] == ["22"]
    # ABS over a parenthesized chain: |(n-10)*2| <= 2 keeps all three
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?s WHERE { ?s ex:age ?n . FILTER (ABS((?n - 10) * 2) <= 2) }"""
    assert len(sparql_select(numeric_graph, q3).collect()) == 3
    # IN members are value expressions
    q4 = """PREFIX ex: <http://ex.org/>
    SELECT ?s WHERE { ?s ex:age ?n . FILTER (?n IN ((4 + 5), 11)) }"""
    assert {r.s for r in sparql_select(numeric_graph, q4).collect()} == {EX + "a", EX + "c"}


def test_boolean_and_value_groups_compose(numeric_graph):
    # boolean groups and arithmetic groups in ONE expression
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?s WHERE { ?s ex:age ?n .
      FILTER (((?n + 1) > 10 || ?n < 0) && !(?n = 11)) }"""
    assert [r.s for r in sparql_select(numeric_graph, q).collect()] == [EX + "b"]


def test_expression_type_errors_rejected(numeric_graph):
    # boolean as arithmetic operand
    with pytest.raises(SparqlError):
        sparql_select(
            numeric_graph,
            "PREFIX ex: <http://ex.org/> SELECT ?s WHERE "
            "{ ?s ex:age ?n . FILTER ((?n > 1) + 2 > 0) }",
        )
    # bare value in FILTER: formerly rejected, now the §17.2.2
    # effective boolean value (late r4) — ?n + 1 is nonzero for every
    # age here, so all three rows pass
    got = sparql_select(
        numeric_graph,
        "PREFIX ex: <http://ex.org/> SELECT ?s WHERE "
        "{ ?s ex:age ?n . FILTER (?n + 1) }",
    )
    assert sorted(r.s for r in got.collect()) == [EX + "a", EX + "b", EX + "c"]
    # value operand of &&: EBV too — (?n = 9) && EBV(?n) keeps only a
    got = sparql_select(
        numeric_graph,
        "PREFIX ex: <http://ex.org/> SELECT ?s WHERE "
        "{ ?s ex:age ?n . FILTER ((?n = 9) && ?n) }",
    )
    assert [r.s for r in got.collect()] == [EX + "a"]
    # boolean as comparison operand
    with pytest.raises(SparqlError):
        sparql_select(
            numeric_graph,
            "PREFIX ex: <http://ex.org/> SELECT ?s WHERE "
            "{ ?s ex:age ?n . FILTER ((?n = 9) = (?n = 9)) }",
        )


def test_sample_and_group_concat(graph, spark):
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?t (SAMPLE(?s) AS ?one) WHERE { ?s a ?t } GROUP BY ?t"""
    got = dict((r.t, r.one) for r in sparql_select(graph, q).collect())
    assert got[EX + "Person"] == EX + "p1"  # min lexical form
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT (GROUP_CONCAT(?n; SEPARATOR=", ") AS ?names)
    WHERE { ?p ex:name ?n }"""
    assert [r.names for r in sparql_select(graph, q2).collect()] == ["Ada, Grace"]
    # DISTINCT dedups by TERM: "x" and "x"@en both contribute, equal
    # terms collapse
    rows = [
        (EX + "1", "iri", EX + "v", "x", "literal", None, None),
        (EX + "2", "iri", EX + "v", "x", "literal", "en", None),
        (EX + "3", "iri", EX + "v", "x", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q3 = 'PREFIX ex: <http://ex.org/> SELECT (GROUP_CONCAT(DISTINCT ?v) AS ?c) WHERE { ?s ex:v ?v }'
    assert [r.c for r in sparql_select(g, q3).collect()] == ["x x"]
    # plain form keeps all three
    q4 = 'PREFIX ex: <http://ex.org/> SELECT (GROUP_CONCAT(?v) AS ?c) WHERE { ?s ex:v ?v }'
    assert [r.c for r in sparql_select(g, q4).collect()] == ["x x x"]
    with pytest.raises(SparqlError):  # SEPARATOR on other aggregates
        sparql_select(graph, 'SELECT (COUNT(?s; SEPARATOR=",") AS ?n) WHERE { ?s ?p ?o }')
    # DISTINCT under SAMPLE is accepted as a no-op (r4)
    q5 = "SELECT (SAMPLE(DISTINCT ?s) AS ?x) WHERE { ?s ?p ?o }"
    assert sparql_select(graph, q5).count() == 1


def test_string_functions(graph, numeric_graph):
    # UCASE/LCASE in equality; lang tag preserved per spec
    q = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER (UCASE(?n) = "ADA") }'
    assert [r.p for r in sparql_select(graph, q).collect()] == [EX + "p1"]
    q1b = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER (LCASE(?n) = "grace"@en) }'
    assert [r.p for r in sparql_select(graph, q1b).collect()] == [EX + "p2"]
    # STRLEN is numeric: composes with comparison and arithmetic
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER (STRLEN(?n) > 3) }"
    assert [r.n for r in sparql_select(graph, q2).collect()] == ["Grace"]
    q3 = "PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER (STRLEN(?n) + 2 = 5) }"
    assert [r.n for r in sparql_select(graph, q3).collect()] == ["Ada"]
    # SUBSTR (1-based) preserves the language tag per spec:
    # SUBSTR("Grace"@en,1,2) is "Gr"@en, not simple "Gr"
    q4 = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER (SUBSTR(?n, 1, 2) = "Gr"@en) }'
    assert [r.p for r in sparql_select(graph, q4).collect()] == [EX + "p2"]
    q4b = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER (SUBSTR(?n, 1, 2) = "Gr") }'
    assert sparql_select(graph, q4b).count() == 0
    q4c = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER (SUBSTR(STR(?n), 1, 2) = "Gr") }'
    assert [r.p for r in sparql_select(graph, q4c).collect()] == [EX + "p2"]
    q5 = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER (REPLACE(STR(?n), "a(d)a", "$1") = "A") }'
    # "Ada" → replace "da"? pattern ada lowercase doesn't match "Ada" — use case pattern
    assert sparql_select(graph, q5).count() == 0
    q6 = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER (REPLACE(?n, "d", "td") = "Atda") }'
    assert [r.p for r in sparql_select(graph, q6).collect()] == [EX + "p1"]
    # nesting: STRLEN(REPLACE(...))
    q7 = 'PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER (STRLEN(REPLACE(?n, "a", "")) = 2) }'
    assert [r.n for r in sparql_select(graph, q7).collect()] == ["Ada"]
    # an IRI argument is a type error → dropped (scores has an IRI obj)
    q8 = 'PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:score ?v . FILTER (STRLEN(?v) >= 0) }'
    assert {r.s for r in sparql_select(numeric_graph, q8).collect()} == {EX + "d", EX + "e", EX + "f"}


def test_string_functions_in_bind(graph):
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?u ?l WHERE { ?p ex:name ?n .
      BIND(UCASE(STR(?n)) AS ?u) BIND(STRLEN(?n) AS ?l) }"""
    got = {(r.p, r.u, r.l) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "ADA", "3"), (EX + "p2", "GRACE", "5")}


def test_bind_coalesce_and_if(graph):
    # COALESCE falls through an OPTIONAL-unbound var to the default
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?who WHERE { ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q }
      BIND(COALESCE(?q, "nobody") AS ?who) }"""
    got = {(r.p, r.who) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", EX + "p2"), (EX + "p2", "nobody")}
    # the winning argument's KIND carries: isIRI holds only for p1's row
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q }
      BIND(COALESCE(?q, "nobody") AS ?who) FILTER isIRI(?who) }"""
    assert [r.p for r in sparql_select(graph, q2).collect()] == [EX + "p1"]
    # IF with a comparison condition
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?n ?size WHERE { ?p ex:name ?n .
      BIND(IF(STRLEN(?n) > 3, "long", "short") AS ?size) }"""
    got3 = {(r.n, r.size) for r in sparql_select(graph, q3).collect()}
    assert got3 == {("Ada", "short"), ("Grace", "long")}
    # IF condition error (unbound var in comparison) → ?x unbound
    q4 = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?x WHERE { ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q }
      BIND(IF(?q = ex:p2, "knows-grace", "other") AS ?x) }"""
    got4 = {(r.p, r.x) for r in sparql_select(graph, q4).collect()}
    assert got4 == {(EX + "p1", "knows-grace"), (EX + "p2", None)}


def test_subquery_aggregate_join(graph):
    # aggregate in a subquery, then join the outer pattern on the
    # plain projected var; filter on the derived numeric alias
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?t ?cnt ?s WHERE {
      { SELECT ?t (COUNT(?x) AS ?cnt) WHERE { ?x a ?t } GROUP BY ?t }
      ?s a ?t .
      FILTER (?cnt > 1)
    }"""
    got = {(r.t, r.cnt, r.s) for r in sparql_select(graph, q).collect()}
    assert got == {
        (EX + "Person", 2, EX + "p1"),
        (EX + "Person", 2, EX + "p2"),
    }
    # the alias is a typed xsd:integer literal outside
    q2 = """PREFIX ex: <http://ex.org/>
    PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
    SELECT ?t WHERE {
      { SELECT ?t (COUNT(?x) AS ?cnt) WHERE { ?x a ?t } GROUP BY ?t }
      FILTER (datatype(?cnt) = xsd:integer && ?cnt = 2)
    }"""
    assert [r.t for r in sparql_select(graph, q2).collect()] == [EX + "Person"]


def test_subquery_limit_and_star(graph):
    # ORDER/LIMIT inside the subquery: top-1 name, then outer join
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n WHERE {
      { SELECT ?n WHERE { ?x ex:name ?n } ORDER BY DESC(?n) LIMIT 1 }
      ?p ex:name ?n .
    }"""
    got = {(r.p, r.n) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p2", "Grace")}
    # SELECT * subquery joins like an ordinary group
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?q WHERE { { SELECT * WHERE { ?p ex:knows ?q } } ?q a ex:Person }"""
    assert [(r.p, r.q) for r in sparql_select(graph, q2).collect()] == [
        (EX + "p1", EX + "p2")
    ]


def test_subquery_term_soundness(spark):
    # the subquery's plain var carries full term identity: "hello" and
    # "hello"@en must not join
    rows = [
        (EX + "x", "iri", EX + "p", "hello", "literal", None, None),
        (EX + "y", "iri", EX + "q", "hello", "literal", "en", None),
        (EX + "z", "iri", EX + "q", "hello", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?a ?b WHERE { { SELECT ?v ?a WHERE { ?a ex:p ?v } } ?b ex:q ?v }"""
    assert {(r.a, r.b) for r in sparql_select(g, q).collect()} == {(EX + "x", EX + "z")}


def test_subquery_rejections(graph):
    with pytest.raises(SparqlError):  # alias collides with outer var
        sparql_select(
            graph,
            """PREFIX ex: <http://ex.org/>
            SELECT ?n WHERE {
              { SELECT ?t (COUNT(?x) AS ?n) WHERE { ?x a ?t } GROUP BY ?t }
              ?p ex:name ?n }""",
        )
    with pytest.raises(SparqlError):  # only SELECT subqueries
        sparql_select(graph, "SELECT ?s WHERE { { ASK { ?s ?p ?o } } }")


def test_nested_optional(graph, spark):
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?q ?n WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q OPTIONAL { ?q ex:name ?n } }
    }"""
    got = {(r.p, r.q, r.n) for r in sparql_select(graph, q).collect()}
    assert got == {
        (EX + "p1", EX + "p2", "Grace"),
        (EX + "p2", None, None),
    }
    # inner miss keeps the middle binding: q bound, n null
    rows = [
        (EX + "a", "iri", RDF + "type", EX + "T", "iri", None, None),
        (EX + "a", "iri", EX + "knows", EX + "x", "iri", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    got2 = {(r.p, r.q, r.n) for r in sparql_select(g, q.replace("ex:Person", "ex:T")).collect()}
    assert got2 == {(EX + "a", EX + "x", None)}


def test_optional_group_side_nullable_outer_key(graph):
    # formerly rejected as "outer var bound only in nested": the shared
    # key ?n is bound on the OUTER side but only inside the GROUP's
    # nested OPTIONAL — now the two-sided compatible LEFT join
    # (late r4). The group relation is {(p=p1, q=p2, n="Grace"@en)};
    # outer rows whose ?n is a DIFFERENT term (or whose ?p has no
    # group row) are kept-μ1 with ?q unbound, the one compatible row
    # merges ?q. (Depth-2 nesting: test_nested_optional_arbitrary_depth;
    # OPTIONAL inside UNION: test_optional_inside_union_branch.)
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?z ?n ?q WHERE {
      ?p a ex:Person . ?z ex:name ?n .
      OPTIONAL { ?p ex:knows ?q OPTIONAL { ?q ex:name ?n } }
    }"""
    got = sorted(
        (r.p, r.z, r.n, r.q) for r in sparql_select(graph, q).collect()
    )
    assert got == sorted(
        [
            (EX + "p1", EX + "p1", "Ada", None),       # n mismatch → kept
            (EX + "p1", EX + "p2", "Grace", EX + "p2"),  # compatible
            (EX + "p2", EX + "p1", "Ada", None),       # no group row
            (EX + "p2", EX + "p2", "Grace", None),     # no group row
        ]
    )


def test_strbefore_strafter_encode(graph, spark):
    # STRAFTER to strip a namespace — the classic localname idiom
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?local WHERE { ?p a ex:Person .
      BIND(STRAFTER(STR(?p), "http://ex.org/") AS ?local) }"""
    got = {(r.p, r.local) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "p1"), (EX + "p2", "p2")}
    # STRBEFORE; no-match yields the SIMPLE empty literal
    q2 = 'PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER (STRBEFORE(?n, "d") = "A") }'
    assert [r.n for r in sparql_select(graph, q2).collect()] == ["Ada"]
    q3 = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER (STRBEFORE(STR(?n), "zz") = "") }'
    assert sparql_select(graph, q3).count() == 2
    # lang carries only on a match: STRBEFORE("Grace"@en, "r") = "G"@en
    q4 = 'PREFIX ex: <http://ex.org/> SELECT ?p WHERE { ?p ex:name ?n . FILTER (STRBEFORE(?n, "r") = "G"@en) }'
    assert [r.p for r in sparql_select(graph, q4).collect()] == [EX + "p2"]
    # ENCODE_FOR_URI: RFC 3986, result is simple even for lang args
    rows = [(EX + "d", "iri", EX + "t", "a b~c/d", "literal", "en", None)]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q5 = 'PREFIX ex: <http://ex.org/> SELECT ?e WHERE { ?s ex:t ?v . BIND(ENCODE_FOR_URI(?v) AS ?e) FILTER (lang(?e) = "") }'
    assert [r.e for r in sparql_select(g, q5).collect()] == ["a%20b~c%2Fd"]


def test_isnumeric(numeric_graph, graph):
    # typed integers pass; plain numeric strings are xsd:string → false
    q = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age ?n . FILTER isNumeric(?n) }"
    assert sparql_select(numeric_graph, q).count() == 3
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:score ?n . FILTER isNumeric(?n) }"
    assert sparql_select(numeric_graph, q2).count() == 0
    # negated form: plain strings and the IRI object pass !isNumeric
    q3 = "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:score ?n . FILTER (!isNumeric(?n)) }"
    assert sparql_select(numeric_graph, q3).count() == 4
    # OPTIONAL-unbound is an error → dropped under both forms
    q4 = """PREFIX ex: <http://ex.org/> SELECT ?p WHERE {
      ?p a ex:Person . OPTIONAL { ?p ex:none ?x } FILTER (!isNumeric(?x)) }"""
    assert sparql_select(graph, q4).count() == 0


def test_select_projection_expressions(graph, numeric_graph):
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p (UCASE(STR(?n)) AS ?up) WHERE { ?p ex:name ?n }"""
    got = {(r.p, r.up) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "ADA"), (EX + "p2", "GRACE")}
    # arithmetic projection + ORDER BY the alias
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?s (?n * 2 AS ?dbl) WHERE { ?s ex:age ?n } ORDER BY DESC(?dbl) LIMIT 1"""
    assert [(r.s, r.dbl) for r in sparql_select(numeric_graph, q2).collect()] == [
        (EX + "c", "22")
    ]
    # projection expr may reference a WHERE BIND var
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT (CONCAT(?g, "!") AS ?loud) WHERE {
      ?p ex:name ?n . BIND(CONCAT("hi ", STR(?n)) AS ?g) }"""
    got3 = {r.loud for r in sparql_select(graph, q3).collect()}
    assert got3 == {"hi Ada!", "hi Grace!"}
    with pytest.raises(SparqlError):  # alias collides with bound var
        sparql_select(graph, 'PREFIX ex: <http://ex.org/> SELECT (STR(?n) AS ?n) WHERE { ?p ex:name ?n }')


MALFORMED = [
    "",
    "SELECT",
    "SELECT ?x",
    "SELECT ?x WHERE",
    "SELECT ?x WHERE {",
    "SELECT ?x WHERE { ?s ?p }",
    "SELECT ?x WHERE { ?s ?p ?o",
    "SELECT ?x WHERE { ?s ?p ?o } LIMIT",
    "SELECT ?x WHERE { ?s ?p ?o } LIMIT -1",
    "SELECT ?x WHERE { ?s ?p ?o } GROUP",
    "SELECT ?x WHERE { ?s ?p ?o . FILTER }",
    "SELECT ?x WHERE { ?s ?p ?o . FILTER ( }",
    "SELECT ?x WHERE { ?s ?p ?o . FILTER (?x = ) }",
    "SELECT ?x WHERE { ?s ?p ?o . FILTER (?x IN ?y) }",
    "SELECT ?x WHERE { ?s ?p ?o . FILTER regex(?x) }",
    "SELECT ?x WHERE { ?s ?p ?o . BIND(?x) }",
    "SELECT ?x WHERE { ?s ?p ?o . BIND( AS ?y) }",
    "SELECT (COUNT(?x AS ?n) WHERE { ?s ?p ?o }",
    "SELECT ?x WHERE { ?s ?p ?o . VALUES }",
    "SELECT ?x WHERE { ?s ?p ?o . OPTIONAL }",
    "SELECT ?x WHERE { { ?s ?p ?o } UNION }",
    "SELECT ?x WHERE { ?s ?p ?o } ORDER BY",
    "SELECT ?x WHERE { ?s unknownpfx:p ?o }",
    "PREFIX ex <http://x> SELECT ?x WHERE { ?s ?p ?o }",
    "SELECT ?x WHERE { ?s ex:p/ ?o }",
    "SELECT ?x WHERE { ?s ^ ?o }",
    "SELECT ?x WHERE { ?s !( ?o }",
    # NOTE: "CONSTRUCT WHERE { ?s ?p ?o }" is VALID §10.2.3 shorthand
    # since late r4 — only the truly malformed variant stays here
    "CONSTRUCT WHERE",
    "DESCRIBE",
    "ASK",
    'SELECT ?x WHERE { ?s ?p "unterminated }',
    "SELECT ?x WHERE { ?s ?p ?o } HAVING (?x > 1)",
    "SELECT ?x WHERE { { SELECT } }",
    # r4 surface: malformed forms of the new syntax still reject cleanly
    "SELECT ?x WHERE { ?s ?p ?x . VALUES (?a) { (UNDEF UNDEF) } }",
    "SELECT (SUM(DISTINCT) AS ?s) WHERE { ?s ?p ?o }",
    "SELECT (SUM(?x) AS ?s) WHERE { ?s ?p ?x } GROUP BY (?x",
    "SELECT (SUM(?x) AS ?s) WHERE { ?s ?p ?x } GROUP BY (?x + 1)",
    "SELECT (SUM(?x) + AS ?s) WHERE { ?s ?p ?x }",
    "SELECT ?x WHERE { ?s ?p ?x } ORDER BY DESC(",
    "SELECT ?x WHERE { ?s ?p ?x . FILTER regex(?x, 'p', ) }",
    "SELECT ?x WHERE { ?s ?p ?x . FILTER regex(?x, 'p', 'Z') }",
    "SELECT ?x WHERE { ?s ?p ?x } HAVING (COUNT(?x) ",
    # late-r4 session-2 surface: malformed generator builtins,
    # CONSTRUCT WHERE, and boolean-value forms reject cleanly
    "SELECT ?x WHERE { ?s ?p ?x . BIND(NOW(1) AS ?t) }",
    "SELECT ?x WHERE { ?s ?p ?x . BIND(RAND(?x) AS ?r) }",
    "SELECT ?x WHERE { ?s ?p ?x . BIND(UUID( AS ?u) }",
    "SELECT ?x WHERE { ?s ?p ?x . BIND(BNODE('a' AS ?b) }",
    "CONSTRUCT WHERE { ?s ?p ?x FILTER(?x) }",
    "CONSTRUCT WHERE { ?s ?p ?x OPTIONAL { ?x ?q ?y } }",
    "CONSTRUCT WHERE { 'lit' ?p ?x }",
    "SELECT ?x WHERE { ?s ?p ?x . FILTER((?x > 1) + 2) }",
    "SELECT ?x WHERE { ?s ?p ?x . BIND((?x > 1) = (?x < 2) AS ?b) }",
    "SELECT ?x WHERE { ?s ?p ?x . FILTER(?x &&) }",
]


def test_malformed_queries_raise_cleanly(graph):
    """Every malformed query fails with SparqlError — never an
    IndexError/KeyError/Py4J traceback (reject, don't crash)."""
    for q in MALFORMED:
        with pytest.raises(SparqlError):
            sparql_select(graph, q)


def test_distinct_is_term_level(spark):
    # "x" and "x"@en are DIFFERENT solutions: DISTINCT keeps both
    # (projecting to two identical lexical rows), per SPARQL §18.5
    rows = [
        (EX + "1", "iri", EX + "v", "x", "literal", None, None),
        (EX + "2", "iri", EX + "v", "x", "literal", "en", None),
        (EX + "3", "iri", EX + "v", "x", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = "PREFIX ex: <http://ex.org/> SELECT DISTINCT ?v WHERE { ?s ex:v ?v }"
    assert sparql_select(g, q).count() == 2
    # truly equal terms still collapse
    q2 = "PREFIX ex: <http://ex.org/> SELECT DISTINCT ?s ?v WHERE { ?s ex:v ?v }"
    assert sparql_select(g, q2).count() == 3


def test_order_by_is_value_aware(numeric_graph, spark):
    # typed integers order numerically: 9 < 10 < 11 (not "10" < "11" < "9")
    q = "PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?s ex:age ?n } ORDER BY ?n"
    assert [r.n for r in sparql_select(numeric_graph, q).collect()] == ["9", "10", "11"]
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?s ex:age ?n } ORDER BY DESC(?n)"
    assert [r.n for r in sparql_select(numeric_graph, q2).collect()] == ["11", "10", "9"]
    # mixed: numbers by value first, then non-numerics by codepoint
    q3 = "PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?s ex:score ?n } ORDER BY ?n"
    got = [r.n for r in sparql_select(numeric_graph, q3).collect()]
    assert got == ["9", "11", "http://ex.org/big", "lots"]
    # DESC is the exact reverse
    q4 = "PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?s ex:score ?n } ORDER BY DESC(?n)"
    assert [r.n for r in sparql_select(numeric_graph, q4).collect()] == list(reversed(got))


def test_hash_functions(graph):
    import hashlib

    ada_md5 = hashlib.md5(b"Ada").hexdigest()
    q = f'PREFIX ex: <http://ex.org/> SELECT ?p WHERE {{ ?p ex:name ?n . FILTER (MD5(?n) = "{ada_md5}") }}'
    assert [r.p for r in sparql_select(graph, q).collect()] == [EX + "p1"]
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?h WHERE { ?p ex:name ?n . FILTER (?n = "Ada") . BIND(SHA256(?n) AS ?h) }"""
    assert [r.h for r in sparql_select(graph, q2).collect()] == [
        hashlib.sha256(b"Ada").hexdigest()
    ]
    # composes: mint a hash-keyed IRI (the reference's MD5-template idiom)
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?u WHERE { ?p ex:name ?n . FILTER (?n = "Ada")
      BIND(IRI(CONCAT("http://ex.org/h/", MD5(STR(?n)))) AS ?u) }"""
    assert [r.u for r in sparql_select(graph, q3).collect()] == [
        EX + "h/" + ada_md5
    ]


def test_sha384_sha512(graph):
    import hashlib

    q = """PREFIX ex: <http://ex.org/>
    SELECT ?h3 ?h5 WHERE { ?p ex:name ?n . FILTER (?n = "Ada")
      BIND(SHA384(?n) AS ?h3) BIND(SHA512(?n) AS ?h5) }"""
    got = [(r.h3, r.h5) for r in sparql_select(graph, q).collect()]
    assert got == [
        (hashlib.sha384(b"Ada").hexdigest(), hashlib.sha512(b"Ada").hexdigest())
    ]


def test_tz_accessor(spark):
    XSD = "http://www.w3.org/2001/XMLSchema#"
    rows = [
        (EX + "e1", "iri", EX + "at", "2024-03-07T09:15:30Z", "literal", None, XSD + "dateTime"),
        (EX + "e2", "iri", EX + "at", "2024-03-07T09:15:30-05:00", "literal", None, XSD + "dateTime"),
        # no timezone → TZ is the SIMPLE empty literal, not an error
        (EX + "e3", "iri", EX + "at", "2024-03-07T09:15:30", "literal", None, XSD + "dateTime"),
        # untyped string argument: type error → ?z stays UNBOUND (row kept)
        (EX + "e4", "iri", EX + "at", "2024-03-07T09:15:30Z", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?e ?z WHERE { ?e ex:at ?t . BIND(TZ(?t) AS ?z) } ORDER BY ?e"""
    got = [(r.e, r.z) for r in sparql_select(g, q).collect()]
    assert got == [
        (EX + "e1", "Z"), (EX + "e2", "-05:00"), (EX + "e3", ""), (EX + "e4", None),
    ]
    # equality on the TZ result filters like any simple literal
    q2 = 'PREFIX ex: <http://ex.org/> SELECT ?e WHERE { ?e ex:at ?t . FILTER (TZ(?t) = "Z") }'
    assert {r.e for r in sparql_select(g, q2).collect()} == {EX + "e1"}


def test_timezone_accessor(spark):
    XSD = "http://www.w3.org/2001/XMLSchema#"
    rows = [
        (EX + "e1", "iri", EX + "at", "2024-03-07T09:15:30Z", "literal", None, XSD + "dateTime"),
        (EX + "e2", "iri", EX + "at", "2024-03-07T09:15:30-05:30", "literal", None, XSD + "dateTime"),
        (EX + "e3", "iri", EX + "at", "2024-03-07T09:15:30+02:00", "literal", None, XSD + "dateTime"),
        (EX + "e4", "iri", EX + "at", "2024-03-07T09:15:30+00:00", "literal", None, XSD + "dateTime"),
        # NO timezone: TIMEZONE is a type error (§17.4.5.7 raises where
        # TZ returns "") → ?d stays unbound
        (EX + "e5", "iri", EX + "at", "2024-03-07T09:15:30", "literal", None, XSD + "dateTime"),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?e ?d WHERE { ?e ex:at ?t . BIND(TIMEZONE(?t) AS ?d) } ORDER BY ?e"""
    got = [(r.e, r.d) for r in sparql_select(g, q).collect()]
    assert got == [
        (EX + "e1", "PT0S"), (EX + "e2", "-PT5H30M"), (EX + "e3", "PT2H"),
        (EX + "e4", "PT0S"), (EX + "e5", None),
    ]
    # typed-literal equality on the duration result
    q2 = """PREFIX ex: <http://ex.org/> PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
    SELECT ?e WHERE { ?e ex:at ?t . FILTER (TIMEZONE(?t) = "PT0S"^^xsd:dayTimeDuration) }"""
    assert {r.e for r in sparql_select(g, q2).collect()} == {EX + "e1", EX + "e4"}


def test_datetime_accessors(spark):
    XSD = "http://www.w3.org/2001/XMLSchema#"
    rows = [
        (EX + "e1", "iri", EX + "at", "2024-03-07T09:15:30.5Z", "literal", None, XSD + "dateTime"),
        (EX + "e2", "iri", EX + "at", "2023-12-31T23:59:59Z", "literal", None, XSD + "dateTime"),
        (EX + "e3", "iri", EX + "on", "2024-01-15", "literal", None, XSD + "date"),
        # untyped string: type error inside accessors → dropped
        (EX + "e4", "iri", EX + "at", "2024-03-07T09:15:30Z", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = "PREFIX ex: <http://ex.org/> SELECT ?e WHERE { ?e ex:at ?t . FILTER (YEAR(?t) = 2024) }"
    assert [r.e for r in sparql_select(g, q).collect()] == [EX + "e1"]
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?e WHERE { ?e ex:on ?t . FILTER (MONTH(?t) = 1 && DAY(?t) = 15) }"
    assert [r.e for r in sparql_select(g, q2).collect()] == [EX + "e3"]
    # numeric composition + BIND canonical forms (seconds keep fraction)
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?e ?h ?s WHERE { ?e ex:at ?t . FILTER (MINUTES(?t) >= 15)
      BIND(HOURS(?t) AS ?h) BIND(SECONDS(?t) AS ?s) } ORDER BY ?e"""
    got = [(r.e, r.h, r.s) for r in sparql_select(g, q3).collect()]
    assert got == [(EX + "e1", "9", "30.5"), (EX + "e2", "23", "59")]
    # HOURS of a plain date: no time fields → error → dropped
    q4 = "PREFIX ex: <http://ex.org/> SELECT ?e WHERE { ?e ex:on ?t . FILTER (HOURS(?t) >= 0) }"
    assert sparql_select(g, q4).count() == 0


def test_seeded_backward_closure_is_term_exact(spark):
    # backward walk from the literal "leaf" must NOT traverse the edge
    # ending at "leaf"@en — full-term matching, not value+kind
    rows = [
        (EX + "a", "iri", EX + "p", "leaf", "literal", None, None),
        (EX + "b", "iri", EX + "p", "leaf", "literal", "en", None),
        (EX + "x", "iri", EX + "p", EX + "a", "iri", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = 'PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:p+ "leaf" }'
    got = {r.s for r in sparql_select(g, q).collect()}
    assert got == {EX + "a", EX + "x"}  # b reaches "leaf"@en, not "leaf"
    q2 = 'PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:p+ "leaf"@en }'
    assert {r.s for r in sparql_select(g, q2).collect()} == {EX + "b"}


def test_nested_optional_arbitrary_depth(graph):
    # depth-3 OPTIONAL chain (r4: LeftJoin compiles recursively): p1
    # knows p2 whose name fills ?kn; p2 knows nobody → ?k/?kn unbound
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n ?k ?kn WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:name ?n
        OPTIONAL { ?p ex:knows ?k
          OPTIONAL { ?k ex:name ?kn } } }
    }"""
    got = {(r.p, r.n, r.k, r.kn) for r in sparql_select(graph, q).collect()}
    assert got == {
        (EX + "p1", "Ada", EX + "p2", "Grace"),
        (EX + "p2", "Grace", None, None),
    }


def test_nested_optional_disjoint_domain(graph):
    # a nested OPTIONAL sharing NO variable with its group (late r4,
    # formerly rejected): §18.5 says every group solution is compatible
    # with every nested one — a bag cross product when the nested group
    # matches, pass-through with its variables unbound when it is empty
    q = """PREFIX ex: <http://ex.org/> PREFIX dc: <http://purl.org/dc/elements/1.1/>
    SELECT ?p ?q ?x ?z WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q OPTIONAL { ?x dc:source ?z } }
    }"""
    got = {(r.p, r.q, r.x, r.z) for r in sparql_select(graph, q).collect()}
    assert got == {
        (EX + "p1", EX + "p2", EX + "m1", EX + "mapA"),
        (EX + "p1", EX + "p2", EX + "m2", EX + "mapB"),
        (EX + "p2", None, None, None),  # no ex:knows → group misses
    }
    # empty nested group: group rows pass through, ?x/?z unbound
    q2 = q.replace("dc:source", "ex:missing")
    got2 = {(r.p, r.q, r.x, r.z) for r in sparql_select(graph, q2).collect()}
    assert got2 == {
        (EX + "p1", EX + "p2", None, None),
        (EX + "p2", None, None, None),
    }


def test_nested_optional_parent_nullable_key(graph):
    # a later nested OPTIONAL joins on ?k, which the EARLIER nested
    # OPTIONAL in the same group may leave unbound (late r4, formerly
    # rejected): the single-sided compatible-join decomposition — a row
    # with ?k unbound is compatible with EVERY {?k ex:name ?kn} row and
    # takes its bindings (the spec's famous kept-μ merge)
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n ?k ?kn WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:name ?n
        OPTIONAL { ?p ex:knows ?k }
        OPTIONAL { ?k ex:name ?kn } }
    }"""
    got = {(r.p, r.n, r.k, r.kn) for r in sparql_select(graph, q).collect()}
    assert got == {
        (EX + "p1", "Ada", EX + "p2", "Grace"),
        # p2 knows nobody → ?k unbound → compatible with both name rows
        (EX + "p2", "Grace", EX + "p1", "Ada"),
        (EX + "p2", "Grace", EX + "p2", "Grace"),
    }


def test_nested_optional_nullable_key_with_cross_group_filter(graph):
    # the same nullable nested key PLUS a deferred filter referencing
    # the parent group's ?n — LeftJoin(G, N, F) compiled into the slice
    # decomposition's ON condition (late r4, formerly rejected)
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n ?k ?kn WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:name ?n
        OPTIONAL { ?p ex:knows ?k }
        OPTIONAL { ?k ex:name ?kn FILTER (STR(?n) != "Grace") } }
    }"""
    got = {(r.p, r.n, r.k, r.kn) for r in sparql_select(graph, q).collect()}
    assert got == {
        (EX + "p1", "Ada", EX + "p2", "Grace"),
        # F is false for p2's row → Diff keeps μ1: ?k/?kn stay unbound
        (EX + "p2", "Grace", None, None),
    }


def test_nested_optional_nested_side_nullable(graph):
    # (late r4, formerly the last LeftJoin rejection) the join key ?kn
    # is nullable on the NESTED side — bound only inside the nested
    # group's own deeper OPTIONAL — so the nested LeftJoin takes the
    # TWO-sided compatible join: matched parent rows adopt ?q, the
    # rest are kept-μ1 with ?q unbound
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n ?k ?kn ?q WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:name ?n . ?k ex:name ?kn
        OPTIONAL { ?p ex:knows ?q OPTIONAL { ?q ex:name ?kn } } }
    }"""
    got = {
        (r.p, r.n, r.k, r.kn, r.q)
        for r in sparql_select(graph, q).collect()
    }
    # nested relation is {(p=p1, q=p2, kn=Grace)}; of the 2×2 parent
    # rows only (p1, Ada, k=p2, kn=Grace) is compatible on (p, kn)
    assert got == {
        (EX + "p1", "Ada", EX + "p1", "Ada", None),
        (EX + "p1", "Ada", EX + "p2", "Grace", EX + "p2"),
        (EX + "p2", "Grace", EX + "p1", "Ada", None),
        (EX + "p2", "Grace", EX + "p2", "Grace", None),
    }


def test_optional_two_sided_compat_join(graph, spark):
    # top-level two-sided compatible LEFT join (late r4, formerly
    # rejected): ?x nullable on the OUTER side (earlier OPTIONAL) and
    # on the GROUP side (its own nested OPTIONAL)
    rows = [
        ("u:a", "iri", EX + "q", "v1", "literal", None, None),
        ("u:b", "iri", EX + "q", "v2", "literal", None, None),
        ("u:a", "iri", EX + "k", "x1", "literal", None, None),
        ("u:a", "iri", EX + "m", "m1", "literal", None, None),
        ("u:b", "iri", EX + "m", "m2", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = f"""SELECT ?s ?v ?x ?m WHERE {{
      ?s <{EX}q> ?v
      OPTIONAL {{ ?s <{EX}k> ?x }}
      OPTIONAL {{ ?s <{EX}m> ?m OPTIONAL {{ ?s <{EX}k> ?x }} }}
    }}"""
    got = {(r.s, r.v, r.x, r.m) for r in sparql_select(g, q).collect()}
    # u:a: x bound both sides (x1 = x1) → merge; u:b: x unbound on
    # BOTH sides → compatible, stays unbound, takes ?m
    assert got == {
        ("u:a", "v1", "x1", "m1"),
        ("u:b", "v2", None, "m2"),
    }
    # kept-μ1 half: a graph where the group never matches the outer ?s
    rows2 = rows[:3] + [("u:c", "iri", EX + "m", "m9", "literal", None, None)]
    g2 = spark.createDataFrame(rows2, ", ".join(f"{c} string" for c in COLS))
    got2 = {(r.s, r.v, r.x, r.m) for r in sparql_select(g2, q).collect()}
    assert got2 == {
        ("u:a", "v1", "x1", None),
        ("u:b", "v2", None, None),
    }


def test_optional_two_sided_with_filter(graph):
    """(Late r4 session 2, formerly the last rejected LeftJoin form)
    cross-group filter × two-sided compatible LEFT join: ?q is
    nullable on BOTH sides (outer O1 and the group's own nested
    OPTIONAL) and the deferred F references outer ?n."""
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n ?q ?w WHERE {
      ?p a ex:Person . ?p ex:name ?n .
      OPTIONAL { ?p ex:knows ?q }
      OPTIONAL { ?p ex:note ?w OPTIONAL { ?p ex:knows ?q }
                 FILTER (STR(?w) != STR(?n)) }
    }"""
    got = {(r.p, r.n, r.q, r.w) for r in sparql_select(graph, q).collect()}
    assert got == {
        (EX + "p1", "Ada", EX + "p2", EX + "p2"),  # F true → joined
        (EX + "p2", "Grace", None, None),          # no group row
    }
    # F blocks p1's only match: the Diff half keeps the row with the
    # group's variables unbound (never drops it)
    q2 = q.replace("!=", "=")
    got2 = {(r.p, r.n, r.q, r.w) for r in sparql_select(graph, q2).collect()}
    assert got2 == {
        (EX + "p1", "Ada", EX + "p2", None),
        (EX + "p2", "Grace", None, None),
    }


def test_optional_inside_union_branch(graph):
    # (late r4, formerly rejected) a UNION branch carrying its own
    # OPTIONAL: the branch compiles as a group via the recursive
    # LeftJoin machinery; ?q is branch-nullable and union-nullable
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n ?q WHERE {
      { ?p ex:name ?n OPTIONAL { ?p ex:knows ?q } }
      UNION
      { ?p a ex:Person . ?p ex:note ?n }
    }"""
    got = sorted(
        (r.p, r.n, r.q) for r in sparql_select(graph, q).collect()
    )
    assert got == [
        (EX + "p1", "Ada", EX + "p2"),       # branch 1: OPTIONAL hit
        (EX + "p1", EX + "p2", None),        # branch 2: ?q unbound
        (EX + "p2", "Grace", None),          # branch 1: OPTIONAL miss
    ]
    # ...and a later join on the branch-OPTIONAL-nullable ?q takes the
    # compatible-join decomposition: the ?q-unbound rows adopt the
    # pattern's binding, the bound row equi-joins
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n ?q ?qn WHERE {
      { ?p ex:name ?n OPTIONAL { ?p ex:knows ?q } }
      UNION
      { ?p a ex:Person . ?p ex:note ?n }
      ?q ex:name ?qn
    }"""
    got2 = sorted(
        (r.p, r.n, r.q, r.qn) for r in sparql_select(graph, q2).collect()
    )
    assert got2 == sorted(
        [
            (EX + "p1", "Ada", EX + "p2", "Grace"),
            (EX + "p1", EX + "p2", EX + "p1", "Ada"),
            (EX + "p1", EX + "p2", EX + "p2", "Grace"),
            (EX + "p2", "Grace", EX + "p1", "Ada"),
            (EX + "p2", "Grace", EX + "p2", "Grace"),
        ]
    )


def test_optional_inside_union_branch_filter_scope(graph):
    # a branch filter referencing a variable bound only OUTSIDE the
    # branch evaluates with that variable UNBOUND (r5, formerly
    # rejected — SPARQL scopes branch filters to the branch): ?w
    # unbound → ?n != ?w errors → false → branch 1 empty, so only the
    # second branch's Person rows survive, NOT filtered by the outer ?w
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?z ex:note ?w .
      { ?p ex:name ?n OPTIONAL { ?p ex:knows ?q } FILTER (?n != ?w) }
      UNION
      { ?p a ex:Person }
    }"""
    got = sorted(r.p for r in sparql_select(graph, q).collect())
    assert got == [EX + "p1", EX + "p2"]


def test_nested_optional_textual_order_guard(graph):
    # a pattern following a deeper nested OPTIONAL that shares its
    # variable joins at its textual point at every level: the innermost
    # group binds ?kn = "Grace"@en, a literal, which no ?kn ex:note
    # subject matches, so that group is empty and both persons keep
    # their names with ?k unbound
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n ?k WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:name ?n
        OPTIONAL { ?p ex:knows ?k OPTIONAL { ?k ex:name ?kn } . ?kn ex:note ?z } }
    }"""
    got = sorted((r.p, r.n, r.k) for r in sparql_select(graph, q).collect())
    assert got == [(EX + "p1", "Ada", None), (EX + "p2", "Grace", None)]


def test_bind_textual_order_guard(graph):
    # BIND referencing a variable first bound by a LATER pattern is
    # rejected (ADVICE r3: the engine would otherwise hoist the BIND
    # past the pattern and silently see the later binding)
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?y WHERE { ?p a ex:Person . BIND(STRLEN(?n) AS ?y) . ?p ex:name ?n }"""
    with pytest.raises(SparqlError, match="textually later"):
        sparql_select(graph, q)
    # ...bound by a later OPTIONAL: same rejection
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?y WHERE { ?p a ex:Person . BIND(STRLEN(?n) AS ?y)
                      OPTIONAL { ?p ex:name ?n } }"""
    with pytest.raises(SparqlError, match="textually later"):
        sparql_select(graph, q2)
    # ...bound by a later BIND: same rejection
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?y WHERE { ?p ex:name ?n . BIND(STRLEN(?m) AS ?y) . BIND(UCASE(?n) AS ?m) }"""
    with pytest.raises(SparqlError, match="textually later"):
        sparql_select(graph, q3)
    # the legal orders still work: pattern → BIND → BIND-on-BIND
    q4 = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?y WHERE { ?p ex:name ?n . BIND(UCASE(?n) AS ?m) . BIND(STRLEN(?m) AS ?y) }"""
    got = {(r.p, r.y) for r in sparql_select(graph, q4).collect()}
    assert got == {(EX + "p1", "3"), (EX + "p2", "5")}


def test_arithmetic_survives_ansi_mode(graph):
    # sparql_select runs on the CALLER's session; under Spark 4's
    # default ansi.enabled=true a zero divisor must be a SPARQL type
    # error (row dropped / unbound), not a DIVIDE_BY_ZERO job failure
    spark = graph.sparkSession
    old = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        q = """PREFIX ex: <http://ex.org/>
        SELECT ?p WHERE { ?p ex:name ?n . FILTER (STRLEN(?n) / 0 = 1) }"""
        assert sparql_select(graph, q).count() == 0
        q2 = """PREFIX ex: <http://ex.org/>
        SELECT ?p ?v WHERE { ?p ex:name ?n . BIND(STRLEN(?n) / 0 AS ?v) }"""
        rows = sparql_select(graph, q2).collect()
        assert len(rows) == 2 and all(r.v is None for r in rows)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_alternation_predset_main_where(graph):
    # simple forward alternation compiles to ONE pred-IN scan (predset)
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?v WHERE { ?p (ex:name|ex:knows) ?v }"""
    got = {(r.p, r.v) for r in sparql_select(graph, q).collect()}
    assert got == {
        (EX + "p1", "Ada"), (EX + "p2", "Grace"), (EX + "p1", EX + "p2")
    }
    # duplicate IRI in the alternation: falls back to the UNION path
    # and preserves SPARQL's per-branch multiplicity (2 rows per match)
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?v WHERE { ?p (ex:name|ex:name) ?v }"""
    assert sparql_select(graph, q2).count() == 4


def test_alternation_inside_optional(graph):
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?v WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p (ex:knows|ex:note) ?v }
    }"""
    got = {(r.p, r.v) for r in sparql_select(graph, q).collect()}
    # p1 has knows(IRI p2) and note(literal "…p2"); p2 has neither
    assert got == {
        (EX + "p1", EX + "p2"), (EX + "p2", None),
    } or got == {
        (EX + "p1", EX + "p2"), (EX + "p1", EX + "p2"), (EX + "p2", None),
    }
    # both note and knows match p1 — OPTIONAL extends p1 twice, p2 null
    assert sparql_select(graph, q).count() == 3


def test_alternation_inside_union_branch_and_exists(graph):
    q = """PREFIX ex: <http://ex.org/>
    PREFIX dc: <http://purl.org/dc/elements/1.1/>
    SELECT ?s WHERE {
      { ?s (ex:name|ex:nick) ?v } UNION { ?s dc:source ?m }
    }"""
    got = sorted(r.s for r in sparql_select(graph, q).collect())
    assert got == sorted([EX + "p1", EX + "p2", EX + "m1", EX + "m2"])
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person .
      FILTER EXISTS { ?p (ex:knows|ex:nick) ?x }
    }"""
    assert [r.p for r in sparql_select(graph, q2).collect()] == [EX + "p1"]
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person .
      MINUS { ?p (ex:knows|ex:nick) ?x }
    }"""
    assert [r.p for r in sparql_select(graph, q3).collect()] == [EX + "p2"]


def test_complex_alternation_branches_inside_groups(graph):
    # alternation branches carrying sequences distribute into UNION
    # branches inside an OPTIONAL: knows/name reaches Grace via p2, the
    # name branch reaches Ada directly
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?v WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p (ex:knows/ex:name|ex:name) ?v }
    }"""
    got = {(r.p, r.v) for r in sparql_select(graph, q).collect()}
    assert got == {
        (EX + "p1", "Grace"), (EX + "p1", "Ada"), (EX + "p2", "Grace"),
    }
    # inverse branch inside an OPTIONAL: p2 is reached by ^knows
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?v WHERE {
      ?p a ex:Person . OPTIONAL { ?p (ex:nick|^ex:knows) ?v }
    }"""
    got2 = {(r.p, r.v) for r in sparql_select(graph, q2).collect()}
    assert got2 == {(EX + "p1", None), (EX + "p2", EX + "p1")}
    # closure branch inside a UNION group; second branch binds the
    # same endpoints through a different alternation
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?v WHERE {
      { ex:p1 (ex:knows+/ex:name|ex:note) ?v } UNION { ex:p1 ex:name ?v }
    }"""
    got3 = sorted(r.v for r in sparql_select(graph, q3).collect())
    assert got3 == ["Ada", "Grace", EX + "p2"]
    # ...and inside EXISTS/MINUS groups
    q4 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person . FILTER EXISTS { ?p (ex:knows/ex:name|ex:nick) ?x }
    }"""
    assert [r.p for r in sparql_select(graph, q4).collect()] == [EX + "p1"]
    q5 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person . MINUS { ?p (^ex:knows|ex:nick) ?x }
    }"""
    assert [r.p for r in sparql_select(graph, q5).collect()] == [EX + "p1"]


def test_exists_inside_optional_group(graph):
    # Filter(EXISTS(P), G) inside the OPTIONAL: group rows surviving
    # the semi-join extend; others leave the left side unextended
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:name ?n . FILTER EXISTS { ?p ex:knows ?q } }
    }"""
    got = {(r.p, r.n) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "Ada"), (EX + "p2", None)}
    # NOT EXISTS flips which row extends
    q2 = q.replace("FILTER EXISTS", "FILTER NOT EXISTS")
    got2 = {(r.p, r.n) for r in sparql_select(graph, q2).collect()}
    assert got2 == {(EX + "p1", None), (EX + "p2", "Grace")}


def test_exists_in_optional_via_group_internal_var(graph):
    # correlation through a variable the OPTIONAL group itself binds
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?q WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q . FILTER EXISTS { ?q ex:name ?qn } }
    }"""
    got = {(r.p, r.q) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", EX + "p2"), (EX + "p2", None)}


def test_exists_in_optional_rejections(graph):
    # uncorrelated EXISTS inside OPTIONAL = a constant over the group
    # (r4): notes exist, so the group is unaffected
    q_const = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:name ?n . FILTER EXISTS { ?x ex:note ?z } }
    }"""
    got_const = {(r.p, r.n) for r in sparql_select(graph, q_const).collect()}
    assert got_const == {(EX + "p1", "Ada"), (EX + "p2", "Grace")}
    # ...and a FALSE constant empties the group (names all unbound)
    q_false = q_const.replace("ex:note", "ex:missing")
    got_false = {(r.p, r.n) for r in sparql_select(graph, q_false).collect()}
    assert got_false == {(EX + "p1", None), (EX + "p2", None)}
    # EXISTS referencing a variable bound only OUTSIDE the OPTIONAL
    with pytest.raises(SparqlError, match="outside the group"):
        sparql_select(
            graph,
            """PREFIX ex: <http://ex.org/>
            SELECT ?p WHERE {
              ?p ex:name ?n .
              OPTIONAL { ?p ex:knows ?q . FILTER EXISTS { ?q ex:name ?n } }
            }""",
        )
    # EXISTS nested inside an EXISTS group compiles recursively (late
    # r4): persons with a name row whose subject also knows someone
    q_nested = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person .
      FILTER EXISTS { ?p ex:name ?n . FILTER EXISTS { ?p ex:knows ?q } }
    }"""
    assert [r.p for r in sparql_select(graph, q_nested).collect()] == [EX + "p1"]
    # ...and inside a boolean-expression EXISTS it compiles too
    # (late r4, formerly rejected): the || arm makes every row pass,
    # while flipping it to && keeps only the probe's hit
    q_bool = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person .
      FILTER (EXISTS { ?p ex:name ?n .
                       FILTER EXISTS { ?p ex:knows ?q } } || ?p = ?p)
    }"""
    assert {r.p for r in sparql_select(graph, q_bool).collect()} == {
        EX + "p1",
        EX + "p2",
    }
    q_and = q_bool.replace("|| ?p = ?p", "&& ?p = ?p")
    assert {r.p for r in sparql_select(graph, q_and).collect()} == {EX + "p1"}


def test_exists_in_boolean_expression_with_optional(graph):
    # (late r4) OPTIONAL inside a boolean-expression EXISTS probe:
    # the LeftJoin never changes the probe's key set, so the flag is
    # identical with or without the OPTIONAL
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person .
      FILTER (EXISTS { ?p ex:knows ?q OPTIONAL { ?q ex:name ?qn } }
              || STRSTARTS(STR(?p), "nope"))
    }"""
    assert [r.p for r in sparql_select(graph, q).collect()] == [EX + "p1"]
    # probe-OPTIONAL-nullable correlation key (late r4, formerly
    # rejected): with no top-level probe filter, existence is
    # independent of ?qn — the probe reduces to "?p knows something"
    # and the flag matches §18.6 substitution exactly
    qnull = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?qn WHERE {
      ?p a ex:Person . ?z ex:name ?qn .
      FILTER (EXISTS { ?p ex:knows ?q OPTIONAL { ?q ex:name ?qn } }
              || STRSTARTS(STR(?p), "nope"))
    }"""
    got = {(r.p, r.qn) for r in sparql_select(graph, qnull).collect()}
    assert got == {(EX + "p1", "Ada"), (EX + "p1", "Grace")}
    # ...but a top-level probe FILTER can consume the substituted key:
    # the rejection stands there
    qbad = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?qn WHERE {
      ?p a ex:Person . ?z ex:name ?qn .
      FILTER (EXISTS { ?p ex:knows ?q OPTIONAL { ?q ex:name ?qn }
                       FILTER (STRLEN(?qn) > 1) }
              || STRSTARTS(STR(?p), "nope"))
    }"""
    with pytest.raises(SparqlError, match="probe"):
        sparql_select(graph, qbad)


def test_exists_inside_minus_group(graph):
    # remove persons whose MINUS-side name row ALSO has a knows edge:
    # only p1 knows someone, so p1 is removed
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person .
      MINUS { ?p ex:name ?n . FILTER EXISTS { ?p ex:knows ?q } }
    }"""
    assert [r.p for r in sparql_select(graph, q).collect()] == [EX + "p2"]
    # NOT EXISTS flips it
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person .
      MINUS { ?p ex:name ?n . FILTER NOT EXISTS { ?p ex:knows ?q } }
    }"""
    assert [r.p for r in sparql_select(graph, q2).collect()] == [EX + "p1"]
    # an uncorrelated inner EXISTS is a constant (r4): ex:p9 knows
    # nobody, so the probe is FALSE, the MINUS group empties, and
    # nothing is removed
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person .
      MINUS { ?p ex:name ?n . FILTER EXISTS { ex:p9 ex:knows ?q } }
    }"""
    got3 = sorted(r.p for r in sparql_select(graph, q3).collect())
    assert got3 == [EX + "p1", EX + "p2"]


def test_exists_on_optional_nullable_variable(graph):
    # §18.6 substitution when the EXISTS shares a variable an OPTIONAL
    # may leave unbound (r4, _nullable_corr_filter): for p1 ?q = p2
    # (has a name → kept); for p2 ?q is UNBOUND, so the substituted
    # pattern { ?q ex:name ?qn } keeps its free variables and is
    # non-empty → kept too. An equi-semi-join would wrongly drop p2.
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?q WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q }
      FILTER EXISTS { ?q ex:name ?qn }
    }"""
    got = {(r.p, r.q) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", EX + "p2"), (EX + "p2", None)}
    # NOT EXISTS flips both slices: p1's match drops it, p2's
    # non-empty free-pattern probe drops it too
    q2 = q.replace("FILTER EXISTS", "FILTER NOT EXISTS")
    assert sparql_select(graph, q2).count() == 0
    # empty probe relation: bound slice keeps nothing under EXISTS,
    # everything under NOT EXISTS
    q3 = q.replace("ex:name ?qn", "ex:missing ?qn")
    assert sparql_select(graph, q3).count() == 0
    q4 = q3.replace("FILTER EXISTS", "FILTER NOT EXISTS")
    got4 = {(r.p, r.q) for r in sparql_select(graph, q4).collect()}
    assert got4 == {(EX + "p1", EX + "p2"), (EX + "p2", None)}


def test_exists_expression_on_nullable_variable(graph):
    # the boolean-expression EXISTS form over a possibly-unbound
    # variable (r4, _attach_nullable_flag): per-slice flag columns
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?q WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q }
      FILTER (EXISTS { ?q ex:name ?qn } || ?p = ex:p9)
    }"""
    got = {(r.p, r.q) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", EX + "p2"), (EX + "p2", None)}
    # empty probe → flag FALSE everywhere; the || arm saves nothing
    q2 = q.replace("ex:name ?qn", "ex:missing ?qn")
    assert sparql_select(graph, q2).count() == 0
    # NOT EXISTS inside the expression follows the same slicing
    q3 = q2.replace("EXISTS {", "NOT EXISTS {")
    got3 = {(r.p, r.q) for r in sparql_select(graph, q3).collect()}
    assert got3 == {(EX + "p1", EX + "p2"), (EX + "p2", None)}


def test_minus_on_optional_nullable_variable(graph):
    # §8.3 MINUS compatibility when the shared variable may be unbound
    # (r4): p1's ?q = p2 matches the right side → removed; p2's ?q is
    # unbound → dom(μ) ∩ dom(μ') = ∅ → MINUS keeps it by spec
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?q WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q }
      MINUS { ?q ex:name ?qn }
    }"""
    got = {(r.p, r.q) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p2", None)}
    # an empty right side removes nothing from either slice
    q2 = q.replace("ex:name ?qn", "ex:missing ?qn")
    got2 = {(r.p, r.q) for r in sparql_select(graph, q2).collect()}
    assert got2 == {(EX + "p1", EX + "p2"), (EX + "p2", None)}


def test_uncorrelated_statement_exists_is_constant(graph):
    # statement-level FILTER [NOT] EXISTS sharing no variable (r4):
    # evaluated once as a per-query constant
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person . FILTER EXISTS { ?x ex:note ?z } }"""
    assert sparql_select(graph, q).count() == 2
    q2 = q.replace("ex:note", "ex:missing")
    assert sparql_select(graph, q2).count() == 0
    q3 = q2.replace("FILTER EXISTS", "FILTER NOT EXISTS")
    assert sparql_select(graph, q3).count() == 2
    q4 = q.replace("FILTER EXISTS", "FILTER NOT EXISTS")
    assert sparql_select(graph, q4).count() == 0


def test_exists_inside_nested_optional(graph):
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n ?q WHERE {
      ?p a ex:Person .
      OPTIONAL {
        ?p ex:name ?n .
        OPTIONAL { ?p ex:knows ?q . FILTER EXISTS { ?q a ex:Person } }
      }
    }"""
    got = {(r.p, r.n, r.q) for r in sparql_select(graph, q).collect()}
    assert got == {
        (EX + "p1", "Ada", EX + "p2"),
        (EX + "p2", "Grace", None),
    }


def test_numeric_functions(numeric_graph):
    # ABS over arithmetic: |age - 10| <= 1 keeps 9, 10, 11
    q = (
        "PREFIX ex: <http://ex.org/> SELECT ?s "
        "WHERE { ?s ex:age ?n . FILTER (ABS(?n - 10) <= 1) }"
    )
    assert {r.s for r in sparql_select(numeric_graph, q).collect()} == {
        EX + "a", EX + "b", EX + "c"
    }
    # FLOOR/CEIL of a division pin the numeric branch; non-numeric and
    # IRI score rows are type errors → dropped
    q2 = (
        "PREFIX ex: <http://ex.org/> SELECT ?s "
        "WHERE { ?s ex:score ?n . FILTER (FLOOR(?n / 2) = 4) }"
    )
    assert {r.s for r in sparql_select(numeric_graph, q2).collect()} == {EX + "d"}
    q3 = (
        "PREFIX ex: <http://ex.org/> SELECT ?s "
        "WHERE { ?s ex:score ?n . FILTER (CEIL(?n / 2) = 6) }"
    )
    assert {r.s for r in sparql_select(numeric_graph, q3).collect()} == {EX + "e"}
    # ROUND in BIND: fn:round ties go toward +infinity, and the result
    # is a derived decimal in canonical lexical form
    q4 = (
        "PREFIX ex: <http://ex.org/> SELECT ?s ?r "
        "WHERE { ?s ex:age ?n . BIND (ROUND(0 - ?n / 2) AS ?r) }"
    )
    got = {(r.s, r.r) for r in sparql_select(numeric_graph, q4).collect()}
    # -9/2 = -4.5 → -4 (toward +inf); -10/2 = -5; -11/2 = -5.5 → -5
    assert got == {(EX + "a", "-4"), (EX + "b", "-5"), (EX + "c", "-5")}
    # ABS of a non-numeric binding is a type error → row dropped
    q5 = (
        "PREFIX ex: <http://ex.org/> SELECT ?s "
        "WHERE { ?s ex:score ?n . FILTER (ABS(?n) >= 0) }"
    )
    assert {r.s for r in sparql_select(numeric_graph, q5).collect()} == {
        EX + "d", EX + "e"
    }


def test_strlang_strdt(graph):
    XSD = "http://www.w3.org/2001/XMLSchema#"
    # STRLANG mints a lang-tagged literal from a simple literal
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?s ?l WHERE {
      ?s ex:name ?n . BIND (STRLANG(STR(?n), "fr") AS ?l)
      FILTER (lang(?l) = "fr")
    }"""
    got = {(r.s, r.l) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "Ada"), (EX + "p2", "Grace")}
    # STRDT types the lexical form; datatype() sees it
    q2 = f"""PREFIX ex: <http://ex.org/>
    SELECT ?s ?t WHERE {{
      ?s ex:name ?n . BIND (STRDT(STR(?n), <{XSD}token>) AS ?t)
      FILTER (datatype(?t) = <{XSD}token>)
    }}"""
    assert sparql_select(graph, q2).count() == 2
    # a lang-tagged first argument (without STR) is a type error →
    # unbound; p2's name is "Grace"@en, p1's is simple
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?s ?l WHERE { ?s ex:name ?n . BIND (STRLANG(?n, "de") AS ?l) }"""
    got3 = {(r.s, r.l) for r in sparql_select(graph, q3).collect()}
    assert got3 == {(EX + "p1", "Ada"), (EX + "p2", None)}


def test_select_reduced(graph):
    # REDUCED is answered as the distinct solution set (conformant:
    # §18.2.2.4 allows eliminating any duplicates)
    q = "PREFIX ex: <http://ex.org/> SELECT REDUCED ?t WHERE { ?s a ?t }"
    rows = [r.t for r in sparql_select(graph, q).collect()]
    assert rows == [EX + "Person"]


def test_exists_inside_union_branch(graph):
    # (r4) FILTER [NOT] EXISTS inside a UNION branch — per-branch
    # semi/anti join before the bag union
    q = """PREFIX ex: <http://ex.org/>
    PREFIX dc: <http://purl.org/dc/elements/1.1/>
    SELECT ?s WHERE {
      { ?s a ex:Person . FILTER EXISTS { ?s ex:knows ?o } }
      UNION { ?s dc:source ?m }
    }"""
    got = sorted(r.s for r in sparql_select(graph, q).collect())
    assert got == sorted([EX + "p1", EX + "m1", EX + "m2"])
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?s WHERE {
      { ?s a ex:Person . FILTER NOT EXISTS { ?s ex:knows ?o } }
      UNION { ?s ex:name "Ada" }
    }"""
    got2 = sorted(r.s for r in sparql_select(graph, q2).collect())
    assert got2 == sorted([EX + "p1", EX + "p2"])
    # an EXISTS sharing no variable with its branch is a constant
    # (r4): ex:p9 knows nobody → the first branch empties, the second
    # still contributes its name rows
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?s WHERE {
      { ?s a ex:Person . FILTER EXISTS { ex:p9 ex:knows ?o } }
      UNION { ?s ex:name ?n }
    }"""
    got3 = sorted(r.s for r in sparql_select(graph, q3).collect())
    assert got3 == sorted([EX + "p1", EX + "p2"])


def test_bind_inside_groups(graph, numeric_graph):
    # (r4) BIND inside an OPTIONAL group: evaluated over the group's
    # own solutions, visible to its filters, nullable outside
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?s ?u WHERE {
      ?s ex:age ?n0 . OPTIONAL { ?s ex:age ?a . BIND (?a + 1 AS ?u) }
    }"""
    got = {(r.s, r.u) for r in sparql_select(numeric_graph, q).collect()}
    assert got == {(EX + "a", "10"), (EX + "b", "11"), (EX + "c", "12")}
    # group filter sees the BIND target; non-matching rows keep the
    # OPTIONAL's NULL extension
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n2 WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:name ?n . BIND (UCASE(STR(?n)) AS ?n2)
                 FILTER (STRLEN(?n2) > 3) }
    }"""
    got2 = {(r.p, r.n2) for r in sparql_select(graph, q2).collect()}
    assert got2 == {(EX + "p1", None), (EX + "p2", "GRACE")}
    # BIND inside UNION branches binding DIFFERENT targets — padded
    # NULL and tracked nullable
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?x ?y WHERE {
      { ?p a ex:Person . BIND (1 + 1 AS ?x) }
      UNION { ?p ex:name ?n . BIND (STRLEN(STR(?n)) AS ?y) }
    }"""
    rows = sparql_select(graph, q3)
    assert rows.count() == 4 and set(rows.columns) == {"p", "x", "y"}
    # BIND inside MINUS feeding its filter
    q4 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person .
      MINUS { ?p ex:name ?n . BIND (lang(?n) AS ?l) FILTER (?l = "en") }
    }"""
    assert [r.p for r in sparql_select(graph, q4).collect()] == [EX + "p1"]
    # textual-order rule: BIND referencing a textually-later variable
    with pytest.raises(SparqlError, match="textually later"):
        sparql_select(
            graph,
            """PREFIX ex: <http://ex.org/>
            SELECT ?p WHERE {
              ?p a ex:Person . OPTIONAL { BIND (?n AS ?m) ?p ex:name ?n }
            }""",
        )
    # target colliding with an outer variable
    with pytest.raises(SparqlError, match="collides"):
        sparql_select(
            graph,
            """PREFIX ex: <http://ex.org/>
            SELECT ?p WHERE {
              ?p ex:name ?n . OPTIONAL { ?p a ex:Person . BIND (1 + 1 AS ?n) }
            }""",
        )


def test_order_by_expression_and_nonprojected(graph, numeric_graph):
    # DESC(STRLEN(?n)): "Grace" (5) before "Ada" (3)
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?n WHERE { ?p ex:name ?n } ORDER BY DESC(STRLEN(?n))"""
    assert [r.n for r in sparql_select(graph, q).collect()] == ["Grace", "Ada"]
    # bare bracketted arithmetic condition, numeric value order
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?s WHERE { ?s ex:age ?n } ORDER BY (0 - ?n)"""
    got = [r.s for r in sparql_select(numeric_graph, q2).collect()]
    assert got == [EX + "c", EX + "b", EX + "a"]  # ages 11, 10, 9
    # non-projected variable: sort by ?n, project only ?s (pre-projection
    # ordering per §18.2.5)
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?s WHERE { ?s ex:age ?n } ORDER BY DESC(?n)"""
    assert [r.s for r in sparql_select(numeric_graph, q3).collect()] == [
        EX + "c", EX + "b", EX + "a"
    ]
    # bare builtin-call condition
    q4 = """PREFIX ex: <http://ex.org/>
    SELECT ?n WHERE { ?p ex:name ?n } ORDER BY STRLEN(?n) ?n"""
    assert [r.n for r in sparql_select(graph, q4).collect()] == ["Ada", "Grace"]


def test_order_by_expression_guards(graph, numeric_graph):
    # DISTINCT restricts conditions to projected variables
    with pytest.raises(SparqlError):
        sparql_select(
            numeric_graph,
            "PREFIX ex: <http://ex.org/> SELECT DISTINCT ?s "
            "WHERE { ?s ex:age ?n } ORDER BY ?n",
        )
    # ...projected ones are fine, including in expressions
    q = """PREFIX ex: <http://ex.org/>
    SELECT DISTINCT ?n WHERE { ?s ex:age ?n } ORDER BY DESC(STRLEN(?n) + ?n)"""
    assert sparql_select(numeric_graph, q).count() == 3
    # never-bound variable still rejected
    with pytest.raises(SparqlError):
        sparql_select(graph, "SELECT ?s WHERE { ?s ?p ?o } ORDER BY STRLEN(?zzz)")
    # aggregates: expression conditions over aliases ride the
    # extended path (r4)
    q2 = (
        "SELECT ?t (COUNT(?s) AS ?c) WHERE { ?s a ?t } GROUP BY ?t "
        "ORDER BY (0 - ?c)"
    )
    assert [r.c for r in sparql_select(graph, q2).collect()] == [2]
    # ...but an out-of-scope variable in the condition is rejected
    with pytest.raises(SparqlError):
        sparql_select(
            graph,
            "SELECT ?t (COUNT(?s) AS ?c) WHERE { ?s a ?t . ?s ?p ?o } "
            "GROUP BY ?t ORDER BY (STRLEN(?o))",
        )


def test_select_expressions_over_aggregate_aliases(graph, numeric_graph):
    # §18.2.4.4: a SELECT expression may use earlier SELECT aliases —
    # including aggregate aliases, evaluated AFTER the aggregation
    q = """PREFIX ex: <http://ex.org/>
    SELECT (SUM(?n) AS ?s) (COUNT(?n) AS ?c) (?s / ?c AS ?mean)
    WHERE { ?x ex:age ?n }"""
    row = sparql_select(numeric_graph, q).collect()[0]
    assert float(row.s) == 30.0 and row.c == 3 and float(row.mean) == 10.0
    # grouped: expression over an aggregate alias, per group
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?t (COUNT(?s) AS ?c) (?c * 2 + 1 AS ?odd)
    WHERE { ?s a ?t } GROUP BY ?t"""
    rows = sparql_select(graph, q2).collect()
    assert [(r.t, r.c, float(r.odd)) for r in rows] == [(EX + "Person", 2, 5.0)]
    # expression over a GROUP KEY's term (string fn needs the key's
    # term columns, kept through the aggregation)
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?t (UCASE(STR(?t)) AS ?up) (COUNT(?s) AS ?c)
    WHERE { ?s a ?t } GROUP BY ?t"""
    r3 = sparql_select(graph, q3).collect()[0]
    assert r3.up == (EX + "Person").upper()
    # chaining: a later expression uses an earlier expression alias
    q4 = """PREFIX ex: <http://ex.org/>
    SELECT (COUNT(?s) AS ?c) (?c + 1 AS ?c1) (?c1 * 10 AS ?c10)
    WHERE { ?s a ?t }"""
    r4 = sparql_select(graph, q4).collect()[0]
    assert float(r4.c10) == 30.0
    # ORDER BY a computed alias still works (it is a projected column)
    q5 = """PREFIX ex: <http://ex.org/>
    SELECT ?n (COUNT(?s) AS ?c) (0 - ?n AS ?negn)
    WHERE { ?s ex:age ?n } GROUP BY ?n ORDER BY ?negn LIMIT 2"""
    assert [r.n for r in sparql_select(numeric_graph, q5).collect()] == ["11", "10"]


def test_select_expression_group_key_still_binds_pre_agg(numeric_graph):
    # an expression that IS the group key must bind before aggregation
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?sn (COUNT(?s) AS ?c) WHERE { ?s ex:age ?n }
    GROUP BY ?sn"""
    # ?sn never bound → error (sanity: GROUP BY checks still fire)
    with pytest.raises(SparqlError):
        sparql_select(numeric_graph, q)
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT (STR(?n) AS ?sn) (COUNT(?s) AS ?c) WHERE { ?s ex:age ?n }
    GROUP BY ?sn ORDER BY ?sn"""
    rows = sparql_select(numeric_graph, q2).collect()
    # value-aware ordering: numeric-parsing strings sort by VALUE
    assert [(r.sn, r.c) for r in rows] == [("9", 1), ("10", 1), ("11", 1)]


def test_select_expression_post_agg_guards(graph, numeric_graph):
    # referencing a WHERE variable that is neither group key nor alias
    with pytest.raises(SparqlError):
        sparql_select(
            numeric_graph,
            "PREFIX ex: <http://ex.org/> SELECT (COUNT(?s) AS ?c) "
            "(?n + 1 AS ?bad) WHERE { ?s ex:age ?n }",
        )
    # alias collision with an aggregate alias
    with pytest.raises(SparqlError):
        sparql_select(
            graph,
            "SELECT (COUNT(?s) AS ?c) (?c + 1 AS ?c) WHERE { ?s a ?t }",
        )
    # (r4) subqueries now COMPILE post-aggregation expressions through
    # the same channel as the main query; ?d rides out as a derived value
    df = sparql_select(
        graph,
        "SELECT ?t ?d WHERE { { SELECT ?t (COUNT(?s) AS ?c) (?c+1 AS ?d) "
        "WHERE { ?s a ?t } GROUP BY ?t } }",
    )
    for r in df.collect():
        assert int(r.d) >= 2  # every class here has >=1 instance


def test_raw_aggregates_in_having_select_order(graph, numeric_graph):
    # HAVING with a raw aggregate call (no alias needed) — §18.5
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?n WHERE { ?s ex:age ?n } GROUP BY ?n HAVING (COUNT(?s) >= 1)"""
    assert sparql_select(numeric_graph, q).count() == 3
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?n WHERE { ?s ex:age ?n } GROUP BY ?n HAVING (SUM(?n) > 10)"""
    assert [r.n for r in sparql_select(numeric_graph, q2).collect()] == ["11"]
    # raw aggregate INSIDE a SELECT expression: (SUM/COUNT AS mean)
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT (SUM(?n) / COUNT(?n) AS ?mean) WHERE { ?s ex:age ?n }"""
    assert float(sparql_select(numeric_graph, q3).collect()[0].mean) == 10.0
    # identical calls share one hoisted item; mixing with an explicit
    # alias works too
    q4 = """PREFIX ex: <http://ex.org/>
    SELECT (COUNT(?s) AS ?c) (COUNT(?s) + 1 AS ?c1)
    WHERE { ?s ex:age ?n }"""
    r4 = sparql_select(numeric_graph, q4).collect()[0]
    assert r4.c == 3 and float(r4.c1) == 4.0
    # ORDER BY a raw aggregate call
    q5 = """PREFIX ex: <http://ex.org/>
    SELECT ?t WHERE { ?s ?p ?t . FILTER isIRI(?t) } GROUP BY ?t
    ORDER BY DESC(COUNT(?s)) ?t LIMIT 2"""
    rows = sparql_select(graph, q5).collect()
    assert len(rows) == 2
    # global-group HAVING with a raw aggregate
    q6 = """PREFIX ex: <http://ex.org/>
    SELECT (MIN(?n) AS ?lo) WHERE { ?s ex:age ?n } HAVING (COUNT(?s) > 99)"""
    assert sparql_select(numeric_graph, q6).count() == 0


def test_aggregate_over_expressions(numeric_graph, graph):
    # SUM over an arithmetic expression — the TPC-H Q1 shape
    q = """PREFIX ex: <http://ex.org/>
    SELECT (SUM(?n * 2) AS ?tot) WHERE { ?s ex:age ?n }"""
    assert float(sparql_select(numeric_graph, q).collect()[0].tot) == 60.0
    # COUNT over an expression skips rows where it errors (non-numeric)
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT (COUNT(?o + 1) AS ?n) WHERE { ?s ex:score ?o }"""
    # scores: "9", "11", "lots", one IRI → 2 castable
    assert sparql_select(numeric_graph, q2).collect()[0].n == 2
    # MIN over a string expression
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT (MIN(UCASE(?nm)) AS ?lo) WHERE { ?p ex:name ?nm }"""
    assert sparql_select(graph, q3).collect()[0].lo == "ADA"
    # HAVING over an aggregate of an expression
    q4 = """PREFIX ex: <http://ex.org/>
    SELECT ?n WHERE { ?s ex:age ?n } GROUP BY ?n HAVING (SUM(?n * 2) > 20)"""
    assert [r.n for r in sparql_select(numeric_graph, q4).collect()] == ["11"]


def test_group_by_expression_key(numeric_graph):
    # GROUP BY (expr AS ?v): the key binds pre-aggregation
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?len (COUNT(?s) AS ?c) WHERE { ?s ex:age ?n }
    GROUP BY (STRLEN(STR(?n)) AS ?len) ORDER BY ?len"""
    rows = sparql_select(numeric_graph, q).collect()
    # ages "9" (len 1), "10" and "11" (len 2)
    assert [(r.len, r.c) for r in rows] == [("1", 1), ("2", 2)]
    # the key is projectable and usable in later expressions
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?parity (SUM(?n) AS ?tot) WHERE { ?s ex:age ?n }
    GROUP BY (FLOOR(?n / 2) * 2 - ?n + 1 AS ?parity) ORDER BY ?parity"""
    rows2 = sparql_select(numeric_graph, q2).collect()
    # 9, 11 odd (parity 0); 10 even (parity 1)
    assert [(r.parity, float(r.tot)) for r in rows2] == [("0", 20.0), ("1", 10.0)]


def test_regex_and_replace_flags(graph):
    # case-insensitive flag
    q = 'PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER regex(?n, "^ada$", "i") }'
    assert [r.n for r in sparql_select(graph, q).collect()] == ["Ada"]
    # no flags: case-sensitive, no match
    q2 = 'PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER regex(?n, "^ada$") }'
    assert sparql_select(graph, q2).count() == 0
    # q flag: metacharacters literal (the dot must not match "Ada")
    q3 = 'PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n . FILTER regex(?n, "A.a", "q") }'
    assert sparql_select(graph, q3).count() == 0
    # REPLACE with the i flag, lang tag preserved
    q4 = """PREFIX ex: <http://ex.org/>
    SELECT ?r WHERE { ?p ex:name ?n . FILTER (lang(?n) = "en")
      BIND (REPLACE(?n, "grace", "Hopper", "i") AS ?r) }"""
    assert [r.r for r in sparql_select(graph, q4).collect()] == ["Hopper"]
    # unknown flag is an error
    with pytest.raises(SparqlError):
        sparql_select(graph, 'SELECT ?n WHERE { ?p ?q ?n . FILTER regex(?n, "x", "z") }')


def test_exists_nested_in_exists(graph):
    # people who know someone who has a name: EXISTS { ?p ex:knows ?q
    # FILTER EXISTS { ?q ex:name ?qn } } — p1 knows p2, p2 has a name
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person .
      FILTER EXISTS { ?p ex:knows ?q . FILTER EXISTS { ?q ex:name ?qn } } }"""
    assert [r.p for r in sparql_select(graph, q).collect()] == [EX + "p1"]
    # inner NOT EXISTS: knows someone with NO note → p2 has no note
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person .
      FILTER EXISTS { ?p ex:knows ?q .
                      FILTER NOT EXISTS { ?q ex:note ?x } } }"""
    assert [r.p for r in sparql_select(graph, q2).collect()] == [EX + "p1"]
    # outer NOT EXISTS over a nested EXISTS probe
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person .
      FILTER NOT EXISTS { ?p ex:knows ?q .
                          FILTER EXISTS { ?q ex:name ?qn } } }"""
    assert [r.p for r in sparql_select(graph, q3).collect()] == [EX + "p2"]
    # three levels deep still compiles (p2's name exists)
    q4 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person .
      FILTER EXISTS { ?p ex:knows ?q .
        FILTER EXISTS { ?q a ex:Person .
          FILTER EXISTS { ?q ex:name ?qn } } } }"""
    assert [r.p for r in sparql_select(graph, q4).collect()] == [EX + "p1"]
    # an inner EXISTS correlating only with the OUTER query (skipping
    # its own group) is rejected, not mis-evaluated
    q5 = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n WHERE { ?p a ex:Person . ?p ex:name ?n .
      FILTER EXISTS { ?p ex:knows ?q .
                      FILTER EXISTS { ?z ex:note ?n } } }"""
    with pytest.raises(SparqlError):
        sparql_select(graph, q5)
    # an uncorrelated inner EXISTS is a constant (r4): names exist, so
    # the inner probe is TRUE and the outer EXISTS reduces to knows
    q6 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE { ?p a ex:Person .
      FILTER EXISTS { ?p ex:knows ?q . FILTER EXISTS { ?z ex:name ?w } } }"""
    assert [r.p for r in sparql_select(graph, q6).collect()] == [EX + "p1"]
    # ...and a FALSE inner constant empties the outer probe group
    q7 = q6.replace("ex:name ?w", "ex:missing ?w")
    assert sparql_select(graph, q7).count() == 0


def test_xsd_constructor_casts(spark):
    # §17.5 XPath constructor functions (late r4)
    XSD = "http://www.w3.org/2001/XMLSchema#"
    rows = [
        (EX + "a", "iri", EX + "v", "13", "literal", None, None),        # plain numeral
        (EX + "b", "iri", EX + "v", "13.7", "literal", None, XSD + "decimal"),
        (EX + "c", "iri", EX + "v", "-13.7", "literal", None, XSD + "decimal"),
        (EX + "d", "iri", EX + "v", "oops", "literal", None, None),      # not numeric
        (EX + "e", "iri", EX + "v", "2.5E1", "literal", None, None),     # exponent lexical
        (EX + "f", "iri", EX + "v", "true", "literal", None, XSD + "boolean"),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    P = "PREFIX ex: <http://ex.org/> PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    # integer: plain numeral casts; decimal TRUNCATES toward zero;
    # non-numeric lexicals and exponent forms are errors (unbound)
    q = P + "SELECT ?s ?i WHERE { ?s ex:v ?x . BIND(xsd:integer(?x) AS ?i) } ORDER BY ?s"
    got = [(r.s.split("/")[-1], r.i) for r in sparql_select(g, q).collect()]
    assert got == [
        ("a", "13"), ("b", "13"), ("c", "-13"), ("d", None), ("e", None),
        ("f", "1"),  # boolean true → 1 per XPath
    ]
    # the classic use: numeric FILTER over plain string numerals —
    # and xsd:integer(13.7^^decimal) TRUNCATES to 13, so b matches too
    q2 = P + "SELECT ?s WHERE { ?s ex:v ?x . FILTER (xsd:integer(?x) = 13) }"
    assert {r.s for r in sparql_select(g, q2).collect()} == {EX + "a", EX + "b"}
    # decimal from a plain numeral; exponent lexical rejected
    q3 = P + 'SELECT ?s WHERE { ?s ex:v ?x . FILTER (xsd:decimal(?x) = 13.7) }'
    assert {r.s for r in sparql_select(g, q3).collect()} == {EX + "b"}
    # double: exponent lexical IS in xs:double's space; canonical form
    q4 = P + "SELECT ?d WHERE { <http://ex.org/e> ex:v ?x . BIND(xsd:double(?x) AS ?d) }"
    assert [r.d for r in sparql_select(g, q4).collect()] == ["2.5E1"]
    # string: lexical form as typed xsd:string, incl. over arithmetic
    q5 = P + "SELECT ?t WHERE { <http://ex.org/a> ex:v ?x . BIND(xsd:string(xsd:integer(?x) + 1) AS ?t) }"
    assert [r.t for r in sparql_select(g, q5).collect()] == ["14"]
    # boolean: 1/0 and true/false lexicals; others error
    q6 = P + "SELECT ?s ?b WHERE { ?s ex:v ?x . BIND(xsd:boolean(?x) AS ?b) } ORDER BY ?s"
    got6 = [(r.s.split("/")[-1], r.b) for r in sparql_select(g, q6).collect()]
    assert got6 == [
        ("a", None),  # "13" not in xs:boolean's lexical space (untyped)
        ("b", "true"), ("c", "true"),  # numeric source: != 0 → true
        ("d", None), ("e", None), ("f", "true"),
    ]
    # unsupported constructor is a parse-time rejection
    with pytest.raises(SparqlError):
        sparql_select(g, P + "SELECT ?s WHERE { ?s ex:v ?x . FILTER (ex:foo(?x) = 1) }")


def test_xsd_datetime_cast(spark):
    XSD = "http://www.w3.org/2001/XMLSchema#"
    rows = [
        (EX + "a", "iri", EX + "v", "2024-03-07T09:15:30Z", "literal", None, None),
        (EX + "b", "iri", EX + "v", "not-a-date", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    P = "PREFIX ex: <http://ex.org/> PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    # cast then accessor: the derived literal is a REAL xsd:dateTime
    q = P + "SELECT ?s WHERE { ?s ex:v ?x . FILTER (YEAR(xsd:dateTime(?x)) = 2024) }"
    assert {r.s for r in sparql_select(g, q).collect()} == {EX + "a"}


def test_xsd_cast_exhaustive_differential(spark):
    """Every (source lexical+datatype) × (cast target) pair vs an
    independent Python implementation of the documented §17.5
    semantics — exhaustive, not sampled."""
    from decimal import Decimal, InvalidOperation
    import math
    import re

    XSD = "http://www.w3.org/2001/XMLSchema#"
    NUM = {XSD + t for t in (
        "integer", "decimal", "double", "float", "long", "int", "short",
        "byte", "nonNegativeInteger", "positiveInteger", "negativeInteger",
        "nonPositiveInteger", "unsignedLong", "unsignedInt",
        "unsignedShort", "unsignedByte")}
    sources = [
        ("13", None), ("13.7", XSD + "decimal"), ("-5", XSD + "integer"),
        ("2.5E1", None), ("2.5E1", XSD + "double"), ("true", XSD + "boolean"),
        ("false", XSD + "boolean"), ("oops", None), ("0", None),
        ("NaN", XSD + "double"), (".5", None), ("-0.25", XSD + "float"),
        ("007", None), ("1", XSD + "boolean"),
    ]
    rows = [
        (EX + f"s{i}", "iri", EX + "v", lex, "literal", None, dt)
        for i, (lex, dt) in enumerate(sources)
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    P = "PREFIX ex: <http://ex.org/> PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "

    def dec(lex):
        try:
            d = Decimal(lex)
        except InvalidOperation:
            return None
        return d if d.is_finite() else None  # NaN/Inf: not decimal-castable

    def naive(lex, dt, target):
        is_num = dt in NUM
        is_bool = dt == XSD + "boolean"
        if target == "string":
            return lex
        if target == "boolean":
            if is_num:
                if lex == "NaN":
                    return "false"
                n = dec(lex)
                return None if n is None else ("true" if n != 0 else "false")
            if lex in ("true", "1"):
                return "true"
            if lex in ("false", "0"):
                return "false"
            return None
        src = (
            {"true": "1", "1": "1", "false": "0", "0": "0"}.get(lex)
            if is_bool
            else lex
        )
        if is_bool and src is None:
            return None
        if target == "double":
            if src in ("INF", "-INF", "NaN"):
                return src
            try:
                f = float(src)
            except ValueError:
                return None
            return f  # compare as float
        n = dec(src)
        if target == "integer":
            if is_num or is_bool:
                return None if n is None else str(int(n))  # trunc toward 0
            return str(int(n)) if re.match(r"^[+-]?[0-9]+$", src) else None
        # decimal
        if is_num or is_bool:
            return None if n is None else n
        if re.match(r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)$", src):
            return n
        return None

    for target in ("string", "boolean", "integer", "decimal", "double"):
        q = P + (
            f"SELECT ?s ?c WHERE {{ ?s ex:v ?x . BIND(xsd:{target}(?x) AS ?c) }}"
        )
        got = {r.s: r.c for r in sparql_select(g, q).collect()}
        for i, (lex, dt) in enumerate(sources):
            want = naive(lex, dt, target)
            have = got[EX + f"s{i}"]
            if want is None:
                assert have is None, (target, lex, dt, have)
            elif target == "double":
                if isinstance(want, str):  # INF/-INF/NaN lexicals
                    assert have == want, (target, lex, dt, have, want)
                else:
                    assert have is not None and (
                        math.isclose(float(have), want, rel_tol=1e-12)
                    ), (target, lex, dt, have, want)
            elif target == "decimal":
                assert have is not None and dec(have) == want, (
                    target, lex, dt, have, want,
                )
            else:
                assert have == want, (target, lex, dt, have, want)


def test_base_declaration_resolves_relative_iris(graph):
    # (late r4) BASE resolves relative <iri>s per RFC 3986 — pattern
    # constants, prefixed-name expansion order, and path elements
    q = """BASE <http://ex.org/>
    SELECT ?n WHERE { <p1> <name> ?n }"""
    assert [r.n for r in sparql_select(graph, q).collect()] == ["Ada"]
    # BASE + PREFIX: a relative PREFIX iri resolves against the base
    q2 = """BASE <http://ex.org/x/>
    PREFIX e: <../>
    SELECT ?n WHERE { e:p1 e:name ?n }"""
    assert [r.n for r in sparql_select(graph, q2).collect()] == ["Ada"]
    # relative path elements resolve too
    q3 = """BASE <http://ex.org/>
    SELECT ?o WHERE { <p1> <knows>/<name> ?o }"""
    assert [r.o for r in sparql_select(graph, q3).collect()] == ["Grace"]
    # absolute IRIs pass through a BASE untouched
    q4 = """BASE <http://other.example/>
    SELECT ?n WHERE { <http://ex.org/p1> <http://ex.org/name> ?n }"""
    assert [r.n for r in sparql_select(graph, q4).collect()] == ["Ada"]


def test_iri_fn_resolves_against_base(graph):
    # §17.4.2.6 (late r4): IRI() of a relative string resolves against
    # the prologue BASE; absolute strings and IRI args pass through
    q = """BASE <http://ex.org/dir/>
    PREFIX ex: <http://ex.org/>
    SELECT ?u ?v ?w WHERE { ?p ex:name ?n . FILTER (?n = "Ada")
      BIND(IRI("leaf") AS ?u)
      BIND(IRI("/rooted") AS ?v)
      BIND(IRI("http://abs.example/x") AS ?w) }"""
    r = sparql_select(graph, q).collect()[0]
    assert r.u == "http://ex.org/dir/leaf"
    assert r.v == "http://ex.org/rooted"
    assert r.w == "http://abs.example/x"
    # without a BASE, relative strings mint as-is (unchanged behavior)
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?u WHERE { ?p ex:name ?n . FILTER (?n = "Ada") BIND(IRI("leaf") AS ?u) }"""
    assert sparql_select(graph, q2).collect()[0].u == "leaf"


def test_bind_before_late_pattern_sees_textual_state(graph):
    """Full r4 soundness fix: a BIND textually BEFORE a pattern that
    rebinds an OPTIONAL-nullable variable evaluates over the
    group-so-far — for p2, ?x is UNBOUND at the BIND (?y stays unbound
    per §10.1) even though the later pattern then binds ?x = p2. The
    pre-timeline engine hoisted the BIND after the late pattern and
    silently computed ?y from the rebound value."""
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?s ?x ?y WHERE {
      ?s a ex:Person .
      OPTIONAL { ?s ex:knows ?x }
      BIND(CONCAT("v:", STR(?x)) AS ?y)
      ?t ex:knows ?x .
    }"""
    got = sorted(
        ((r.s, r.x, r.y) for r in sparql_select(graph, q).collect()),
        key=lambda t: t[0],
    )
    assert got == [
        (EX + "p1", EX + "p2", "v:" + EX + "p2"),
        (EX + "p2", EX + "p2", None),
    ]


def test_subquery_after_optional_sharing_vars(graph):
    """Full r4 (formerly rejected): a { SELECT } after an OPTIONAL
    sharing its variable joins at its textual position — p1's bound
    ?q = p2 equi-joins, p2's UNBOUND ?q is compatible with every
    subquery row and takes its binding."""
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?q ?c WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q }
      { SELECT ?q (COUNT(?z) AS ?c) WHERE { ?q ex:name ?z } GROUP BY ?q }
    }"""
    got = sorted((r.p, r.q, int(r.c)) for r in sparql_select(graph, q).collect())
    assert got == [
        (EX + "p1", EX + "p2", 1),
        (EX + "p2", EX + "p1", 1),
        (EX + "p2", EX + "p2", 1),
    ]


def test_elements_after_minus_sharing_vars(graph):
    """Full r4 (formerly rejected): UNION and VALUES textually after a
    MINUS whose compatibility domain they share evaluate AFTER the anti
    join — Join(Minus(A,M),B) in textual order."""
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?n ?m WHERE {
      ?p a ex:Person .
      MINUS { ?p ex:knows ?q }
      { ?p ex:name ?n } UNION { ?p ex:knows ?m }
    }"""
    got = [(r.p, r.n, r.m) for r in sparql_select(graph, q).collect()]
    assert got == [(EX + "p2", "Grace", None)]
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person .
      MINUS { ?p ex:knows ?q }
      VALUES ?p { <http://ex.org/p1> <http://ex.org/p2> }
    }"""
    assert [r.p for r in sparql_select(graph, q2).collect()] == [EX + "p2"]


def test_minus_between_optional_and_rebinding_pattern(graph):
    """The MINUS anti join keys on the group state AT ITS TEXTUAL
    POINT: for p2 the OPTIONAL leaves ?q unbound, the MINUS's domain is
    disjoint there (row kept), and only THEN does the late pattern bind
    ?q — where a post-rebinding MINUS would have removed p2 too."""
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?q WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?q }
      MINUS { ?q ex:name ?n }
      ?t ex:knows ?q .
    }"""
    # p1: ?q = p2 bound -> MINUS right side binds ?q for p1's value
    # (p2 has a name) -> p1 removed. p2: ?q unbound -> disjoint -> kept;
    # late pattern then binds ?q = p2 (t = p1).
    got = [(r.p, r.q) for r in sparql_select(graph, q).collect()]
    assert got == [(EX + "p2", EX + "p2")]


def test_exists_probe_with_optional(graph, spark):
    # (late r4, formerly rejected) OPTIONAL inside an EXISTS probe:
    # LeftJoin never removes a probe solution, so the existence test
    # is identical with or without the OPTIONAL
    rows = [
        ("u:a", "iri", EX + "q", "v1", "literal", None, None),
        ("u:b", "iri", EX + "q", "v2", "literal", None, None),
        ("u:a", "iri", EX + "k", "x1", "literal", None, None),
        ("x1", "literal", EX + "n", "ada", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = f"""SELECT ?s ?v WHERE {{ ?s <{EX}q> ?v
      FILTER EXISTS {{ ?s <{EX}k> ?x OPTIONAL {{ ?x <{EX}n> ?n }} }} }}"""
    assert {(r.s, r.v) for r in sparql_select(g, q).collect()} == {("u:a", "v1")}
    qn = q.replace("FILTER EXISTS", "FILTER NOT EXISTS")
    assert {(r.s, r.v) for r in sparql_select(g, qn).collect()} == {("u:b", "v2")}
    # correlation through a key bound only inside the probe's OPTIONAL
    # (late r4, formerly rejected): no top-level probe filter →
    # existence is independent of ?n, the probe reduces to "?s has a
    # k row" — exactly what §18.6 substitution of (?s, ?n) computes
    qnull = f"""SELECT ?s ?v ?n WHERE {{ ?s <{EX}q> ?v . ?z <{EX}n> ?n
      FILTER EXISTS {{ ?s <{EX}k> ?x OPTIONAL {{ ?x <{EX}n> ?n }} }} }}"""
    got = {(r.s, r.v, r.n) for r in sparql_select(g, qnull).collect()}
    assert got == {("u:a", "v1", "ada")}
    # with a top-level probe filter the substituted key could remove
    # probe solutions — the rejection stands
    qbad = f"""SELECT ?s ?v ?n WHERE {{ ?s <{EX}q> ?v . ?z <{EX}n> ?n
      FILTER EXISTS {{ ?s <{EX}k> ?x OPTIONAL {{ ?x <{EX}n> ?n }}
                       FILTER (STRLEN(?n) > 0) }} }}"""
    with pytest.raises(SparqlError, match="probe"):
        sparql_select(g, qbad)


def test_minus_with_nested_optional(graph, spark):
    # (late r4, formerly rejected) nested OPTIONAL inside MINUS; the
    # shared key ?x is nullable on BOTH sides → two-sided §8.3 slices
    rows = [
        ("u:a", "iri", EX + "q", "v1", "literal", None, None),
        ("u:b", "iri", EX + "q", "v2", "literal", None, None),
        ("u:a", "iri", EX + "k", "x1", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    # clean shared key only: u:a has a p:k row → removed
    q = f"""SELECT ?s ?v WHERE {{ ?s <{EX}q> ?v
      MINUS {{ ?s <{EX}k> ?x OPTIONAL {{ ?x <{EX}n> ?n }} }} }}"""
    assert {(r.s, r.v) for r in sparql_select(g, q).collect()} == {("u:b", "v2")}
    # two-sided: ?x unbound on the outer side for u:b and on the MINUS
    # side for the m=u:b row; both outer rows find a §8.3-compatible
    # M row on a non-empty domain (s, v agree; unbound x drops out)
    q2 = f"""SELECT ?s ?v ?x WHERE {{ ?s <{EX}q> ?v
      OPTIONAL {{ ?s <{EX}k> ?x }}
      MINUS {{ ?m <{EX}q> "v1" OPTIONAL {{ ?m <{EX}k> ?x }} . ?s <{EX}q> ?v }} }}"""
    assert sparql_select(g, q2).count() == 0
    # ...and the disjoint-domain slice pair removes NOTHING: an M row
    # binding only ?x (unbound there) keeps the all-unbound outer row
    q3 = f"""SELECT ?s ?v ?x WHERE {{ ?s <{EX}q> ?v
      OPTIONAL {{ ?s <{EX}miss> ?x }}
      MINUS {{ ?m <{EX}q> "v1" OPTIONAL {{ ?m <{EX}k> ?x }} }} }}"""
    # shared = {x} only; outer x always unbound, M row has x=x1 bound →
    # overlap empty for the (unbound, bound) pair... and for the
    # (unbound, unbound) pair too → nothing removed
    got3 = {(r.s, r.v, r.x) for r in sparql_select(g, q3).collect()}
    assert got3 == {("u:a", "v1", None), ("u:b", "v2", None)}


def test_exists_probe_with_bind(graph):
    # (late r4) BIND inside an EXISTS probe: Extend never removes a
    # probe solution; the bind can feed the probe's own filter
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person .
      FILTER EXISTS { ?p ex:name ?n . BIND(STRLEN(?n) AS ?l)
                      FILTER (?l > 3) }
    }"""
    # "Grace" (5) passes, "Ada" (3) does not
    assert [r.p for r in sparql_select(graph, q).collect()] == [EX + "p2"]
    # a probe BIND target colliding with an outer variable is rejected
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?l WHERE {
      ?p a ex:Person . ?p ex:name ?l .
      FILTER EXISTS { ?p ex:name ?n . BIND(STRLEN(?n) AS ?l) }
    }"""
    with pytest.raises(SparqlError, match="collides"):
        sparql_select(graph, q2)


# ---------------------------------------------------------------------------
# boolean-valued BIND / projection expressions (§17.2 — late r4)


def test_bind_boolean_comparison_value(graph):
    """BIND(?x > n AS ?b) binds "true"/"false"^^xsd:boolean terms."""
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?big ?dt WHERE {
      ?p ex:name ?n .
      BIND(STRLEN(?n) > 3 AS ?big)
      BIND(datatype(?big) AS ?dt)
    }"""
    got = {(r.p, r.big, r.dt) for r in sparql_select(graph, q).collect()}
    xsd_bool = "http://www.w3.org/2001/XMLSchema#boolean"
    assert got == {
        (EX + "p1", "false", xsd_bool),   # Ada (3)
        (EX + "p2", "true", xsd_bool),    # Grace (5)
    }


def test_bind_boolean_error_is_unbound(graph):
    """A type-error inside a boolean BIND leaves the target unbound
    (row kept, §10.1) — unlike FILTER where the row would drop."""
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?b WHERE {
      ?p ex:knows ?o .
      BIND(?o > 5 AS ?b)
    }"""
    rows = sparql_select(graph, q).collect()
    assert [(r.p, r.b) for r in rows] == [(EX + "p1", None)]


def test_projection_expression_boolean(graph):
    """SELECT ((expr) AS ?b) — boolean projection expression."""
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ((STRLEN(?n) = 3) AS ?three) WHERE { ?p ex:name ?n }"""
    got = {(r.p, r.three) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "true"), (EX + "p2", "false")}


def test_bind_bare_exists(graph):
    """BIND(EXISTS { … } AS ?k): the probe flags each solution at the
    BIND's own timeline point."""
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?k WHERE {
      ?p a ex:Person .
      BIND(EXISTS { ?p ex:knows ?o } AS ?k)
    }"""
    got = {(r.p, r.k) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "true"), (EX + "p2", "false")}


def test_bind_if_with_exists_condition(graph):
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?lab WHERE {
      ?p a ex:Person .
      BIND(IF(NOT EXISTS { ?p ex:knows ?o }, "leaf", "hub") AS ?lab)
    }"""
    got = {(r.p, r.lab) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "hub"), (EX + "p2", "leaf")}


def test_bind_exists_probe_var_bound_later_is_probe_local(graph):
    """A probe variable a textually LATER pattern binds stays
    probe-LOCAL at the BIND's own evaluation point (§18.6 substitutes
    only dom(μ) of the group-so-far) — accepted, not reordered."""
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?k ?n WHERE {
      ?p a ex:Person .
      BIND(EXISTS { ?p ex:name ?n } AS ?k)
      ?p ex:name ?n
    }"""
    got = {(r.p, r.k, r.n) for r in sparql_select(graph, q).collect()}
    assert got == {
        (EX + "p1", "true", "Ada"),
        (EX + "p2", "true", "Grace"),
    }


def test_bind_exists_nullable_correlation(graph):
    """EXISTS in a BIND correlating through an OPTIONAL-nullable outer
    variable: the bound slice tests on the key, the unbound slice
    reduces to probe non-emptiness (§18.6 — substituting nothing
    leaves the pattern free)."""
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?k WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:knows ?o }
      BIND(EXISTS { ?o ex:name ?nm } AS ?k)
    }"""
    got = {(r.p, r.k) for r in sparql_select(graph, q).collect()}
    # p1: ?o = p2 which has a name → true.  p2: ?o unbound → the probe
    # pattern is fully free and the graph has name triples → true.
    assert got == {(EX + "p1", "true"), (EX + "p2", "true")}


def test_bind_exists_in_groups(graph):
    """(Late r4, formerly rejected) EXISTS inside group-local BINDs:
    the probe flags against the group's own solutions at the bind's
    textual point — bottom-up scoping, like group FILTER EXISTS."""
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?k WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:name ?nm .
                 BIND(EXISTS { ?p ex:knows ?o } AS ?k) }
    }"""
    got = {(r.p, r.k) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "true"), (EX + "p2", "false")}
    # UNION branches: bag semantics across branches
    q2 = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?k WHERE {
      { ?p ex:name ?nm . BIND(EXISTS { ?p ex:knows ?o } AS ?k) }
      UNION
      { ?p ex:knows ?q2 . BIND(NOT EXISTS { ?q2 ex:knows ?o } AS ?k) }
    }"""
    got2 = sorted((r.p, r.k) for r in sparql_select(graph, q2).collect())
    assert got2 == [
        (EX + "p1", "true"), (EX + "p1", "true"), (EX + "p2", "false"),
    ]
    # MINUS groups: the bound flag feeds the group filter before the
    # anti join
    q3 = """PREFIX ex: <http://ex.org/>
    SELECT ?p WHERE {
      ?p a ex:Person .
      MINUS { ?p ex:name ?nm . BIND(EXISTS { ?p ex:knows ?o } AS ?k)
              FILTER(?k) }
    }"""
    assert [r.p for r in sparql_select(graph, q3).collect()] == [EX + "p2"]


def test_bind_boolean_filtering_on_result(graph):
    """The minted xsd:boolean term participates in term-equality."""
    q = """PREFIX ex: <http://ex.org/>
    PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
    SELECT ?p WHERE {
      ?p a ex:Person .
      BIND(EXISTS { ?p ex:knows ?o } AS ?k)
      FILTER (?k = "true"^^xsd:boolean)
    }"""
    assert [r.p for r in sparql_select(graph, q).collect()] == [EX + "p1"]


def test_subquery_bind_boolean(graph):
    """Boolean BINDs (incl. EXISTS) inside { SELECT } subqueries run
    through the same timeline machinery."""
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?k WHERE {
      { SELECT ?p ?k WHERE {
          ?p a ex:Person .
          BIND(EXISTS { ?p ex:knows ?o } AS ?k)
      } }
      ?p ex:name ?n .
    }"""
    got = {(r.p, r.k) for r in sparql_select(graph, q).collect()}
    assert got == {(EX + "p1", "true"), (EX + "p2", "false")}


# ---------------------------------------------------------------------------
# §17.2.2 effective boolean value (late r4)


@pytest.fixture(scope="module")
def ebv_graph(spark):
    XSD = "http://www.w3.org/2001/XMLSchema#"
    rows = [
        (EX + "a", "iri", EX + "flag", "true", "literal", None, XSD + "boolean"),
        (EX + "b", "iri", EX + "flag", "false", "literal", None, XSD + "boolean"),
        # INVALID boolean lexical: EBV is false per spec, not an error
        (EX + "c", "iri", EX + "flag", "maybe", "literal", None, XSD + "boolean"),
        (EX + "d", "iri", EX + "num", "0", "literal", None, XSD + "int"),
        (EX + "e", "iri", EX + "num", "7", "literal", None, XSD + "int"),
        # INVALID numeric lexical: EBV false
        (EX + "f", "iri", EX + "num", "x", "literal", None, XSD + "int"),
        (EX + "g", "iri", EX + "s", "", "literal", None, None),
        (EX + "h", "iri", EX + "s", "hi", "literal", None, None),
        # IRI object: EBV is a TYPE ERROR -> row dropped
        (EX + "i", "iri", EX + "ref", EX + "a", "iri", None, None),
        (EX + "j", "iri", EX + "num", "INF", "literal", None, XSD + "double"),
        (EX + "h", "iri", EX + "greet", "bonjour", "literal", "fr", None),
    ]
    return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))


def test_ebv_boolean_lexical(ebv_graph):
    q = "SELECT ?s WHERE { ?s <http://ex.org/flag> ?v . FILTER(?v) }"
    assert sorted(r.s for r in sparql_select(ebv_graph, q).collect()) == [EX + "a"]
    # !EBV: false and invalid-lexical both negate to true
    q2 = "SELECT ?s WHERE { ?s <http://ex.org/flag> ?v . FILTER(!?v) }"
    assert sorted(r.s for r in sparql_select(ebv_graph, q2).collect()) == [
        EX + "b", EX + "c",
    ]


def test_ebv_numeric(ebv_graph):
    q = "SELECT ?s WHERE { ?s <http://ex.org/num> ?v . FILTER(?v) }"
    # 0 -> false, invalid "x" -> false, 7 and INF -> true
    assert sorted(r.s for r in sparql_select(ebv_graph, q).collect()) == [
        EX + "e", EX + "j",
    ]


def test_ebv_float_double_edges(spark):
    """r5 ADVICE (medium): §17.2.2 over the floating datatypes must use
    DOUBLE semantics, not decimal(38,12) — overflow ("1e30") and
    sub-1e-12 magnitudes ("1e-13") are non-zero → EBV true; "NaN" is
    false; ±INF is true ONLY for xsd:float/xsd:double, while "INF" with
    an integer/decimal datatype is an INVALID lexical → false."""
    XSD = "http://www.w3.org/2001/XMLSchema#"
    rows = [
        (EX + "big", "iri", EX + "v", "1e30", "literal", None, XSD + "double"),
        (EX + "tiny", "iri", EX + "v", "1e-13", "literal", None, XSD + "double"),
        (EX + "nan", "iri", EX + "v", "NaN", "literal", None, XSD + "double"),
        (EX + "zero", "iri", EX + "v", "0.0E0", "literal", None, XSD + "double"),
        (EX + "neginf", "iri", EX + "v", "-INF", "literal", None, XSD + "float"),
        (EX + "intinf", "iri", EX + "v", "INF", "literal", None, XSD + "integer"),
        (EX + "decinf", "iri", EX + "v", "-INF", "literal", None, XSD + "decimal"),
        (EX + "one", "iri", EX + "v", "1", "literal", None, XSD + "integer"),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = "SELECT ?s WHERE { ?s <http://ex.org/v> ?v . FILTER(?v) }"
    assert sorted(r.s for r in sparql_select(g, q).collect()) == sorted(
        [EX + "big", EX + "tiny", EX + "neginf", EX + "one"]
    )
    # the negation keeps exactly the EBV-false rows (no type errors here)
    q2 = "SELECT ?s WHERE { ?s <http://ex.org/v> ?v . FILTER(!?v) }"
    assert sorted(r.s for r in sparql_select(g, q2).collect()) == sorted(
        [EX + "nan", EX + "zero", EX + "intinf", EX + "decinf"]
    )


def test_ebv_string_and_lang(ebv_graph):
    q = "SELECT ?s WHERE { ?s <http://ex.org/s> ?v . FILTER(?v) }"
    assert [r.s for r in sparql_select(ebv_graph, q).collect()] == [EX + "h"]
    # lang-tagged literals are plain literals for EBV: length test
    q2 = "SELECT ?s WHERE { ?s <http://ex.org/greet> ?v . FILTER(?v) }"
    assert [r.s for r in sparql_select(ebv_graph, q2).collect()] == [EX + "h"]


def test_ebv_iri_is_type_error(ebv_graph):
    q = "SELECT ?s WHERE { ?s <http://ex.org/ref> ?v . FILTER(?v) }"
    assert sparql_select(ebv_graph, q).count() == 0
    # ...and !EBV(iri) is still an error -> dropped (not negated true)
    q2 = "SELECT ?s WHERE { ?s <http://ex.org/ref> ?v . FILTER(!?v) }"
    assert sparql_select(ebv_graph, q2).count() == 0


def test_ebv_in_connectives_and_if(ebv_graph):
    # error || true = true: the IRI row survives through the || short
    q = ("SELECT ?s WHERE { ?s <http://ex.org/ref> ?v . "
         "FILTER(?v || ?s = <http://ex.org/i>) }")
    assert [r.s for r in sparql_select(ebv_graph, q).collect()] == [EX + "i"]
    # IF over an EBV condition; invalid numeric -> false branch
    q2 = ('SELECT ?s ?lab WHERE { ?s <http://ex.org/num> ?v . '
          'BIND(IF(?v, "nz", "z") AS ?lab) }')
    got = {(r.s, r.lab) for r in sparql_select(ebv_graph, q2).collect()}
    assert got == {
        (EX + "d", "z"), (EX + "e", "nz"), (EX + "f", "z"), (EX + "j", "nz"),
    }


def test_ebv_arithmetic_operand(ebv_graph):
    # EBV of a derived numeric: ?v - 7 is 0 (false) for e, nonzero for
    # d; error rows (invalid lexical entering arithmetic) drop
    q = "SELECT ?s WHERE { ?s <http://ex.org/num> ?v . FILTER(?v - 7) }"
    assert [r.s for r in sparql_select(ebv_graph, q).collect()] == [EX + "d"]


def test_ebv_bind_boolean_value(ebv_graph):
    # (?v && ?v) as a BIND value: EBV feeds the boolean ladder, the
    # result minted as an xsd:boolean term; error -> unbound
    q = ('SELECT ?s ?b WHERE { ?s <http://ex.org/num> ?v . '
         'BIND((?v && ?v) AS ?b) }')
    got = {(r.s, r.b) for r in sparql_select(ebv_graph, q).collect()}
    assert got == {
        (EX + "d", "false"), (EX + "e", "true"),
        (EX + "f", "false"), (EX + "j", "true"),
    }


# ---------------------------------------------------------------------------
# §17.4 generator builtins: NOW / RAND / UUID / STRUUID / BNODE (late r4)


def test_now_same_instant_and_datetime(graph):
    import re

    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?t ?y WHERE {
      ?p ex:name ?n .
      BIND(NOW() AS ?t) BIND(NOW() AS ?t2)
      FILTER(?t = ?t2)
      BIND(YEAR(?t) AS ?y) BIND(datatype(?t) AS ?dt)
      FILTER(?dt = <http://www.w3.org/2001/XMLSchema#dateTime>)
    }"""
    rows = sparql_select(graph, q).collect()
    assert len(rows) == 2  # every row passes: one instant per query
    assert re.match(r"\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d\.\d{3}Z$", rows[0].t)
    assert int(rows[0].y) >= 2026


def test_uuid_struuid_shapes(graph):
    import re

    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?u ?su WHERE {
      ?p ex:name ?n .
      BIND(UUID() AS ?u) BIND(STRUUID() AS ?su)
      FILTER(isIRI(?u) && isLiteral(?su))
    }"""
    rows = sparql_select(graph, q).collect()
    assert len(rows) == 2
    assert all(r.u.startswith("urn:uuid:") for r in rows)
    assert len({r.u for r in rows}) == 2  # fresh per row
    assert all(re.match(r"[0-9a-f-]{36}$", r.su) for r in rows)


def test_rand_double_in_unit_interval(graph):
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?r WHERE {
      ?p ex:name ?n .
      BIND(RAND() AS ?r)
      FILTER(?r >= 0 && ?r < 1)
      FILTER(datatype(?r) = <http://www.w3.org/2001/XMLSchema#double>)
    }"""
    assert sparql_select(graph, q).count() == 2


def test_bnode_fresh_and_keyed(graph):
    # BNODE(): fresh blank node per row; BNODE("x"): same label for
    # the same simple-literal argument within one query; a
    # lang-tagged argument is a type error -> unbound
    q = """PREFIX ex: <http://ex.org/>
    SELECT ?p ?b ?k1 ?k2 ?bl WHERE {
      ?p ex:name ?n .
      BIND(BNODE() AS ?b) BIND(BNODE("x") AS ?k1) BIND(BNODE("x") AS ?k2)
      BIND(BNODE(?n) AS ?bl)
      FILTER(isBlank(?b) && isBlank(?k1))
    }"""
    rows = sparql_select(graph, q).collect()
    assert len(rows) == 2
    assert len({r.b for r in rows}) == 2          # fresh per row
    assert all(r.k1 == r.k2 for r in rows)        # keyed: same arg, same bnode
    by_p = {r.p: r for r in rows}
    assert by_p[EX + "p1"].bl is not None         # "Ada" is simple
    assert by_p[EX + "p2"].bl is None             # "Grace"@en -> type error


def test_group_exists_probe_nullable_key_refinement(graph, spark):
    """EXISTS inside an OPTIONAL group whose probe OPTIONAL binds a
    group variable: no top-level probe filter → the nullable key
    leaves the correlation (existence independent), with a probe
    filter → still rejected (_apply_group_exists site)."""
    rows = [
        ("u:a", "iri", EX + "q", "v1", "literal", None, None),
        ("u:b", "iri", EX + "q", "v2", "literal", None, None),
        ("u:a", "iri", EX + "k", "x1", "literal", None, None),
        ("u:a", "iri", EX + "m", "m1", "literal", None, None),
        ("u:b", "iri", EX + "m", "m2", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = f"""SELECT ?s ?v ?m WHERE {{ ?s <{EX}q> ?v
      OPTIONAL {{ ?s <{EX}m> ?m
                  FILTER EXISTS {{ ?s <{EX}k> ?x
                                   OPTIONAL {{ ?y <{EX}q> ?m }} }} }} }}"""
    # probe existence = "?s has a k row": u:a yes (keeps m1), u:b no
    # (its OPTIONAL row is filtered away -> m unbound)
    got = {(r.s, r.v, r.m) for r in sparql_select(g, q).collect()}
    assert got == {("u:a", "v1", "m1"), ("u:b", "v2", None)}
    qbad = f"""SELECT ?s ?v ?m WHERE {{ ?s <{EX}q> ?v
      OPTIONAL {{ ?s <{EX}m> ?m
                  FILTER EXISTS {{ ?s <{EX}k> ?x
                                   OPTIONAL {{ ?y <{EX}q> ?m }}
                                   FILTER (STRLEN(?m) > 0) }} }} }}"""
    with pytest.raises(SparqlError, match="probe"):
        sparql_select(g, qbad)


def test_construct_where_shorthand(graph):
    """§10.2.3 CONSTRUCT WHERE { BGP }: the pattern doubles as the
    template; solution-join semantics and term components carry."""
    from r2rml_parser_spark.plans.sparql import sparql_construct

    q = """PREFIX ex: <http://ex.org/>
    CONSTRUCT WHERE { ?s ex:name ?n . ?s ex:knows ?o }"""
    got = {(r.subj, r.pred, r.obj, r.lang) for r in
           sparql_construct(graph, q).collect()}
    # only p1 has both name and knows
    assert got == {
        (EX + "p1", EX + "name", "Ada", None),
        (EX + "p1", EX + "knows", EX + "p2", None),
    }
    # lang tags survive the round trip
    q2 = "PREFIX ex: <http://ex.org/> CONSTRUCT WHERE { ?s ex:name ?n }"
    langs = {(r.obj, r.lang) for r in sparql_construct(graph, q2).collect()}
    assert langs == {("Ada", None), ("Grace", "en")}
    # the shorthand is BGP-only
    for bad in (
        "PREFIX ex: <http://ex.org/> CONSTRUCT WHERE { ?s ex:name ?n FILTER(?n) }",
        "PREFIX ex: <http://ex.org/> CONSTRUCT WHERE { ?s ex:name ?n OPTIONAL { ?s ex:knows ?o } }",
        "PREFIX ex: <http://ex.org/> CONSTRUCT WHERE { ?s ex:knows+ ?o }",
    ):
        with pytest.raises(SparqlError):
            sparql_construct(graph, bad)


def test_subquery_order_nonprojected_topk(spark):
    """§18.2.5 inside { SELECT } (late r4, formerly rejected): ORDER BY
    evaluates over the WHERE relation BEFORE projection, so a
    non-projected variable sorts — the top-k subquery idiom."""
    from r2rml_parser_spark.plans.sparql import sparql_select as sq

    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        (EX + "a", "iri", EX + "score", "3", "literal", None, XSD_INT),
        (EX + "b", "iri", EX + "score", "9", "literal", None, XSD_INT),
        (EX + "c", "iri", EX + "score", "5", "literal", None, XSD_INT),
        (EX + "a", "iri", EX + "nm", "A", "literal", None, None),
        (EX + "b", "iri", EX + "nm", "B", "literal", None, None),
        (EX + "c", "iri", EX + "nm", "C", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = """SELECT ?s ?n WHERE {
      { SELECT ?s WHERE { ?s <http://ex.org/score> ?v }
        ORDER BY DESC(?v) LIMIT 2 }
      ?s <http://ex.org/nm> ?n }"""
    got = sorted((r.s, r.n) for r in sq(g, q).collect())
    assert got == [(EX + "b", "B"), (EX + "c", "C")]
    # OFFSET composes: the middle score only
    q2 = """SELECT ?s WHERE {
      { SELECT ?s WHERE { ?s <http://ex.org/score> ?v }
        ORDER BY ?v OFFSET 1 LIMIT 1 } }"""
    assert [r.s for r in sq(g, q2).collect()] == [EX + "c"]
    # DISTINCT keeps the spec's own projected-only restriction
    q3 = """SELECT ?s WHERE {
      { SELECT DISTINCT ?s WHERE { ?s <http://ex.org/score> ?v }
        ORDER BY DESC(?v) LIMIT 1 } }"""
    with pytest.raises(SparqlError, match="projected"):
        sq(g, q3)
    # never-bound order variables still rejected
    q4 = """SELECT ?s WHERE {
      { SELECT ?s WHERE { ?s <http://ex.org/score> ?v }
        ORDER BY DESC(?zz) LIMIT 1 } }"""
    with pytest.raises(SparqlError, match="never bound"):
        sq(g, q4)


def test_subquery_order_expression(spark):
    """ORDER BY expressions inside subqueries (plain-projection path,
    late r4): DESC(STRLEN(?n)) over a non-projected variable."""
    from r2rml_parser_spark.plans.sparql import sparql_select as sq

    rows = [
        (EX + "a", "iri", EX + "nm", "Al", "literal", None, None),
        (EX + "b", "iri", EX + "nm", "Beatrice", "literal", None, None),
        (EX + "c", "iri", EX + "nm", "Cyn", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = """SELECT ?s WHERE {
      { SELECT ?s WHERE { ?s <http://ex.org/nm> ?n }
        ORDER BY DESC(STRLEN(?n)) LIMIT 1 } }"""
    assert [r.s for r in sq(g, q).collect()] == [EX + "b"]
    q2 = q.replace("DESC(STRLEN(?n))", "STRLEN(?n)")
    assert [r.s for r in sq(g, q2).collect()] == [EX + "a"]


def test_two_sided_leftjoin_with_crossgroup_filter(spark):
    """The LAST formerly-rejected LeftJoin form (late r4 session 2):
    a cross-group OPTIONAL filter composing with the TWO-SIDED
    compatible LEFT join (shared key nullable on the group side).
    F filters the Join half over the merged solution and rides the
    Diff anti joins, so an F-blocked match KEEPS μ1 with the group
    unbound (never drops it)."""
    rows = [
        ("u:a", "iri", EX + "q", "v1", "literal", None, None),
        ("u:b", "iri", EX + "q", "v2", "literal", None, None),
        ("u:a", "iri", EX + "k", "x1", "literal", None, None),
        ("x1", "literal", EX + "n", "ada", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    base = f"""SELECT ?s ?v ?w ?x WHERE {{ ?s <{EX}q> ?v . ?zz <{EX}n> ?w
      OPTIONAL {{ ?s <{EX}k> ?x OPTIONAL {{ ?x <{EX}n> ?w }}
                  FILTER(COND) }} }}"""
    # F true everywhere: u:a joins (w agrees through the group's own
    # nested OPTIONAL), u:b passes through unbound
    q = base.replace("COND", '?v != "no"')
    got = {(r.s, r.v, r.w, r.x) for r in sparql_select(g, q).collect()}
    assert got == {("u:a", "v1", "ada", "x1"), ("u:b", "v2", "ada", None)}
    # F blocks u:a's only match: the Diff half KEEPS the row unbound
    q2 = base.replace("COND", '?v != "v1"')
    got2 = {(r.s, r.v, r.w, r.x) for r in sparql_select(g, q2).collect()}
    assert got2 == {("u:a", "v1", "ada", None), ("u:b", "v2", "ada", None)}
    # F referencing the group-nullable shared key itself: the
    # slice-wise rename resolves it to the merged binding
    q3 = base.replace("COND", '?w = "ada" && ?v != "no"')
    got3 = {(r.s, r.v, r.w, r.x) for r in sparql_select(g, q3).collect()}
    assert got3 == {("u:a", "v1", "ada", "x1"), ("u:b", "v2", "ada", None)}


def test_having_ebv(spark):
    """HAVING(?alias) takes the §17.2.2 effective boolean value of the
    projected alias (late r4): a zero SUM drops its group; composes
    with raw aggregates through ||."""
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        (EX + "a", "iri", EX + "v", "1", "literal", None, XSD_INT),
        (EX + "a", "iri", EX + "v", "-1", "literal", None, XSD_INT),
        (EX + "b", "iri", EX + "v", "5", "literal", None, XSD_INT),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = """SELECT ?s (SUM(?v) AS ?t) WHERE { ?s <http://ex.org/v> ?v }
    GROUP BY ?s HAVING(?t)"""
    assert [r.s for r in sparql_select(g, q).collect()] == [EX + "b"]
    q2 = """SELECT ?s (SUM(?v) AS ?t) WHERE { ?s <http://ex.org/v> ?v }
    GROUP BY ?s HAVING(?t || COUNT(?v) > 1)"""
    assert sorted(r.s for r in sparql_select(g, q2).collect()) == [
        EX + "a", EX + "b",
    ]
    # unprojected variable still rejected
    q3 = """SELECT ?s (SUM(?v) AS ?t) WHERE { ?s <http://ex.org/v> ?v }
    GROUP BY ?s HAVING(?zz)"""
    with pytest.raises(SparqlError, match="projected"):
        sparql_select(g, q3)


def test_having_ebv_group_key_term_aware(spark):
    """r5 ADVICE: HAVING(?key) on a GROUP-BY key dispatches on the
    key's TERM type — a plain-literal "0" is EBV-true (non-empty
    string per §17.2.2), a numeric-typed "0" is false, and an IRI key
    is a type error → group dropped."""
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        # plain-literal keys: "0" (non-empty -> TRUE) and "" (FALSE)
        (EX + "a", "iri", EX + "k", "0", "literal", None, None),
        (EX + "b", "iri", EX + "k", "", "literal", None, None),
        # numeric-typed keys: "0" (FALSE) and "2" (TRUE)
        (EX + "c", "iri", EX + "k", "0", "literal", None, XSD_INT),
        (EX + "d", "iri", EX + "k", "2", "literal", None, XSD_INT),
        # IRI-valued key: EBV type error -> dropped
        (EX + "e", "iri", EX + "k", EX + "x", "iri", None, None),
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = """SELECT ?v (COUNT(?s) AS ?n) WHERE { ?s <http://ex.org/k> ?v }
    GROUP BY ?v HAVING(?v)"""
    got = {(r.v, r.n) for r in sparql_select(g, q).collect()}
    assert got == {("0", 1), ("2", 1)}
    # ...and the surviving plain "0" is the UNTYPED one: check via the
    # hidden-agg branch too (raw COUNT in HAVING forces keep_term_keys)
    q2 = """SELECT ?v (COUNT(?s) AS ?n) WHERE { ?s <http://ex.org/k> ?v }
    GROUP BY ?v HAVING(?v && COUNT(?s) > 0)"""
    got2 = {(r.v, r.n) for r in sparql_select(g, q2).collect()}
    assert got2 == {("0", 1), ("2", 1)}


# ---------------------------------------------------------------------------
# p{n,m} bounded path quantifier (r5)


def test_path_range_exact_and_bounded(chain_graph):
    """{n} and {n,m} desugar to the alternation of fixed sequences."""
    q = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:a ex:next{2} ?o }"
    assert [r.o for r in sparql_select(chain_graph, q).collect()] == [EX + "c"]
    q2 = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:a ex:next{1,3} ?o }"
    assert sorted(r.o for r in sparql_select(chain_graph, q2).collect()) == [
        EX + "b", EX + "c", EX + "d",
    ]


def test_path_range_unbounded(chain_graph):
    """{n,} = n mandatory steps chained into the * closure."""
    q = "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:a ex:next{2,} ?o }"
    assert sorted(r.o for r in sparql_select(chain_graph, q).collect()) == [
        EX + "c", EX + "d",
    ]


def test_path_range_over_group_and_inverse(chain_graph):
    """Quantifiers compose with parenthesized groups and inverse
    elements like any other path primary."""
    q = ("PREFIX ex: <http://ex.org/> "
         "SELECT ?o WHERE { ex:a (ex:next/ex:next){1,2} ?o }")
    # 2 steps -> c, 4 steps -> nothing (chain ends at d + label leaf)
    assert [r.o for r in sparql_select(chain_graph, q).collect()] == [EX + "c"]
    q2 = ("PREFIX ex: <http://ex.org/> "
          "SELECT ?s WHERE { ex:d ^ex:next{2} ?s }")
    assert [r.s for r in sparql_select(chain_graph, q2).collect()] == [EX + "b"]


def test_path_range_in_sequence(chain_graph):
    """A quantified element inside a longer sequence chains through
    the fresh internal variables like any element."""
    q = ("PREFIX ex: <http://ex.org/> "
         "SELECT ?l WHERE { ex:a ex:next{1,3}/ex:label ?l }")
    assert [r.l for r in sparql_select(chain_graph, q).collect()] == ["leaf"]


def test_path_range_rejections(chain_graph):
    for bad, msg in [
        ("ex:next{0,2}", "zero-repetition"),
        ("ex:next{3,2}", "upper bound"),
        ("ex:next{1,99}", "plan-size"),
        ("ex:next{}", "integer"),
        ("ex:next{1,2", "'}'"),
    ]:
        with pytest.raises(SparqlError):
            sparql_select(
                chain_graph,
                f"PREFIX ex: <http://ex.org/> SELECT ?o WHERE {{ ex:a {bad} ?o }}",
            )


def test_class_slice_hint_only_where_it_can_build(graph):
    """A lone ``?x rdf:type <C>`` slice is broadcast-hinted only where
    Spark can build it: not as the preserved left side of the
    OPTIONAL / NOT EXISTS / MINUS join (Spark drops that hint with a
    warning), but still as an input of an inner join."""
    import re

    def plan(q):
        df = sparql_select(graph, "PREFIX ex: <http://ex.org/> " + q)
        return df._jdf.queryExecution().optimizedPlan().toString().splitlines()

    for q in (
        "SELECT ?p ?q WHERE { ?p a ex:Person OPTIONAL { ?p ex:knows ?q } }",
        "SELECT ?p WHERE { ?p a ex:Person FILTER NOT EXISTS { ?p ex:knows ?q } }",
        "SELECT ?p WHERE { ?p a ex:Person MINUS { ?p ex:knows ?q } }",
    ):
        preserved = [
            ln for ln in plan(q) if re.search(r"Join (LeftOuter|LeftAnti|LeftSemi)", ln)
        ]
        assert preserved, q
        assert not any("leftHint=(strategy=broadcast)" in ln for ln in preserved), q
    inner = plan("SELECT ?p ?n WHERE { ?p a ex:Person . ?p ex:name ?n }")
    assert any(
        "Join Inner" in ln and "leftHint=(strategy=broadcast)" in ln for ln in inner
    )
