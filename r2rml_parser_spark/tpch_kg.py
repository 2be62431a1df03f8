"""Relational-source KG mapping over the TPC-H-ish driver tables, and the
driver's TPC-H cases.

The mapping exercises the full relational operator surface at once
(templates, classes, typed literals, multi-predicate fan-out, constants,
ref-object equi-join J1, template-to-template links, cross-map dedup A1)
over customer/nation — the shape of the reference's production DSpace
mappings (dspace/epersons-mapping.rdf: person/group subjects + FK link
templates).

``CASES`` holds every driver query over these tables as data: the graph
it runs on, its SPARQL text and its DuckDB oracle, keyed by the driver
name. ``run_case`` evaluates any of them — the way the reference keeps
its W3C cases in one map and runs them through one harness
(ComplianceTests.java:50-113).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from r2rml_parser_spark.mapping.parse import parse_mapping_document
from r2rml_parser_spark.operators.negatives import (
    negative_samples,
    negative_samples_oracle_sql,
)
from r2rml_parser_spark.operators.pagerank import (
    kg_entity_edges,
    pagerank,
    pagerank_oracle_sql,
)
from r2rml_parser_spark.plans.engine import MappingEngine

KG = "http://kg.example"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"

TPCH_MAPPING_TTL = f"""
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <{KG}/ontology#> .

<#CustomerMap> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "customer" ];
  rr:subjectMap [ rr:template "{KG}/customer/{{c_custkey}}"; rr:class ex:Customer ];
  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "c_name" ] ];
  rr:predicateObjectMap [ rr:predicate ex:custkey; rr:objectMap [ rr:column "c_custkey" ] ];
  rr:predicateObjectMap [ rr:predicate ex:segment; rr:predicate ex:marketSegment;
                          rr:objectMap [ rr:column "c_mktsegment" ] ];
  rr:predicateObjectMap [ rr:predicate ex:sourceSystem; rr:object <{KG}/system/tpch> ];
  rr:predicateObjectMap [ rr:predicate ex:inNation;
    rr:objectMap [ a rr:RefObjectMap; rr:parentTriplesMap <#NationMap>;
                   rr:joinCondition [ rr:child "c_nationkey"; rr:parent "n_nationkey" ] ] ] .

<#NationMap> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "nation" ];
  rr:subjectMap [ rr:template "{KG}/nation/{{n_nationkey}}"; rr:class ex:Nation ];
  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "n_name" ] ];
  rr:predicateObjectMap [ rr:predicate ex:inRegion;
    rr:objectMap [ rr:template "{KG}/region/{{n_regionkey}}" ] ] .
"""


def build_tpch_kg(spark: SparkSession, sf_dir: str, lineage: bool = False) -> DataFrame:
    sources = {
        "customer": spark.read.parquet(f"{sf_dir}/customer.parquet"),
        "nation": spark.read.parquet(f"{sf_dir}/nation.parquet"),
    }
    doc = parse_mapping_document(TPCH_MAPPING_TTL)
    engine = MappingEngine(spark, doc, sources=sources, base_ns=KG)
    engine.register_sources()
    return engine.triples(lineage=lineage)


RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
ONT = f"{KG}/ontology#"


def _decimal_cols_as_strings(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Render decimal(38,12) aggregate columns as fixed-scale-12 strings.

    The driver hash compares pandas-materialized values: Spark decimals
    arrive as ``decimal.Decimal`` objects while DuckDB's DECIMAL/HUGEINT
    collapse to float64, so bit-identical values hash differently. Both
    sides therefore project decimal aggregates through the same textual
    rendering (Spark ``CAST(... AS STRING)`` of decimal(38,12) ==
    DuckDB ``CAST(... AS VARCHAR)`` of DECIMAL(38,12): fixed 12-digit
    scale, no exponent). Bigint aggregates (COUNT) stay typed — int64
    round-trips identically on both sides."""
    from pyspark.sql import functions as F

    for c in cols:
        df = df.withColumn(c, F.col(c).cast("string"))
    return df

# SPARQL over the generated KG (the reference's own test pattern:
# ComplianceTests.java:147-168 runs a SELECT over the model it just
# generated; UtilImpl.java:148-210 equivalent: query the model you
# generated). Five-pattern BGP + regex FILTER: class slice (broadcast),
# literal-object constraint, and a two-hop join through ex:inNation.
TPCH_SPARQL_QUERY = """
PREFIX ex: <http://kg.example/ontology#>
SELECT ?customer ?cname ?nation_name WHERE {
  ?customer a ex:Customer .
  ?customer ex:name ?cname .
  ?customer ex:marketSegment "BUILDING" .
  ?customer ex:inNation ?nation .
  ?nation ex:name ?nation_name .
  FILTER regex(?cname, "1$")
}
"""

TPCH_KG_ORACLE_SQL = f"""
WITH t AS (
  SELECT '{KG}/customer/' || c_custkey AS subj, '{RDF_TYPE}' AS pred,
         '{ONT}Customer' AS obj, 'iri' AS obj_kind,
         CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS dtype
  FROM customer
  UNION ALL
  SELECT '{KG}/customer/' || c_custkey, '{ONT}name', c_name, 'literal', NULL, NULL FROM customer
  UNION ALL
  SELECT '{KG}/customer/' || c_custkey, '{ONT}custkey', CAST(c_custkey AS VARCHAR),
         'literal', NULL, '{XSD_INT}' FROM customer
  UNION ALL
  SELECT '{KG}/customer/' || c_custkey, '{ONT}segment', c_mktsegment, 'literal', NULL, NULL
  FROM customer
  UNION ALL
  SELECT '{KG}/customer/' || c_custkey, '{ONT}marketSegment', c_mktsegment, 'literal', NULL, NULL
  FROM customer
  UNION ALL
  SELECT '{KG}/customer/' || c_custkey, '{ONT}sourceSystem', '{KG}/system/tpch', 'iri', NULL, NULL
  FROM customer
  UNION ALL
  SELECT '{KG}/customer/' || c.c_custkey, '{ONT}inNation', '{KG}/nation/' || n.n_nationkey,
         'iri', NULL, NULL
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  UNION ALL
  SELECT '{KG}/nation/' || n_nationkey, '{RDF_TYPE}', '{ONT}Nation', 'iri', NULL, NULL FROM nation
  UNION ALL
  SELECT '{KG}/nation/' || n_nationkey, '{ONT}name', n_name, 'literal', NULL, NULL FROM nation
  UNION ALL
  SELECT '{KG}/nation/' || n_nationkey, '{ONT}inRegion', '{KG}/region/' || n_regionkey,
         'iri', NULL, NULL FROM nation
)
SELECT DISTINCT subj, 'iri' AS subj_kind, pred, obj, obj_kind, lang, dtype FROM t
"""

# DuckDB twin of TPCH_SPARQL_QUERY: one self-join per triple pattern
# over the same triples CTE the kg_tpch_triples oracle defines — the
# literal SQL a BGP compiles to, so the oracle checks the SPARQL
# engine's join/filter semantics, not just the data.
TPCH_SPARQL_ORACLE_SQL = f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL})
SELECT t2.subj AS customer, t2.obj AS cname, t5.obj AS nation_name
FROM triples t1
JOIN triples t2 ON t2.subj = t1.subj AND t2.subj_kind = t1.subj_kind
JOIN triples t3 ON t3.subj = t1.subj AND t3.subj_kind = t1.subj_kind
JOIN triples t4 ON t4.subj = t1.subj AND t4.subj_kind = t1.subj_kind
JOIN triples t5 ON t5.subj = t4.obj AND t5.subj_kind = t4.obj_kind
WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{ONT}Customer' AND t1.obj_kind = 'iri'
  AND t2.pred = '{ONT}name' AND t2.obj_kind = 'literal'
  AND t3.pred = '{ONT}marketSegment' AND t3.obj = 'BUILDING'
  AND t3.obj_kind = 'literal' AND t3.lang IS NULL AND t3.dtype IS NULL
  AND t4.pred = '{ONT}inNation' AND t4.obj_kind = 'iri'
  AND t5.pred = '{ONT}name' AND t5.obj_kind = 'literal'
  AND regexp_matches(t2.obj, '1$')
"""


# ---------------------------------------------------------------------------
# Graph builders for the cases that do not run on build_tpch_kg.

def _tpch_kg_with_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GraphStore.sync reads the per-mapping lineage columns
    return build_tpch_kg(spark, sf_dir, lineage=True)


# Closure-path SPARQL (r3): derive a two-level partOf hierarchy with
# CONSTRUCT, then walk it with p+ — pinned against a DuckDB RECURSIVE
# CTE (the same oracle pattern as connected_components).
_PARTOF_CONSTRUCT = """
PREFIX ex: <http://kg.example/ontology#>
CONSTRUCT { ?c ex:partOf ?n . ?n ex:partOf ?r }
WHERE { ?c ex:inNation ?n . ?n ex:inRegion ?r }
"""


def _partof_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.plans.sparql import sparql_construct

    return sparql_construct(build_tpch_kg(spark, sf_dir), _PARTOF_CONSTRUCT)


def _partof_hierarchy_and_kg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.plans.sparql import sparql_construct

    kg = build_tpch_kg(spark, sf_dir)
    return sparql_construct(kg, _PARTOF_CONSTRUCT).unionByName(kg)


# The events table mapped into a KG whose ex:at literals are canonical
# xsd:dateTime (SQL timestamp → XSD inference, D016 path).
EVENTS_MAPPING_TTL = f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <{KG}/ontology#> .
<#EventMap> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "events" ];
  rr:subjectMap [ rr:template "{KG}/event/{{event_id}}"; rr:class ex:Event ];
  rr:predicateObjectMap [ rr:predicate ex:at;   rr:objectMap [ rr:column "ts" ] ];
  rr:predicateObjectMap [ rr:predicate ex:kind; rr:objectMap [ rr:column "event_type" ] ] .
"""


def _events_kg(spark: SparkSession, sf_dir: str) -> DataFrame:
    sources = {"events": spark.read.parquet(f"{sf_dir}/events.parquet")}
    doc = parse_mapping_document(EVENTS_MAPPING_TTL)
    engine = MappingEngine(spark, doc, sources=sources, base_ns=KG)
    engine.register_sources()
    return engine.triples()


# Named graphs (r5): rr:graphMap materialized as an 8-column quad
# relation + SPARQL GRAPH compilation — beyond the reference's log-only
# rr:graphMap stub (Parser.java:241-270). Customer triples land in
# per-nation provenance graphs (template graph map over the FK), nation
# triples in one constant reference graph.
TPCH_QUADS_MAPPING_TTL = f"""
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <{KG}/ontology#> .

<#CustomerMap> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "customer" ];
  rr:subjectMap [ rr:template "{KG}/customer/{{c_custkey}}"; rr:class ex:Customer;
                  rr:graphMap [ rr:template "{KG}/graph/nation/{{c_nationkey}}" ] ];
  rr:predicateObjectMap [ rr:predicate ex:custkey; rr:objectMap [ rr:column "c_custkey" ] ];
  rr:predicateObjectMap [ rr:predicate ex:inNation;
    rr:objectMap [ a rr:RefObjectMap; rr:parentTriplesMap <#NationMap>;
                   rr:joinCondition [ rr:child "c_nationkey"; rr:parent "n_nationkey" ] ] ] .

<#NationMap> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "nation" ];
  rr:subjectMap [ rr:template "{KG}/nation/{{n_nationkey}}"; rr:class ex:Nation ];
  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "n_name" ];
                          rr:graph <{KG}/graph/ref> ] .
"""


def build_tpch_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    sources = {
        "customer": spark.read.parquet(f"{sf_dir}/customer.parquet"),
        "nation": spark.read.parquet(f"{sf_dir}/nation.parquet"),
    }
    doc = parse_mapping_document(TPCH_QUADS_MAPPING_TTL)
    engine = MappingEngine(spark, doc, sources=sources, base_ns=KG)
    engine.register_sources()
    return engine.quads()


# ---------------------------------------------------------------------------
# The non-SPARQL cases: operators over the generated KG.

def _pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank(kg_entity_edges(build_tpch_kg(spark, sf_dir)), iterations=5)


def _negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    return negative_samples(build_tpch_kg(spark, sf_dir), k=2)


def _triple_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triple-level P/R (r4): the north rule's own
    acceptance metric ("matching the reference's emitted (subj, pred,
    obj) triples, P/R >= 0.95") as a Spark job — got = the TPC-H KG
    minus its ex:segment triples plus one synthetic wrong triple,
    expected = the full KG, so precision < 1 and recall < 1 are both
    exercised with closed-form values at any SF."""
    from pyspark.sql import functions as F

    from r2rml_parser_spark.operators.evaluate import triple_prf

    kg = build_tpch_kg(spark, sf_dir).localCheckpoint(eager=False)
    bogus = spark.createDataFrame(
        [
            (
                f"{KG}/synthetic/x",
                "iri",
                f"{ONT}bogus",
                f"{KG}/synthetic/y",
                "iri",
                None,
                None,
            )
        ],
        "subj string, subj_kind string, pred string, obj string, "
        "obj_kind string, lang string, dtype string",
    )
    got = kg.where(F.col("pred") != f"{ONT}segment").unionByName(bogus)
    return triple_prf(got, kg)


# ---------------------------------------------------------------------------
# The case table.

@dataclass(frozen=True)
class Case:
    """One driver case. ``graph`` builds the frame the query runs on;
    with no ``query`` that frame is the case's result. ``form`` is how
    the query is answered: select, construct or describe over the
    graph, or ``store`` / ``store-dataset`` — sync the graph into a
    fresh GraphStore, then ``query`` / ``query_dataset`` it. ``decimals``
    names the columns rendered by ``_decimal_cols_as_strings``."""

    graph: Callable[[SparkSession, str], DataFrame]
    query: str | None
    oracle: str
    form: str = "select"
    decimals: tuple[str, ...] = ()


def run_case(spark: SparkSession, sf_dir: str, case: Case) -> DataFrame:
    """Evaluate one case over the tables in ``sf_dir``."""
    graph = case.graph(spark, sf_dir)
    if case.query is None:
        return graph
    if case.form in ("store", "store-dataset"):
        import tempfile

        from r2rml_parser_spark.sinks.checkpoint import GraphStore

        store = GraphStore(spark, tempfile.mkdtemp(prefix="r2rml_store_q_"))
        store.sync(graph)
        ask = store.query if case.form == "store" else store.query_dataset
        out = ask(case.query)
    else:
        from r2rml_parser_spark.plans import sparql

        evaluate = {
            "select": sparql.sparql_select,
            "construct": sparql.sparql_construct,
            "describe": sparql.sparql_describe,
        }[case.form]
        out = evaluate(graph, case.query)
    return _decimal_cols_as_strings(out, case.decimals)


# The sort key of the sparql_aggsem_kg oracle's MIN/MAX.
_AGGSEM_STRUCT_KEY = (
    "{f: (try_cast(obj AS DECIMAL(38,12)) IS NULL), "
    "n: coalesce(try_cast(obj AS DECIMAL(38,12)), 0), v: obj}"
)

CASES: dict[str, Case] = {
    # the KG itself against its SQL twin
    "kg_tpch_triples": Case(build_tpch_kg, query=None, oracle=TPCH_KG_ORACLE_SQL),

    "sparql_kg": Case(build_tpch_kg, query=TPCH_SPARQL_QUERY, oracle=TPCH_SPARQL_ORACLE_SQL),

    # Store-native SPARQL (r4, VERDICT r3 #7): the KG is synced into a
    # range-clustered GraphStore (per-mapping parquet partitions sorted on
    # (subj, pred, obj) — min/max file stats prune constant-subject/
    # predicate BGP branches at the scan) and the query is answered FROM
    # the store, pinning the persisted read path end-to-end against the
    # same DuckDB oracle as sparql_kg: the same query and the same result
    # set, read back from the store.
    "sparql_store_kg": Case(
        _tpch_kg_with_lineage, query=TPCH_SPARQL_QUERY, oracle=TPCH_SPARQL_ORACLE_SQL,
        form="store",
    ),

    # Store-as-dataset (r5): the GraphStore's per-mapping partitions ARE
    # named graphs (IRI = triples-map URI) — GRAPH ?g over the persisted
    # store answers "which mapping produced these triples" directly off
    # the partition layout, no lineage join.
    "sparql_store_graph_kg": Case(_tpch_kg_with_lineage, query="""
SELECT ?g (COUNT(?s) AS ?n) WHERE {
  GRAPH ?g { ?s ?p ?o }
} GROUP BY ?g ORDER BY ?g
""",
        # CustomerMap emits 7 triples per customer row (class + name + custkey
        # + the P9 segment fan-out ×2 + constant sourceSystem + inNation ref),
        # NationMap 3 per nation (class + name + inRegion) — all distinct
        # within their map (subjects are key-templated), so the per-graph
        # set-dedup'd counts are exact multiples.
        oracle="""
SELECT '#CustomerMap' AS g, CAST(7 * COUNT(*) AS BIGINT) AS n FROM customer
UNION ALL
SELECT '#NationMap' AS g, CAST(3 * COUNT(*) AS BIGINT) AS n FROM nation
ORDER BY g
""", form="store-dataset"),

    # Aggregate SPARQL over the generated KG: customers-per-nation with a
    # distinct-segment count — exercises GROUP BY (term-keyed), COUNT(?v),
    # COUNT(DISTINCT ?v), and ORDER BY over an aggregate projection.
    "sparql_agg_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?nation_name (COUNT(?customer) AS ?n_customers)
       (COUNT(DISTINCT ?segment) AS ?n_segments) WHERE {
  ?customer a ex:Customer .
  ?customer ex:inNation ?nation .
  ?customer ex:marketSegment ?segment .
  ?nation ex:name ?nation_name .
} GROUP BY ?nation_name ORDER BY ?nation_name
""",
        # DuckDB twin: each customer has exactly one ex:marketSegment triple,
        # so the per-nation row count IS the customer count; COUNT casts pin
        # BIGINT so the schema matches Spark's LongType (DuckDB HUGEINT lesson
        # from sessionized_events, r2).
        oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL})
SELECT t4.obj AS nation_name,
       CAST(COUNT(t1.subj) AS BIGINT) AS n_customers,
       CAST(COUNT(DISTINCT t3.obj) AS BIGINT) AS n_segments
FROM triples t1
JOIN triples t2 ON t2.subj = t1.subj AND t2.subj_kind = t1.subj_kind
JOIN triples t3 ON t3.subj = t1.subj AND t3.subj_kind = t1.subj_kind
JOIN triples t4 ON t4.subj = t2.obj AND t4.subj_kind = t2.obj_kind
WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{ONT}Customer' AND t1.obj_kind = 'iri'
  AND t2.pred = '{ONT}inNation' AND t2.obj_kind = 'iri'
  AND t3.pred = '{ONT}marketSegment' AND t3.obj_kind = 'literal'
  AND t4.pred = '{ONT}name' AND t4.obj_kind = 'literal'
GROUP BY t4.obj
ORDER BY nation_name
"""),

    # Typed-literal SPARQL: datatype() accessor + numeric ordering FILTER
    # over the xsd:integer-typed ex:custkey literals (SPARQL 1.1 operator
    # dispatch: "9" must not satisfy >= 140 lexically).
    "sparql_typed_kg": Case(build_tpch_kg, query="""
PREFIX ex:  <http://kg.example/ontology#>
PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
SELECT ?customer ?key WHERE {
  ?customer a ex:Customer .
  ?customer ex:custkey ?key .
  FILTER (datatype(?key) = xsd:integer)
  FILTER (?key >= 140)
}
""", oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL})
SELECT t2.subj AS customer, t2.obj AS key
FROM triples t1
JOIN triples t2 ON t2.subj = t1.subj AND t2.subj_kind = t1.subj_kind
WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{ONT}Customer' AND t1.obj_kind = 'iri'
  AND t2.pred = '{ONT}custkey' AND t2.obj_kind = 'literal'
  AND t2.dtype = '{XSD_INT}'
  AND TRY_CAST(t2.obj AS DECIMAL(38,12)) >= 140
"""),

    # String-function + VALUES SPARQL: STRENDS on a literal, CONTAINS over
    # STR(iri), inline VALUES constants — the r3 builtin surface, pinned
    # against LIKE-based DuckDB SQL.
    "sparql_str_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?customer ?cname WHERE {
  ?customer a ex:Customer .
  ?customer ex:name ?cname .
  ?customer ex:marketSegment ?seg .
  VALUES ?seg { "BUILDING" "MACHINERY" }
  FILTER STRENDS(?cname, "0")
  FILTER CONTAINS(STR(?customer), "/customer/1")
}
""", oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL})
SELECT t2.subj AS customer, t2.obj AS cname
FROM triples t1
JOIN triples t2 ON t2.subj = t1.subj AND t2.subj_kind = t1.subj_kind
JOIN triples t3 ON t3.subj = t1.subj AND t3.subj_kind = t1.subj_kind
WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{ONT}Customer' AND t1.obj_kind = 'iri'
  AND t2.pred = '{ONT}name' AND t2.obj_kind = 'literal'
  AND t3.pred = '{ONT}marketSegment' AND t3.obj_kind = 'literal'
  AND t3.lang IS NULL AND t3.dtype IS NULL
  AND t3.obj IN ('BUILDING', 'MACHINERY')
  AND t2.obj LIKE '%0'
  AND t2.subj LIKE '%/customer/1%'
"""),

    # [NOT] EXISTS SPARQL (r3): nations that no BUILDING-segment customer
    # belongs to — the anti-join surface, pinned against a DuckDB NOT
    # EXISTS subquery over the same triples CTE.
    "sparql_exists_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?nation ?nation_name WHERE {
  ?nation a ex:Nation .
  ?nation ex:name ?nation_name .
  FILTER NOT EXISTS {
    ?c ex:inNation ?nation .
    ?c ex:marketSegment "BUILDING" .
  }
}
""", oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL})
SELECT t1.subj AS nation, t2.obj AS nation_name
FROM triples t1
JOIN triples t2 ON t2.subj = t1.subj AND t2.subj_kind = t1.subj_kind
WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{ONT}Nation' AND t1.obj_kind = 'iri'
  AND t2.pred = '{ONT}name' AND t2.obj_kind = 'literal'
  AND NOT EXISTS (
    SELECT 1 FROM triples c1
    JOIN triples c2 ON c2.subj = c1.subj AND c2.subj_kind = c1.subj_kind
    WHERE c1.pred = '{ONT}inNation'
      AND c1.obj = t1.subj AND c1.obj_kind = t1.subj_kind
      AND c2.pred = '{ONT}marketSegment' AND c2.obj = 'BUILDING'
      AND c2.obj_kind = 'literal' AND c2.lang IS NULL AND c2.dtype IS NULL
  )
"""),

    # CONSTRUCT SPARQL (r3): derive a new graph (customer→region shortcut
    # + a derived class triple) from a two-hop BGP; the result is a fresh
    # 7-column triples relation, pinned against the equivalent UNION SQL.
    "sparql_construct_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
CONSTRUCT { ?c ex:locatedIn ?region . ?c a ex:LocatedCustomer }
WHERE { ?c ex:inNation ?n . ?n ex:inRegion ?region }
""", oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL}),
sol AS (
  SELECT t1.subj AS c, t1.subj_kind AS c_kind, t2.obj AS region,
         t2.obj_kind AS region_kind
  FROM triples t1
  JOIN triples t2 ON t2.subj = t1.obj AND t2.subj_kind = t1.obj_kind
  WHERE t1.pred = '{ONT}inNation' AND t2.pred = '{ONT}inRegion'
)
SELECT DISTINCT * FROM (
  SELECT c AS subj, c_kind AS subj_kind, '{ONT}locatedIn' AS pred,
         region AS obj, region_kind AS obj_kind,
         CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS dtype
  FROM sol
  UNION ALL
  SELECT c, c_kind, '{RDF_TYPE}', '{ONT}LocatedCustomer', 'iri', NULL, NULL
  FROM sol
)
""", form="construct"),

    # Property-path + BIND SPARQL (r3): two-hop path to the region, and a
    # minted per-customer profile IRI — the KG-derivation shape (new IRIs
    # from solutions), pinned against plain-SQL string concatenation.
    "sparql_path_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?profile ?region WHERE {
  ?c a ex:Customer .
  ?c ex:inNation/ex:inRegion ?region .
  BIND(IRI(CONCAT(STR(?c), "/profile")) AS ?profile)
}
""", oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL})
SELECT t1.subj || '/profile' AS profile, t3.obj AS region
FROM triples t1
JOIN triples t2 ON t2.subj = t1.subj AND t2.subj_kind = t1.subj_kind
JOIN triples t3 ON t3.subj = t2.obj AND t3.subj_kind = t2.obj_kind
WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{ONT}Customer' AND t1.obj_kind = 'iri'
  AND t2.pred = '{ONT}inNation' AND t2.obj_kind = 'iri'
  AND t3.pred = '{ONT}inRegion' AND t3.obj_kind = 'iri'
"""),

    # Closure path (partOf+) over the CONSTRUCT-derived hierarchy:
    # path-doubling reachability, pinned against a recursive CTE.
    "sparql_closure_kg": Case(_partof_hierarchy, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?s ?t WHERE { ?s ex:partOf+ ?t }
""", oracle=f"""
WITH RECURSIVE edges AS (
  SELECT '{KG}/customer/' || c.c_custkey AS src,
         '{KG}/nation/' || n.n_nationkey AS dst
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  UNION
  SELECT '{KG}/nation/' || n_nationkey, '{KG}/region/' || n_regionkey
  FROM nation
), reach AS (
  SELECT src AS s, dst AS t FROM edges
  UNION
  SELECT r.s, e.dst FROM reach r JOIN edges e ON e.src = r.t
)
SELECT DISTINCT s, t FROM reach
"""),

    # Seeded variable-endpoint closure (r4, VERDICT r3 #2): both closure
    # endpoints are variables, but sibling patterns restrict ?s to the
    # MACHINERY customers — the engine defers the closure and runs a
    # multi-source frontier walk from their distinct terms instead of
    # materializing the full partOf+ reachability relation. The recursive
    # CTE oracle replays exactly the seeded expansion. It runs over the
    # hierarchy ∪ the KG: the seeding patterns read the KG's class and
    # segment triples, the closure the hierarchy's partOf edges.
    "sparql_closure_seeded_kg": Case(_partof_hierarchy_and_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?s ?t WHERE {
  ?s a ex:Customer .
  ?s ex:marketSegment "MACHINERY" .
  ?s ex:partOf+ ?t .
}
""", oracle=f"""
WITH RECURSIVE edges AS (
  SELECT '{KG}/customer/' || c.c_custkey AS src,
         '{KG}/nation/' || n.n_nationkey AS dst
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  UNION
  SELECT '{KG}/nation/' || n_nationkey, '{KG}/region/' || n_regionkey
  FROM nation
), seeds AS (
  SELECT '{KG}/customer/' || c_custkey AS s FROM customer
  WHERE c_mktsegment = 'MACHINERY'
), reach AS (
  SELECT e.src AS s, e.dst AS t FROM edges e JOIN seeds ON e.src = seeds.s
  UNION
  SELECT r.s, e.dst FROM reach r JOIN edges e ON e.src = r.t
)
SELECT s, t FROM reach
"""),

    # Path-grammar surface (r4, VERDICT r3 #3): alternation of a SEQUENCE
    # with a plain predicate ((inNation/inRegion)|sourceSystem — distributes
    # into UNION branches) plus a closure over a parenthesized GROUP
    # ((inNation/inRegion)+ — reachability fixpoint over a derived edge
    # relation), in one query. Per customer: ?x ∈ {region, system IRI}
    # (bag union, 2 rows), ?r = the region.
    "sparql_pathx_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?x ?r WHERE {
  ?c a ex:Customer .
  ?c (ex:inNation/ex:inRegion)|ex:sourceSystem ?x .
  ?c (ex:inNation/ex:inRegion)+ ?r .
}
""", oracle=f"""
WITH cr AS (
  SELECT '{KG}/customer/' || c.c_custkey AS c,
         '{KG}/region/' || n.n_regionkey AS r
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT c, r AS x, r FROM cr
UNION ALL
SELECT c, '{KG}/system/tpch' AS x, r FROM cr
"""),

    # r4 SPARQL-surface cases (VERDICT r3 "what's missing" #1): the three
    # spec edges the engine used to REJECT — mixed-variable UNION with an
    # unbound-compatible join, a cross-group OPTIONAL filter
    # (LeftJoin(A, G, F) with F referencing A), and EXISTS composing
    # inside a boolean FILTER expression — each oracled against the
    # literal relational algebra it compiles to.
    #
    # Mixed-variable UNION: branch 1 binds only ?s, branch 2 also binds
    # ?cname — joining the required ?s ex:name ?cname pattern must treat
    # branch-1 solutions (?cname unbound) as compatible-with-anything
    # (SPARQL 1.1 §18.5 Join), taking the pattern's binding.
    "sparql_union_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?s ?cname WHERE {
  ?s ex:name ?cname .
  { ?s ex:marketSegment "MACHINERY" } UNION { ?s a ex:Nation . ?s ex:name ?cname }
}
""",
        # the compatible join in SQL: an unbound (NULL) union-side ?cname
        # matches any base ?cname and takes its value
        oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL}),
base AS (
  SELECT subj AS s, subj_kind AS sk, obj AS cname FROM triples
  WHERE pred = '{ONT}name' AND obj_kind = 'literal'
),
u AS (
  SELECT subj AS s, subj_kind AS sk, CAST(NULL AS VARCHAR) AS cname
  FROM triples
  WHERE pred = '{ONT}marketSegment' AND obj = 'MACHINERY'
    AND obj_kind = 'literal'
  UNION ALL
  SELECT t1.subj, t1.subj_kind, t2.obj
  FROM triples t1
  JOIN triples t2 ON t2.subj = t1.subj AND t2.subj_kind = t1.subj_kind
  WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{ONT}Nation' AND t1.obj_kind = 'iri'
    AND t2.pred = '{ONT}name' AND t2.obj_kind = 'literal'
)
SELECT base.s AS s, base.cname AS cname
FROM base JOIN u
  ON base.s = u.s AND base.sk = u.sk
 AND (u.cname IS NULL OR u.cname = base.cname)
"""),

    # Cross-group OPTIONAL filter — LeftJoin(A, G, F) where F compares the
    # group's ?nname against the REQUIRED side's ?cname: the customer
    # name's last digit must equal the nation name's 8th character
    # (NATION_4 → '4'), so ~10% of customers get ?nname bound and the rest
    # KEEP their row with ?nname unbound — the case where
    # Filter(F, LeftJoin(A, G)) would wrongly DROP the non-matching rows.
    # F is compiled into the left-join condition.
    "sparql_optfilter_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?customer ?cname ?nname WHERE {
  ?customer a ex:Customer .
  ?customer ex:name ?cname .
  OPTIONAL { ?customer ex:inNation ?nation . ?nation ex:name ?nname .
             FILTER (SUBSTR(?nname, 8, 1) = SUBSTR(?cname, 18, 1)) }
}
""", oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL}),
cust AS (
  SELECT t1.subj AS customer, t2.obj AS cname
  FROM triples t1
  JOIN triples t2 ON t2.subj = t1.subj AND t2.subj_kind = t1.subj_kind
  WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{ONT}Customer' AND t1.obj_kind = 'iri'
    AND t2.pred = '{ONT}name' AND t2.obj_kind = 'literal'
),
grp AS (
  SELECT g1.subj AS customer, g2.obj AS nname
  FROM triples g1
  JOIN triples g2 ON g2.subj = g1.obj AND g2.subj_kind = g1.obj_kind
  WHERE g1.pred = '{ONT}inNation' AND g1.obj_kind = 'iri'
    AND g2.pred = '{ONT}name' AND g2.obj_kind = 'literal'
)
SELECT cust.customer AS customer, cust.cname AS cname, grp.nname AS nname
FROM cust LEFT JOIN grp
  ON grp.customer = cust.customer
 AND substr(grp.nname, 8, 1) = substr(cust.cname, 18, 1)
"""),

    # EXISTS inside a boolean expression: nations that either have an
    # AUTOMOBILE-segment customer OR whose name starts with "A" — the
    # ExistsFunc form (flag compiled via a key-distinct left join), not the
    # standalone FILTER EXISTS semi-join.
    "sparql_exists_expr_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?nation ?nname WHERE {
  ?nation a ex:Nation .
  ?nation ex:name ?nname .
  FILTER (EXISTS { ?c ex:inNation ?nation . ?c ex:marketSegment "AUTOMOBILE" }
          || STRSTARTS(?nname, "A"))
}
""", oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL}),
nat AS (
  SELECT t1.subj AS nation, t1.subj_kind AS nk, t2.obj AS nname
  FROM triples t1
  JOIN triples t2 ON t2.subj = t1.subj AND t2.subj_kind = t1.subj_kind
  WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{ONT}Nation' AND t1.obj_kind = 'iri'
    AND t2.pred = '{ONT}name' AND t2.obj_kind = 'literal'
)
SELECT nation, nname FROM nat
WHERE EXISTS (
    SELECT 1 FROM triples e1
    JOIN triples e2 ON e2.subj = e1.subj AND e2.subj_kind = e1.subj_kind
    WHERE e1.pred = '{ONT}inNation' AND e1.obj = nat.nation
      AND e1.obj_kind = nat.nk
      AND e2.pred = '{ONT}marketSegment' AND e2.obj = 'AUTOMOBILE'
      AND e2.obj_kind = 'literal'
  )
   OR nname LIKE 'A%'
"""),

    # Simple forward alternation INSIDE an OPTIONAL group (r4: the predset
    # collapse — one pred-IN scan — makes it legal in braced groups):
    # customers extend twice (one row per matching predicate — the
    # alternation's bag multiplicity through one pred-IN scan), nations
    # match neither predicate and take the left join's NULL row.
    "sparql_alt_opt_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?x ?n ?v WHERE {
  ?x ex:name ?n .
  OPTIONAL { ?x (ex:segment|ex:marketSegment) ?v }
}
""",
        # DuckDB twin: the pred-IN scan is literally `pred IN (segment,
        # marketSegment)`; the OPTIONAL is a LEFT JOIN on the full subject term
        # (subj, subj_kind — all subjects here are IRIs, and obj terms ride
        # along unshared).
        oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL}),
base AS (
  SELECT subj, subj_kind, obj AS n FROM triples WHERE pred = '{ONT}name'
),
opt AS (
  SELECT subj, subj_kind, obj AS v FROM triples
  WHERE pred IN ('{ONT}segment', '{ONT}marketSegment')
)
SELECT b.subj AS x, b.n AS n, o.v AS v
FROM base b LEFT JOIN opt o
  ON b.subj = o.subj AND b.subj_kind = o.subj_kind
"""),

    # Full-path-grammar residue surface (r4): in ONE query —
    #   * a closure whose closed group ITSELF contains a closure
    #     ((inNation+/inRegion)* → the inner + becomes a derived edge
    #     relation, the outer fixpoint runs over it via the recursive
    #     "closure_path" evaluator; both endpoints are variables, so the
    #     sibling-bound ?c side seeds a multi-source frontier walk);
    #   * a negated property set with MIXED forward + inverse members
    #     (!(name|custkey|segment|marketSegment|^inNation) ≡ the §9.1
    #     split !F | ^!I — a UNION whose inverse half is empty here, since
    #     nothing but inNation ever points at a customer);
    #   * alternation branches carrying a SEQUENCE inside an OPTIONAL
    #     group ((segment|inNation/name) distributes into UNION branches
    #     there, as in every group).
    "sparql_npspath_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?dst ?via ?via2 WHERE {
  ?c a ex:Customer .
  ?c ex:custkey ?k .
  FILTER (?k <= 40)
  ?c (ex:inNation+/ex:inRegion)* ?dst .
  ?c !(ex:name|ex:custkey|ex:segment|ex:marketSegment|^ex:inNation) ?via .
  OPTIONAL { ?c (ex:segment|ex:inNation/ex:name) ?via2 }
}
""",
        # Oracle: R = inNation+ ∘ inRegion reaches exactly each customer's
        # region (nations have no outgoing inNation, so the inner closure is
        # the single customer→nation step); R* adds the zero-length identity.
        # ?via enumerates the three non-excluded forward edges (class IRI,
        # sourceSystem constant, nation IRI); the inverse NPS half is empty.
        # ?via2 is the bag union of the segment literal and the nation name.
        # The three relations join multiplicatively per customer — 2·3·2 rows.
        oracle=f"""
WITH c40 AS (
  SELECT c_custkey, c_nationkey, c_mktsegment FROM customer
  WHERE c_custkey <= 40
),
dst AS (
  SELECT '{KG}/customer/' || c_custkey AS c,
         '{KG}/customer/' || c_custkey AS dst
  FROM c40
  UNION ALL
  SELECT '{KG}/customer/' || c.c_custkey,
         '{KG}/region/' || n.n_regionkey
  FROM c40 c JOIN nation n ON c.c_nationkey = n.n_nationkey
),
via AS (
  SELECT '{KG}/customer/' || c_custkey AS c, '{ONT}Customer' AS via
  FROM c40
  UNION ALL
  SELECT '{KG}/customer/' || c_custkey, '{KG}/system/tpch' FROM c40
  UNION ALL
  SELECT '{KG}/customer/' || c.c_custkey, '{KG}/nation/' || c.c_nationkey
  FROM c40 c
),
via2 AS (
  SELECT '{KG}/customer/' || c_custkey AS c, c_mktsegment AS via2 FROM c40
  UNION ALL
  SELECT '{KG}/customer/' || c.c_custkey, n.n_name
  FROM c40 c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT d.c AS c, d.dst AS dst, v.via AS via, v2.via2 AS via2
FROM dst d
JOIN via v ON v.c = d.c
JOIN via2 v2 ON v2.c = d.c
"""),

    # Group-local BIND + numeric-function surface (r4): a BIND inside an
    # OPTIONAL group feeding the group's own FILTER (UCASE/STRLEN over the
    # nation name — single-digit nations fail the length test, so their
    # customers keep the OPTIONAL's NULL extension), plus a top-level
    # numeric-function BIND (FLOOR over arithmetic) rendered as a derived
    # decimal in canonical lexical form.
    "sparql_groupbind_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?name ?nup ?halfkey WHERE {
  ?c a ex:Customer .
  ?c ex:name ?name .
  ?c ex:custkey ?k .
  FILTER (?k <= 30)
  OPTIONAL { ?c ex:inNation ?nat . ?nat ex:name ?nn .
             BIND (UCASE(STR(?nn)) AS ?nup) FILTER (STRLEN(?nup) > 8) }
  BIND (FLOOR(?k / 2) AS ?halfkey)
}
""", oracle=f"""
WITH c30 AS (
  SELECT c_custkey, c_name, c_nationkey FROM customer WHERE c_custkey <= 30
),
opt AS (
  SELECT n_nationkey, UPPER(n_name) AS nup FROM nation WHERE length(n_name) > 8
)
SELECT '{KG}/customer/' || c.c_custkey AS c,
       c.c_name AS name,
       o.nup AS nup,
       CAST(CAST(FLOOR(c.c_custkey / 2.0) AS BIGINT) AS VARCHAR) AS halfkey
FROM c30 c LEFT JOIN opt o ON o.n_nationkey = c.c_nationkey
"""),

    # Boolean-valued BIND expressions (§17.2, late r4): a bare EXISTS probe
    # and a comparison ladder each minting "true"/"false"^^xsd:boolean
    # terms at the BIND's own timeline point.
    "sparql_boolbind_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?nation ?nname ?hasauto ?longname WHERE {
  ?nation a ex:Nation .
  ?nation ex:name ?nname .
  BIND(EXISTS { ?c ex:inNation ?nation .
                ?c ex:marketSegment "AUTOMOBILE" } AS ?hasauto)
  BIND(STRLEN(?nname) > 8 AS ?longname)
}
""",
        # DuckDB twin: EXISTS → CASE WHEN EXISTS(...), the comparison →
        # CASE WHEN length(...) — both rendered as the engine's canonical
        # 'true'/'false' lexical forms.
        oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL}),
nat AS (
  SELECT t1.subj AS nation, t1.subj_kind AS nk, t2.obj AS nname
  FROM triples t1
  JOIN triples t2 ON t2.subj = t1.subj AND t2.subj_kind = t1.subj_kind
  WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{ONT}Nation' AND t1.obj_kind = 'iri'
    AND t2.pred = '{ONT}name' AND t2.obj_kind = 'literal'
)
SELECT nation, nname,
  CASE WHEN EXISTS (
    SELECT 1 FROM triples e1
    JOIN triples e2 ON e2.subj = e1.subj AND e2.subj_kind = e1.subj_kind
    WHERE e1.pred = '{ONT}inNation' AND e1.obj = nat.nation
      AND e1.obj_kind = nat.nk
      AND e2.pred = '{ONT}marketSegment' AND e2.obj = 'AUTOMOBILE'
      AND e2.obj_kind = 'literal'
  ) THEN 'true' ELSE 'false' END AS hasauto,
  CASE WHEN length(nname) > 8 THEN 'true' ELSE 'false' END AS longname
FROM nat
"""),

    # Entity PageRank over the generated KG's IRI→IRI link structure:
    # iterative DataFrame joins, 5 exact-integer iterations, so the
    # DuckDB unrolled-CTE twin is bit-for-bit (operators/pagerank.py
    # docstring has the determinism argument the twin replays).
    "kg_pagerank": Case(_pagerank, query=None, oracle=pagerank_oracle_sql(
        f"SELECT DISTINCT subj AS src, obj AS dst"
        f" FROM ({TPCH_KG_ORACLE_SQL})"
        f" WHERE subj_kind = 'iri' AND obj_kind = 'iri' AND subj <> obj",
        iterations=5,
    )),

    # Filtered negative sampling over the generated KG's IRI→IRI edges
    # (KGE training pairs): corrupt entity = entities[md5(s|p|o|slot) mod
    # N], collisions and already-true edges filtered — fully
    # deterministic, DuckDB-exact (operators/negatives.py has the
    # md5-index recipe the twin replays).
    "kg_negatives": Case(_negatives, query=None, oracle=negative_samples_oracle_sql(
        f"SELECT DISTINCT subj AS s, pred AS p, obj AS o"
        f" FROM ({TPCH_KG_ORACLE_SQL})"
        f" WHERE subj_kind = 'iri' AND obj_kind = 'iri'",
        k=2,
    )),

    # Cross-group filter × two-sided compatible LEFT join (late r4
    # session 2 — the last formerly-rejected LeftJoin form): the deferred
    # F references the OUTER-bound ?cname, and the shared key ?nat is
    # nullable on both sides.
    "sparql_twoside_filter_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?cname ?nat ?seg WHERE {
  ?c a ex:Customer . ?c ex:name ?cname .
  OPTIONAL { ?c ex:inNation ?nat . ?nat ex:name "NATION_3" }
  OPTIONAL { ?c ex:marketSegment "BUILDING" . ?c ex:segment ?seg
             OPTIONAL { ?c ex:inNation ?nat . ?nat ex:inRegion <http://kg.example/region/1> }
             FILTER(STRSTARTS(?cname, "Customer#0000000")) }
}
""",
        # F references only outer variables, so LeftJoin(A, G, F) matches iff
        # compatibility AND F(mu1): the same LEFT JOIN as the unfiltered twin
        # with F as one more ON conjunct; a blocked customer keeps its row
        # with the group's columns NULL (the Diff half).
        oracle=f"""
WITH lhs AS (
  SELECT '{KG}/customer/' || c.c_custkey AS c, c.c_name AS cname,
         CASE WHEN n.n_name = 'NATION_3'
              THEN '{KG}/nation/' || n.n_nationkey END AS nat
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
),
grp AS (
  SELECT '{KG}/customer/' || c.c_custkey AS c, c.c_mktsegment AS seg,
         CASE WHEN n.n_regionkey = 1
              THEN '{KG}/nation/' || n.n_nationkey END AS nat
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE c.c_mktsegment = 'BUILDING'
)
SELECT lhs.c AS c, lhs.cname AS cname,
       COALESCE(lhs.nat, grp.nat) AS nat, grp.seg AS seg
FROM lhs LEFT JOIN grp
  ON grp.c = lhs.c
 AND (lhs.nat IS NULL OR grp.nat IS NULL OR lhs.nat = grp.nat)
 AND lhs.cname LIKE 'Customer#0000000%'
"""),

    # §17.2.2 effective boolean values (late r4): a bare arithmetic value
    # in FILTER (numeric EBV), a boolean BIND, and EBV of the minted
    # xsd:boolean term composing with || in one query.
    "sparql_ebv_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?nm ?big WHERE {
  ?c a ex:Customer .
  ?c ex:name ?nm .
  ?c ex:custkey ?k .
  FILTER(?k - 7)
  BIND((?k > 100) AS ?big)
  FILTER(?big || ?k < 50)
}
""", oracle=f"""
SELECT '{KG}/customer/' || c_custkey AS c, c_name AS nm,
       CASE WHEN c_custkey > 100 THEN 'true' ELSE 'false' END AS big
FROM customer
WHERE c_custkey <> 7 AND (c_custkey > 100 OR c_custkey < 50)
"""),

    # Probe-OPTIONAL-nullable EXISTS correlation key (late r4 refinement):
    # ?nm is bound on the outer side and only inside the probe's OPTIONAL;
    # with no top-level probe filter, existence is independent of ?nm and
    # the probe reduces to "?x has an inNation edge" (the inert key
    # leaves the correlation) — NOT EXISTS keeps exactly the nation-named
    # subjects.
    "sparql_existsnull_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?x ?nm WHERE {
  ?x ex:name ?nm .
  FILTER NOT EXISTS { ?x ex:inNation ?n OPTIONAL { ?n ex:name ?nm } }
}
""", oracle=f"""
SELECT '{KG}/nation/' || n_nationkey AS x, n_name AS nm FROM nation
"""),

    # §19.8 expression-ladder surface (r4): parenthesized arithmetic as a
    # PRIMARY composing with boolean groups in ONE FILTER — nested value
    # groups on the comparison's left ((((?k+5)*2)-4)/2 ≡ ?k+3), a
    # value-expression IN member (2*5), a negated comparison group — plus
    # a BIND whose value is a product of two parenthesized sums
    # ((?k-1)*(?k+1) = ?k²-1), rendered in canonical integer lexical form.
    "sparql_arith_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?score WHERE {
  ?c a ex:Customer .
  ?c ex:custkey ?k .
  FILTER (((((?k + 5) * 2) - 4) / 2 >= 23 || ?k IN ((2 * 5), 20)) && !(?k > 80))
  BIND ((?k - 1) * (?k + 1) AS ?score)
}
""",
        # (2(k+5)-4)/2 = k+3, so the first disjunct keeps k >= 20; IN adds
        # k=10; the conjoined negation caps at k <= 80.
        oracle=f"""
SELECT '{KG}/customer/' || c_custkey AS c,
       CAST((c_custkey - 1) * (c_custkey + 1) AS VARCHAR) AS score
FROM customer
WHERE ((((c_custkey + 5) * 2) - 4) / 2.0 >= 23 OR c_custkey IN (10, 20))
  AND NOT (c_custkey > 80)
"""),

    # VALUES-with-UNDEF surface (r4): §18.5 compatible join driven from a
    # VALUES block — the ("BUILDING" "b") row constrains the segment and
    # tags it, the (UNDEF UNDEF) row is compatible with EVERY solution and
    # leaves ?bonus unbound (projected NULL) — compiled through the same
    # compatible-join decomposition mixed-variable UNIONs use. BUILDING
    # customers therefore appear twice (once tagged, once untagged);
    # everyone else once.
    "sparql_values_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?seg ?bonus WHERE {
  ?c a ex:Customer .
  ?c ex:custkey ?k .
  ?c ex:marketSegment ?seg .
  FILTER (?k <= 40)
  VALUES (?seg ?bonus) { ("BUILDING" "b") (UNDEF UNDEF) }
}
""",
        # DuckDB twin: the compatible join IS "NULL-or-equal" on the VALUES
        # side's bound columns.
        oracle=f"""
SELECT '{KG}/customer/' || c.c_custkey AS c,
       c.c_mktsegment AS seg,
       v.bonus AS bonus
FROM customer c
JOIN (VALUES ('BUILDING', 'b'), (NULL, NULL)) v(seg, bonus)
  ON v.seg IS NULL OR v.seg = c.c_mktsegment
WHERE c.c_custkey <= 40
"""),

    # Aggregate-DISTINCT surface (r4): each customer matches ?segp twice
    # (ex:segment and ex:marketSegment carry the same literal), so every
    # ?k term reaches the group twice — SUM sees the bag, SUM/AVG(DISTINCT)
    # dedup by full TERM first (§18.5.1 Distinct is over RDF terms).
    "sparql_aggdistinct_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?nation_name (SUM(?k) AS ?twice) (SUM(DISTINCT ?k) AS ?once)
       (AVG(DISTINCT ?k) AS ?mean) WHERE {
  ?c ex:custkey ?k .
  ?c ex:inNation ?nat .
  ?nat ex:name ?nation_name .
  ?c ?segp ?seg .
  VALUES ?segp { ex:segment ex:marketSegment }
} GROUP BY ?nation_name ORDER BY ?nation_name
""",
        # DuckDB twin: custkeys are unique per customer, so the term-dedup
        # halves the doubled bag exactly — SUM(DISTINCT) = SUM over customers,
        # AVG(DISTINCT) = plain AVG. Decimal aggregates render as fixed-scale-12
        # strings on BOTH sides (see _decimal_cols_as_strings) so the driver's
        # value hash compares representation-stable text, and the AVG replays
        # Spark's decimal(38,12) HALF_UP division exactly via HUGEINT
        # arithmetic ((2*s*10^12 + cnt) // (2*cnt) is half-up for s,cnt > 0)
        # instead of DuckDB's own float/decimal division rounding.
        oracle=f"""
WITH agg AS (
  SELECT n.n_name AS nation_name,
         CAST(SUM(c.c_custkey) AS HUGEINT) AS s,
         CAST(COUNT(*) AS HUGEINT) AS cnt
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name
),
halfup AS (
  SELECT nation_name, s, cnt,
         (s * 2000000000000 + cnt) // (2 * cnt) AS q
  FROM agg
)
SELECT nation_name,
       CAST(CAST(2 * s AS DECIMAL(38,12)) AS VARCHAR) AS twice,
       CAST(CAST(s AS DECIMAL(38,12)) AS VARCHAR) AS once,
       CAST(q // 1000000000000 AS VARCHAR) || '.' ||
         lpad(CAST(q % 1000000000000 AS VARCHAR), 12, '0') AS mean
FROM halfup
ORDER BY nation_name
""", decimals=("twice", "once", "mean")),

    # Strict aggregate error semantics + value-aware MIN/MAX (late r4):
    # grouping the WHOLE KG by predicate makes every semantic branch
    # observable — ex:custkey objects are all numeric (SUM folds, MIN/MAX
    # are numeric extrema, so MIN is "1", not the codepoint minimum "1xx"),
    # while name/segment/type/inNation groups hold non-numeric literals or
    # IRIs, which are §18.5.1.5 type errors that unbind the whole group's
    # SUM (W3C agg-err behavior) and flip MIN/MAX to the ORDER BY total
    # order (numeric terms by value BEFORE non-numeric terms by codepoint).
    "sparql_aggsem_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?p (SUM(?o) AS ?total) (MIN(?o) AS ?lo) (MAX(?o) AS ?hi)
       (COUNT(?o) AS ?n) WHERE {
  ?s ?p ?o .
} GROUP BY ?p ORDER BY ?p
""",
        # DuckDB twin over the same triples relation: the group-error gate
        # is a CASE over a count of bound uncastables; the value-aware
        # extrema are min/max over a named STRUCT sort key (numeric-or-not
        # flag, numeric value, lexical form) — the same (f, n, v) record
        # the engine aggregates, so ties break identically.
        oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL})
SELECT pred AS p,
       CASE WHEN COUNT(CASE WHEN try_cast(obj AS DECIMAL(38,12)) IS NULL
                            THEN 1 END) > 0
            THEN NULL
            ELSE CAST(CAST(SUM(try_cast(obj AS DECIMAL(38,12)))
                           AS DECIMAL(38,12)) AS VARCHAR)
       END AS total,
       (min({_AGGSEM_STRUCT_KEY})).v AS lo,
       (max({_AGGSEM_STRUCT_KEY})).v AS hi,
       CAST(COUNT(obj) AS BIGINT) AS n
FROM triples
GROUP BY pred
ORDER BY p
""", decimals=("total",)),

    # Textual-order Join(LeftJoin(A,G),B) (late r4): the ?other pattern
    # FOLLOWS the OPTIONAL and shares ?r with it, so it compiles as a late
    # segment compatible-joined after the left join — nations whose
    # OPTIONAL matched (regions 0/1) equi-join same-region nations, while
    # the rest carry an UNBOUND ?r that is compatible with EVERY
    # (?other, ?r) pair and takes the pattern's binding. Formerly rejected.
    "sparql_latejoin_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?nat ?r ?other WHERE {
  ?nat a ex:Nation .
  OPTIONAL { ?nat ex:inRegion ?r .
             FILTER (STRENDS(STR(?r), "/region/0") || STRENDS(STR(?r), "/region/1")) }
  ?other ex:inRegion ?r .
}
""",
        # DuckDB twin: the two compatible-join slices written out — bound ?r
        # equi-joins, NULL ?r pairs with every inRegion edge (OR condition).
        oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL}),
nat AS (
  SELECT subj FROM triples
  WHERE pred = '{RDF_TYPE}' AND obj = '{ONT}Nation' AND obj_kind = 'iri'
),
inreg AS (SELECT subj, obj FROM triples WHERE pred = '{ONT}inRegion'),
optj AS (
  SELECT n.subj AS nat, r.obj AS r
  FROM nat n LEFT JOIN inreg r
    ON r.subj = n.subj AND (r.obj LIKE '%/region/0' OR r.obj LIKE '%/region/1')
)
SELECT o.nat AS nat, i.obj AS r, i.subj AS other
FROM optj o JOIN inreg i ON (o.r IS NULL OR o.r = i.obj)
"""),

    # MINUS evaluates at its TEXTUAL point (§8.3, late r4): its
    # compatibility domain is the group-so-far {?c}, disjoint from the
    # MINUS group's {?r, ?nm} — it removes NOTHING, and ?r is bound by the
    # LATER OPTIONAL. The formerly-hoisted Minus keyed on the
    # OPTIONAL-bound ?r (every nation is named) and silently emptied the
    # result; the snapshot domain pins the spec behavior:
    # LeftJoin(Minus(A,M),G), not Minus(LeftJoin(A,G),M).
    "sparql_minus_scope_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?r WHERE {
  ?c a ex:Customer .
  MINUS { ?r ex:name ?nm }
  OPTIONAL { ?c ex:inNation ?r }
}
""", oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL})
SELECT t1.subj AS c, t2.obj AS r
FROM triples t1
LEFT JOIN triples t2 ON t2.subj = t1.subj AND t2.pred = '{ONT}inNation'
WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{ONT}Customer' AND t1.obj_kind = 'iri'
"""),

    # Textual-timeline evaluation (full r4, formerly rejected shapes): a
    # pattern run textually AFTER an OPTIONAL that shares its nullable
    # variable joins at ITS textual position — Join(LeftJoin(A,G),B) per
    # §18.2. BUILDING customers bind ?n to their own nation (one row); all
    # other customers leave ?n unbound at the pattern, which is §18.5
    # compatible with EVERY nation and takes its binding (25 rows each).
    "sparql_timeline_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?n ?nn WHERE {
  ?c a ex:Customer .
  OPTIONAL { ?c ex:marketSegment "BUILDING" . ?c ex:inNation ?n }
  ?n a ex:Nation .
  ?n ex:name ?nn .
}
""", oracle=f"""
SELECT '{KG}/customer/' || c.c_custkey AS c,
       '{KG}/nation/' || n.n_nationkey AS n,
       n.n_name AS nn
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_mktsegment = 'BUILDING'
UNION ALL
SELECT '{KG}/customer/' || c.c_custkey,
       '{KG}/nation/' || n.n_nationkey,
       n.n_name
FROM customer c CROSS JOIN nation n
WHERE c.c_mktsegment <> 'BUILDING'
"""),

    # Join(Minus(A,M),B) in textual order (full r4) — and DISCRIMINATING:
    # the MINUS anti-joins on the group state AT ITS TEXTUAL POINT, where
    # only BUILDING customers bind ?n (their nation has an inRegion triple
    # → removed) and everyone else's ?n is unbound (disjoint §8.3 domains
    # → kept); ONLY THEN does the late pattern bind ?n to every nation. A
    # MINUS hoisted to the end would see the rebound ?n on every row and
    # empty the result.
    "sparql_minus_timeline_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?n ?nname WHERE {
  ?c a ex:Customer .
  OPTIONAL { ?c ex:marketSegment "BUILDING" . ?c ex:inNation ?n }
  MINUS { ?n ex:inRegion ?r }
  ?n a ex:Nation .
  ?n ex:name ?nname .
}
""", oracle=f"""
SELECT '{KG}/customer/' || c.c_custkey AS c,
       '{KG}/nation/' || n.n_nationkey AS n,
       n.n_name AS nname
FROM customer c CROSS JOIN nation n
WHERE c.c_mktsegment <> 'BUILDING'
"""),

    # Left compatible join (full r4, formerly rejected): the second
    # OPTIONAL joins on ?n, which the FIRST OPTIONAL may have left unbound
    # — SPARQL's unbound-is-compatible LeftJoin, evaluated by the sliced
    # decomposition (_compat_join). All three §18.5 kept-μ cases fire:
    # a BUILDING customer whose nation sits in region 1/2 matches (?r
    # bound), one whose nation does not is KEPT with ?r unbound, and a
    # non-BUILDING customer's unbound ?n is compatible with EVERY group
    # row — it takes the group's (?n, ?r) binding, one row per qualifying
    # nation.
    "sparql_optcompat_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?n ?r WHERE {
  ?c a ex:Customer .
  OPTIONAL { ?c ex:marketSegment "BUILDING" . ?c ex:inNation ?n }
  OPTIONAL { ?n ex:inRegion ?r .
             FILTER (?r = <http://kg.example/region/1> ||
                     ?r = <http://kg.example/region/2>) }
}
""", oracle=f"""
SELECT '{KG}/customer/' || c.c_custkey AS c,
       '{KG}/nation/' || n.n_nationkey AS n,
       CASE WHEN n.n_regionkey IN (1, 2)
            THEN '{KG}/region/' || n.n_regionkey END AS r
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_mktsegment = 'BUILDING'
UNION ALL
SELECT '{KG}/customer/' || c.c_custkey,
       '{KG}/nation/' || n.n_nationkey,
       '{KG}/region/' || n.n_regionkey
FROM customer c CROSS JOIN nation n
WHERE c.c_mktsegment <> 'BUILDING' AND n.n_regionkey IN (1, 2)
"""),

    # Disjoint-domain OPTIONAL (full r4, formerly rejected): the group
    # shares NO variable with the solutions-so-far, so every group solution
    # is §18.5-compatible with every outer one — a bag CROSS product whose
    # multiplicity counts the unprojected ?x bindings (one per region-0
    # nation), the LeftJoin(A, G) special case with an always-true
    # compatibility test.
    "sparql_optdisjoint_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?seg ?r WHERE {
  ?c a ex:Customer .
  ?c ex:marketSegment ?seg .
  OPTIONAL { ?x ex:inRegion ?r . FILTER (?r = <http://kg.example/region/0>) }
}
""", oracle=f"""
SELECT '{KG}/customer/' || c.c_custkey AS c,
       c.c_mktsegment AS seg,
       '{KG}/region/0' AS r
FROM customer c CROSS JOIN nation n
WHERE n.n_regionkey = 0
"""),

    # Nested-OPTIONAL compatible join (late r4, formerly rejected): inside
    # the OPTIONAL group, the second nested OPTIONAL joins on ?nation, which
    # the FIRST nested OPTIONAL leaves unbound for every AUTOMOBILE customer
    # outside NATION_7 — §18.5's kept-μ merge: an unbound-?nation row is
    # compatible with EVERY (nation, region) pair and takes its bindings,
    # while non-AUTOMOBILE customers miss the whole group. Exercises the
    # single-sided LEFT compatible-join slice decomposition at a nested
    # level (plans/sparql.py::_compile_group).
    "sparql_nestedopt_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?customer ?cname ?nation ?region WHERE {
  ?customer a ex:Customer .
  ?customer ex:name ?cname .
  OPTIONAL {
    ?customer ex:marketSegment "AUTOMOBILE" .
    OPTIONAL { ?customer ex:inNation ?nation . ?nation ex:name "NATION_7" }
    OPTIONAL { ?nation ex:inRegion ?region }
  }
}
""",
        # The naive-SQL twin: the compatible join is the LEFT JOIN whose ON
        # clause is (equi-key OR left-key-IS-NULL) with the output key
        # COALESCEd — an unbound left key matches every right row and adopts
        # its binding; a bound key equi-joins; an empty right side would leave
        # both NULL (pass-through), exactly the engine's slice decomposition.
        oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL}),
cust AS (
  SELECT t1.subj AS customer, t2.obj AS cname
  FROM triples t1
  JOIN triples t2 ON t2.subj = t1.subj
  WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{ONT}Customer' AND t1.obj_kind = 'iri'
    AND t2.pred = '{ONT}name' AND t2.obj_kind = 'literal'
),
gbase AS (
  SELECT subj AS customer FROM triples
  WHERE pred = '{ONT}marketSegment' AND obj = 'AUTOMOBILE' AND obj_kind = 'literal'
),
n1 AS (
  SELECT a.subj AS customer, a.obj AS nation
  FROM triples a
  JOIN triples b ON b.subj = a.obj
  WHERE a.pred = '{ONT}inNation' AND a.obj_kind = 'iri'
    AND b.pred = '{ONT}name' AND b.obj = 'NATION_7' AND b.obj_kind = 'literal'
),
n2 AS (
  SELECT subj AS nation, obj AS region FROM triples
  WHERE pred = '{ONT}inRegion' AND obj_kind = 'iri'
),
g1 AS (
  SELECT gbase.customer, n1.nation
  FROM gbase LEFT JOIN n1 ON n1.customer = gbase.customer
),
g2 AS (
  SELECT g1.customer, COALESCE(g1.nation, n2.nation) AS nation, n2.region
  FROM g1 LEFT JOIN n2 ON (g1.nation = n2.nation OR g1.nation IS NULL)
)
SELECT cust.customer AS customer, cust.cname AS cname,
       g2.nation AS nation, g2.region AS region
FROM cust LEFT JOIN g2 ON g2.customer = cust.customer
"""),

    # OPTIONAL inside a UNION branch (late r4, formerly rejected): branch 1
    # is nations with an OPTIONAL fan-out to their FURNITURE customers
    # (?extra unbound for nations with none), branch 2 is MACHINERY
    # customers (?extra unbound by domain). The branch compiles as a group
    # through the recursive LeftJoin machinery; the union pads/tracks
    # ?extra as nullable.
    "sparql_unionopt_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?e ?name ?extra WHERE {
  { ?e a ex:Nation . ?e ex:name ?name
    OPTIONAL { ?c ex:inNation ?e . ?c ex:marketSegment "FURNITURE" .
               ?c ex:name ?extra } }
  UNION
  { ?e a ex:Customer . ?e ex:name ?name . ?e ex:marketSegment "MACHINERY" }
}
""", oracle=f"""
SELECT '{KG}/nation/' || n.n_nationkey AS e, n.n_name AS name, c.c_name AS extra
FROM nation n LEFT JOIN customer c
  ON c.c_nationkey = n.n_nationkey AND c.c_mktsegment = 'FURNITURE'
UNION ALL
SELECT '{KG}/customer/' || c_custkey, c_name, NULL
FROM customer WHERE c_mktsegment = 'MACHINERY'
"""),

    # Two-sided compatible LEFT join (late r4, formerly the last LeftJoin
    # rejection): ?nat is nullable on the OUTER side (the first OPTIONAL
    # binds it only for NATION_3 customers) AND on the GROUP side (the
    # second group binds it only inside its nested OPTIONAL, for BUILDING
    # customers whose nation sits in region 1). §18.5: a row with ?nat
    # unbound on either side is compatible and the merge adopts the bound
    # side's value; customers outside BUILDING keep the group unbound.
    "sparql_twoside_left_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?cname ?nat ?seg WHERE {
  ?c a ex:Customer . ?c ex:name ?cname .
  OPTIONAL { ?c ex:inNation ?nat . ?nat ex:name "NATION_3" }
  OPTIONAL { ?c ex:marketSegment "BUILDING" . ?c ex:segment ?seg
             OPTIONAL { ?c ex:inNation ?nat . ?nat ex:inRegion <http://kg.example/region/1> } }
}
""",
        # The naive-SQL twin: each customer has at most ONE group row, so
        # LeftJoin(A, G) is a LEFT JOIN whose ON clause is the §18.5
        # compatibility test itself — equality on the clean key ?c plus
        # (nat-unbound-left OR nat-unbound-right OR equal) — with the output
        # ?nat COALESCEd across the sides.
        oracle=f"""
WITH lhs AS (
  SELECT '{KG}/customer/' || c.c_custkey AS c, c.c_name AS cname,
         CASE WHEN n.n_name = 'NATION_3'
              THEN '{KG}/nation/' || n.n_nationkey END AS nat
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
),
grp AS (
  SELECT '{KG}/customer/' || c.c_custkey AS c, c.c_mktsegment AS seg,
         CASE WHEN n.n_regionkey = 1
              THEN '{KG}/nation/' || n.n_nationkey END AS nat
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE c.c_mktsegment = 'BUILDING'
)
SELECT lhs.c AS c, lhs.cname AS cname,
       COALESCE(lhs.nat, grp.nat) AS nat, grp.seg AS seg
FROM lhs LEFT JOIN grp
  ON grp.c = lhs.c
 AND (lhs.nat IS NULL OR grp.nat IS NULL OR lhs.nat = grp.nat)
"""),

    # MINUS with a nested OPTIONAL (late r4, formerly rejected): the only
    # shared variable ?nat is nullable on BOTH sides — bound on the outer
    # side just for NATION_6 customers, and on the MINUS side just for
    # AUTOMOBILE customers whose nation sits in region 1 — so the engine
    # takes the two-sided §8.3 slice decomposition (_compat_join):
    # a slice pair with no effective key has DISJOINT domains and removes
    # nothing (outer ?nat-unbound rows are always kept; M rows with ?nat
    # unbound never remove), while the bound-bound pair anti-joins on ?nat.
    "sparql_minusopt_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?cname ?nat WHERE {
  ?c a ex:Customer . ?c ex:name ?cname .
  OPTIONAL { ?c ex:inNation ?nat . ?nat ex:name "NATION_6" }
  MINUS { ?m ex:marketSegment "AUTOMOBILE"
          OPTIONAL { ?m ex:inNation ?nat . ?nat ex:inRegion <http://kg.example/region/1> } }
}
""",
        # The naive-SQL twin of §8.3 over the single shared variable: an outer
        # row is removed iff its ?nat is BOUND and some M row binds the SAME
        # ?nat (non-empty overlap + compatibility); unbound-?nat rows on either
        # side fall into disjoint-domain pairs, which Minus keeps.
        oracle=f"""
WITH lhs AS (
  SELECT '{KG}/customer/' || c.c_custkey AS c, c.c_name AS cname,
         CASE WHEN n.n_name = 'NATION_6'
              THEN '{KG}/nation/' || n.n_nationkey END AS nat
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
),
m AS (
  SELECT CASE WHEN n.n_regionkey = 1
              THEN '{KG}/nation/' || n.n_nationkey END AS nat
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE c.c_mktsegment = 'AUTOMOBILE'
)
SELECT lhs.c AS c, lhs.cname AS cname, lhs.nat AS nat
FROM lhs
WHERE lhs.nat IS NULL
   OR NOT EXISTS (SELECT 1 FROM m WHERE m.nat = lhs.nat)
"""),

    # ORDER BY expression surface (r4): the sort key is an arithmetic
    # expression over a NON-projected variable (?k never reaches the
    # projection), evaluated over the solution relation before projection
    # per §18.2.5; LIMIT makes the ordering observable in the result SET
    # (custkeys are unique, so the top-12 slice is deterministic).
    "sparql_orderexpr_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?name WHERE {
  ?c a ex:Customer .
  ?c ex:name ?name .
  ?c ex:custkey ?k .
} ORDER BY DESC(?k * 2 - 1) LIMIT 12
""",
        # 2k-1 is monotone in k, so the slice is the 12 largest custkeys.
        oracle=f"""
SELECT '{KG}/customer/' || c_custkey AS c, c_name AS name
FROM customer
ORDER BY c_custkey DESC
LIMIT 12
"""),

    # Post-aggregation SELECT expressions (r4, §18.2.4.4): expressions over
    # aggregate aliases (?s - ?n) and over a group key's term
    # (UCASE(STR(?nation_name))) evaluate AFTER the aggregation — the
    # engine keeps the group key's term columns through the groupBy and
    # mints derived-literal shadows for the aliases, so the ordinary BIND
    # evaluator runs on the grouped relation. Integral arithmetic keeps the
    # canonical lexical form DuckDB-exact.
    "sparql_selectexpr_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?nation_name (COUNT(?c) AS ?n) (SUM(?k) AS ?s) (?s - ?n AS ?adj)
       (UCASE(STR(?nation_name)) AS ?up) WHERE {
  ?c ex:custkey ?k .
  ?c ex:inNation ?nat .
  ?nat ex:name ?nation_name .
} GROUP BY ?nation_name ORDER BY ?nation_name
""", oracle=f"""
SELECT n.n_name AS nation_name,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(c.c_custkey) AS DECIMAL(38,12)) AS VARCHAR) AS s,
       CAST(CAST(SUM(c.c_custkey) - COUNT(*) AS BIGINT) AS VARCHAR) AS adj,
       UPPER(n.n_name) AS up
FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
ORDER BY nation_name
""", decimals=("s",)),

    # Raw aggregate calls in HAVING and ORDER BY (r4): no alias needed —
    # each call hoists into an internal aliased item computed by the same
    # groupBy (identical calls share one item), so HAVING is a plain
    # post-aggregation filter and ORDER BY sorts on the hidden column.
    "sparql_having_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?nation_name (COUNT(?c) AS ?n) WHERE {
  ?c ex:custkey ?k .
  ?c ex:inNation ?nat .
  ?nat ex:name ?nation_name .
} GROUP BY ?nation_name
HAVING (SUM(?k) > 400 && COUNT(?c) >= 3)
ORDER BY DESC(COUNT(?c)) ?nation_name
""", oracle=f"""
SELECT n.n_name AS nation_name, CAST(COUNT(*) AS BIGINT) AS n
FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
HAVING SUM(c.c_custkey) > 400 AND COUNT(*) >= 3
ORDER BY COUNT(*) DESC, nation_name
"""),

    # Aggregates over expressions (r4): SUM(?k * 2 + 1) — the TPC-H Q1
    # shape (SUM(l_extendedprice * (1 - l_discount))). The argument
    # evaluates per solution as a hidden pre-aggregation BIND and the SUM
    # folds the derived terms; GROUP BY a plain key, ordered.
    "sparql_aggexpr_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?nation_name (SUM(?k * 2 + 1) AS ?rev) (COUNT(*) AS ?n) WHERE {
  ?c ex:custkey ?k .
  ?c ex:inNation ?nat .
  ?nat ex:name ?nation_name .
} GROUP BY ?nation_name ORDER BY ?nation_name
""", oracle=f"""
SELECT n.n_name AS nation_name,
       CAST(CAST(SUM(2 * c.c_custkey + 1) AS DECIMAL(38,12)) AS VARCHAR) AS rev,
       CAST(COUNT(*) AS BIGINT) AS n
FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
ORDER BY nation_name
""", decimals=("rev",)),

    # Nested EXISTS (late r4): nations with a customer that is in the
    # BUILDING segment — the inner EXISTS filters the probe group's own
    # solutions before the outer semi-join (recursive Filter(EXISTS(P),G)).
    "sparql_nested_exists_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?n WHERE {
  ?nat a ex:Nation .
  ?nat ex:name ?n .
  FILTER EXISTS { ?c ex:inNation ?nat .
                  FILTER EXISTS { ?c ex:marketSegment "BUILDING" } }
}
""", oracle=f"""
SELECT n.n_name AS n
FROM nation n
WHERE EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
    AND EXISTS (SELECT 1 FROM customer c2
                WHERE c2.c_custkey = c.c_custkey
                  AND c2.c_mktsegment = 'BUILDING')
)
"""),

    # Post-aggregation SELECT expression INSIDE a subquery (late r4,
    # §18.2.4.4): the subquery computes its constituent aggregates, the
    # expression extends the grouped relation, HAVING filters before the
    # extension, and the group key joins the outer pattern while the
    # derived alias rides along, sorted numerically (exact integer-valued
    # expression so the canonical lexical form byte-matches the oracle's
    # VARCHAR cast).
    "sparql_subq_postagg_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?nation_name ?adj ?n WHERE {
  { SELECT ?nat (SUM(?k) * 2 - COUNT(?k) AS ?adj) (COUNT(?k) AS ?n)
    WHERE { ?c ex:inNation ?nat . ?c ex:custkey ?k } GROUP BY ?nat
    HAVING (COUNT(?k) >= 2) }
  ?nat ex:name ?nation_name .
} ORDER BY DESC(?adj) ?nation_name LIMIT 12
""", oracle="""
WITH agg AS (
  SELECT c.c_nationkey AS nk,
         CAST(SUM(c.c_custkey) * 2 - COUNT(*) AS VARCHAR) AS adj,
         SUM(c.c_custkey) * 2 - COUNT(*) AS adj_num,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM customer c GROUP BY c.c_nationkey HAVING COUNT(*) >= 2
)
SELECT n.n_name AS nation_name, agg.adj, agg.n
FROM agg JOIN nation n ON n.n_nationkey = agg.nk
ORDER BY agg.adj_num DESC, nation_name LIMIT 12
"""),

    # Two-sided unbound-compatible join (late r4): two mixed-variable
    # UNIONs share ?seg, which either side may leave unbound — the
    # slice-pair decomposition evaluates full §18.5 compatibility. Every
    # customer contributes 2×2 = 4 merged solutions (seg bound/unbound on
    # each side; the seg×seg pair agrees because both bind the same term).
    "sparql_twosided_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?seg ?x ?y WHERE {
  { ?c ex:marketSegment ?seg } UNION { ?c ex:sourceSystem ?x }
  { ?c ex:marketSegment ?seg } UNION { ?c ex:inNation ?y }
}
""", oracle=f"""
WITH cust AS (
  SELECT '{KG}/customer/' || c.c_custkey AS c, c.c_mktsegment AS seg,
         '{KG}/nation/' || n.n_nationkey AS y
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT c, seg, CAST(NULL AS VARCHAR) AS x, CAST(NULL AS VARCHAR) AS y FROM cust
UNION ALL
SELECT c, seg, CAST(NULL AS VARCHAR), y FROM cust
UNION ALL
SELECT c, seg, '{KG}/system/tpch', CAST(NULL AS VARCHAR) FROM cust
UNION ALL
SELECT c, CAST(NULL AS VARCHAR), '{KG}/system/tpch', y FROM cust
"""),

    # XPath constructor casts (late r4, §17.5): the numeric tail of the
    # customer name (SUBSTR → xsd:integer) drives a numeric FILTER and
    # projects as a derived integer literal — the classic
    # cast-a-string-column idiom over the generated KG.
    "sparql_cast_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
SELECT ?c ?k2 WHERE {
  ?c a ex:Customer .
  ?c ex:name ?n .
  BIND(xsd:integer(SUBSTR(?n, 10)) AS ?k2)
  FILTER (?k2 >= 5 && ?k2 < 15)
} ORDER BY ?k2
""", oracle=f"""
SELECT '{KG}/customer/' || c_custkey AS c,
       CAST(CAST(SUBSTRING(c_name, 10) AS BIGINT) AS VARCHAR) AS k2
FROM customer
WHERE CAST(SUBSTRING(c_name, 10) AS BIGINT) BETWEEN 5 AND 14
ORDER BY 2
"""),

    # Bounded path quantifier p{n,m} (r5 — the last path-grammar gap vs
    # ARQ, UtilImpl.java:163): (inNation|inRegion){1,2} from each customer
    # reaches its nation in one step and its region in two — the
    # alternation-of-fixed-sequences desugaring (§9.3 bag union) through
    # the ordinary UNION machinery.
    "sparql_pathn_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?c ?x WHERE {
  ?c a ex:Customer .
  ?c (ex:inNation|ex:inRegion){1,2} ?x .
}
""",
        # one step lands on the nation, two steps on the region; no other
        # length-<=2 combination exists (regions have no outgoing edges).
        oracle=f"""
SELECT '{KG}/customer/' || c_custkey AS c,
       '{KG}/nation/' || c_nationkey AS x
FROM customer
UNION ALL
SELECT '{KG}/customer/' || c.c_custkey,
       '{KG}/region/' || n.n_regionkey
FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
"""),

    # GRAPH ?g + aggregation (§13.3) over the quads of build_tpch_quads:
    # per-provenance-graph triple counts — the "which graph did this come
    # from" query a lineage-tracking KG pipeline runs first. Customers
    # contribute class + custkey + inNation per row.
    "sparql_graph_kg": Case(build_tpch_quads, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?g (COUNT(?s) AS ?n) WHERE {
  GRAPH ?g { ?s ex:custkey ?k }
} GROUP BY ?g ORDER BY ?g
""", oracle=f"""
SELECT '{KG}/graph/nation/' || c_nationkey AS g,
       CAST(COUNT(*) AS BIGINT) AS n
FROM customer
GROUP BY c_nationkey
ORDER BY g
"""),

    # GRAPH <iri> slice joined with a GRAPH ?g block: nation names live
    # only in the constant reference graph, the inNation edges in the
    # per-nation graphs — the join crosses graph boundaries through the
    # shared ?nat variable while ?g carries which provenance graph matched.
    "sparql_graphiri_kg": Case(build_tpch_quads, query=f"""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?g ?nm (COUNT(?c) AS ?n) WHERE {{
  GRAPH ?g {{ ?c ex:inNation ?nat }}
  GRAPH <{KG}/graph/ref> {{ ?nat ex:name ?nm }}
}} GROUP BY ?g ?nm ORDER BY ?g
""", oracle=f"""
SELECT '{KG}/graph/nation/' || c.c_nationkey AS g,
       n.n_name AS nm,
       CAST(COUNT(*) AS BIGINT) AS n
FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY c.c_nationkey, n.n_name
ORDER BY g
"""),

    "triple_prf": Case(_triple_prf, query=None,
        # the intersect computes |got ∩ expected| independently of how
        # the driver query perturbed the got side (set semantics,
        # NULL-equal — same as Spark INTERSECT)
        oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL}),
got AS (
  SELECT * FROM triples WHERE pred <> '{ONT}segment'
  UNION ALL
  SELECT '{KG}/synthetic/x', 'iri', '{ONT}bogus',
         '{KG}/synthetic/y', 'iri', NULL, NULL
),
n AS (
  SELECT
    (SELECT COUNT(*) FROM got) AS got_n,
    (SELECT COUNT(*) FROM triples) AS expected_n,
    (SELECT COUNT(*) FROM
       (SELECT * FROM got INTERSECT SELECT * FROM triples)) AS matched
)
SELECT CAST(got_n AS BIGINT) AS got_n,
       CAST(expected_n AS BIGINT) AS expected_n,
       CAST(matched AS BIGINT) AS matched,
       matched * 1.0 / got_n AS "precision",
       matched * 1.0 / expected_n AS recall,
       2.0 * (matched * 1.0 / got_n) * (matched * 1.0 / expected_n)
         / ((matched * 1.0 / got_n) + (matched * 1.0 / expected_n)) AS f1
FROM n
"""),

    # DESCRIBE SPARQL (r3): concise bounded description of every Nation —
    # pinned against a subject-filter over the same triples CTE (the KG has
    # no blank nodes, so CBD here is exactly the outgoing-triples set).
    "sparql_describe_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
DESCRIBE ?n WHERE { ?n a ex:Nation }
""", oracle=f"""
WITH triples AS ({TPCH_KG_ORACLE_SQL})
SELECT subj, subj_kind, pred, obj, obj_kind, lang, dtype FROM triples
WHERE subj IN (
  SELECT subj FROM triples
  WHERE pred = '{RDF_TYPE}' AND obj = '{ONT}Nation' AND obj_kind = 'iri'
)
""", form="describe"),

    # Subquery SPARQL (r3): aggregate-then-join — per-nation customer
    # counts in a subquery, joined to the nation name, filtered on the
    # derived numeric alias, ordered and sliced.
    "sparql_subquery_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?nation_name ?cnt WHERE {
  { SELECT ?nat (COUNT(?c) AS ?cnt) WHERE { ?c ex:inNation ?nat } GROUP BY ?nat }
  ?nat ex:name ?nation_name .
  FILTER (?cnt >= 5)
} ORDER BY DESC(?cnt) ?nation_name LIMIT 10
""", oracle=f"""
WITH counts AS (
  SELECT '{KG}/nation/' || c.c_nationkey AS nat,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM customer c GROUP BY c.c_nationkey
)
SELECT n.n_name AS nation_name, counts.n AS cnt
FROM counts JOIN nation n ON counts.nat = '{KG}/nation/' || n.n_nationkey
WHERE counts.n >= 5
ORDER BY counts.n DESC, nation_name
LIMIT 10
"""),

    # GROUP_CONCAT/SAMPLE SPARQL (r3): canonical sorted concatenation of
    # the distinct segments per nation + a deterministic SAMPLE, pinned
    # against DuckDB string_agg(DISTINCT ... ORDER BY ...).
    "sparql_groupconcat_kg": Case(build_tpch_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?nation_name (GROUP_CONCAT(DISTINCT ?seg; SEPARATOR="|") AS ?segs)
       (SAMPLE(?cname) AS ?first_customer) WHERE {
  ?c ex:inNation ?nat .
  ?c ex:marketSegment ?seg .
  ?c ex:name ?cname .
  ?nat ex:name ?nation_name .
} GROUP BY ?nation_name ORDER BY ?nation_name
""", oracle="""
SELECT n.n_name AS nation_name,
       string_agg(DISTINCT c.c_mktsegment, '|' ORDER BY c.c_mktsegment) AS segs,
       MIN(c.c_name) AS first_customer
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY nation_name
"""),

    # Datetime-accessor SPARQL (r3) over the events KG: filter with
    # YEAR/HOURS on the canonical xsd:dateTime literals and project the
    # hour via BIND — pinned against plain DuckDB date-part SQL.
    "sparql_datetime_kg": Case(_events_kg, query="""
PREFIX ex: <http://kg.example/ontology#>
SELECT ?e ?h WHERE {
  ?e a ex:Event .
  ?e ex:at ?t .
  ?e ex:kind "purchase" .
  FILTER (YEAR(?t) = 2024 && HOURS(?t) < 6)
  BIND(HOURS(?t) AS ?h)
}
""", oracle=f"""
SELECT '{KG}/event/' || event_id AS e,
       CAST(hour(ts) AS VARCHAR) AS h
FROM events
WHERE event_type = 'purchase' AND year(ts) = 2024 AND hour(ts) < 6
"""),
}
