"""The benchmark's TPC-H mapping, its DuckDB oracles and its query mix.

The mapping extends the repository's ``TPCH_MAPPING_TTL`` (customer and
nation) with an order map and a line-item map: IRI templates,
XSD-typed literals from DOUBLE and TIMESTAMP columns, two ref-object
joins (order → customer on ``o_custkey``, line item → order on
``l_orderkey``) and one ``rr:sqlQuery`` view (the line items, with a
computed net price). The added maps use their own predicates, so the
reused customer/nation queries and oracles keep their meaning.
"""

from __future__ import annotations

from r2rml_parser_spark import tpch_kg

KG = tpch_kg.KG
ONT = f"{KG}/ontology#"
RDF_TYPE = tpch_kg.RDF_TYPE

LINEITEM_VIEW = (
    "SELECT l_orderkey, l_linenumber, l_quantity, "
    "l_extendedprice * (1 - l_discount) AS l_netprice, l_returnflag, l_shipdate "
    "FROM lineitem"
)

MAPPING_TTL = tpch_kg.TPCH_MAPPING_TTL + f"""
<#OrderMap> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "orders" ];
  rr:subjectMap [ rr:template "{KG}/order/{{o_orderkey}}"; rr:class ex:Order ];
  rr:predicateObjectMap [ rr:predicate ex:orderStatus; rr:objectMap [ rr:column "o_orderstatus" ] ];
  rr:predicateObjectMap [ rr:predicate ex:totalPrice; rr:objectMap [ rr:column "o_totalprice" ] ];
  rr:predicateObjectMap [ rr:predicate ex:orderDate; rr:objectMap [ rr:column "o_orderdate" ] ];
  rr:predicateObjectMap [ rr:predicate ex:priority; rr:objectMap [ rr:column "o_orderpriority" ] ];
  rr:predicateObjectMap [ rr:predicate ex:ofCustomer;
    rr:objectMap [ a rr:RefObjectMap; rr:parentTriplesMap <#CustomerMap>;
                   rr:joinCondition [ rr:child "o_custkey"; rr:parent "c_custkey" ] ] ] .

<#LineItemMap> a rr:TriplesMap;
  rr:logicalTable [ rr:sqlQuery "{LINEITEM_VIEW}" ];
  rr:subjectMap [ rr:template "{KG}/lineitem/{{l_orderkey}}-{{l_linenumber}}"; rr:class ex:LineItem ];
  rr:predicateObjectMap [ rr:predicate ex:quantity; rr:objectMap [ rr:column "l_quantity" ] ];
  rr:predicateObjectMap [ rr:predicate ex:netPrice; rr:objectMap [ rr:column "l_netprice" ] ];
  rr:predicateObjectMap [ rr:predicate ex:returnFlag; rr:objectMap [ rr:column "l_returnflag" ] ];
  rr:predicateObjectMap [ rr:predicate ex:shipDate; rr:objectMap [ rr:column "l_shipdate" ] ];
  rr:predicateObjectMap [ rr:predicate ex:ofOrder;
    rr:objectMap [ a rr:RefObjectMap; rr:parentTriplesMap <#OrderMap>;
                   rr:joinCondition [ rr:child "l_orderkey"; rr:parent "o_orderkey" ] ] ] .
"""

#: predicate → DuckDB count of the distinct triples the mapping emits for
#: it over the source tables (every subject has one value per predicate,
#: and no column the mapping reads is NULL, so row counts are triple
#: counts; the two joins count only rows whose parent exists)
PREDICATE_COUNT_SQL = {
    RDF_TYPE: "SELECT (SELECT count(*) FROM customer) + (SELECT count(*) FROM nation)"
              " + (SELECT count(*) FROM orders) + (SELECT count(*) FROM lineitem)",
    f"{ONT}name": "SELECT (SELECT count(*) FROM customer) + (SELECT count(*) FROM nation)",
    f"{ONT}custkey": "SELECT count(*) FROM customer",
    f"{ONT}segment": "SELECT count(*) FROM customer",
    f"{ONT}marketSegment": "SELECT count(*) FROM customer",
    f"{ONT}sourceSystem": "SELECT count(*) FROM customer",
    f"{ONT}inNation": "SELECT count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey",
    f"{ONT}inRegion": "SELECT count(*) FROM nation",
    f"{ONT}orderStatus": "SELECT count(*) FROM orders",
    f"{ONT}totalPrice": "SELECT count(*) FROM orders",
    f"{ONT}orderDate": "SELECT count(*) FROM orders",
    f"{ONT}priority": "SELECT count(*) FROM orders",
    f"{ONT}ofCustomer": "SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey",
    f"{ONT}quantity": "SELECT count(*) FROM lineitem",
    f"{ONT}netPrice": "SELECT count(*) FROM lineitem",
    f"{ONT}returnFlag": "SELECT count(*) FROM lineitem",
    f"{ONT}shipDate": "SELECT count(*) FROM lineitem",
    f"{ONT}ofOrder": "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
}

# -- the query mix -----------------------------------------------------------
# (name, SPARQL text, DuckDB oracle SQL over the source tables, kind)
# kind "store" runs through GraphStore.query, "dataset" through
# GraphStore.query_dataset (GRAPH blocks over the per-map named graphs).

# 3-hop BGP with GROUP BY (line item → order → customer → nation) in
# worst-case pattern order: the unselective ?l ?p ?v pattern comes first,
# the selective constant-object patterns last
_RETURNED_BUILDING_WORST = f"""
PREFIX ex: <{ONT}>
SELECT ?nation_name (COUNT(?l) AS ?n) WHERE {{
  ?l ?p ?v .
  ?l ex:ofOrder ?o .
  ?o ex:ofCustomer ?c .
  ?c ex:inNation ?nat .
  ?nat ex:name ?nation_name .
  ?l ex:returnFlag "R" .
  ?c ex:marketSegment "BUILDING" .
  FILTER (?p = ex:returnFlag)
}} GROUP BY ?nation_name
"""
_RETURNED_BUILDING_SQL = """
SELECT n_name AS nation_name, count(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R' AND c_mktsegment = 'BUILDING'
GROUP BY 1
"""

# a GRAPH block through query_dataset: which map's named graph holds the
# order → customer links, joined with a default-graph pattern
_GRAPH_ORDER_LINKS = f"""
PREFIX ex: <{ONT}>
SELECT ?g (COUNT(?o) AS ?n) WHERE {{
  GRAPH ?g {{ ?o ex:ofCustomer ?c }}
  ?c ex:marketSegment "MACHINERY" .
}} GROUP BY ?g
"""


def query_mix(map_uri: dict[str, str]) -> list[tuple[str, str, str, str]]:
    """The mix; ``map_uri`` (map name → triples-map URI) names the graphs,
    since the store's named graphs are the triples-map URIs."""
    graph_sql = f"""
SELECT '{map_uri["OrderMap"]}' AS g, count(*) AS n
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'MACHINERY'
"""
    return [
        ("tpch_sparql", tpch_kg.TPCH_SPARQL_QUERY, tpch_kg.TPCH_SPARQL_ORACLE_SQL, "store"),
        ("returned_building_per_nation_worst_order", _RETURNED_BUILDING_WORST,
         _RETURNED_BUILDING_SQL, "store"),
        ("graph_machinery_orders", _GRAPH_ORDER_LINKS, graph_sql, "dataset"),
    ]
