"""Mimic the driver's correctness gate: run every queries() entry and its
oracle_sql() DuckDB twin at a small scale factor and compare row count,
column names, and (order-insensitively) values.

This is the same comparison CORRECTNESS_r{N}.json records, run locally
so regressions surface in pytest first.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from r2rml_parser_spark.oracles import canonical_rows, duckdb_views  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

ORACLED = sorted(entrymod.oracle_sql().keys())
ROWS_ONLY = sorted(set(entrymod.queries()) - set(ORACLED))


@pytest.fixture(scope="module")
def duck():
    return duckdb_views(SF_DIR)


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    df = q(spark, SF_DIR)
    spark_cols = df.columns
    spark_rows = canonical_rows(spark_cols, df.collect())

    res = duck.execute(entrymod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = canonical_rows(duck_cols, res.fetchall())

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: rowcount {len(spark_rows)} vs oracle {len(duck_rows)}"
    )
    if spark_rows != duck_rows:
        diffs = [(a, b) for a, b in zip(spark_rows, duck_rows) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    assert df.count() >= 0
    assert df.schema


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


#: every driver query name. A name dropped from both queries() and
#: oracle_sql() would only shrink the parametrized lists above, so the
#: key sets are pinned here.
DRIVER_NAMES = set(
    """
    ann_cosine_topk ann_ivf_topk chunk_docs connected_components
    decontamination dedup_exact docs_reassembled domain_mix
    embedding_neardup fingerprints gopher_rules kg_docs_triples
    kg_negatives kg_pagerank kg_tpch_triples lang_id media_features
    mentions minhash_bands neardup_pairs pack_sequences
    proportional_sample repetition_signals scrub_pii sessionized_events
    simhash_groups span_view sparql_agg_kg sparql_aggdistinct_kg
    sparql_aggexpr_kg sparql_aggsem_kg sparql_alt_opt_kg sparql_arith_kg
    sparql_boolbind_kg sparql_cast_kg sparql_closure_kg
    sparql_closure_seeded_kg sparql_construct_kg sparql_datetime_kg
    sparql_describe_kg sparql_ebv_kg sparql_exists_expr_kg
    sparql_exists_kg sparql_existsnull_kg sparql_graph_kg
    sparql_graphiri_kg sparql_groupbind_kg sparql_groupconcat_kg
    sparql_having_kg sparql_kg sparql_latejoin_kg sparql_minus_scope_kg
    sparql_minus_timeline_kg sparql_minusopt_kg sparql_nested_exists_kg
    sparql_nestedopt_kg sparql_npspath_kg sparql_optcompat_kg
    sparql_optdisjoint_kg sparql_optfilter_kg sparql_orderexpr_kg
    sparql_path_kg sparql_pathn_kg sparql_pathx_kg sparql_selectexpr_kg
    sparql_store_graph_kg sparql_store_kg sparql_str_kg
    sparql_subq_postagg_kg sparql_subquery_kg sparql_timeline_kg
    sparql_twoside_filter_kg sparql_twoside_left_kg sparql_twosided_kg
    sparql_typed_kg sparql_union_kg sparql_unionopt_kg sparql_values_kg
    stratified_sample strip_boilerplate text_quality tfidf_keywords
    token_counts token_frequencies triple_prf windowed_events
    """.split()
)


def test_driver_key_sets():
    assert set(entrymod.queries()) == DRIVER_NAMES
    assert set(entrymod.oracle_sql()) == DRIVER_NAMES
    assert len(DRIVER_NAMES) == 86
