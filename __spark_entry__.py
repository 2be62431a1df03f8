"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full docs→KG pipeline (span synthesis,
mention detection, mapping-driven triple emission, MinHash+CC
canonicalization) at sf0.001.

``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY.md §3 + the data-ops additions. The TPC-H cases (the KG build,
SPARQL over it, and the operators over the KG) come from the case table
``r2rml_parser_spark.tpch_kg.CASES``, each run by ``tpch_kg.run_case``;
the docs and data-ops queries are the ``q_*`` functions here. DuckDB
oracles reproduce each result bit-for-bit (md5-based hashing, identical
folds, rounded doubles). Iterative CC is oracled via a DuckDB
recursive-CTE closure; even the mapInPandas feature extraction is
oracled — its fake decode is a hex-string md5 chain DuckDB can replay
exactly.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from r2rml_parser_spark.pipeline import build_kg

    return build_kg(spark, "/root/testdata/sf0.001", canonicalize=True)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # small single-split parquet: spread rows so md5/shingle-heavy
    # operators use every core (no-op effect on results)
    par = spark.sparkContext.defaultParallelism
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(par)


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    par = spark.sparkContext.defaultParallelism
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(par)


# -- KG construction ---------------------------------------------------

def q_kg_docs_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.pipeline import build_kg

    return build_kg(spark, sf_dir, canonicalize=False)


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted domain mixing (curriculum construction): keep 50% of
    en, 20% of de, 5% of every other language — deterministic
    per-group md5-prefix cut, no shuffle, oracle-exact."""
    from r2rml_parser_spark.operators.sampling import domain_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    return domain_mix(docs, "lang", {"en": 0.5, "de": 0.2}, default=0.05)


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (r4): deterministic PII-ish tokens are seeded
    into every 5th document, then redacted with per-kind counts —
    one codegen projection, no shuffle; the DuckDB oracle replays the
    seeding and the engine-portable regex set exactly."""
    from r2rml_parser_spark.operators.scrub import scrub_pii

    docs = _docs(spark, sf_dir)
    seeded = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id"),
                F.lit("@example.org or +1-555-0142 at 10.0."),
                F.col("doc_id") % 200,
                F.lit(".7"),
            ),
        ).otherwise(F.col("text")),
    )
    return scrub_pii(seeded).select(
        "doc_id", "text", "n_email", "n_phone", "n_ipv4"
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (batch construction) over the
    documents table; char counts stand in for tokens so the DuckDB
    oracle replays the packing exactly."""
    from pyspark.sql import functions as FF

    from r2rml_parser_spark.operators.sampling import pack_sequences

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", FF.length("text").cast("bigint").alias("n_tokens"))
    )
    return pack_sequences(docs, budget=5000)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language quota sample (training-data curation
    op): ≤20 docs per lang by md5(doc_id) order."""
    from r2rml_parser_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    return stratified_sample(docs, "lang", 20)


def q_proportional_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~25% corpus sample via the md5 hex-prefix cut."""
    from r2rml_parser_spark.operators.sampling import proportional_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return proportional_sample(docs, 0.25)


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-doc count of word 8-grams shared
    with a deterministic md5-cut 'benchmark' subset of the corpus —
    benchmark grams broadcast, corpus side never shuffles."""
    from r2rml_parser_spark.operators.decontaminate import contaminated_ids

    docs = _docs(spark, sf_dir)
    bench = docs.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "08"
    )
    return contaminated_ids(docs, bench, n=8)


def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal over the interleaved span
    sequence: text spans recurring verbatim in ≥3 distinct docs are
    dropped via a broadcast anti join (the corpus never shuffles);
    media spans pass through untouched."""
    from r2rml_parser_spark.operators.boilerplate import strip_boilerplate
    from r2rml_parser_spark.sources.docs import synth_span_rows

    spans = synth_span_rows(spark, sf_dir)
    return strip_boilerplate(spans, min_docs=3).select(
        "doc_id",
        F.col("offset").alias("span_offset"),
        "kind",
        F.md5(F.coalesce("text", "media_ref")).alias("content_md5"),
    )


def q_span_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.sources.docs import span_view, synth_docs

    return span_view(synth_docs(spark, sf_dir)).withColumnRenamed("offset", "span_offset")


def q_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.operators.mentions import detect_mentions, entity_dictionary
    from r2rml_parser_spark.sources.docs import span_view, synth_docs

    spans = span_view(synth_docs(spark, sf_dir))
    return detect_mentions(spans, entity_dictionary(spark)).withColumnRenamed(
        "offset", "span_offset"
    )


# -- dedup family ------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.operators.dedup import minhash_band_buckets

    return minhash_band_buckets(_docs(spark, sf_dir))


def q_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.operators.dedup import neardup_edges

    # fused single-shingle-pass form; identical output to the
    # minhash_candidate_pairs + jaccard_pairs composition (tested)
    return neardup_edges(_docs(spark, sf_dir), threshold=0.8, hash_family="md5")


def q_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.operators.dedup import simhash_groups

    return simhash_groups(_docs(spark, sf_dir))


# -- text analysis -----------------------------------------------------

def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (60-token windows, 12-token
    overlap): shuffle-free per-document fan-out, exact DuckDB twin."""
    from r2rml_parser_spark.operators.chunking import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), 60, 12)


def q_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-50 tokens by occurrence count with
    document frequency (deterministic head, two-phase counts)."""
    from r2rml_parser_spark.operators.keywords import token_frequencies

    return token_frequencies(_docs(spark, sf_dir), 50)


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (corpus-global smoothed idf;
    rounded-doubles oracle, window ordered on the rounded score)."""
    from r2rml_parser_spark.operators.keywords import tfidf_keywords

    return tfidf_keywords(_docs(spark, sf_dir), 3)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.operators.textstats import quality_stats

    return quality_stats(_docs(spark, sf_dir))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.operators.textstats import language_id

    return language_id(_docs(spark, sf_dir))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.operators.textstats import bpe_ish_token_count, token_count

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_pieces"),
    )


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.operators.textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.operators.textstats import gopher_rules

    return gopher_rules(_docs(spark, sf_dir))


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc duplicate/top word-bigram fractions (Gopher repetition
    filters) — zero-shuffle in-row signals over one documents scan."""
    from r2rml_parser_spark.operators.textstats import repetition_signals

    return repetition_signals(_docs(spark, sf_dir), n=2)


# -- event analytics ---------------------------------------------------

def q_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.operators.events import windowed_event_stats

    return windowed_event_stats(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_sessionized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.operators.events import sessionize

    return sessionize(spark.read.parquet(f"{sf_dir}/events.parquet"))


# -- similarity search -------------------------------------------------

def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.operators.similarity import cosine_topk

    emb = _embeddings(spark, sf_dir)
    return cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.operators.similarity import embedding_neardup

    return embedding_neardup(_embeddings(spark, sf_dir), threshold=0.8)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.operators.similarity import ivf_topk

    emb = _embeddings(spark, sf_dir)
    return ivf_topk(emb, emb.where(F.col("vec_id") < 10), k=5, nprobe=2)


# -- non-SQL-expressible (rows-only checks) ----------------------------

def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from r2rml_parser_spark.operators.components import connected_components
    from r2rml_parser_spark.operators.dedup import minhash_candidate_pairs

    docs = _docs(spark, sf_dir)
    edges = minhash_candidate_pairs(docs).select(
        F.col("a").alias("u"), F.col("b").alias("v")
    )
    return connected_components(edges)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction, projected to scalar double
    columns (feat_0..feat_7) so the driver canonicalizer can sort/hash
    the frame — and so the md5-arithmetic DuckDB oracle can check the
    actual feature values, not just row counts."""
    from r2rml_parser_spark.operators.multimodal import features_checkable, synth_media_table
    from r2rml_parser_spark.sources.docs import span_view, synth_docs

    media = synth_media_table(span_view(synth_docs(spark, sf_dir)))
    return features_checkable(media)


def q_docs_reassembled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-sequence invariant surface: explode → shuffle → reassemble,
    returning per-doc sequence fingerprints (SQL-checkable)."""
    from r2rml_parser_spark.sources.docs import reassemble, span_view, synth_docs

    docs = reassemble(span_view(synth_docs(spark, sf_dir)).repartition(32, "kind"))
    seq = F.transform(
        "spans",
        lambda s: F.concat_ws(
            "\x01",
            s["kind"], F.coalesce(s["text"], F.lit("")),
            F.coalesce(s["media_ref"], F.lit("")), s["offset"].cast("string"),
        ),
    )
    return docs.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.md5(F.array_join(seq, "\x02")).alias("sequence_md5"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from r2rml_parser_spark.tpch_kg import CASES, run_case

    return {
        "kg_docs_triples": q_kg_docs_triples,
        **{name: partial(run_case, case=case) for name, case in CASES.items()},
        "domain_mix": q_domain_mix,
        "scrub_pii": q_scrub_pii,
        "span_view": q_span_view,
        "mentions": q_mentions,
        "pack_sequences": q_pack_sequences,
        "stratified_sample": q_stratified_sample,
        "proportional_sample": q_proportional_sample,
        "decontamination": q_decontamination,
        "strip_boilerplate": q_strip_boilerplate,
        "dedup_exact": q_dedup_exact,
        "minhash_bands": q_minhash_bands,
        "neardup_pairs": q_neardup_pairs,
        "simhash_groups": q_simhash_groups,
        "text_quality": q_text_quality,
        "tfidf_keywords": q_tfidf_keywords,
        "token_frequencies": q_token_frequencies,
        "chunk_docs": q_chunk_docs,
        "lang_id": q_lang_id,
        "token_counts": q_token_counts,
        "fingerprints": q_fingerprints,
        "gopher_rules": q_gopher_rules,
        "repetition_signals": q_repetition_signals,
        "ann_cosine_topk": q_ann_cosine_topk,
        "embedding_neardup": q_embedding_neardup,
        "windowed_events": q_windowed_events,
        "sessionized_events": q_sessionized_events,
        "docs_reassembled": q_docs_reassembled,
        "connected_components": q_connected_components,
        "ann_ivf_topk": q_ann_ivf_topk,
        "media_features": q_media_features,
    }


def oracle_sql() -> dict[str, str]:
    from r2rml_parser_spark import oracles
    from r2rml_parser_spark.operators import events as events_ops
    from r2rml_parser_spark.operators.mentions import mentions_oracle_sql
    from r2rml_parser_spark.operators.multimodal import media_features_sql
    from r2rml_parser_spark.pipeline import kg_oracle_sql
    from r2rml_parser_spark.sources.docs import SPAN_VIEW_ORACLE_SQL
    from r2rml_parser_spark.tpch_kg import CASES

    span_sql = f"SELECT doc_id, lang, source, kind, text, media_ref, \"offset\" AS span_offset FROM ({SPAN_VIEW_ORACLE_SQL}) v"
    reassembled_sql = f"""
WITH sv AS ({SPAN_VIEW_ORACLE_SQL}),
seq AS (
  SELECT doc_id,
         array_to_string(
           list_transform(
             list_sort(list(
               {{'o': "offset", 'line': kind || chr(1) || coalesce(text, '') ||
                 chr(1) || coalesce(media_ref, '') || chr(1) || "offset"}})),
             x -> x.line),
           chr(2)) AS joined,
         count(*) AS n_spans
  FROM sv GROUP BY doc_id
)
SELECT doc_id, CAST(n_spans AS INT) AS n_spans, md5(joined) AS sequence_md5 FROM seq
"""
    return {
        "kg_docs_triples": kg_oracle_sql(),
        **{name: case.oracle for name, case in CASES.items()},
        "domain_mix": """
SELECT doc_id, lang FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) <
  CASE lang WHEN 'en' THEN '800000000000000' WHEN 'de' THEN '333333333333340'
            ELSE '0ccccccccccccd0' END
""",
        "scrub_pii": r"""
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' contact user' || doc_id
                   || '@example.org or +1-555-0142 at 10.0.'
                   || (doc_id % 200) || '.7'
              ELSE text END AS text
  FROM documents
), s1 AS (
  SELECT doc_id, text,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM seeded
), s2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t1, '\+\d{1,2}-\d{3}-\d{4}')) AS BIGINT) AS n_phone,
         regexp_replace(t1, '\+\d{1,2}-\d{3}-\d{4}', '<PHONE>', 'g') AS t2
  FROM s1
)
SELECT doc_id,
       regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text,
       n_email, n_phone,
       CAST(len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4
FROM s2
""",
        "span_view": span_sql,
        "mentions": mentions_oracle_sql(SPAN_VIEW_ORACLE_SQL),
        "pack_sequences": oracles.pack_sequences_sql(5000),
        "stratified_sample": oracles.stratified_sample_sql(20),
        "proportional_sample": oracles.proportional_sample_sql(0.25),
        "decontamination": oracles.decontamination_sql(8, "08"),
        "strip_boilerplate": oracles.strip_boilerplate_sql(3),
        "dedup_exact": oracles.DEDUP_EXACT_SQL,
        "minhash_bands": oracles.minhash_bands_sql(),
        "neardup_pairs": oracles.neardup_pairs_sql(0.8),
        "simhash_groups": oracles.simhash_groups_sql(),
        "text_quality": oracles.text_quality_sql(),
        "tfidf_keywords": __import__(
            "r2rml_parser_spark.operators.keywords", fromlist=["x"]
        ).tfidf_keywords_oracle_sql(3),
        "token_frequencies": __import__(
            "r2rml_parser_spark.operators.keywords", fromlist=["x"]
        ).token_frequencies_oracle_sql(50),
        "chunk_docs": __import__(
            "r2rml_parser_spark.operators.chunking", fromlist=["x"]
        ).chunk_documents_oracle_sql(60, 12),
        "lang_id": oracles.lang_id_sql(),
        "token_counts": oracles.token_counts_sql(),
        "fingerprints": oracles.fingerprints_sql(),
        "gopher_rules": oracles.gopher_rules_sql(),
        "repetition_signals": oracles.repetition_signals_sql(2),
        "ann_cosine_topk": oracles.ann_cosine_topk_sql(5, 10),
        "ann_ivf_topk": oracles.ann_ivf_topk_sql(5, 2, 10),
        "embedding_neardup": oracles.embedding_neardup_sql(0.8),
        "windowed_events": events_ops.windowed_event_stats_sql(),
        "sessionized_events": events_ops.sessionize_sql(),
        "docs_reassembled": reassembled_sql,
        "connected_components": oracles.connected_components_sql(),
        # the fake decode chain is pure (hex-string) md5 arithmetic —
        # fully replayable in DuckDB, upgrading this from rows-only
        "media_features": media_features_sql(SPAN_VIEW_ORACLE_SQL),
    }
