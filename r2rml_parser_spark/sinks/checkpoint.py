"""Resumable graph store with per-mapping checkpoints and per-partition
lineage metrics.

Re-imagines the reference's incremental dump (Generator.java:90-273,
SURVEY.md §4.3): instead of reified dc:source statements + MD5 hashes of
a full table re-read, the graph lives in a parquet table PARTITIONED BY
the ``source_map`` lineage column (so "delete one mapping's output" is a
partition drop, the parquet analogue of Iceberg delete-by-filter), and a
JSON manifest records, per triples map:

  * the mapping-definition hash (TriplesMap.definition_hash — replaces
    UtilImpl.java:395-437),
  * a file-metadata fingerprint of the source (sorted file list +
    sizes + mtimes — the parquet analogue of an Iceberg snapshot id),
  * a commutative, multiplicity-sensitive source content hash
    (decimal sum of xxhash64 over rows — replaces the order-sensitive
    rolling MD5 of UtilImpl.java:364-393, which cannot parallelize),
  * per-partition triple counts (lineage metrics),
  * a monotonically increasing snapshot id,
  * an overlap signature (``overlap_signature``): the map's effective
    subject IRI template and its constant predicate set, or nothing
    when the partition was not written from a known triples map.

Each partition is a SET by construction: ``GraphStore.write_mapping``
deduplicates what it writes. The graph is the set union of the
partitions, and ``GraphStore.read`` deduplicates only the partitions
whose signatures do not prove them disjoint from every other one (the
manifest plays the role of Delta Lake's transaction log: invariants
and statistics that readers trust without a rescan).

A mapping is SKIPPED when the definition hash matches AND the source
is provably unchanged — same skip decision as the reference, but
METADATA-FIRST (VERDICT r2 #5): if the file fingerprint matches the
manifest, the skip costs zero Spark jobs (driver-side listing only —
at 100 TB "decide to skip" must not mean "read 100 TB"); the full
content hash runs only when file metadata changed or the source has
no file backing (in-memory/JDBC sources), and still catches
rewritten-but-identical files. A killed run resumes: committed
mappings are skipped by the same gates.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from r2rml_parser_spark.mapping.model import Template, TermType, TriplesMap
from r2rml_parser_spark.plans.compile import TRIPLE_COLUMNS
from r2rml_parser_spark.plans.engine import LINEAGE_COLUMN, RDF_TYPE, MappingEngine
from r2rml_parser_spark.plans.rewrite import effective_iri_template, templates_may_collide

MANIFEST = "manifest.json"


def _triple_schema():
    from pyspark.sql.types import StringType, StructField, StructType

    return StructType([StructField(c, StringType(), True) for c in TRIPLE_COLUMNS])


def _safe_dirname(uri: str) -> str:
    import hashlib

    return hashlib.md5(uri.encode()).hexdigest()[:16]


def source_content_hash(df: DataFrame) -> int:
    """Order-insensitive content fingerprint of a source: SUM of
    xxhash64 over all columns, accumulated in decimal(38,0) —
    commutative (parallelizes with map-side combine), no ANSI overflow
    (38 digits hold 10^19 rows of ±2^63 terms), and — unlike bit_xor —
    multiplicity-sensitive: XOR cancels rows with even multiplicity, so
    a row going 1→3 copies or {A,A,B}→{C,C,B} fingerprinted identically
    and the incremental runner silently skipped a changed source
    (ADVICE r1). Folded to 64 bits for the manifest."""
    row = df.select(
        F.coalesce(
            F.sum(F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")),
            F.lit(0),
        ).alias("h")
    ).collect()[0]
    return int(row["h"]) & 0xFFFFFFFFFFFFFFFF


def source_files_fingerprint(df: DataFrame) -> str | None:
    """Driver-side metadata fingerprint of the files backing a source
    plan: md5 over the sorted (uri, size, mtime_ms) triples from
    ``DataFrame.inputFiles()`` — file-index metadata only, NO data
    scan and no Spark job. Returns None when the plan reads no files
    (in-memory / JDBC sources) or file metadata is unreachable
    (non-local filesystem); callers then fall back to
    ``source_content_hash``. On an Iceberg/Delta deployment the
    equivalent first gate is the table's snapshot/version id
    (SURVEY §4.3)."""
    import hashlib
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    entries = []
    for uri in sorted(files):
        p = urlparse(uri)
        if p.scheme not in ("", "file"):
            return None  # remote FS: not statable from this driver
        try:
            st = os.stat(unquote(p.path))
        except OSError:
            return None
        entries.append(f"{uri}|{st.st_size}|{int(st.st_mtime * 1000)}")
    return hashlib.md5("\n".join(entries).encode()).hexdigest()


def overlap_signature(tm: TriplesMap, engine: MappingEngine) -> dict:
    """What ``GraphStore.read`` needs to prove a map's partition disjoint
    from another's, as stored in the manifest: every triple of the map
    has a subject rendered from the map's subject template and one of
    its constant predicates (``rdf:type`` for the class triples).

    ``subject_template`` holds the constant parts of the subject
    template as the engine renders it (base namespace folded in). It is
    None, meaning unknown, unless the subject is an IRI template whose
    fields are IRI-safe percent-encoded: only then is every field value
    drawn from the character set ``templates_may_collide`` assumes."""
    sm = tm.subject_map
    template = None
    if (
        sm.template is not None
        and sm.term_type == TermType.IRI
        and engine.encode_iris
        and not engine.form_encoding  # form encoding also emits '+' and '*'
    ):
        template = list(effective_iri_template(sm.template, engine.base_ns).parts)
    preds = {p for pom in tm.predicate_object_maps for p in pom.predicates}
    if tm.classes:
        preds.add(RDF_TYPE)
    return {"subject_template": template, "predicates": sorted(preds)}


def _may_overlap(a: dict | None, b: dict | None) -> bool:
    """False only when two partitions provably share no triple: their
    predicate sets are disjoint, or no field values render their subject
    templates equal. A missing signature proves nothing."""
    if a is None or b is None:
        return True
    if not set(a["predicates"]) & set(b["predicates"]):
        return False
    ta, tb = a["subject_template"], b["subject_template"]
    if ta is None or tb is None:
        return True
    return templates_may_collide(
        *(Template(text="", parts=tuple(t), fields=("",) * (len(t) - 1)) for t in (ta, tb))
    )


class GraphStore:
    """Partitioned (by source_map) parquet graph table + JSON manifest.

    Each mapping's partition is additionally range-clustered on
    (subj, pred, obj) at write time — the parquet analogue of an Iceberg
    table whose sort order is SORTED BY (subj, pred, obj): every file
    carries tight min/max column stats, so point/range reads over the
    store (the SPARQL BGP surface binds subjects and predicates to
    constants) prune whole files instead of scanning the graph.

    Invariant: every partition is a set, because ``write_mapping``
    deduplicates what it writes, so callers hand it raw emissions. The
    graph is the set union of the partitions. ``read`` streams each
    partition whose manifest signature proves it disjoint from all the
    others and deduplicates only the union of the rest (see
    ``overlap_signature``).

    ``cluster_partitions`` sizes the range shuffle; None means
    ``sparkContext.defaultParallelism`` (= total cluster cores), which
    is right up to ~10^9 triples per mapping. At 10^12-doc scale set it
    to ``triples / rows_per_file`` for ~128 MB files. No salt column is
    needed even for hot predicates or high-degree subjects: the store
    holds SET-deduped triples, so the 3-column range key is unique per
    row and the range sampler splits a hot (subj, pred) run across as
    many buckets as its obj values need — salting is only required when
    partitioning by key EQUALITY (see operators/dedup.py exact_dedup).
    """

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        cluster_partitions: int | None = None,
    ):
        self.spark = spark
        self.base = base_path
        self.cluster_partitions = cluster_partitions
        os.makedirs(self.base, exist_ok=True)

    # -- manifest ------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.base, MANIFEST)

    def read_manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {"snapshot": 0, "mappings": {}}

    def _commit_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path())  # atomic commit point

    # -- graph table -----------------------------------------------------
    def _mapping_dir(self, source_map: str) -> str:
        return os.path.join(self.base, "graph", f"src={_safe_dirname(source_map)}")

    def write_mapping(self, source_map: str, triples: DataFrame) -> list[int]:
        """(Over)write one mapping's partition as a SET of triples,
        range-clustered on (subj, pred, obj); returns per-range-bucket
        triple counts (the lineage metric rows — bucket i covers a
        contiguous triple range, so the counts double as a coarse
        histogram).

        ``triples`` may hold duplicates: the dedup runs after the range
        exchange, which already puts equal triples in one bucket, so it
        plans no exchange of its own and the write shuffles once. The
        range key is one struct column so that a constant ``pred`` (a
        single-branch map) cannot be folded into the exchange's ordering,
        where the aggregate would no longer recognize it as one of its
        grouping keys and would plan a hash exchange of its own."""
        path = self._mapping_dir(source_map)
        n = self.cluster_partitions or self.spark.sparkContext.defaultParallelism
        key = ["subj", "pred", "obj"]
        rest = [c for c in TRIPLE_COLUMNS if c not in key]
        out = (
            triples.select(F.struct(*key).alias("_key"), *rest)
            .repartitionByRange(n, "_key")
            .dropDuplicates(["_key", *rest])
            .select(*(F.col(f"_key.{c}").alias(c) if c in key else c for c in TRIPLE_COLUMNS))
            .sortWithinPartitions(*key)
            .withColumn("_pid", F.spark_partition_id())
        )
        out.write.mode("overwrite").parquet(path)
        counts = (
            self.spark.read.parquet(path)
            .groupBy("_pid").count().orderBy("_pid").collect()
        )
        return [int(r["count"]) for r in counts]

    def delete_mapping(self, source_map: str) -> None:
        shutil.rmtree(self._mapping_dir(source_map), ignore_errors=True)

    def read_with_lineage(self) -> DataFrame:
        """The graph with its ``source_map`` lineage column, one union
        branch per committed mapping (the manifest is the name index —
        partition dirs are md5-keyed)."""
        manifest = self.read_manifest()
        parts = []
        for uri in sorted(manifest["mappings"]):
            path = self._mapping_dir(uri)
            if os.path.isdir(path):
                parts.append(
                    # explicit schema: the store's layout is fixed, and
                    # schema inference would cost one footer-read job
                    # PER MAPPING before the actual query even starts
                    self.spark.read.schema(_triple_schema()).parquet(path)
                    .select(*TRIPLE_COLUMNS)
                    .withColumn(LINEAGE_COLUMN, F.lit(uri))
                )
        if not parts:
            from pyspark.sql.types import StringType, StructField, StructType

            return self.spark.createDataFrame(
                [],
                StructType(
                    [
                        StructField(c, StringType(), True)
                        for c in [*TRIPLE_COLUMNS, LINEAGE_COLUMN]
                    ]
                ),
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def export_reified(self, path: str, partitions: int | None = None) -> None:
        """Write the store as a reference-shaped reified N-Triples dump
        (dump-reified.nq interchange, Generator.java:680-699).
        ``partitions`` switches to the distributed multi-part writer
        (globally-ordered part files, no driver assembly)."""
        from r2rml_parser_spark.sinks.reified import export_reified, write_reified_parts

        if partitions:
            write_reified_parts(self.read_with_lineage(), path, partitions)
        else:
            export_reified(self.read_with_lineage(), path)

    def import_reified(self, path: str) -> dict:
        """Load a reference-produced reified dump INTO the store: one
        partition + manifest row per dc:source mapping. Hashes are
        marked imported so the next incremental run regenerates iff the
        live source differs (same semantics as the reference's
        unknown-source invalidation, Generator.java:250-253)."""
        from r2rml_parser_spark.sinks.reified import import_reified

        triples = import_reified(self.spark, path)
        manifest = self.read_manifest()
        manifest["snapshot"] += 1
        sources = [
            r[LINEAGE_COLUMN]
            for r in triples.select(LINEAGE_COLUMN).distinct().collect()
        ]
        for uri in sorted(sources):
            part = triples.where(F.col(LINEAGE_COLUMN) == uri).select(*TRIPLE_COLUMNS)
            self.delete_mapping(uri)
            counts = self.write_mapping(uri, part)
            manifest["mappings"][uri] = {
                "definition_hash": "imported",
                "source_hash": "imported",
                "snapshot": manifest["snapshot"],
                "partition_counts": counts,
                "triples": sum(counts),
                "committed_at": time.time(),
            }
        self._commit_manifest(manifest)
        return {"imported_mappings": sources, "snapshot": manifest["snapshot"]}

    def sync(self, triples_with_lineage: DataFrame) -> dict:
        """True set-difference sync (S9/A3, Generator.java:701-748): the
        reference computes removed = existing∖new and added =
        new∖existing against the TDB model and applies exactly the
        delta, skipping entirely when nothing changed ('No changes
        detected'). Mappings absent from the new graph are dropped.
        Returns the reference-style delta counts.

        One lineage-keyed diff job (VERDICT r2 #6): instead of two
        ``exceptAll`` jobs per mapping — wall-clock linear in mapping
        count with idle executors between small jobs — ALL per-mapping
        deltas come from a single full-outer join of the (lineage +
         7 term columns) relations, NULL-safe on the nullable
        lang/dtype columns via ``eqNullSafe`` (which Spark still
        plans as an equi-join key). Both sides are set-unique per
        mapping (new is deduped here, store partitions are written
        deduped), so side-absence counts reproduce exceptAll's
        multiset difference exactly. Driver work after the one
        aggregate is a row per mapping; only CHANGED mappings launch
        further jobs (their partition rewrite)."""
        new = triples_with_lineage
        if LINEAGE_COLUMN not in new.columns:
            raise ValueError(f"sync needs the {LINEAGE_COLUMN!r} lineage column")
        # the incoming plan (typically the full mapping engine over all
        # sources) feeds the diff and each changed mapping's rewrite —
        # persist so the engine runs once (spill-safe); released in
        # finally so a failed write cannot leak a graph-sized cache
        # for the session's lifetime (ADVICE r2)
        new = new.persist()
        try:
            manifest = self.read_manifest()
            manifest["snapshot"] += 1
            newk = (
                new.select(LINEAGE_COLUMN, *TRIPLE_COLUMNS)
                .dropDuplicates()
                .withColumn("_n", F.lit(1))
            )
            oldk = self.read_with_lineage().withColumn("_o", F.lit(1))
            cond = [newk[LINEAGE_COLUMN] == oldk[LINEAGE_COLUMN]] + [
                newk[c].eqNullSafe(oldk[c]) for c in TRIPLE_COLUMNS
            ]
            per_map = (
                newk.join(oldk, cond, "full_outer")
                .groupBy(
                    F.coalesce(
                        newk[LINEAGE_COLUMN], oldk[LINEAGE_COLUMN]
                    ).alias("_src")
                )
                .agg(
                    F.sum(F.when(oldk["_o"].isNull(), 1).otherwise(0)).alias("added"),
                    F.sum(F.when(newk["_n"].isNull(), 1).otherwise(0)).alias("removed"),
                    F.max(newk["_n"]).alias("in_new"),
                )
                .collect()
            )
            stats = {"added": 0, "removed": 0, "rewritten": [], "deleted": [], "unchanged": []}
            seen = set()
            for r in sorted(per_map, key=lambda r: r["_src"]):
                uri = r["_src"]
                seen.add(uri)
                if r["in_new"] is None:  # present only in the store
                    stats["removed"] += int(r["removed"])
                    self.delete_mapping(uri)
                    manifest["mappings"].pop(uri, None)
                    stats["deleted"].append(uri)
                    continue
                added, removed = int(r["added"]), int(r["removed"])
                stats["added"] += added
                stats["removed"] += removed
                if added == 0 and removed == 0:
                    stats["unchanged"].append(uri)
                    continue
                new_part = new.where(F.col(LINEAGE_COLUMN) == uri)
                self.delete_mapping(uri)
                counts = self.write_mapping(uri, new_part)
                prev = manifest["mappings"].get(uri, {})
                manifest["mappings"][uri] = {
                    "definition_hash": prev.get("definition_hash", "synced"),
                    "source_hash": prev.get("source_hash", "synced"),
                    "snapshot": manifest["snapshot"],
                    "partition_counts": counts,
                    "triples": sum(counts),
                    "delta": {"added": added, "removed": removed},
                    "committed_at": time.time(),
                }
                stats["rewritten"].append(uri)
            # manifest entries with no rows on either side (e.g. an
            # empty or missing partition dir) are still dropped when
            # absent from the new graph
            for uri in sorted(set(manifest["mappings"]) - seen):
                self.delete_mapping(uri)
                manifest["mappings"].pop(uri)
                stats["deleted"].append(uri)
            self._commit_manifest(manifest)
        finally:
            new.unpersist()
        stats["snapshot"] = manifest["snapshot"]
        return stats

    def read(self) -> DataFrame:
        """The whole graph: the set union of every partition directory.

        Partitions are sets (``write_mapping``), so the union has a
        duplicate only where two partitions share a triple. A partition
        whose manifest signature proves it disjoint from every other one
        is streamed as stored; the rest are deduplicated together. A
        partition with no signature (no manifest entry, or written by
        ``sync``, ``import_reified`` or a direct ``write_mapping``) is
        disjoint from nothing, unless it is the only one."""
        signatures = {
            self._mapping_dir(uri): entry.get("signature")
            for uri, entry in self.read_manifest()["mappings"].items()
        }
        root = os.path.join(self.base, "graph")
        dirs = sorted(os.listdir(root)) if os.path.isdir(root) else []
        return self._set_union(
            [(p, signatures.get(p)) for p in (os.path.join(root, d) for d in dirs)]
        )

    def _set_union(self, parts: list[tuple[str, dict | None]]) -> DataFrame:
        """Distinct union of partition directories given with their
        signatures: one scan of the proven-disjoint ones, one deduped
        scan of the rest. The explicit schema spares a footer-reading
        job per call."""
        if not parts:
            return self.spark.createDataFrame([], _triple_schema())
        shared = [
            path for path, sig in parts
            if any(_may_overlap(sig, other) for p, other in parts if p != path)
        ]
        disjoint = [path for path, _sig in parts if path not in shared]
        reader = self.spark.read.schema(_triple_schema())
        scans = [reader.parquet(*disjoint)] if disjoint else []
        if shared:
            scans.append(reader.parquet(*shared).dropDuplicates(TRIPLE_COLUMNS))
        out = scans[0]
        for scan in scans[1:]:
            out = out.unionByName(scan)
        return out

    def query(self, sparql: str, prefixes: dict[str, str] | None = None) -> DataFrame:
        """SPARQL SELECT straight over the persisted store.

        BGP patterns with constant subjects/predicates compile to
        equality filters that reach the parquet scan (PushedFilters),
        where the range-clustering on (subj, pred, obj) prunes whole
        files on min/max stats — the store-native query path the class
        docstring describes."""
        from r2rml_parser_spark.plans.sparql import sparql_select

        return sparql_select(self.read(), sparql, prefixes)

    def read_quads(self, include_default: bool = True) -> DataFrame:
        """The store as an RDF DATASET (r5): each mapping's partition
        is a NAMED GRAPH whose IRI is the triples-map URI — the store
        layout is already partitioned by it, so ``GRAPH <map-iri>``
        reads exactly one partition directory and ``GRAPH ?g`` scans
        the union with the graph term minted per branch as a literal
        column (no extra shuffle). With ``include_default`` every
        triple also populates the default graph (union-default-graph
        store semantics — plain patterns keep matching); pass False
        for a named-graphs-only dataset. The default graph is the set
        union of the named graphs, deduplicated only where two may
        overlap (as in ``read``)."""
        from r2rml_parser_spark.plans.engine import GRAPH_COLUMN, lineage_quads

        mappings = self.read_manifest()["mappings"]
        named = lineage_quads(self.read_with_lineage(), include_default=False)
        if not include_default:
            return named
        default = self._set_union([
            (self._mapping_dir(uri), mappings[uri].get("signature"))
            for uri in sorted(mappings)
            if os.path.isdir(self._mapping_dir(uri))
        ]).withColumn(GRAPH_COLUMN, F.lit(None).cast("string"))
        return default.unionByName(named)

    def query_dataset(
        self,
        sparql: str,
        prefixes: dict[str, str] | None = None,
        include_default: bool = True,
    ) -> DataFrame:
        """SPARQL SELECT over the store-as-dataset (r5): GRAPH blocks
        resolve against the per-mapping named graphs — the store-native
        provenance query (\"which mapping produced these triples\")."""
        from r2rml_parser_spark.plans.sparql import sparql_select

        return sparql_select(
            self.read_quads(include_default=include_default), sparql, prefixes
        )

    def ask(self, sparql: str, prefixes: dict[str, str] | None = None) -> bool:
        """SPARQL ASK over the persisted store."""
        from r2rml_parser_spark.plans.sparql import sparql_ask

        return sparql_ask(self.read(), sparql, prefixes)

    def construct(
        self, sparql: str, prefixes: dict[str, str] | None = None
    ) -> DataFrame:
        """SPARQL CONSTRUCT over the persisted store — returns a new
        7-column triples DF (composes with every sink and query, incl.
        writing back to another GraphStore). All four query forms are
        store-native (late r4)."""
        from r2rml_parser_spark.plans.sparql import sparql_construct

        return sparql_construct(self.read(), sparql, prefixes)

    def describe(
        self, sparql: str, prefixes: dict[str, str] | None = None
    ) -> DataFrame:
        """SPARQL DESCRIBE over the persisted store — concise bounded
        description as a 7-column triples DF."""
        from r2rml_parser_spark.plans.sparql import sparql_describe

        return sparql_describe(self.read(), sparql, prefixes)


class IncrementalRunner:
    """Per-mapping incremental execution with skip + resume.

    run() walks the mapping DAG in topo order; each mapping commits
    atomically (data written, then manifest updated). ``fail_after``
    aborts after N commits — the kill/resume test hook."""

    def __init__(self, engine: MappingEngine, store: GraphStore):
        self.engine = engine
        self.store = store

    def run(self, fail_after: int | None = None) -> dict:
        manifest = self.store.read_manifest()
        stats = {"skipped": [], "generated": [], "snapshot": manifest["snapshot"] + 1}
        manifest["snapshot"] = stats["snapshot"]
        committed = 0
        for tm in self.engine.doc.topo_sorted():
            def_hash = tm.definition_hash()
            src = self.engine.source_df(tm.logical_table)
            files_fp = source_files_fingerprint(src)
            prev = manifest["mappings"].get(tm.uri)
            src_hash = None
            if prev and prev["definition_hash"] == def_hash:
                # metadata-first skip (VERDICT r2 #5): unchanged file
                # list/sizes/mtimes prove the source unchanged with
                # ZERO Spark jobs (asserted in tests); the full content
                # scan runs only on metadata mismatch (and still skips
                # when files were rewritten with identical content —
                # then the manifest fingerprint is refreshed so the
                # NEXT run is metadata-only again)
                if files_fp is not None and prev.get("source_files") == files_fp:
                    stats["skipped"].append(tm.uri)
                    continue
                src_hash = source_content_hash(src)
                if prev["source_hash"] == src_hash:
                    prev["source_files"] = files_fp
                    stats["skipped"].append(tm.uri)
                    continue
            if fail_after is not None and committed >= fail_after:
                raise RuntimeError(f"simulated crash before committing {tm.uri}")

            if src_hash is None:
                src_hash = source_content_hash(src)
            self.store.delete_mapping(tm.uri)
            partition_counts = self.store.write_mapping(tm.uri, self.engine.triples_for(tm))
            manifest["mappings"][tm.uri] = {
                "definition_hash": def_hash,
                "source_files": files_fp,
                "source_hash": src_hash,
                "signature": overlap_signature(tm, self.engine),
                "snapshot": stats["snapshot"],
                "partition_counts": partition_counts,
                "triples": sum(partition_counts),
                "committed_at": time.time(),
            }
            self.store._commit_manifest(manifest)  # per-mapping commit point
            stats["generated"].append(tm.uri)
            committed += 1
        self.store._commit_manifest(manifest)
        return stats
