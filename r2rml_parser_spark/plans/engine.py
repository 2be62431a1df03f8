"""Mapping execution engine: IR → triples DataFrame.

Execution strategy (Spark-first, see SURVEY.md §3/§5):

* Each triples map compiles to **one scan** of its logical table: the
  subject plus every (class / predicate-object) emission is built as an
  array of structs and exploded — no per-predicate re-scan, no union of
  N branches over the same source (the reference instead iterates the
  JDBC ResultSet once per mapping and emits per row,
  Generator.java:285-550).
* Ref-object maps (rr:parentTriplesMap) become ordinary pruned
  equi-joins — replacing the reference's per-child-row correlated JDBC
  subquery (N+1 queries, Generator.java:463-521). Both sides are
  pre-projected to join keys + subject expression so only the needed
  columns shuffle; AQE picks broadcast/skew strategies at runtime.
* Triples maps are evaluated in parent-first topological order
  (Parser.java:117-132) — only required for join-condition-less ref
  objects (J2), where the object set is "every subject the parent map
  generated" (Generator.java:522-540).
* The final graph is a set: dropDuplicates over the 7 term columns
  (Jena Model set-insert semantics, golden D005).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from r2rml_parser_spark.mapping.model import (
    LogicalTable,
    MappingDocument,
    PredicateObjectMap,
    RefObjectMap,
    TermMap,
    TriplesMap,
)
from r2rml_parser_spark.mapping.parse import MappingError, RR_DEFAULT_GRAPH
from r2rml_parser_spark.plans.compile import (
    TRIPLE_COLUMNS,
    CompiledTerm,
    TermCompiler,
    force_uri,
    resolve_column,
)
from r2rml_parser_spark.rdf.terms import RDF_TYPE

LINEAGE_COLUMN = "source_map"
#: 8th quad column (r5): named-graph IRI, NULL = default graph — the
#: same contract plans/sparql.py's GRAPH compilation reads (§13.3)
GRAPH_COLUMN = "graph"


@dataclass
class TriplePart:
    """One emission branch of one triples map: its rows plus the term
    maps that generated them — enough metadata for static plan pruning
    (plans/rewrite.py decides from ``subj_map``/``obj_maps`` whether a
    canonical-rewrite join can ever hit this branch). Ref-object maps
    appear with the PARENT's subject map as the object term (that is
    the value space their objects render in)."""

    df: DataFrame
    subj_map: TermMap
    obj_maps: tuple[TermMap, ...]
    #: every predicate IRI this branch emits, one entry per emission
    #: slot (rdf:type per class + P9 fan-out) — lets the rewrite
    #: planner check statically that rows sharing a subject within the
    #: branch carry pairwise-distinct predicates
    preds: tuple[str, ...] | None = None


def rewrite_sql_quotes(sql: str) -> str:
    """Rewrite ANSI double-quoted identifiers to Spark backticks, leaving
    single-quoted string literals untouched (replaces the reference's
    hand-rolled dialect-specific SelectQuery parser, SelectQuery.java)."""
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":  # string literal: copy through '' escapes
            j = i + 1
            while j < n:
                if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2
                elif sql[j] == "'":
                    break
                else:
                    j += 1
            out.append(sql[i : j + 1])
            i = j + 1
        elif c == '"':
            j = sql.find('"', i + 1)
            if j == -1:
                raise MappingError(f"unterminated quoted identifier in SQL: {sql!r}")
            out.append("`" + sql[i + 1 : j] + "`")
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


class MappingEngine:
    """Runs a MappingDocument over Spark sources → triples DataFrame.

    ``sources`` maps logical table names to DataFrames; names not present
    fall back to the session catalog (``spark.table``). SQL logical tables
    require their referenced tables to be registered as temp views —
    ``register_sources`` does that.

    ``view_sources`` maps rr:sqlQuery TEXT to a pre-materialized
    DataFrame, overriding Spark-SQL execution of that query — the hook
    the JDBC path uses to push vendor-dialect view SQL down to the
    database (mirroring the reference, which runs view SQL via a JDBC
    Statement in the DB's own dialect, Generator.java:281).
    """

    def __init__(
        self,
        spark: SparkSession,
        doc: MappingDocument,
        sources: dict[str, DataFrame] | None = None,
        *,
        encode_iris: bool = True,
        form_encoding: bool = False,
        force_uris: bool = False,
        base_ns: str | None = None,
        view_sources: dict[str, DataFrame] | None = None,
    ):
        self.spark = spark
        self.doc = doc
        self.sources = dict(sources or {})
        self.view_sources = dict(view_sources or {})
        self.encode_iris = encode_iris
        self.form_encoding = form_encoding
        self.force_uris = force_uris
        self.base_ns = base_ns if base_ns is not None else doc.base_ns
        self._parent_subjects: dict[str, DataFrame] = {}

    # -- sources -------------------------------------------------------
    def register_sources(self) -> None:
        for name, df in self.sources.items():
            try:
                df.createOrReplaceTempView(name)
            except Exception:
                # names illegal as view identifiers (e.g. "Country Info",
                # D010) stay reachable through the sources dict
                pass

    def source_df(self, lt: LogicalTable) -> DataFrame:
        if lt.table_name is not None:
            if lt.table_name in self.sources:
                return self.sources[lt.table_name]
            ci = {k.lower(): v for k, v in self.sources.items()}
            if lt.table_name.lower() in ci:
                return ci[lt.table_name.lower()]
            try:
                return self.spark.table(f"`{lt.table_name}`")
            except Exception as e:
                raise MappingError(f"unknown logical table {lt.table_name!r}: {e}") from e
        if lt.sql_query in self.view_sources:
            return self.view_sources[lt.sql_query]
        try:
            return self.spark.sql(rewrite_sql_quotes(lt.sql_query))
        except Exception as e:  # surface a clean mapping error (S5 dry-run)
            raise MappingError(f"invalid rr:sqlQuery: {e}") from e

    # -- per-map compilation --------------------------------------------
    def _compiler(self, df: DataFrame) -> TermCompiler:
        return TermCompiler(
            df, self.base_ns, encode_iris=self.encode_iris, form_encoding=self.form_encoding
        )

    def _graph_terms(
        self, comp: TermCompiler, maps: tuple[TermMap, ...]
    ) -> list[CompiledTerm | None]:
        """Compiled rr:graphMap terms; ``None`` entries denote the
        DEFAULT graph (an explicit constant rr:defaultGraph, or no
        graph map at all — R2RML §9)."""
        out: list[CompiledTerm | None] = []
        seen_default = False
        for gm in maps:
            if gm.constant_iri == RR_DEFAULT_GRAPH:
                if not seen_default:
                    out.append(None)
                    seen_default = True
            else:
                out.append(comp.compile(gm))
        return out or [None]

    def _exploded_emissions(
        self, df: DataFrame, subj: CompiledTerm, tm: TriplesMap,
        with_graphs: bool = False,
    ) -> DataFrame | None:
        """Class triples + non-ref predicate-object emissions as ONE scan:
        build array<struct(pred,obj,obj_kind,lang,dtype)>, explode, filter.

        ``with_graphs`` (r5, quads): each emission fans out once per
        effective graph term — the subject map's graphs for class
        triples, subjectMap ∪ POM graphs for POM triples (R2RML §9) —
        still ONE scan of the logical table; a NULL named-graph term is
        a generation error and drops the quad (gdef marker)."""
        comp = self._compiler(df)
        null_s = F.lit(None).cast("string")
        subj_graphs = (
            self._graph_terms(comp, tm.graph_maps) if with_graphs else None
        )

        def structs(term: CompiledTerm, pred: str | None, graphs) -> list:
            pcol = F.lit(RDF_TYPE) if pred is None else F.lit(pred)
            if not with_graphs:
                return [term.as_struct(pcol)]
            return [
                term.as_struct(
                    pcol,
                    graph=null_s if g is None else g.value,
                    gdef=F.lit(g is None),
                )
                for g in graphs
            ]

        emissions = []
        for cls in tm.classes:  # P7
            ct = CompiledTerm(F.lit(cls), F.lit("iri"), null_s, null_s)
            emissions.extend(structs(ct, None, subj_graphs))
        for pom in tm.predicate_object_maps:
            pom_graphs = (
                self._graph_terms(comp, tuple(tm.graph_maps) + tuple(pom.graph_maps))
                if with_graphs
                else None
            )
            for obj_map in pom.objects:
                term = comp.compile(obj_map)
                if self.force_uris:
                    term = force_uri(term)
                for pred in pom.predicates:  # P9 fan-out
                    emissions.extend(structs(term, pred, pom_graphs))
        if not emissions:
            return None
        out = (
            df.select(
                subj.value.alias("subj"),
                subj.kind.alias("subj_kind"),
                F.explode(F.array(*emissions)).alias("_t"),
            )
            .select(
                "subj", "subj_kind", "_t.pred", "_t.obj", "_t.obj_kind",
                "_t.lang", "_t.dtype",
                *(["_t.graph", "_t.gdef"] if with_graphs else []),
            )
            .where(F.col("subj").isNotNull() & F.col("obj").isNotNull())  # P10
        )
        if with_graphs:
            out = out.where(
                F.col("gdef") | F.col(GRAPH_COLUMN).isNotNull()
            ).drop("gdef")
        return out

    def _ref_object_triples(
        self, df: DataFrame, subj: CompiledTerm, tm: TriplesMap,
        pom: PredicateObjectMap, ro: RefObjectMap,
        with_graphs: bool = False,
    ) -> DataFrame:
        parent_tm = self.doc.by_uri(ro.parent_triples_map)
        parent_df = self.source_df(parent_tm.logical_table)
        parent_subj = self._compiler(parent_df).compile(parent_tm.subject_map)

        # (r5, quads) graph terms reference CHILD columns, so their
        # value expressions are computed on the child scan and carried
        # through the join as _g{i} columns; the per-graph fan-out
        # happens after the join (constant graphs cost nothing)
        graphs: list[CompiledTerm | None] = [None]
        gcols: list = []
        if with_graphs:
            graphs = self._graph_terms(
                self._compiler(df),
                tuple(tm.graph_maps) + tuple(pom.graph_maps),
            )
            gcols = [
                g.value.alias(f"_g{i}")
                for i, g in enumerate(graphs)
                if g is not None
            ]

        if ro.join_conditions:
            # J1: pre-project both sides to keys + subject expr (column
            # pruning before the shuffle), then plain equi-join.
            child_keys = [
                resolve_column(df, jc.child)[0].alias(f"_ck{i}")
                for i, jc in enumerate(ro.join_conditions)
            ]
            parent_keys = [
                resolve_column(parent_df, jc.parent)[0].alias(f"_pk{i}")
                for i, jc in enumerate(ro.join_conditions)
            ]
            child_sel = df.select(
                subj.value.alias("subj"), subj.kind.alias("subj_kind"),
                *child_keys, *gcols,
            ).where(F.col("subj").isNotNull())
            parent_sel = (
                parent_df.select(
                    parent_subj.value.alias("obj"),
                    parent_subj.kind.alias("obj_kind"),
                    *parent_keys,
                )
                .where(F.col("obj").isNotNull())
                .dropDuplicates()
            )
            cond = None
            for i in range(len(ro.join_conditions)):
                c = child_sel[f"_ck{i}"] == parent_sel[f"_pk{i}"]
                cond = c if cond is None else (cond & c)
            joined = child_sel.join(parent_sel, cond, "inner")
        else:
            # J2: cartesian link to every subject the parent map generated.
            parents = self._parent_subjects.get(ro.parent_triples_map)
            if parents is None:
                parents = (
                    parent_df.select(
                        parent_subj.value.alias("obj"), parent_subj.kind.alias("obj_kind")
                    )
                    .where(F.col("obj").isNotNull())
                    .dropDuplicates()
                )
                self._parent_subjects[ro.parent_triples_map] = parents
            joined = df.select(
                subj.value.alias("subj"), subj.kind.alias("subj_kind"), *gcols
            ).where(F.col("subj").isNotNull()).crossJoin(parents)

        null_s = F.lit(None).cast("string")
        parts = []
        # same enumerate indices as the _g{i} aliases above (None
        # entries keep their position but have no column)
        graph_sel = [
            None if g is None else F.col(f"_g{i}")
            for i, g in enumerate(graphs)
        ]
        for pred in pom.predicates:
            for gcol in graph_sel if with_graphs else [None]:
                part = joined.select(
                    "subj", "subj_kind",
                    F.lit(pred).alias("pred"),
                    "obj", "obj_kind",
                    null_s.alias("lang"), null_s.alias("dtype"),
                    *(
                        [(null_s if gcol is None else gcol).alias(GRAPH_COLUMN)]
                        if with_graphs
                        else []
                    ),
                )
                if with_graphs and gcol is not None:
                    # named-graph term generation error drops the quad
                    part = part.where(F.col(GRAPH_COLUMN).isNotNull())
                parts.append(part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def parts_for(self, tm: TriplesMap, with_graphs: bool = False) -> list[TriplePart]:
        """One map's emission branches with term-map metadata (the
        exploded single-scan branch + one branch per ref-object map)."""
        df = self.source_df(tm.logical_table)
        subj = self._compiler(df).compile(tm.subject_map)

        parts: list[TriplePart] = []
        exploded = self._exploded_emissions(df, subj, tm, with_graphs=with_graphs)
        if exploded is not None:
            obj_terms = tuple(
                [TermMap(constant_iri=cls) for cls in tm.classes]
                + [om for pom in tm.predicate_object_maps for om in pom.objects]
            )
            preds = tuple(
                [RDF_TYPE for _ in tm.classes]
                + [
                    pred
                    for pom in tm.predicate_object_maps
                    for _om in pom.objects
                    for pred in pom.predicates
                ]
            )
            parts.append(TriplePart(exploded, tm.subject_map, obj_terms, preds))
        for pom in tm.predicate_object_maps:
            for ro in pom.ref_objects:
                parent_subj_map = self.doc.by_uri(ro.parent_triples_map).subject_map
                parts.append(
                    TriplePart(
                        self._ref_object_triples(
                            df, subj, tm, pom, ro, with_graphs=with_graphs
                        ),
                        tm.subject_map,
                        (parent_subj_map,),
                        tuple(pom.predicates),
                    )
                )
        return parts

    def triple_parts(self) -> list[TriplePart]:
        """All emission branches, parent-first topo order — the input to
        the template-pruned canonical rewrite (plans/rewrite.py)."""
        return [p for tm in self.doc.topo_sorted() for p in self.parts_for(tm)]

    def triples_for(self, tm: TriplesMap) -> DataFrame:
        """All triples of one map, with a lineage column (the Spark-side
        replacement for reified dc:source provenance, Generator.java:311)."""
        parts = [p.df for p in self.parts_for(tm)]
        if not parts:
            # subject/class-less map contributes nothing
            return self.spark.createDataFrame([], self._schema())
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.withColumn(LINEAGE_COLUMN, F.lit(tm.uri))

    @staticmethod
    def _schema():
        from pyspark.sql.types import StringType, StructField, StructType

        return StructType(
            [StructField(c, StringType(), True) for c in [*TRIPLE_COLUMNS, LINEAGE_COLUMN]]
        )

    def triples(
        self, extra: DataFrame | None = None, *, dedup: bool = True, lineage: bool = True
    ) -> DataFrame:
        """Union of all triples maps (parent-first topo order), set-dedup'd.

        ``extra`` merges an input model (S2/A4, Parser.java:702-714)."""
        parts = [self.triples_for(tm) for tm in self.doc.topo_sorted()]
        if extra is not None:
            null_s = F.lit(None).cast("string")
            e = extra
            for c in TRIPLE_COLUMNS:
                if c not in e.columns:
                    e = e.withColumn(c, null_s)
            if LINEAGE_COLUMN not in e.columns:
                e = e.withColumn(LINEAGE_COLUMN, F.lit("input-model"))
            parts.append(e.select(*TRIPLE_COLUMNS, LINEAGE_COLUMN))
        if not parts:
            return self.spark.createDataFrame([], self._schema())
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if dedup:  # A1 set semantics
            out = out.dropDuplicates(TRIPLE_COLUMNS)
        if not lineage:
            out = out.drop(LINEAGE_COLUMN)
        return out

    def quads(self, *, dedup: bool = True) -> DataFrame:
        """8-column quad relation: TRIPLE_COLUMNS + ``graph`` (NULL =
        default graph) — rr:graphMap / rr:graph materialized (r5,
        beyond the reference's log-only stub, Parser.java:241-270).
        Same single-scan struct-explode emission as ``triples()`` with
        a per-graph fan-out; set semantics over all 8 columns (the RDF
        dataset is a set of quads). Feed directly to
        ``plans/sparql.py`` — patterns outside GRAPH blocks see the
        default graph, GRAPH blocks the named slice."""
        parts = [
            p.df
            for tm in self.doc.topo_sorted()
            for p in self.parts_for(tm, with_graphs=True)
        ]
        if not parts:
            from pyspark.sql.types import StringType, StructField, StructType

            return self.spark.createDataFrame(
                [],
                StructType([
                    StructField(c, StringType(), True)
                    for c in [*TRIPLE_COLUMNS, GRAPH_COLUMN]
                ]),
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if dedup:
            out = out.dropDuplicates([*TRIPLE_COLUMNS, GRAPH_COLUMN])
        return out


def lineage_quads(triples: DataFrame, include_default: bool = True) -> DataFrame:
    """Expose per-map lineage as NAMED GRAPHS: each triple of
    ``MappingEngine.triples(lineage=True)`` lands in a named graph
    whose IRI is its generating triples map (the ``source_map``
    column), queryable via ``GRAPH ?g {...}`` — provenance-as-graphs
    (VERDICT r4 "What's missing" #1). With ``include_default`` the
    triples ALSO populate the default graph (the common
    union-default-graph store configuration), so plain patterns keep
    matching; pass False for a named-graphs-only dataset. The default
    graph is a set: a triple two maps emit lands in it once, as in
    ``GraphStore.read()``."""
    if LINEAGE_COLUMN not in triples.columns:
        raise MappingError(
            f"lineage_quads needs the {LINEAGE_COLUMN!r} column — build "
            "with MappingEngine.triples(lineage=True)"
        )
    named = triples.withColumnRenamed(LINEAGE_COLUMN, GRAPH_COLUMN)
    if not include_default:
        return named
    default = (
        triples.drop(LINEAGE_COLUMN)
        .dropDuplicates(TRIPLE_COLUMNS)
        .withColumn(GRAPH_COLUMN, F.lit(None).cast("string"))
    )
    return default.unionByName(named)
