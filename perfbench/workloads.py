"""The two workloads: their inputs, timed operations and output checks.

A workload offers operations by kind. The runner calls them in a fixed
cycle (``CYCLE``) until the run's time is used; each call returns its wall
time plus the checks to run on its output, which the runner runs right
after the operation, off the clock. ``before(kind)`` runs ahead of each
operation, outside its wall and CPU windows: it writes the operation's
inputs and computes the oracles its checks compare against. ``warm_up_ops`` runs the build and
the query once at the real size before anything is timed.

* ``docs_canon`` — ``pipeline.build_kg(canonicalize=True)`` and a sorted
  N-Triples dump over a seeded interleaved-doc corpus (``build``), and a
  SPARQL mix over the canonical KG kept in a ``GraphStore`` (``query``).
* ``tpch_store`` — the benchmark's TPC-H mapping run by
  ``IncrementalRunner`` into a fresh ``GraphStore`` (``build``), seeded
  incremental rounds on that store (``update``), and a SPARQL mix over it
  (``query``).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import time

import duckdb
from pyspark.sql import functions as F

import inputs
import tpch
from r2rml_parser_spark.plans.compile import TRIPLE_COLUMNS

#: scale of each workload: the full size timed by the benchmark, and the
#: tiny size of ``--smoke``
SIZES = {
    "docs_canon": {"full": 1000, "smoke": 120},
    "tpch_store": {"full": 0.005, "smoke": 0.0005},
}
DOCS_KG_URI = "urn:perfbench:docs-kg"


def _norm(rows) -> list[tuple]:
    """Order-free comparable form of a result: every value as text,
    integral numbers without a fraction."""
    def one(v):
        if isinstance(v, float) and v.is_integer():
            v = int(v)
        return None if v is None else str(v)
    return sorted(tuple(one(v) for v in r) for r in rows)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                                     recursive=True))


#: an output check: (name, function returning (ok, detail))
Check = tuple


class Workload:
    name = ""
    CYCLE: list[str] = []

    def __init__(self, spark, work: str, inputs_dir: str, seed: int, size: str):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.inputs_dir = inputs_dir
        self.rng = random.Random(seed)
        self.duck = duckdb.connect()
        self.samples: dict[str, list[float]] = {}
        #: set by the runner during the warm-up, whose outputs get only the
        #: checks that start no Spark job (see NOTES.md)
        self.warming = False

    def before(self, kind: str) -> None:
        """Inputs and oracles of the next ``kind`` operation (untimed)."""

    def record(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def close(self) -> None:
        self.duck.close()

    def _duck_views(self, tables: dict[str, str]) -> None:
        for t, p in tables.items():
            self.duck.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def _query_batch(self, store, mix, oracle) -> tuple[float, list[Check]]:
        """Run the whole query mix once, in seeded order, one client,
        closed loop; one latency sample per query."""
        order = list(mix)
        self.rng.shuffle(order)
        checks, total = [], 0.0
        for name, text, _sql, kind in order:
            t0 = time.perf_counter()
            df = store.query(text) if kind == "store" else store.query_dataset(text)
            rows = self.collect(df)
            total += time.perf_counter() - t0
            expected = oracle(name)
            got = _norm(rows)
            checks.append((f"query:{name}", lambda g=got, e=expected, n=name: (
                g == e, f"{n}: {len(g)} rows, oracle {len(e)}")))
        return total, checks

    # the traced run replaces this to time collect (execute) apart from
    # sparql_select (parse + compile)
    def collect(self, df):
        return df.collect()


class DocsCanon(Workload):
    name = "docs_canon"
    CYCLE = ["build", "query"]
    #: the docs pipeline has no incremental path: bringing its output up
    #: to date after a corpus change is a full build
    UPDATE = "build"

    def prepare(self) -> None:
        from r2rml_parser_spark.operators.mentions import mentions_oracle_sql
        from r2rml_parser_spark.sources.docs import SPAN_VIEW_ORACLE_SQL

        n_docs = SIZES[self.name][self.size]
        self.corpus = inputs.write_docs(self.inputs_dir, self.seed, n_docs)
        self.duck.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{os.path.join(self.corpus, 'documents.parquet')}')")
        spans = f"({SPAN_VIEW_ORACLE_SQL})"
        mentions = f"({mentions_oracle_sql(SPAN_VIEW_ORACLE_SQL)})"
        self.mix = docs_query_mix(spans, mentions)
        self._oracle = {name: _norm(self.duck.execute(sql).fetchall())
                        for name, _q, sql, _k in self.mix}
        self.digest_file = os.path.join(os.path.dirname(self.inputs_dir), "dump_digests.json")
        self.n_build = 0

    def warm_up_ops(self) -> list:
        return [self._warm_up_build, self.query]

    def _warm_up_build(self) -> tuple[float, list[Check]]:
        """One build + dump at the real size whose output, persisted, also
        fills the KG store the queries read."""
        from r2rml_parser_spark import pipeline
        from r2rml_parser_spark.sinks import ntriples
        from r2rml_parser_spark.sinks.checkpoint import GraphStore

        out = os.path.join(self.work, "dump_warm_up")
        t0 = time.perf_counter()
        kg = pipeline.build_kg(self.spark, self.corpus, canonicalize=True).persist()
        ntriples.write_sorted(kg, out)
        dt = time.perf_counter() - t0
        self.store = GraphStore(self.spark, os.path.join(self.work, "docs_store"))
        self.store.write_mapping(DOCS_KG_URI, kg)
        kg.unpersist()
        return dt, [("dump_sorted_distinct_digest", lambda: self._check_dump(out))]

    def build(self) -> tuple[float, list[Check]]:
        from r2rml_parser_spark import pipeline
        from r2rml_parser_spark.sinks import ntriples

        out = os.path.join(self.work, f"dump_{self.n_build}")
        self.n_build += 1
        t0 = time.perf_counter()
        kg = pipeline.build_kg(self.spark, self.corpus, canonicalize=True)
        ntriples.write_sorted(kg, out)
        dt = time.perf_counter() - t0
        return dt, [("dump_sorted_distinct_digest", lambda: self._check_dump(out))]

    def _check_dump(self, out: str) -> tuple[bool, str]:
        """One pass over the part files in order: every line strictly
        greater than the one before (globally sorted, hence distinct, so
        the line count is the distinct triple count) and a digest that
        must repeat across the iterations and runs of one seed."""
        h = hashlib.sha256()
        prev, n, size, ok = None, 0, 0, True
        for part in sorted(glob.glob(os.path.join(out, "part-*"))):
            with open(part, "rb") as f:
                for line in f:
                    line = line.rstrip(b"\n")
                    if prev is not None and line <= prev:
                        ok = False
                    prev = line
                    n += 1
                    size += len(line) + 1
                    h.update(line + b"\n")
        shutil.rmtree(out, ignore_errors=True)
        digest = h.hexdigest()
        self.record("triples", n)
        self.record("bytes_per_triple", size / max(n, 1))
        key = os.path.basename(self.inputs_dir)
        known = {}
        if os.path.exists(self.digest_file):
            with open(self.digest_file) as f:
                known = json.load(f)
        if key not in known:
            known[key] = digest
            with open(self.digest_file + ".tmp", "w") as f:
                json.dump(known, f)
            os.replace(self.digest_file + ".tmp", self.digest_file)
        same = known[key] == digest
        return ok and n > 0 and same, (
            f"{n} lines, sorted+distinct={ok}, digest {'matches' if same else 'DIFFERS'}")

    def query(self) -> tuple[float, list[Check]]:
        return self._query_batch(self.store, self.mix, self._oracle.__getitem__)


def docs_query_mix(spans: str, mentions: str) -> list[tuple[str, str, str, str]]:
    """SPARQL over the canonical docs KG whose answers do not depend on
    which near-duplicate documents were merged (they count mentions and
    spans, whose IRIs canonicalization never rewrites), each with its
    DuckDB oracle over ``documents`` (the repository's span-view and
    mention oracles)."""
    kg, ont = "http://kg.example", "http://kg.example/ontology#"
    return [
        ("mentions_per_entity", f"""
PREFIX ex: <{ont}>
SELECT ?e (COUNT(?m) AS ?n) WHERE {{ ?m a ex:Mention . ?m ex:ofEntity ?e . }} GROUP BY ?e
""", f"SELECT '{kg}/entity/' || entity_id, count(*) FROM {mentions} GROUP BY 1", "store"),
        # worst-case pattern order: the unselective ?m ?p ?v comes first
        ("spark_mentions_worst_order", f"""
PREFIX ex: <{ont}>
SELECT (COUNT(?m) AS ?n) WHERE {{
  ?m ?p ?v .
  ?m ex:inSpan ?s .
  ?s ex:inDocument ?d .
  ?d a ex:Document .
  ?m ex:surface "spark" .
  FILTER (?p = ex:surface)
}}
""", f"SELECT count(*) FROM {mentions} WHERE surface = 'spark'", "store"),
    ]


class TpchStore(Workload):
    name = "tpch_store"
    CYCLE = ["build", "update", "query"]
    UPDATE = "update"

    def prepare(self) -> None:
        from r2rml_parser_spark.mapping import parse

        self.sf = SIZES[self.name][self.size]
        self.v0 = inputs.write_tpch(os.path.join(self.inputs_dir, "v0"), self.seed, self.sf)
        self.versions = [self.v0]
        self.map_uri = {tm.uri.rsplit("#", 1)[-1]: tm.uri for tm in
                        parse.parse_mapping_document(tpch.MAPPING_TTL).topo_sorted()}
        self.mix = tpch.query_mix(self.map_uri)
        self._pred_counts: dict[int, dict[str, int]] = {}
        self._oracles: dict[tuple[int, str], list[tuple]] = {}
        self.n_store = 0
        self.k = 0

    # -- inputs ---------------------------------------------------------
    def _version(self, k: int) -> dict[str, str]:
        while len(self.versions) <= k:
            n = len(self.versions)
            self.versions.append(inputs.write_delta(
                self.versions[-1], os.path.join(self.inputs_dir, f"v{n}"), self.seed, n))
        return self.versions[k]

    def _engine(self, tables: dict[str, str]):
        from r2rml_parser_spark.mapping import parse
        from r2rml_parser_spark.plans.engine import MappingEngine

        sources = {t: self.spark.read.parquet(p) for t, p in tables.items()}
        engine = MappingEngine(self.spark, parse.parse_mapping_document(tpch.MAPPING_TTL),
                               sources=sources, base_ns=tpch.KG)
        engine.register_sources()
        return engine

    def _oracle(self, k: int, name: str) -> list[tuple]:
        if (k, name) not in self._oracles:
            self._duck_views(self._version(k))
            sql = next(s for n, _q, s, _k in self.mix if n == name)
            self._oracles[(k, name)] = _norm(self.duck.execute(sql).fetchall())
        return self._oracles[(k, name)]

    def _predicate_counts(self, k: int) -> dict[str, int]:
        if k not in self._pred_counts:
            self._duck_views(self._version(k))
            self._pred_counts[k] = {p: int(self.duck.execute(sql).fetchone()[0])
                                    for p, sql in tpch.PREDICATE_COUNT_SQL.items()}
        return self._pred_counts[k]

    # -- checks -----------------------------------------------------------
    def _check_store(self, store, k: int, fresh: bool) -> Check:
        """Per-predicate triple counts equal the DuckDB counts over input
        version ``k``; with ``fresh``, the store also equals, predicate by
        predicate in rows and content hash, a fresh full build of the same
        inputs. One aggregation job whose shuffle carries one row per
        (side, predicate). The store side is its rows as written (each
        map's partition is set-deduplicated and the maps share no
        subjects); the fresh side is the engine's raw emissions, so a
        duplicate on either side shows as a count mismatch."""
        def run():
            sides = self.spark.read.parquet(os.path.join(store.base, "graph")).select(
                F.lit("store").alias("side"), *TRIPLE_COLUMNS)
            if fresh:
                build = self._engine(self._version(k)).triples(lineage=False, dedup=False)
                sides = sides.unionByName(build.select(F.lit("fresh").alias("side"),
                                                       *TRIPLE_COLUMNS))
            h = F.xxhash64(*TRIPLE_COLUMNS).cast("decimal(38,0)")
            got: dict[str, dict[str, tuple[int, int]]] = {"store": {}, "fresh": {}}
            for r in sides.groupBy("side", "pred").agg(
                    F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect():
                got[r["side"]][r["pred"]] = (int(r["n"]), int(r["h"]))
            stored, want = got["store"], self._predicate_counts(k)
            bad = sorted(p for p in set(stored) | set(want)
                         if stored.get(p, (0, 0))[0] != want.get(p))
            if bad:
                return False, f"version {k}: {len(bad)} predicate counts differ from DuckDB {bad[:3]}"
            if fresh:
                bad = sorted(p for p in set(stored) | set(got["fresh"])
                             if stored.get(p) != got["fresh"].get(p))
                return not bad, f"version {k}: {len(bad)} predicates differ from a fresh build"
            return True, f"version {k}: counts match"
        return ("store_equals_fresh_build" if fresh else "store_predicate_counts", run)

    # -- operations -------------------------------------------------------
    def before(self, kind: str) -> None:
        # the DuckDB oracles run in this process on several threads, and
        # a delta is written with pyarrow: neither is the program's work
        k = {"build": 0, "update": self.k + 1, "query": self.k}[kind]
        self._predicate_counts(k)
        if kind == "query":
            for name, *_rest in self.mix:
                self._oracle(k, name)

    def warm_up_ops(self) -> list:
        # an update runs a subset of the build's code path (the runner's
        # skip decision, then two maps regenerated), so the build warms it
        return [self.build, self.query]

    def build(self) -> tuple[float, list[Check]]:
        """Cold build of input version 0 into a fresh store."""
        from r2rml_parser_spark.sinks.checkpoint import GraphStore, IncrementalRunner

        path = os.path.join(self.work, f"store_{self.n_store}")
        self.n_store += 1
        if getattr(self, "store", None) is not None:
            shutil.rmtree(self.store.base, ignore_errors=True)
        self.store = GraphStore(self.spark, path)
        self.k = 0
        t0 = time.perf_counter()
        engine = self._engine(self.v0)
        stats = IncrementalRunner(engine, self.store).run()
        dt = time.perf_counter() - t0
        n = sum(m["triples"] for m in self.store.read_manifest()["mappings"].values())
        self.record("triples", n)
        self.record("bytes_per_triple", _dir_bytes(os.path.join(path, "graph")) / n)
        ok_maps = len(stats["generated"]) == len(self.map_uri)
        checks = [("cold_build_generates_every_map",
                   lambda: (ok_maps, f"generated {stats['generated']}"))]
        if not self.warming:
            checks.append(self._check_store(self.store, 0, fresh=False))
        return dt, checks

    def update(self) -> tuple[float, list[Check]]:
        """One incremental round: the next seeded delta, then
        ``IncrementalRunner.run`` on the current store."""
        from r2rml_parser_spark.sinks.checkpoint import IncrementalRunner

        self.k += 1
        tables = self._version(self.k)  # written by ``before``
        t0 = time.perf_counter()
        stats = IncrementalRunner(self._engine(tables), self.store).run()
        dt = time.perf_counter() - t0
        changed = {self.map_uri["CustomerMap"], self.map_uri["OrderMap"]}
        ok = set(stats["generated"]) == changed
        checks = [("round_regenerates_changed_maps_only",
                   lambda: (ok, f"generated {stats['generated']}"))]
        if not self.warming:
            checks.append(self._check_store(self.store, self.k, fresh=True))
        return dt, checks

    def query(self) -> tuple[float, list[Check]]:
        k = self.k
        return self._query_batch(self.store, self.mix, lambda name: self._oracle(k, name))


WORKLOADS = {w.name: w for w in (DocsCanon, TpchStore)}
