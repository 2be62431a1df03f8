"""Per-layer spans for the traced run, recorded from the benchmark's side.

``Tracer.install`` wraps the public functions of each layer (module
attributes and class methods; the program is not edited). A wrapped call:

* sets the job description ``layer=<name>`` for the calling thread, so
  the event log attributes the call's Spark jobs to the layer, and
  restores the caller's description afterwards;
* materializes a DataFrame result with a no-op write, so the layer's
  lazy plan runs inside the layer's span (this barrier is what the
  traced-minus-untraced overhead measures);
* records a span; a layer's ``wall_s`` is its self time (span minus the
  spans of wrapped calls nested in it).

Counts come from ``Observation`` on the materializing write (rows, edges,
nodes), from the returned value (parts, maps) or from the files written
(bytes); only the component count costs one small extra job.
``Tracer.uninstall`` puts every original back.
"""

from __future__ import annotations

import functools
import importlib
import os
import time
from collections import defaultdict

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from eventlog import DESC_PREFIX

# (module, attribute path, layer). Functions that the pipeline imports by
# name are patched in the pipeline module too (see ``_ALIASES``).
TARGETS = [
    ("r2rml_parser_spark.pipeline", "build_kg", "pipeline"),
    ("r2rml_parser_spark.sources.docs", "synth_span_rows", "sources.docs"),
    ("r2rml_parser_spark.operators.mentions", "detect_mentions", "operators.mentions"),
    ("r2rml_parser_spark.operators.dedup", "neardup_edges", "operators.dedup"),
    ("r2rml_parser_spark.operators.components", "canonical_mapping", "operators.components"),
    ("r2rml_parser_spark.mapping.parse", "parse_mapping_document", "plans.engine"),
    ("r2rml_parser_spark.plans.engine", "MappingEngine.triples", "plans.engine"),
    ("r2rml_parser_spark.plans.engine", "MappingEngine.triples_for", "plans.engine"),
    ("r2rml_parser_spark.plans.engine", "MappingEngine.triple_parts", "plans.engine"),
    ("r2rml_parser_spark.plans.rewrite", "analyze_parts", "plans.rewrite"),
    ("r2rml_parser_spark.plans.rewrite", "rewrite_triple_parts", "plans.rewrite"),
    ("r2rml_parser_spark.sinks.ntriples", "write_sorted", "sinks.ntriples"),
    ("r2rml_parser_spark.sinks.checkpoint", "IncrementalRunner.run", "sinks.checkpoint.write"),
    ("r2rml_parser_spark.sinks.checkpoint", "GraphStore.write_mapping", "sinks.checkpoint.write"),
    ("r2rml_parser_spark.sinks.checkpoint", "source_content_hash", "sinks.checkpoint.write"),
    ("r2rml_parser_spark.sinks.checkpoint", "GraphStore.read", "sinks.checkpoint.read"),
    ("r2rml_parser_spark.sinks.checkpoint", "GraphStore.read_quads", "sinks.checkpoint.read"),
    ("r2rml_parser_spark.plans.sparql", "sparql_select", "plans.sparql"),
]
_ALIASES = {
    "synth_span_rows": ["r2rml_parser_spark.pipeline"],
    "detect_mentions": ["r2rml_parser_spark.pipeline"],
    "neardup_edges": ["r2rml_parser_spark.pipeline"],
    "canonical_mapping": ["r2rml_parser_spark.pipeline"],
    "parse_mapping_document": ["r2rml_parser_spark.pipeline"],
    "analyze_parts": ["r2rml_parser_spark.pipeline"],
    "rewrite_triple_parts": ["r2rml_parser_spark.pipeline"],
}
#: layers whose DataFrame output is not materialized by the wrapper:
#: ``sparql_select`` returns the lazy query the benchmark collects itself
#: (its execute time is timed apart from the compile time)
LAZY_LAYERS = {"plans.sparql"}


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.wall = defaultdict(float)  # layer → self time (s)
        self.call_wall = defaultdict(float)  # function name → self time (s)
        self.counts = defaultdict(lambda: defaultdict(int))  # layer → name → n
        self._stack: list[list] = []  # [layer, child_time]
        self._saved: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    def _set_desc(self, desc: str | None) -> None:
        self.spark.sparkContext.setLocalProperty("spark.job.description", desc)

    def span(self, layer: str, name: str, fn, *args, **kw):
        """Run ``fn`` as a span of ``layer`` (the public entry for calls
        the benchmark makes itself, e.g. a query's collect)."""
        prev = self.spark.sparkContext.getLocalProperty("spark.job.description")
        self._set_desc(DESC_PREFIX + layer)
        self._stack.append([layer, 0.0])
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kw)
            if isinstance(out, DataFrame) and layer not in LAZY_LAYERS:
                self._materialize(layer, out)
            return out
        finally:
            dt = time.perf_counter() - t0
            _, child = self._stack.pop()
            self.wall[layer] += dt - child
            self.call_wall[name] += dt - child
            if self._stack:
                self._stack[-1][1] += dt
            self._set_desc(prev)

    def _materialize(self, layer: str, df: DataFrame) -> None:
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
            "overwrite").save()
        self.counts[layer]["rows_out"] += int(obs.get["rows"])

    def count(self, layer: str, name: str, n: int) -> None:
        self.counts[layer][name] += int(n)

    # -- patching -----------------------------------------------------------
    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            before = _tree_bytes(args[0].base) if name == "GraphStore.write_mapping" else 0
            out = tracer.span(layer, name, fn, *args, **kw)
            tracer._count_output(layer, name, args, out, before)
            return out

        return wrapper

    def _count_output(self, layer: str, name: str, args, out, before: int) -> None:
        if name == "canonical_mapping":
            prev = self.spark.sparkContext.getLocalProperty("spark.job.description")
            self._set_desc(DESC_PREFIX + layer)
            self.count(layer, "components", out.select("canonical_iri").distinct().count())
            self._set_desc(prev)
        elif name == "write_sorted":
            self.count(layer, "bytes_written", _tree_bytes(args[1]))
        elif name == "GraphStore.write_mapping":
            # IncrementalRunner deletes the map's partition first, so the
            # growth of the store is the partition just written
            self.count(layer, "bytes_written", _tree_bytes(args[0].base) - before)
        elif name == "MappingEngine.triple_parts":
            self.count(layer, "parts", len(out))
        elif name == "analyze_parts":
            self.count(layer, "parts", len(out))
            self.count(layer, "parts_joined", sum(1 for _df, f in out if f.matchable))
        elif name == "MappingEngine.triples_for":
            self.count(layer, "maps_emitted", 1)
        elif name == "IncrementalRunner.run":
            self.count(layer, "maps_generated", len(out["generated"]))
            self.count(layer, "maps_skipped", len(out["skipped"]))

    def install(self) -> None:
        for mod_name, path, layer in TARGETS:
            mod = importlib.import_module(mod_name)
            owner, attr = mod, path
            if "." in path:
                cls, attr = path.split(".")
                owner = getattr(mod, cls)
            orig = getattr(owner, attr)
            wrapped = self._wrap(layer, path, orig)
            self._patch(owner, attr, wrapped)
            for alias in _ALIASES.get(path, []):
                self._patch(importlib.import_module(alias), attr, wrapped)

    def _patch(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)
