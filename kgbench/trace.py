"""Per-layer tracing from outside the program.

A traced run wraps each layer's public function.  The wrapper

- opens a span (name, start, end, parent) and points the Spark job group at
  it, so every job the layer triggers is attributed to it in the event log;
- materializes the layer's DataFrame results with an eager
  ``localCheckpoint`` under that job group, so the layer's own work runs
  inside its span instead of inside whichever layer first consumes it;
- counts output rows and layer-specific ratios under a separate
  bookkeeping job group, whose time is excluded from every layer.

A layer's self time is its span's duration minus its child spans and the
bookkeeping inside it.  Executor task time and the bytes that crossed into
Python come from the Spark event log, read after the session stops
(:func:`parse_event_log`).

Materializing every layer changes the composition the untraced program
runs, so the untraced unit's wall time minus the sum of the traced unit's
layer self times is reported as ``pipeline.composition_s``: positive when
the untraced composition recomputes frames that tracing materializes once,
negative when one fused untraced pass beats the per-layer materializations.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, Iterable, List, Optional

PKG = "ontologybasedkgcreation_spark"
BOOKKEEPING_GROUP = "kgbench.bookkeeping"

# (layer name, module, attribute names).  Names are the module's public
# functions; materialize.paragraphs is the paragraph-subgraph family.
LAYERS = [
    ("pages.extract_pages", f"{PKG}.sources.pages", ["extract_pages"]),
    ("extract.extract_triples", f"{PKG}.operators.extract", ["extract_triples"]),
    ("validate.validate_triples", f"{PKG}.operators.validate", ["validate_triples"]),
    ("properties.assign_and_titlecase", f"{PKG}.operators.properties",
     ["assign_and_titlecase"]),
    ("linking.mentions_frame", f"{PKG}.operators.linking", ["mentions_frame"]),
    ("linking.tokenized_node_frame", f"{PKG}.operators.linking",
     ["tokenized_node_frame"]),
    ("embedding.train_corpus_embedder", f"{PKG}.operators.embedding",
     ["train_corpus_embedder"]),
    ("linking.containment_pairs", f"{PKG}.operators.linking", ["containment_pairs"]),
    ("linking.refine_pairs", f"{PKG}.operators.linking", ["refine_pairs"]),
    ("linking.refine_pairs_semantic", f"{PKG}.operators.linking",
     ["refine_pairs_semantic"]),
    ("linking.connected_components", f"{PKG}.operators.linking",
     ["connected_components"]),
    ("linking.link_nodes", f"{PKG}.operators.linking", ["link_nodes"]),
    ("linking.build_graph", f"{PKG}.operators.linking", ["build_graph"]),
    ("chunker.chunk_pages", f"{PKG}.operators.chunker", ["chunk_pages"]),
    ("materialize.paragraphs", f"{PKG}.operators.materialize",
     ["paragraph_nodes", "paragraph_edges", "case_metadata_records",
      "case_metadata_nodes", "case_metadata_edges", "part_of_edges"]),
    ("materialize.GraphWriter.write", f"{PKG}.operators.materialize",
     ["GraphWriter.write"]),
    ("materialize.GraphWriter.merge", f"{PKG}.operators.materialize",
     ["GraphWriter.merge"]),
    ("ingest.reconcile_graph", f"{PKG}.streaming.ingest", ["reconcile_graph"]),
    ("graph_query.match_chain", f"{PKG}.operators.graph_query", ["match_chain"]),
    ("graph_query.k_hop", f"{PKG}.operators.graph_query", ["k_hop"]),
]
LAYER_NAMES = [name for name, _, _ in LAYERS]

# layers whose work crosses into Python workers (pandas UDF / mapInPandas)
PY_LAYERS = [
    "pages.extract_pages",
    "extract.extract_triples",
    "properties.assign_and_titlecase",
    "linking.tokenized_node_frame",
    "embedding.train_corpus_embedder",
    "linking.refine_pairs_semantic",
    "chunker.chunk_pages",
]
LAYER_FIELDS = ["self_s", "task_s", "jobs", "rows_out"]
PY_FIELDS = ["py_bytes_in", "py_bytes_out"]
RATIOS = [
    "validate.validate_triples.accept_ratio",
    "linking.link_nodes.merge_ratio",
    "linking.connected_components.rounds",
    "materialize.GraphWriter.merge.rewrite_ratio",
]
COMPOSITION = "pipeline.composition_s"
# dict results whose other DataFrames are audit outputs the callers here
# never run (materializing them would bill the layer for work the untraced
# program does not do)
CONSUMED_OUTPUTS = {"validate.validate_triples": ("validated",)}

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def per_layer_metric_names() -> List[str]:
    names = []
    for layer in LAYER_NAMES:
        names += [f"{layer}.{f}" for f in LAYER_FIELDS]
        if layer in PY_LAYERS:
            names += [f"{layer}.{f}" for f in PY_FIELDS]
    return names + RATIOS + [COMPOSITION]


def metric_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("py_bytes_in") or name.endswith("py_bytes_out"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


@dataclass
class Span:
    span_id: int
    layer: str
    parent: Optional[int]
    start: float
    end: float = 0.0
    child_s: float = 0.0
    bookkeeping_s: float = 0.0
    rows_out: int = 0

    @property
    def group(self) -> str:
        return f"kgbench.{self.layer}#{self.span_id}"

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.child_s - self.bookkeeping_s


@dataclass
class Tracer:
    """Installs the layer wrappers on :meth:`install` and removes them on
    :meth:`uninstall`; spans and counters stay in memory."""

    spark: object
    spans: List[Span] = field(default_factory=list)
    counters: Dict[str, List[float]] = field(default_factory=dict)
    _stack: List[Span] = field(default_factory=list)
    _patches: List[tuple] = field(default_factory=list)
    _cc_firsts: int = 0

    # -- installation -----------------------------------------------------

    def install(self) -> None:
        for layer, modname, attrs in LAYERS:
            mod = importlib.import_module(modname)
            for attr in attrs:
                if "." in attr:
                    cls_name, meth = attr.split(".")
                    cls = getattr(mod, cls_name)
                    self._patch(cls, meth, self._wrap(layer, getattr(cls, meth)))
                    continue
                original = getattr(mod, attr)
                wrapped = self._wrap(layer, original)
                # every module of the package that bound the function by
                # name (``from .x import f``) gets the wrapper too
                for m in list(sys.modules.values()):
                    if m is None or not getattr(m, "__name__", "").startswith(PKG):
                        continue
                    if getattr(m, attr, None) is original:
                        self._patch(m, attr, wrapped)
        # connected_components runs one convergence check (DataFrame.first)
        # per round; count them while a CC span is open
        from pyspark.sql import DataFrame

        df_cls = type(self.spark.range(1))
        for cls in {df_cls, DataFrame}:
            if "first" in vars(cls):
                self._patch(cls, "first", self._count_first(vars(cls)["first"]))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def _patch(self, owner, attr, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _count_first(self, original):
        tracer = self

        @functools.wraps(original)
        def first(df_self, *a, **kw):
            if any(s.layer == "linking.connected_components" for s in tracer._stack):
                tracer._cc_firsts += 1
            return original(df_self, *a, **kw)

        return first

    # -- spans ------------------------------------------------------------

    def _set_group(self, group: Optional[str]) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    def _wrap(self, layer: str, fn: Callable) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            parent = tracer._stack[-1] if tracer._stack else None
            span = Span(len(tracer.spans), layer,
                        parent.span_id if parent else None, time.perf_counter())
            tracer.spans.append(span)
            tracer._stack.append(span)
            tracer._set_group(span.group)
            try:
                bound = inspect.signature(fn).bind(*args, **kwargs)
                bound.apply_defaults()
                pre = tracer._before(layer, bound.arguments)
                result = fn(*args, **kwargs)
                result = tracer._materialize(layer, result)
                tracer._after(span, layer, bound.arguments, result, pre)
            finally:
                span.end = time.perf_counter()
                tracer._stack.pop()
                if parent is not None:
                    parent.child_s += span.end - span.start
                tracer._set_group(parent.group if parent else None)
            return result

        return traced

    def _book(self, span: Span, fn: Callable):
        """Run ``fn`` as bookkeeping: own job group, time excluded."""
        t0 = time.perf_counter()
        self._set_group(BOOKKEEPING_GROUP)
        try:
            return fn()
        finally:
            self._set_group(span.group)
            span.bookkeeping_s += time.perf_counter() - t0

    @staticmethod
    def _is_df(x) -> bool:
        return hasattr(x, "localCheckpoint") and hasattr(x, "columns")

    def _materialize(self, layer: str, result):
        if self._is_df(result):
            return result.localCheckpoint(eager=True)
        if isinstance(result, dict):
            keep = CONSUMED_OUTPUTS.get(layer, tuple(result))
            return {
                k: (v.localCheckpoint(eager=True)
                    if k in keep and self._is_df(v) else v)
                for k, v in result.items()
            }
        return result

    def _rows(self, x) -> int:
        if self._is_df(x):
            return x.count()
        if isinstance(x, dict):
            return sum(v.count() for v in x.values() if self._is_df(v))
        return 0

    def _before(self, layer: str, args: Dict) -> Dict:
        span = self._stack[-1]
        if layer == "materialize.GraphWriter.merge":
            return self._book(span, lambda: self._merge_rewrite_rows(args))
        if layer == "linking.connected_components":
            return {"firsts": self._cc_firsts}
        return {}

    def _after(self, span: Span, layer: str, args: Dict, result, pre: Dict) -> None:
        def count():
            if layer == "validate.validate_triples":
                raw = args["triples"].count()
                validated = result["validated"].count()
                self._count("validate.validate_triples.accept_ratio",
                            validated, raw)
                return validated
            if layer == "linking.link_nodes":
                nodes_in = args["nodes0"].count()
                nodes_out = result["nodes"].count()
                self._count("linking.link_nodes.merge_ratio", nodes_out, nodes_in)
                return self._rows(result)
            if layer == "materialize.GraphWriter.write":
                return self.spark.read.parquet(result).count()
            if layer == "materialize.GraphWriter.merge":
                batch = args["df"].count()
                self._count("materialize.GraphWriter.merge.rewrite_ratio",
                            pre.get("stored_rows", 0), batch)
                return batch
            if layer == "embedding.train_corpus_embedder":
                table = inspect.getclosurevars(result).nonlocals.get("table", {})
                return len(table)
            return self._rows(result)

        span.rows_out = int(self._book(span, count))
        if layer == "linking.connected_components":
            rounds = self._cc_firsts - pre["firsts"]
            self._count("linking.connected_components.rounds", rounds, 1)

    def _count(self, name: str, num: float, den: float) -> None:
        acc = self.counters.setdefault(name, [0.0, 0.0])
        acc[0] += num
        acc[1] += den

    def _merge_rewrite_rows(self, args: Dict) -> Dict:
        """Stored rows in the buckets a merge will rewrite."""
        from pyspark.sql import functions as F

        writer, name, df, key = args["self"], args["name"], args["df"], args["key"]
        path = os.path.join(writer.base_path, name)
        if not os.path.isdir(path):
            return {"stored_rows": 0}
        buckets = [
            r[0]
            for r in df.select(
                F.pmod(F.xxhash64(F.col(key)), F.lit(writer.buckets)).cast("int")
            ).distinct().collect()
        ]
        stored = self.spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
        return {"stored_rows": stored.count()}

    # -- results ----------------------------------------------------------

    def span_records(self) -> List[dict]:
        return [
            {"id": s.span_id, "layer": s.layer, "parent": s.parent,
             "start": round(s.start, 6), "end": round(s.end, 6),
             "self_s": round(s.self_s, 6), "rows_out": s.rows_out}
            for s in self.spans
        ]

    def layer_metrics(self, events: "EventLogSummary") -> Dict[str, float]:
        """Every per-layer metric; layers this run did not call read 0."""
        out: Dict[str, float] = {}
        for layer in LAYER_NAMES:
            spans = [s for s in self.spans if s.layer == layer]
            groups = {s.group for s in spans}
            out[f"{layer}.self_s"] = sum(s.self_s for s in spans)
            out[f"{layer}.task_s"] = sum(events.task_s.get(g, 0.0) for g in groups)
            out[f"{layer}.jobs"] = sum(events.jobs.get(g, 0) for g in groups)
            out[f"{layer}.rows_out"] = sum(s.rows_out for s in spans)
            if layer in PY_LAYERS:
                out[f"{layer}.py_bytes_in"] = sum(
                    events.py_sent.get(g, 0) for g in groups)
                out[f"{layer}.py_bytes_out"] = sum(
                    events.py_returned.get(g, 0) for g in groups)
        for name in RATIOS:
            num, den = self.counters.get(name, (0.0, 0.0))
            if name.endswith(".rounds"):
                out[name] = num
            else:
                out[name] = num / den if den else 0.0
        return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class EventLogSummary:
    """Per job group: jobs, executor run time (s) and Python bytes."""

    jobs: Dict[str, int] = field(default_factory=dict)
    task_s: Dict[str, float] = field(default_factory=dict)
    py_sent: Dict[str, int] = field(default_factory=dict)
    py_returned: Dict[str, int] = field(default_factory=dict)


def _acc_value(acc: dict) -> int:
    try:
        return int(float(acc.get("Update", 0)))
    except (TypeError, ValueError):
        return 0


def parse_event_log(lines: Iterable[str]) -> EventLogSummary:
    """Attribute jobs, task time and Python bytes to job groups.

    A stage belongs to the first job that lists it (later jobs list reused
    shuffle stages as skipped); tasks belong to their stage's job."""
    out = EventLogSummary()
    stage_group: Dict[int, str] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out.jobs[group] = out.jobs.get(group, 0) + 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            metrics = ev.get("Task Metrics") or {}
            out.task_s[group] = out.task_s.get(group, 0.0) + (
                metrics.get("Executor Run Time", 0) / 1000.0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name == PY_SENT:
                    out.py_sent[group] = out.py_sent.get(group, 0) + _acc_value(acc)
                elif name == PY_RETURNED:
                    out.py_returned[group] = (
                        out.py_returned.get(group, 0) + _acc_value(acc))
    return out


def read_event_logs(log_dir: str) -> EventLogSummary:
    """Every event file under ``log_dir`` (Spark 4 writes rolling logs as a
    directory of ``events_<n>_*`` files), in file order."""
    lines: List[str] = []
    for dirpath, _dirs, files in sorted(os.walk(log_dir)):
        for name in sorted(files, key=_event_file_order):
            if name.startswith((".", "appstatus")):  # checksums, status marker
                continue
            with open(os.path.join(dirpath, name), encoding="utf-8") as fh:
                lines.extend(fh)
    return parse_event_log(lines)


def _event_file_order(name: str):
    parts = name.split("_")
    return (int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0, name)
