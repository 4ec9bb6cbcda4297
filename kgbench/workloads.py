"""The benchmark's workloads.  Each drives the package only through its
public API, with the fixture ontology passed explicitly as ``onto=``.

A workload generates its inputs (``generate``, while the session starts),
warms up (``warm_up``), and then runs ``unit`` -- the timed work -- for the
measuring window; every unit checks its outputs after its timed part.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import Counter
from typing import Dict, List

import pyarrow.dataset as ds
from pyspark.sql import functions as F

from ontologybasedkgcreation_spark import pipeline
from ontologybasedkgcreation_spark.operators import graph_query
from ontologybasedkgcreation_spark.operators.materialize import GraphWriter
from ontologybasedkgcreation_spark.plans.resume import ASSIGNED_STAGE, CheckpointedPipeline
from ontologybasedkgcreation_spark.streaming import ingest

from . import inputs, proc

# Sizes.  Small: on 4 cores a Spark job costs ~0.1 s whatever its input, so
# larger inputs mostly lengthen runs, and a run must fit the time budget.
P2T_PAGES = 200          # html-only pages per pages_to_triples unit
P2T_WARMUP_UNITS = 3     # units keep speeding up until about the fourth
P2T_BUCKETS = 8          # checkpoint buckets: two per core (default 64)
P2T_PAGE_CHARS = 100_000
BASE_PAGES = 200         # text pages in the maintain_and_serve base store
BUILD_PAGES = 350        # text pages of the build that traced runs add
BUILD_SEMANTIC_MIN = 300  # English pages that make that build train its
                          # embedder (the default floor is 1000)
PAGE_CHARS = 4_200
BATCH_NEW = 150          # new pages per ingested batch
BATCH_RECRAWL = 50       # re-crawled base urls per ingested batch
QUERIES = 6              # serving queries per maintain_and_serve unit
GRAPH_BUCKETS = 8


class CheckFailed(Exception):
    """An output check failed: the program produced a wrong answer."""


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _table_digest(path: str, cols: List[str]) -> str:
    """Order-insensitive digest of a stored parquet table's rows."""
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols)
    rows = zip(*(table.column(c).to_pylist() for c in cols))
    return inputs.digest(repr(r) for r in rows)


def graph_fingerprint(base: str) -> str:
    nodes = _table_digest(os.path.join(base, "nodes"), ["node_key"])
    edges = _table_digest(
        os.path.join(base, "edges"),
        ["src_key", "relationship", "dst_key", "url", "span_start", "triple_id"],
    )
    return inputs.digest([nodes, edges])


def _canon(props) -> tuple:
    """A property bag as the comparator sees it: non-empty values only."""
    items = props.items() if isinstance(props, dict) else props
    return tuple(sorted(f"{k}={v}" for k, v in items if v not in (None, "")))


def precision_recall(base: str, truth_rows) -> Dict[str, float]:
    """Set P/R of the stored graph's canonical (subject, relationship,
    object) triples against fixture truth -- the rule of
    ``pipeline.triple_precision_recall``, computed here from the stored
    files so the check does not run on the program it checks."""
    nodes = ds.dataset(os.path.join(base, "nodes"), format="parquet",
                       partitioning="hive").to_table(columns=["node_key", "head_label", "props"])
    node = {k: (label, _canon(props)) for k, label, props in zip(
        *(nodes.column(c).to_pylist() for c in ("node_key", "head_label", "props")))}
    edges = ds.dataset(os.path.join(base, "edges"), format="parquet",
                       partitioning="hive").to_table(columns=["src_key", "relationship", "dst_key"])
    actual = {
        (node[s], rel, node[d])
        for s, rel, d in zip(*(edges.column(c).to_pylist()
                               for c in ("src_key", "relationship", "dst_key")))
        if s in node and d in node
    }
    expected = {
        ((r["subj_label"], _canon(r["subj_props"])), r["pred"],
         (r["obj_label"], _canon(r["obj_props"])))
        for r in truth_rows
    }
    matched = len(actual & expected)
    return {"precision": matched / len(actual) if actual else 0.0,
            "recall": matched / len(expected) if expected else 0.0,
            "actual": len(actual), "expected": len(expected), "matched": matched}


class Workload:
    name = ""

    def __init__(self, onto, seed: int, work_dir: str):
        self.spark = None
        self.onto = onto
        self.seed = seed
        self.work_dir = work_dir
        self.units_run = 0
        self.checks: Dict[str, object] = {}

    def _unit_dir(self, tag: str) -> str:
        d = os.path.join(self.work_dir, f"unit{self.units_run}-{tag}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def input_sizes(self) -> Dict[str, int]:
        raise NotImplementedError

    def generate(self) -> None:
        """Writes the inputs; needs no Spark session, so it can run while
        the session starts."""
        raise NotImplementedError

    def load(self, spark) -> None:
        """Attaches the session and opens the generated inputs."""
        self.spark = spark

    def warm_up(self) -> Dict[str, float]:
        """The set-up work after input generation."""
        raise NotImplementedError

    def traced_extra(self) -> Dict[str, float]:
        """Work only traced runs do, after the traced unit."""
        return {}

    def pages_per_unit(self) -> int:
        raise NotImplementedError

    def unit(self) -> Dict[str, float]:
        """Runs and checks one unit; returns its timed stages in seconds
        (``unit_s`` the whole unit, ``page_cpu_s`` the process-tree CPU of
        its page stage)."""
        raise NotImplementedError


class PagesToTriples(Workload):
    """``CheckpointedPipeline.run_assigned_stage`` over html-only ~100 KB
    pages: decode, extraction, validation and property assignment, written
    as the bucketed triple table plus its lineage."""

    name = "pages_to_triples"

    def generate(self) -> None:
        idx = inputs.page_range(self.seed, P2T_PAGES)
        self.n_pages, self.n_bytes = inputs.write_pages(
            os.path.join(self.work_dir, "pages.parquet"),
            (inputs.page_row(i, P2T_PAGE_CHARS, html_only=True) for i in idx),
        )
        self.digest = None

    def load(self, spark) -> None:
        super().load(spark)
        self.pages = spark.read.parquet(os.path.join(self.work_dir, "pages.parquet"))

    def input_sizes(self) -> Dict[str, int]:
        return {"pages": self.n_pages, "html_bytes": self.n_bytes}

    def pages_per_unit(self) -> int:
        return self.n_pages

    def warm_up(self) -> Dict[str, float]:
        """Full-size units: smaller ones leave the next unit slow."""
        return {"warmup_unit_s": [self.unit()["unit_s"] for _ in range(P2T_WARMUP_UNITS)]}

    def unit(self) -> Dict[str, float]:
        base = self._unit_dir("p2t")
        cpu0 = proc.tree_cpu_s()
        t0 = time.perf_counter()
        out = CheckpointedPipeline(
            self.spark, base, onto=self.onto, n_buckets=P2T_BUCKETS
        ).run_assigned_stage(self.pages)
        elapsed = time.perf_counter() - t0
        cpu = proc.tree_cpu_s() - cpu0
        self.units_run += 1
        self._check(base, out)
        shutil.rmtree(base, ignore_errors=True)
        return {"unit_s": elapsed, "page_cpu_s": cpu}

    def _check(self, base: str, out: str) -> None:
        cols = ["url", "triple_id", "node1_type", "relationship", "node2_type",
                "node1_props", "node2_props", "bucket"]
        table = ds.dataset(out, format="parquet", partitioning="hive").to_table(columns=cols)
        n_rows = table.num_rows
        digest = inputs.digest(
            repr(r) for r in zip(*(table.column(c).to_pylist() for c in cols))
        )
        if self.digest is None:
            self.digest = digest
        _expect(digest == self.digest, "pages_to_triples output digest changed between units")
        lineage = ds.dataset(os.path.join(base, "_lineage"), format="parquet").to_table()
        rows = lineage.to_pylist()
        stage_rows = [r for r in rows if r["stage"] == ASSIGNED_STAGE]
        buckets = Counter(r["bucket"] for r in stage_rows)
        n_buckets = stage_rows[0]["n_buckets"] if stage_rows else 0
        _expect(
            n_buckets > 0 and sorted(buckets) == list(range(n_buckets))
            and set(buckets.values()) == {1},
            "lineage does not cover every bucket exactly once",
        )
        _expect(sum(r["rows"] for r in stage_rows) == n_rows,
                "lineage row sums differ from the output row count")
        _expect(n_rows > 0, "no triples extracted")
        self.checks = {"output_digest": digest, "output_rows": n_rows,
                       "lineage_buckets": n_buckets}


class MaintainAndServe(Workload):
    """Graph maintenance and serving, as ``start_graph_maintenance`` does it
    per micro-batch.  Set-up ingests the base pages into an empty store;
    each unit copies that store (untimed), ingests a batch in which a
    quarter of the urls are re-crawls (``run_pipeline`` without paragraphs,
    then ``GraphWriter.merge`` of nodes and edges), runs
    ``reconcile_graph``, and serves a one-client closed loop of chain and
    k-hop queries over the stored tables.

    Traced runs also trace the default build call (paragraphs and the
    semantic refine on) over another page range, so its layers (chunking,
    the paragraph subgraph, embedder training) get per-layer numbers;
    untraced runs skip it to keep a run inside its time budget."""

    name = "maintain_and_serve"

    def generate(self) -> None:
        idx = inputs.page_range(self.seed, BASE_PAGES + BATCH_NEW)
        base_idx = list(idx)[:BASE_PAGES]
        new_idx = list(idx)[BASE_PAGES:]
        rng = random.Random(self.seed)
        recrawl = sorted(rng.sample(base_idx, BATCH_RECRAWL))
        base_path = os.path.join(self.work_dir, "base.parquet")
        batch_path = os.path.join(self.work_dir, "batch.parquet")
        nb, bb = inputs.write_pages(base_path, (inputs.page_row(i, PAGE_CHARS) for i in base_idx))
        nn, bn = inputs.write_pages(
            batch_path,
            [inputs.page_row(i, PAGE_CHARS) for i in new_idx]
            + [inputs.page_row(i, PAGE_CHARS, recrawl=True) for i in recrawl],
        )
        self.sizes = {"base_pages": nb, "base_html_bytes": bb,
                      "batch_pages": nn, "batch_html_bytes": bn}
        self.truth_rows = inputs.expected_rows(base_idx + new_idx)
        adj = inputs.truth_adjacency(self.truth_rows)
        english = [i for i in base_idx if inputs.is_english(i)]
        self.queries = []
        for q, i in enumerate(rng.sample(english, QUERIES)):
            spec = inputs.fixtures._page_spec(i)
            where = inputs.fixtures.canon_props(
                {"hasCaseID": spec["case_id"], "hasCaseName": spec["case_name"]})
            if q % 2 == 0:
                self.queries.append(("match_chain", where, inputs.judge_court_answer(i)))
            else:
                answer = inputs.hops_from(adj, inputs.primary_case_node(i), 2)
                self.queries.append(("k_hop", where, answer))
        self.graph_dir = os.path.join(self.work_dir, "graph")
        self.fingerprint = None

    def load(self, spark) -> None:
        super().load(spark)
        self.base_pages = spark.read.parquet(os.path.join(self.work_dir, "base.parquet"))
        self.batch = spark.read.parquet(os.path.join(self.work_dir, "batch.parquet"))

    def input_sizes(self) -> Dict[str, int]:
        return dict(self.sizes)

    def pages_per_unit(self) -> int:
        return self.sizes["batch_pages"]

    def _ingest(self, writer: GraphWriter, pages) -> None:
        out = pipeline.run_pipeline(self.spark, pages, onto=self.onto,
                                    with_paragraphs=False)
        writer.merge("nodes", out["nodes"], key="node_key")
        writer.merge("edges", out["edges"], key="url")

    def warm_up(self) -> Dict[str, float]:
        """Ingests the base pages into an empty store (the store every unit
        starts from), then runs one query of each kind against it."""
        shutil.rmtree(self.graph_dir, ignore_errors=True)
        t0 = time.perf_counter()
        self._ingest(GraphWriter(self.graph_dir, buckets=GRAPH_BUCKETS), self.base_pages)
        base_s = time.perf_counter() - t0
        nodes = self.spark.read.parquet(os.path.join(self.graph_dir, "nodes"))
        edges = self.spark.read.parquet(os.path.join(self.graph_dir, "edges"))
        for query in self.queries[:2]:
            _serve(nodes, edges, query)
        return {"base_ingest_s": base_s}

    def traced_extra(self) -> Dict[str, float]:
        """The default build call, over pages that follow the batch's,
        checked against fixture truth."""
        start = inputs.page_range(self.seed, BASE_PAGES + BATCH_NEW + BUILD_PAGES)
        idx = list(start)[BASE_PAGES + BATCH_NEW:]
        path = os.path.join(self.work_dir, "build.parquet")
        inputs.write_pages(path, (inputs.page_row(i, PAGE_CHARS) for i in idx))
        d = os.path.join(self.work_dir, "build")
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        pipeline.run_pipeline(
            self.spark, self.spark.read.parquet(path), onto=self.onto,
            with_paragraphs=True, semantic="auto",
            semantic_min_pages=BUILD_SEMANTIC_MIN,
            writer=GraphWriter(d, buckets=GRAPH_BUCKETS),
        )
        elapsed = time.perf_counter() - t0
        pr = precision_recall(d, inputs.expected_rows(idx))
        self.checks["build_pr"] = pr
        _expect(pr["precision"] == 1.0 and pr["recall"] == 1.0,
                f"build P/R {pr['precision']}/{pr['recall']} against fixture truth")
        shutil.rmtree(d, ignore_errors=True)
        return {"build_s": elapsed}

    def unit(self) -> Dict[str, float]:
        d = self._unit_dir("mas")
        shutil.copytree(self.graph_dir, d)  # untimed copy of the stored graph
        writer = GraphWriter(d, buckets=GRAPH_BUCKETS)
        cpu0 = proc.tree_cpu_s()
        t0 = time.perf_counter()
        self._ingest(writer, self.batch)
        t1 = time.perf_counter()
        cpu = proc.tree_cpu_s() - cpu0
        ingest.reconcile_graph(self.spark, writer)
        t2 = time.perf_counter()
        nodes = self.spark.read.parquet(os.path.join(d, "nodes"))
        edges = self.spark.read.parquet(os.path.join(d, "edges"))
        latencies = []
        answers = []
        for query in self.queries:
            q0 = time.perf_counter()
            answers.append(_serve(nodes, edges, query))
            latencies.append(time.perf_counter() - q0)
        t3 = time.perf_counter()
        self.units_run += 1
        self._check(d, answers)
        shutil.rmtree(d, ignore_errors=True)
        return {"unit_s": t3 - t0, "page_cpu_s": cpu, "ingest_s": t1 - t0,
                "reconcile_s": t2 - t1, "query_s": latencies}

    def _check(self, d: str, answers) -> None:
        fp = graph_fingerprint(d)
        if self.fingerprint is None:
            pr = precision_recall(d, self.truth_rows)
            _expect(pr["precision"] == 1.0 and pr["recall"] == 1.0,
                    f"reconciled P/R {pr['precision']}/{pr['recall']} against fixture truth")
            self.checks["reconciled_pr"] = pr
            self.fingerprint = fp
        _expect(fp == self.fingerprint, "reconciled graph fingerprint changed between units")
        for (kind, where, expected), rows in zip(self.queries, answers):
            if kind == "match_chain":
                got = sorted({(r["n1_props"]["COLastName"], r["n2_props"]["courtName"])
                              for r in rows})
            else:
                got = dict(Counter(r["hops"] for r in rows))
            _expect(got == expected,
                    f"{kind} answer for {where['hasCaseID']}: {got} != {expected}")
        self.checks["queries_checked"] = len(answers)


def _serve(nodes, edges, query):
    """One serving query, collected to the client."""
    kind, where, _expected = query
    if kind == "match_chain":
        return graph_query.match_chain(
            nodes, edges,
            [("CourtCase", "hasJudge", "Judge"), ("Judge", "worksIn", "Court")],
            where={0: where}, keep_props=True,
        ).collect()
    start = nodes.filter(_props_match(where)).select("node_key")
    return graph_query.k_hop(edges, start, k=2).collect()


def _props_match(where: Dict[str, str]):
    cond = F.col("head_label") == "CourtCase"
    for k, v in where.items():
        cond = cond & (F.element_at(F.col("props"), F.lit(k)) == v)
    return cond


WORKLOADS = {w.name: w for w in (PagesToTriples, MaintainAndServe)}
