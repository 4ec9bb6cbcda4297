"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest kgbench/tests -q
"""

import json
import os

import pytest

from kgbench import inputs, proc, stats, trace

DATA = os.path.join(os.path.dirname(os.path.dirname(__file__)), "data")


# -- seed -> pages -------------------------------------------------------------

def test_seed_to_page_range_is_deterministic_and_disjoint():
    assert inputs.page_range(7, 300) == inputs.page_range(7, 300)
    a, b = inputs.page_range(7, 300), inputs.page_range(8, 300)
    assert not set(a) & set(b)
    assert inputs.page_range(0, 5) == range(0, 5)
    # any seed, however large or negative, lands on one of the slots
    assert inputs.page_range(inputs.SEED_SLOTS + 7, 300) == a
    for seed in (-1, 2**31 - 1, 2**63):
        r = inputs.page_range(seed, 300)
        assert 0 <= r.start and r.stop <= inputs.SEED_SLOTS * inputs.SEED_STRIDE
        # the latest fetch time fits a nanosecond timestamp
        assert inputs.page_row(r.stop - 1, recrawl=True)["warc_ts"].year < 2262
    with pytest.raises(ValueError):
        inputs.page_range(1, inputs.SEED_STRIDE + 1)


def test_pages_are_a_pure_function_of_the_index():
    i = inputs.page_range(3, 1)[0]
    assert inputs.page_row(i) == inputs.page_row(i)
    html_only = inputs.page_row(i, html_only=True)
    assert html_only["text"] is None and html_only["html"] == inputs.page_row(i)["html"]
    recrawl = inputs.page_row(i, recrawl=True)
    assert recrawl["url"] == inputs.page_row(i)["url"]
    assert recrawl["warc_ts"] > inputs.page_row(i)["warc_ts"]


# -- tail percentile -------------------------------------------------------------

def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 31))  # 30 samples
    pct, value = stats.tail_percentile(xs)
    assert value == 20
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 20 / 30)
    # order of the samples does not matter
    assert stats.tail_percentile(list(reversed(xs))) == (pct, value)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail_percentile([1.0] * 10)
    assert stats.tail_percentile([5.0] * 11) == (pytest.approx(100 / 11), 5.0)


# -- event log --------------------------------------------------------------------

CANNED_LOG = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "kgbench.extract.extract_triples#3"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
     "Task Metrics": {"Executor Run Time": 1500},
     "Task Info": {"Accumulables": [
         {"ID": 7, "Name": trace.PY_SENT, "Update": 1000, "Metadata": "sql"},
         {"ID": 8, "Name": trace.PY_RETURNED, "Update": "400", "Metadata": "sql"},
         {"ID": 9, "Name": "number of output rows", "Update": 12}]}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
     "Task Metrics": {"Executor Run Time": 500},
     "Task Info": {"Accumulables": [
         {"ID": 7, "Name": trace.PY_SENT, "Update": 24}]}},
    # stage 1 is reused (skipped) by a later job of another group: its tasks
    # stay with the job that ran it
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
     "Properties": {"spark.jobGroup.id": "kgbench.linking.link_nodes#4"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
     "Task Metrics": {"Executor Run Time": 250}, "Task Info": {"Accumulables": []}},
    # jobs outside any group are not attributed
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
     "Task Metrics": {"Executor Run Time": 9999}, "Task Info": {}},
]


def test_event_log_parsing_attributes_jobs_time_and_python_bytes():
    summary = trace.parse_event_log(json.dumps(e) for e in CANNED_LOG)
    g1, g2 = "kgbench.extract.extract_triples#3", "kgbench.linking.link_nodes#4"
    assert summary.jobs == {g1: 1, g2: 1}
    assert summary.task_s == {g1: pytest.approx(2.0), g2: pytest.approx(0.25)}
    assert summary.py_sent == {g1: 1024}
    assert summary.py_returned == {g1: 400}


def test_layer_metrics_cover_every_named_layer():
    names = trace.per_layer_metric_names()
    assert len(names) == len(set(names)) <= 128
    for layer in trace.LAYER_NAMES:
        assert f"{layer}.self_s" in names and f"{layer}.task_s" in names
    assert "pipeline.composition_s" in names
    assert "extract.extract_triples.py_bytes_in" in names


# -- fixture ontology ------------------------------------------------------------

def _fixture_ontology():
    from ontologybasedkgcreation_spark.ontology import parse_owl_text

    with open(os.path.join(DATA, "fixture_ontology.ttl"), encoding="utf-8") as fh:
        return parse_owl_text(fh.read())


def test_fixture_ontology_admits_every_relation_the_grammar_emits():
    from ontologybasedkgcreation_spark import fixtures
    from ontologybasedkgcreation_spark.operators.extract import extract_from_text

    onto = _fixture_ontology()
    assert (len(onto.classes), len(onto.object_props), len(onto.datatype_props)) == (
        21, 25, 25)
    emitted = set()
    for seed in (0, 1, 17):
        for i in inputs.page_range(seed, 400):
            if not inputs.is_english(i):
                continue
            spec = fixtures._page_spec(i)
            for _span, t1, _v1, rel, t2, _v2 in extract_from_text(fixtures._page_text(spec)):
                emitted.add((t1, rel, t2))
            for row in fixtures.expected_triples(spec):
                assert onto.valid_relationship(
                    row["subj_label"], row["pred"], row["obj_label"]), row
    unadmitted = {t for t in emitted if onto.resolve_relationship(*t) is None}
    assert not unadmitted
    # every relation the fixture ontology lists is exercised by the grammar
    assert {(d, r, g) for d, r, g, _ in onto.object_props} == emitted


# -- /proc ------------------------------------------------------------------------

def test_process_tree_readings():
    assert os.getpid() in proc.tree_pids()
    assert proc.tree_cpu_s() > 0
    assert proc.tree_pss_bytes() > 0


# -- BENCHMARK.json --------------------------------------------------------------

def test_benchmark_json_matches_what_the_run_prints():
    from kgbench import run
    from kgbench.workloads import WORKLOADS

    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == trace.per_layer_metric_names()
    for m in spec["per_layer"]:
        assert m["unit"] == trace.metric_unit(m["name"])


# -- output checks ---------------------------------------------------------------

def test_precision_recall_reads_the_stored_graph(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kgbench.workloads import precision_recall

    props = pa.map_(pa.string(), pa.string())
    (tmp_path / "nodes").mkdir()
    (tmp_path / "edges").mkdir()
    pq.write_table(pa.table({
        "node_key": ["a", "b", "c"],
        "head_label": ["Judge", "Court", "Court"],
        "props": pa.array([{"COLastName": "Bhat", "COFirstName": ""},
                           {"courtName": "Supreme Court Of India"},
                           {"courtName": "Madras High Court"}], props),
    }), tmp_path / "nodes" / "part.parquet")
    pq.write_table(pa.table({
        "src_key": ["a", "a", "a"], "relationship": ["worksIn"] * 3,
        "dst_key": ["b", "b", "c"],
    }), tmp_path / "edges" / "part.parquet")
    truth = [
        {"subj_label": "Judge", "subj_props": {"COLastName": "Bhat"}, "pred": "worksIn",
         "obj_label": "Court", "obj_props": {"courtName": "Supreme Court Of India"}},
        {"subj_label": "Judge", "subj_props": {"COLastName": "Bhat"}, "pred": "hasOpinion",
         "obj_label": "Opinion", "obj_props": {"text": "X"}},
    ]
    pr = precision_recall(str(tmp_path), truth)
    # duplicate edges collapse; one of two distinct triples is true
    assert (pr["actual"], pr["expected"], pr["matched"]) == (2, 2, 1)
    assert pr["precision"] == pr["recall"] == 0.5
