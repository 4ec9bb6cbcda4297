"""Benchmark inputs: the seed picks a page-index range, and every page is a
pure function of its index (``ontologybasedkgcreation_spark.fixtures``).

The program only ever sees the generated page rows; the ground truth
(expected triples, query answers) is derived here from the same fixture
spec, never from the program's output.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
from typing import Dict, Iterable, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from ontologybasedkgcreation_spark import fixtures

# Index ranges of different seed slots never overlap: no workload uses more
# than this many consecutive page indices.
SEED_STRIDE = 100_000
# Seeds map onto this many slots, so any seed gives page indices whose fetch
# times (one minute apart, from 2024) stay inside the nanosecond timestamps
# that pandas and Arrow round-trip (up to year 2262).
SEED_SLOTS = 1000
# Every 10th index is a non-English page (the fixtures' convention), which
# the pipeline must pass through without triples.
NON_EN_EVERY = 10
# A re-crawl is the same page fetched again a year later.
RECRAWL_DELAY = dt.timedelta(days=365)

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def page_range(seed: int, n_pages: int) -> range:
    """Seed -> the page indices a run uses (deterministic; disjoint across
    seeds that differ modulo ``SEED_SLOTS``)."""
    if n_pages > SEED_STRIDE:
        raise ValueError(f"at most {SEED_STRIDE} pages per seed, got {n_pages}")
    start = (seed % SEED_SLOTS) * SEED_STRIDE
    return range(start, start + n_pages)


def is_english(i: int) -> bool:
    return i % NON_EN_EVERY != NON_EN_EVERY - 1


def page_row(i: int, target_chars: int = 4200, html_only: bool = False,
             recrawl: bool = False) -> dict:
    """The ``pages`` row of index ``i``.  ``html_only`` nulls the text column
    so the pipeline has to decode the html; ``recrawl`` moves the fetch time
    a year later (same url, same content)."""
    if is_english(i):
        spec = fixtures._page_spec(i)
        url = spec["url"]
        text = fixtures._page_text(spec, target_chars)
        lang = "en"
    else:
        url = f"https://judgments.example.org/hi/{i}.html"
        text = fixtures.HINDI_FILLER * max(40, target_chars // len(fixtures.HINDI_FILLER))
        lang = "hi"
    row = fixtures._page_row(url, i, text, lang)
    if html_only:
        row["text"] = None
    if recrawl:
        row["warc_ts"] = row["warc_ts"] + RECRAWL_DELAY
    return row


def write_pages(path: str, rows: Iterable[dict]) -> Tuple[int, int]:
    """Write page rows to one parquet file; returns (pages, html bytes)."""
    rows = list(rows)
    table = pa.Table.from_pylist(rows, schema=PAGES_SCHEMA)
    pq.write_table(table, path)
    return len(rows), sum(len(r["html"]) for r in rows)


def expected_rows(indices: Iterable[int]) -> List[dict]:
    """Fixture truth: canonical triples of every English page."""
    out: List[dict] = []
    for i in indices:
        if is_english(i):
            out.extend(fixtures.expected_triples(fixtures._page_spec(i)))
    return out


# ---------------------------------------------------------------------------
# serving queries
# ---------------------------------------------------------------------------

def judge_court_answer(i: int) -> List[Tuple[str, str]]:
    """Answer of CourtCase{hasCaseID}-hasJudge->Judge-worksIn->Court for page
    ``i``, from the fixture spec: (judge last name, court name) per judge on
    the bench."""
    spec = fixtures._page_spec(i)
    judges = [spec["judge"]] + ([spec["bench_judge"]] if spec["bench_judge"] else [])
    court = fixtures.canon_props({"courtName": "Supreme Court of India"})["courtName"]
    return sorted(
        (fixtures.canon_props({"COLastName": last})["COLastName"], court)
        for _first, last in judges
    )


def node_id(label: str, props: Dict[str, str]) -> str:
    return label + json.dumps(props, sort_keys=True)


def truth_adjacency(rows: Iterable[dict]) -> Dict[str, set]:
    adj: Dict[str, set] = {}
    for r in rows:
        s = node_id(r["subj_label"], r["subj_props"])
        o = node_id(r["obj_label"], r["obj_props"])
        adj.setdefault(s, set()).add(o)
    return adj


def hops_from(adj: Dict[str, set], start: str, k: int) -> Dict[int, int]:
    """Nodes per shortest out-hop distance 0..k from ``start``."""
    seen = {start: 0}
    frontier = [start]
    for step in range(1, k + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in seen:
                    seen[v] = step
                    nxt.append(v)
        frontier = nxt
    counts: Dict[int, int] = {}
    for d in seen.values():
        counts[d] = counts.get(d, 0) + 1
    return counts


def primary_case_node(i: int) -> str:
    spec = fixtures._page_spec(i)
    return node_id(
        "CourtCase",
        fixtures.canon_props(
            {"hasCaseID": spec["case_id"], "hasCaseName": spec["case_name"]}
        ),
    )


def digest(items: Iterable[str]) -> str:
    """Order-insensitive sha256 over strings."""
    h = hashlib.sha256()
    for s in sorted(items):
        h.update(s.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()
