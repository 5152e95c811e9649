"""bench.py's stdout stays one short JSON line whatever the row count;
the full per-row record goes to a file."""

from __future__ import annotations

import json

import bench


def test_headline_stays_short_with_75_rows():
    timings = {k: 12.345 for k in bench.CORE}
    timings.update(
        {f"breadth_row_with_a_long_name_{i:02d}": 123.456 for i in range(75 - len(timings))}
    )
    timings.update({"query_p50": 1.234, "query_p95": 2.345})
    extra = {
        "n_pages": 20000,
        "cpus": 32,
        "full_suite_sec": 1234.567,
        "pages_docs_per_sec": 1234.5,
        "block_queries_per_sec": 123.4,
        "crawl_fetches_per_sec": 123.4,
        "pipeline_e2e_docs_per_sec": 1234.5,
    }
    line = bench._headline(timings, extra)
    assert len(line) < 1500, len(line)
    assert "\n" not in line
    head = json.loads(line)
    assert list(head["queries"]) == list(bench.CORE)
    assert head["value"] == round(12.345 * len(bench.CORE), 3)
    assert head["extra"] == extra
    assert {"metric", "unit", "sf"} <= head.keys()
    # the file record keeps every row and the same headline value
    rec = bench._record(timings, extra)
    assert rec["queries"] == timings and rec["value"] == head["value"]
    assert len(json.dumps(rec)) > 2000
