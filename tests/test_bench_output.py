"""bench.py's output contract: a reader that keeps only the tail of the
output parses the LAST stdout line as the record, so that line must be
the compact headline carrying "value"."""

from __future__ import annotations

import json

import bench


def test_last_line_is_the_headline(capsys):
    timings = {f"q_{i:03d}_some_registry_query": 0.1 + i / 1000 for i in range(180)}
    payload = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": 0.1,
        "reps": 3,
        "canary_wall": 1.0,
        "canary_wall_end": 1.1,
        "overhead_floor": 0.05,
        "overhead_floor_end": 0.06,
        "first": timings,
        "spread": timings,
        "queries": timings,
    }
    bench.print_results(payload)
    lines = capsys.readouterr().out.strip().splitlines()
    records = [json.loads(line) for line in lines]  # every line parses
    last = records[-1]
    assert last["value"] == payload["value"]
    assert last["metric"] == payload["metric"]
    assert len(lines[-1]) < 1024
    # the numbered parts carry every query's min, before the headline
    parts = [r for r in records[:-1] if "queries_part" in r]
    merged = {k: v for r in parts for k, v in r["q"].items()}
    assert merged == timings
