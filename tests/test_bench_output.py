"""bench.py's stdout tail: the bench capture keeps only the last ~2000
chars, so the per-query map and the headline (the last two lines) must
fit with headroom for the current curated list."""

from __future__ import annotations

import json

import bench


def test_tail_lines_fit_stdout_window():
    names = bench._ordered(bench.BENCH_QUERIES + list(bench.BENCH_SPECIAL))
    # worst plausible values: every row at 99.99 s, every field at width
    mins = {n: 99.99 for n in names}
    headline = {
        "metric": "suite_total_runtime",
        "value": 99999.999,
        "value_median": 99999.999,
        "unit": "sec",
        "n_queries": len(names),
        "n_errors": len(names),
        "iters": 3,
        "sf": 0.1,
        "detail": "BENCH_DETAIL_all_sf0.1_c32.json",
    }
    lines = bench._tail_lines(mins, headline)
    assert len(lines) == 2
    assert len("\n".join(lines)) <= 1900, len("\n".join(lines))
    per_query = json.loads(lines[0])
    assert len(per_query) == len(names)
    assert set(per_query.values()) == {9999}
    assert json.loads(lines[1]) == headline


def test_short_names_unique_over_every_query():
    from railgun_spark import suite

    every = set(suite.all_queries()) | set(bench.BENCH_SPECIAL)
    short = {bench._short_name(n) for n in every}
    assert len(short) == len(every)
