"""bench.py's cross-round tripwire: a query whose median rose more than
1.3x over the newest earlier round measured at the same sf and cpus is
named in ``regressions``; with no comparable round it is null. The
stdout line stays inside the 2000-char capture. No Spark session."""

import json

import bench


def _record(sf, cpus, medians):
    return {
        "sf": sf,
        "cpus": cpus,
        "queries": {q: {"median": m, "runs": [m]} for q, m in medians.items()},
    }


def test_flags_only_rises_past_ratio():
    records = {4: _record(0.1, 4, {"a": 1.0, "b": 1.0, "c": 2.0})}
    now = {"a": 1.31, "b": 1.29, "c": 1.0, "new": 9.0}
    # "new" is missing from the earlier round: never flagged
    assert bench.find_regressions(now, 0.1, 4, 5, records) == ["a"]


def test_worst_first_and_newest_comparable_round():
    records = {
        2: _record(0.1, 4, {"a": 10.0, "b": 10.0}),
        3: _record(0.1, 4, {"a": 1.0, "b": 1.0}),
        4: _record(0.1, 32, {"a": 100.0, "b": 100.0}),  # other cpus
        5: _record(0.1, 4, {"a": 100.0, "b": 100.0}),  # this round
    }
    assert bench.find_regressions({"a": 1.5, "b": 2.0}, 0.1, 4, 5, records) == [
        "b",
        "a",
    ]


def test_no_comparable_round_is_null():
    records = {4: _record(0.1, 32, {"a": 1.0})}
    assert bench.find_regressions({"a": 5.0}, 0.1, 4, 5, records) is None
    assert bench.find_regressions({"a": 5.0}, 0.01, 32, 5, records) is None
    assert bench.find_regressions({"a": 5.0}, 0.1, 32, 4, records) is None
    assert bench.find_regressions({"a": 5.0}, 0.1, 4, 5, {}) is None


def test_stdout_line_fits_capture():
    names = [f"some_fairly_long_query_name_{i:03d}" for i in range(109)]
    out = {
        "metric": "headline_queries_total",
        "value": 123.4,
        "n_queries": 109,
        "queries": {"extract_pipeline": 1.0},
        "extract": {"docs": 120000, "docs_per_sec": 5000.0},
        "regressions": names,
    }
    line = bench.compact_line(out)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["value"] == 123.4 and parsed["extract"] == out["extract"]
    # trimmed from the least severe end; the worst stay
    assert parsed["regressions"] == names[: len(parsed["regressions"])]
    assert parsed["regressions"]
    small = dict(out, regressions=None)
    assert json.loads(bench.compact_line(small)) == small
