"""Tests of the event-log folder and the tail-percentile helper.

``data/eventlog_small.jsonl`` is a Spark 4.1 event log of a small local job,
trimmed to the events the folder reads.  It holds three described jobs:

- ``py.udf``: a pandas UDF over 1000 rows (data crosses to Python);
- ``shuffle.agg``: a group-by over 1000 rows into 4 shuffle partitions;
- ``scan.postings``: a filtered scan of a parquet table in a directory
  named ``postings`` (3 of its 10 row groups survive the filter, 300 rows);

and one job run without a description.

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spans import Tracer, fold_event_log, tail_percentile  # noqa: E402

LOG = Path(__file__).resolve().parent / "data" / "eventlog_small.jsonl"


@pytest.fixture(scope="module")
def folded():
    return fold_event_log(LOG)


def test_every_description_is_a_span(folded):
    assert set(folded) == {"py.udf", "shuffle.agg", "scan.postings", ""}


def test_jobs_and_tasks_are_attributed(folded):
    for name in ("py.udf", "shuffle.agg", "scan.postings"):
        assert folded[name]["jobs"] >= 1
        assert folded[name]["tasks"] >= folded[name]["jobs"]
    assert folded[""]["jobs"] >= 1


def test_python_bytes_only_where_python_runs(folded):
    assert folded["py.udf"]["py_bytes"] > 1000 * 8
    assert folded["shuffle.agg"]["py_bytes"] == 0
    assert folded["scan.postings"]["py_bytes"] == 0


def test_shuffle_bytes_only_where_a_shuffle_is_written(folded):
    assert folded["shuffle.agg"]["shuffle_bytes"] > 0
    assert folded["py.udf"]["shuffle_bytes"] == 0


def test_scan_rows_count_the_marked_table_only(folded):
    assert folded["scan.postings"]["scan_rows"] == 300
    assert folded["scan.postings"]["scan_nodes"] == 1
    assert folded["py.udf"]["scan_nodes"] == 0
    assert folded["py.udf"]["scan_rows"] == 0
    assert fold_event_log(LOG, scan_marker="no-such-table")["scan.postings"]["scan_rows"] == 0


def test_cpu_time_is_positive_and_plausible(folded):
    for span in folded.values():
        assert 0.0 <= span["cpu_s"] < 60.0
    assert folded["py.udf"]["cpu_s"] > 0.0


@pytest.mark.parametrize(
    ("n", "percentile"),
    [(1, 50.0), (19, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (200, 95.0),
     (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, percentile):
    p, value, count = tail_percentile([float(i) for i in range(1, n + 1)])
    assert (p, count) == (percentile, n)
    # nearest rank over 1..n: the value is the rank itself
    assert value == max(1, -(-n * round(p * 10) // 1000))
    assert n - value >= 10 or p == 50.0


def test_tail_percentile_ignores_input_order():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
    assert tail_percentile(xs) == tail_percentile(sorted(xs))


def test_tail_percentile_rejects_no_samples():
    with pytest.raises(ValueError):
        tail_percentile([])


def test_tracer_without_session_records_spans():
    tr = Tracer()
    with tr.span("a"):
        pass
    with tr.span("b"):
        pass
    with tr.span("a"):
        pass
    walls = tr.walls()
    assert set(walls) == {"a", "b"}
    assert walls["a"] >= 0.0 and len(tr.spans) == 3
