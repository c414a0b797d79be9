"""The event-log parser on a small captured log: one mapInPandas job
over 100 rows, then one shuffled aggregation (local[2], AQE off).  The
log was trimmed to the fields the parser reads."""

from __future__ import annotations

import json
from pathlib import Path

from perfbench import eventlog

LOG = Path(__file__).parent / "data" / "eventlog_small.jsonl"
# wall-clock windows (epoch seconds) of the two ops when the log was captured
WINDOWS = {
    "python": (1792207799.33525, 1792207804.1457515),
    "shuffle": (1792207804.3459454, 1792207806.1177642),
}


def _parse(windows):
    with LOG.open() as fh:
        return eventlog.parse_event_log(fh, windows)


def test_python_op_metrics():
    t = _parse(WINDOWS)["python"]
    assert (t.jobs, t.stages, t.tasks) == (1, 1, 2)
    assert t.python_rows == 100  # MapInPandas "number of output rows"
    assert (t.python_sent_bytes, t.python_received_bytes) == (1184, 1152)
    assert t.shuffle_read_bytes == t.shuffle_write_bytes == 0
    assert t.executor_run_ms == 4881 and t.executor_cpu_ns == 465222881


def test_shuffle_op_metrics():
    t = _parse(WINDOWS)["shuffle"]
    assert (t.jobs, t.stages, t.tasks) == (1, 2, 4)
    assert t.shuffle_write_bytes == t.shuffle_read_bytes == 302
    # HashAggregate output rows are not Python-node rows
    assert t.python_rows == t.python_sent_bytes == 0
    assert t.gc_ms == 80 and t.spill_bytes == 0


def test_attribution_by_window():
    whole = (min(w[0] for w in WINDOWS.values()), max(w[1] for w in WINDOWS.values()))
    total = _parse({"all": whole})["all"]
    parts = eventlog.Totals()
    for t in _parse(WINDOWS).values():
        parts.add(t)
    assert total == parts
    with LOG.open() as fh:
        task_ends = sum(json.loads(line)["Event"] == "SparkListenerTaskEnd" for line in fh)
    assert total.tasks == task_ends == 6
    # events outside every window are ignored
    assert _parse({"before": (0.0, 1.0)})["before"] == eventlog.Totals()
