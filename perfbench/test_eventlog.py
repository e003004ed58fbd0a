"""Event-log parser on a small hand-written log (fixtures/eventlog_small.jsonl).

    python3 -m pytest perfbench/test_eventlog.py -q
"""

import os

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


def test_groups_and_task_metrics():
    g = eventlog.read(FIXTURE)
    scan = g["sources.scan"]
    assert scan["jobs"] == 1 and scan["tasks"] == 2
    assert scan["run_ms"] == 220 and scan["cpu_ms"] == 110 and scan["gc_ms"] == 5
    assert scan["input_bytes"] == 2500
    assert scan["files_read_bytes"] == 4096


def test_sinks_persist_python_and_writes():
    s = eventlog.read(FIXTURE)["sinks.write"]
    assert s["jobs"] == 2 and s["tasks"] == 3 and s["failed_tasks"] == 1
    # stage 1 computes the DISK_ONLY rdd, stage 2 reads it back
    assert s["input_bytes"] == 5000 and s["persist_read_bytes"] == 3000
    assert s["output_bytes"] == 1000 and s["written_bytes"] == 1024
    assert s["shuffle_write_bytes"] == 64 and s["shuffle_read_bytes"] == 64
    assert s["spill_bytes"] == 128
    assert s["py_bytes_sent"] == 5000 and s["py_run_ms"] == 40
    assert s["py_bytes_returned"] == 0


def test_ungrouped_and_checkpoint_reads():
    g = eventlog.read(FIXTURE)
    none = g[None]
    assert none["jobs"] == 1 and none["tasks"] == 1
    # a memory-and-disk checkpoint re-read is not a DISK_ONLY persist read
    assert none["input_bytes"] == 77 and none["persist_read_bytes"] == 0


def test_total():
    g = eventlog.read(FIXTURE)
    t = eventlog.total(g, ["sources.scan", "sinks.write", "absent"])
    assert t["jobs"] == 3 and t["input_bytes"] == 7500
