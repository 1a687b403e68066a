"""Event-log parser against a small recorded Spark 4.1 log.

``data/eventlog_sample.jsonl`` was recorded from a local[2] session
with the event log on: job group ``traced:shuffle`` (a groupBy written
to the noop sink: one shuffle map stage, one result stage after a
skipped one), job group ``traced:arrow`` (a pandas UDF over 1000 rows,
so an ArrowEvalPython node reports ``data sent to Python workers``),
then a repartition with no job group. The log is trimmed to the four
event types the parser reads and the fields it uses.

Run: python -m pytest perfbench/tests -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import eventlog  # noqa: E402

SAMPLE = os.path.join(os.path.dirname(__file__), "data",
                      "eventlog_sample.jsonl")


def test_groups_jobs_stages_tasks():
    g = eventlog.parse(SAMPLE)
    assert set(g) == {"traced:shuffle", "traced:arrow", None}
    shuffle = g["traced:shuffle"]
    # job 1 lists stages [1, 2]; stage 1 was skipped, so it neither
    # completes nor runs tasks
    assert (shuffle.jobs, shuffle.stages, shuffle.tasks) == (2, 2, 3)
    assert (g["traced:arrow"].jobs, g["traced:arrow"].tasks) == (1, 2)
    assert (g[None].jobs, g[None].stages, g[None].tasks) == (2, 2, 5)


def test_task_metrics():
    shuffle = eventlog.parse(SAMPLE)["traced:shuffle"]
    assert shuffle.task_ms == 282 + 283 + 106          # executor run time
    assert shuffle.task_ms_max == 433                  # launch → finish
    assert shuffle.shuffle_write_bytes == 171 + 168
    assert shuffle.shuffle_read_bytes == 339
    assert shuffle.spill_bytes == 0


def test_sql_metrics_per_group():
    g = eventlog.parse(SAMPLE)
    assert g["traced:arrow"].sql["data sent to Python workers"] == 2 * 4208
    assert "data sent to Python workers" not in g["traced:shuffle"].sql
    assert g[None].sql["shuffle bytes written"] == 1220


def test_find_log(tmp_path):
    (tmp_path / "local-1").write_text("")
    assert eventlog.find_log(str(tmp_path)) == str(tmp_path / "local-1")
    (tmp_path / "local-2").write_text("")
    try:
        eventlog.find_log(str(tmp_path))
    except ValueError:
        pass
    else:
        raise AssertionError("two logs must be refused")
