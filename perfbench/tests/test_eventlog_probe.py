"""Pins how perfbench reads Spark's event log, on a controlled probe.

Run from the root of a checkout:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, run  # noqa: E402
from perfbench.harness import Tracer  # noqa: E402

N_ROWS = 20_000
N_TASKS = 4


@pytest.fixture(scope="module")
def probe_events(tmp_path_factory):
    """Identity mapInPandas over N_ROWS rows in N_TASKS partitions, under
    job group "probe", with an uncompressed event log."""
    from pyspark.sql import SparkSession

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = (
        SparkSession.builder.master("local[2]").appName("eventlog-probe")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        def identity(batches):
            yield from batches

        spark.sparkContext.setJobGroup("probe", "identity mapInPandas")
        (
            spark.range(N_ROWS).repartition(N_TASKS)
            .mapInPandas(identity, "id long")
            .write.format("noop").mode("overwrite").save()
        )
    finally:
        spark.stop()
    return eventlog.read_events(log_dir)


def test_python_stage_counts(probe_events):
    stages = eventlog.stage_metrics(probe_events)
    py = [s for s in stages if s.runs_python]
    assert len(py) == 1
    (s,) = py
    assert s.job_group == "probe"
    assert s.tasks == N_TASKS
    # the Python stage reads the repartitioned rows from the shuffle and
    # the stage before it wrote exactly those rows
    assert s.records_in == N_ROWS
    (feeder,) = [x for x in stages if not x.runs_python]
    assert feeder.records_out == N_ROWS
    assert feeder.shuffle_write_bytes > 0


def test_python_worker_metrics_are_read_verbatim(probe_events):
    """Bytes each way and the start, init and run times are the stage's
    own accumulables.  Init is not part of run: an identity mapInPandas
    over 400k rows on 4 cores reported init (3.0-3.8 s summed) above run
    (2.2-2.9 s), so the reader keeps them apart and nothing adds the two
    together."""
    (s,) = [s for s in eventlog.stage_metrics(probe_events) if s.runs_python]
    raw = {}
    for e in probe_events:
        if e["Event"] == "SparkListenerStageCompleted" and e["Stage Info"]["Stage ID"] == s.stage_id:
            raw = {a["Name"]: int(a["Value"]) for a in e["Stage Info"]["Accumulables"]}
    assert s.python_sent_bytes == raw[eventlog.PY_SENT] > 0
    assert s.python_returned_bytes == raw[eventlog.PY_RETURNED] > 0
    assert s.python_run_ms == raw[eventlog.PY_RUN]
    assert s.python_init_ms == raw[eventlog.PY_INIT]
    assert s.python_start_ms == raw[eventlog.PY_START]
    # identity returns what it was sent; Arrow framing differs a little
    assert 0.5 < s.python_returned_bytes / s.python_sent_bytes < 2.0


def test_self_times_add_up_to_wall():
    tr = Tracer(enabled=True, run_id="t")
    with tr.span("run") as root:
        with tr.span("a"):
            time.sleep(0.01)
            with tr.span("b"):
                time.sleep(0.01)
        with tr.span("c"):
            time.sleep(0.01)
    selfs = tr.self_times()
    assert abs(sum(selfs.values()) - root["s"]) < 1e-9
    assert all(v >= 0 for v in selfs.values())


def test_benchmark_json_matches_metric_lists():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == run.PER_LAYER
