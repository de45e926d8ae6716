"""Attribution and summaries of the traced run, on an event log recorded at
sf0.001 (one batch key, one pandas-state stream, one native-state stream)."""

import gzip
import json
import os

import pytest

import layers

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def recorded():
    with gzip.open(os.path.join(DATA, "eventlog_sf0.001.jsonl.gz"), "rt") as f:
        events = [json.loads(line) for line in f]
    with open(os.path.join(DATA, "spans_sf0.001.json")) as f:
        doc = json.load(f)
    return events, [tuple(s) for s in doc["spans"]], doc["cores"]


def test_streaming_jobs_land_on_the_key_whose_span_started_the_query(recorded):
    events, spans, cores = recorded
    per_key = layers.key_layers(events, spans, cores)
    groups = [e["Properties"]["spark.jobGroup.id"] for e in events if e["Event"] == "SparkListenerJobStart"]
    # read off the log once: each stream key runs one job under its own
    # group, and its micro-batch jobs run under the stream's run id (the
    # sessionize stream started 04:19:25.4, the dedup stream 04:19:39.4)
    assert groups.count("stateful_sessionize") == 1
    assert groups.count("7c197305-1def-468c-a8ba-0146dd3aa574") == 5
    assert groups.count("stream_dedup_watermarked") == 1
    assert groups.count("0fd8feea-6e1b-447c-8a36-daa15709fe0c") == 6
    assert {key: m["spark.jobs"] for key, m in per_key.items()} == {
        "agg_distinct": 3,
        "stateful_sessionize": 6,
        "stream_dedup_watermarked": 7,
    }
    streams = {
        key: (m["streaming.runner.streams"], m["streaming.runner.batches"], m["streaming.runner.empty_batches"], m["streaming.input_rows"])
        for key, m in per_key.items()
    }
    assert streams == {
        "agg_distinct": (0, 0, 0, 0),
        "stateful_sessionize": (1, 5, 1, 1001),
        "stream_dedup_watermarked": (1, 6, 1, 1335),
    }
    # the pandas-state stream crosses the Python boundary; the others do not
    assert per_key["stateful_sessionize"]["python.run_s"] > 0
    assert per_key["stream_dedup_watermarked"]["python.run_s"] == 0
    assert per_key["agg_distinct"]["python.run_s"] == 0


def test_setup_and_check_jobs_are_not_attributed(recorded):
    events, spans, cores = recorded
    per_key = layers.key_layers(events, spans, cores)
    groups = [e["Properties"]["spark.jobGroup.id"] for e in events if e["Event"] == "SparkListenerJobStart"]
    unattributed = groups.count("setup") + groups.count("check")
    assert unattributed > 0
    assert sum(m["spark.jobs"] for m in per_key.values()) == len(groups) - unattributed


def test_gap_is_span_time_not_covered_by_jobs():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000, "Stage Infos": [], "Properties": {"spark.jobGroup.id": "k"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2_000, "Stage Infos": [], "Properties": {"spark.jobGroup.id": "k"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4_000},
    ]
    per_key = layers.key_layers(events, [("k", 0.0, 10.0)], cores=4)
    assert per_key["k"]["spark.jobs"] == 2
    assert per_key["k"]["driver.gap_s"] == pytest.approx(7.0)  # jobs cover 1..4 s


def test_median_and_sums():
    assert layers.median([]) == 0.0
    assert layers.median([3.0, 1.0, 2.0]) == 2.0
    assert layers.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    a = {**dict.fromkeys(layers.COUNTERS, 0.0), "streaming.runner.batch_ms": [100.0, 300.0]}
    b = {**dict.fromkeys(layers.COUNTERS, 0.0), "streaming.runner.batch_ms": [200.0]}
    a.update({"spark.jobs": 3, "exec.run_s": 6.0, "operators.key_s": 2.0, "exec.busy_frac": 0.75})
    b.update({"spark.jobs": 4, "exec.run_s": 2.0, "operators.key_s": 2.0, "exec.busy_frac": 0.25})
    a.update({"streaming.input_rows": 900, "streaming.runner.trigger_ms": 400.0})
    b.update({"streaming.input_rows": 100, "streaming.runner.trigger_ms": 100.0})
    total = layers.summarize({"a": a, "b": b}, cores=4)
    assert total["spark.jobs"] == 7
    assert total["operators.key_s"] == 4.0
    assert total["streaming.runner.batch_ms.p50"] == 200.0
    # ratios are recomputed from the totals, not summed
    assert total["exec.busy_frac"] == pytest.approx(8.0 / (4.0 * 4))
    assert total["streaming.events_per_s"] == pytest.approx(1000 / 0.5)
