"""The result line: oracle mismatches and errors count as failed keys."""

import argparse

from pyspark.sql import types as T

import fingerprint
import run
from workloads import WORKLOADS


SPARK_TYPES = {"n": T.LongType(), "x": T.DoubleType()}
ORACLE_TYPES = {"n": "BIGINT", "x": "DOUBLE"}


class FakeFrame:
    def __init__(self, columns, rows, spark_types=SPARK_TYPES):
        self.columns = columns
        self.schema = T.StructType([T.StructField(c, spark_types[c]) for c in columns])
        self._rows = rows

    def collect(self):
        if isinstance(self._rows, Exception):
            raise self._rows
        return self._rows


def _run(monkeypatch, frames):
    workload = WORKLOADS["relational"]
    oracle = {**fingerprint.fingerprint(["n", "x"], [(1, 2.0), (2, None)]), "types": ORACLE_TYPES}
    expected = {key: oracle for key, _ in frames}
    monkeypatch.setattr(fingerprint, "load", lambda: {workload.sf: expected})
    r = run.Run(argparse.Namespace(workload="relational", seed=1, seconds=1, trace=0), workload, cores=4)
    r.attempted = len(frames)
    r.results = list(frames)
    r.spark = argparse.Namespace(sparkContext=argparse.Namespace(setJobGroup=lambda *a: None))
    r._check()
    return r.result({"wall_s": 1.5}, [{"name": "wall_s", "unit": "s"}])


def test_matching_results_pass(monkeypatch):
    line = _run(monkeypatch, [("a", FakeFrame(["x", "n"], [(None, 2), (2.0, 1)]))])
    assert line == {"correct": True, "attempted": 1, "failed": 0, "metrics": {"wall_s": {"value": 1.5, "unit": "s"}}}


def test_fingerprint_mismatch_counts_as_failed(monkeypatch):
    line = _run(
        monkeypatch,
        [
            ("a", FakeFrame(["n", "x"], [(1, 2.0), (2, None)])),
            ("b", FakeFrame(["n", "x"], [(1, 2), (2, None)])),  # int where the oracle has a float
            ("c", FakeFrame(["n", "x"], [(1, 2.0)])),  # a row missing
            ("d", FakeFrame(["n", "x"], RuntimeError("executor lost"))),
            # the oracle's DOUBLE column comes back as a Spark integer
            ("e", FakeFrame(["n", "x"], [(1, 2.0), (2, None)], {"n": T.LongType(), "x": T.LongType()})),
        ],
    )
    assert line["correct"] is False
    assert (line["attempted"], line["failed"]) == (5, 4)
