"""Benchmark of the spark-graft query engine: one workload, one run.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One client in one process submits the
workload's keys in a closed loop (each key after the previous key's result
is complete), in an order set by ``--seed``, against a local Spark session
of ``nproc`` cores. A run:

1. sets up: imports and collects the query registry, starts the session,
   runs the ``agg_hash_q1`` warm-up and wipes the sink-marker caches;
2. times one pass over the keys: for each key, the call that builds its
   DataFrame, then a ``noop`` write that executes the whole plan. The pass
   is the session's first over the keys, so the per-session memos (LSH
   edges, PQ codebooks) start empty;
3. collects every key's result and compares its fingerprint with the
   stored oracle fingerprint (``fingerprint.py``);
4. stops Spark, waits for the JVM to exit and deletes its private temp,
   local and event-log dirs.

``--seconds`` is accepted because the benchmark's command line carries it,
but a run always times exactly one cold pass: a second pass in the same
process would find the Python workers, the JIT and the feeder's chunk dirs
warm, and so would measure a different program.

The last stdout line is one JSON object: ``correct``, ``attempted`` (keys
timed), ``failed`` (those that raised or mismatched their oracle) and
``metrics``. With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, from
an event log, wrapped streaming functions and a memory sampler, and a
per-key table is written to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import threading
import time
import traceback

import fingerprint
import layers
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sparkstreamingstateful_spark"
WARMUP_KEY = "agg_hash_q1"


class Tracer:
    """Spans kept in memory: name, parent, start and end in epoch seconds
    (measured with ``perf_counter``), plus attributes. Single-threaded: the
    benchmark opens spans only from its own thread."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._offset = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter() + self._offset,
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.perf_counter() + self._offset

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    @staticmethod
    def length(spans: list[dict]) -> float:
        return sum(s["end"] - s["start"] for s in spans)

    def duration(self, name: str) -> float:
        return self.length(self.named(name))

    def children(self, parent: dict, name: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] == parent["id"] and s["name"] == name]

    def within(self, outer: dict, name: str) -> list[dict]:
        return [
            s
            for s in self.named(name)
            if outer["start"] <= s["start"] and s["end"] <= outer["end"]
        ]


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.wait(self.interval_s):
            self.peak_bytes = max(self.peak_bytes, _tree_rss(os.getpid()))

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)


def _tree_rss(root: int) -> int:
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(name)] = int(fields[1])
        rss[int(name)] = int(fields[21]) * page
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(child for child, ppid in parent.items() if ppid == pid)
    return total


def _wrap(tracer: Tracer, modules, name: str, span_name: str, on_result=None) -> None:
    """Replace ``name`` in every module that binds it with a version that
    records a span around each call."""
    fn = getattr(modules[0], name)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(span_name) as s:
            result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(s, result)
            return result

    for module in modules:
        setattr(module, name, traced)


def _install_wrappers(tracer: Tracer) -> None:
    from sparkstreamingstateful_spark.streaming import feeder, queries, runner

    seen: set[str] = set()

    def mark_build(span: dict, path: str) -> None:
        span["build"] = path not in seen
        seen.add(path)

    _wrap(tracer, [feeder, queries], "chunked_events_dir", "feeder.chunked_events_dir", mark_build)
    _wrap(tracer, [runner, queries], "run_stream", "runner.run_stream")


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited (its
    Python workers exit with it)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _metric_specs(section: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[section]


class Run:
    def __init__(self, args, workload, cores: int) -> None:
        self.args = args
        self.workload = workload
        self.cores = cores
        self.sf_dir = os.path.join(HERE, "data", workload.sf)
        self.tracer = Tracer()
        self.spark = None
        self.results: list[tuple[str, object]] = []  # (key, DataFrame)
        self.failed: dict[str, str] = {}  # key -> why
        self.attempted = 0
        self.exchanges: dict[str, int] = {}
        self.peak_rss_bytes = 0

    def execute(self) -> None:
        trace = self.args.trace
        span = self.tracer.span
        rss = RssSampler() if trace else None
        if rss:
            rss.start()
        try:
            with span("run"):
                with span("setup"):
                    queries = self._setup()
                with span("workload", workload=self.args.workload):
                    self._timed(queries)
                with span("check"):
                    self._check()
                if trace:
                    self._plan_exchanges()
        finally:
            if self.spark is not None:
                with span("teardown"):
                    _stop_spark(self.spark)
            if rss:
                rss.stop()
                self.peak_rss_bytes = rss.peak_bytes

    def _setup(self):
        span = self.tracer.span
        with span("registry.collect"):
            from sparkstreamingstateful_spark import registry

            queries, _ = registry.collect()
        if self.args.trace:
            _install_wrappers(self.tracer)
        with span("session.start"):
            from sparkstreamingstateful_spark.session import get_spark

            spark = self.spark = get_spark(app_name="perfbench")
            spark.sparkContext.setLogLevel("ERROR")
        with span("session.warmup"):
            spark.sparkContext.setJobGroup("setup", "setup")
            queries[WARMUP_KEY](spark, self.sf_dir).collect()
        with span("sink_cache.wipe"):
            from sparkstreamingstateful_spark.streaming.queries import sink_cache_paths

            for path in sink_cache_paths(self.sf_dir):
                shutil.rmtree(path, ignore_errors=True)
        return queries

    def _timed(self, queries) -> None:
        keys = list(self.workload.keys)
        random.Random(self.args.seed).shuffle(keys)
        span = self.tracer.span
        for key in keys:
            self.attempted += 1
            self.spark.sparkContext.setJobGroup(key, key)
            with span("key", key=key):
                try:
                    with span("call"):
                        df = queries[key](self.spark, self.sf_dir)
                    with span("action"):
                        df.write.format("noop").mode("overwrite").save()
                    self.results.append((key, df))
                except Exception:
                    self.failed[key] = traceback.format_exc()

    def _check(self) -> None:
        self.spark.sparkContext.setJobGroup("check", "check")
        expected = fingerprint.load().get(self.workload.sf, {})
        for key, df in self.results:
            try:
                why = fingerprint.mismatch(key, expected.get(key), df)
            except Exception:
                why = traceback.format_exc()
            if why is not None:
                self.failed[key] = why

    def _plan_exchanges(self) -> None:
        """Shuffle exchanges in each key's physical plan (streaming keys
        return a memory table, which plans none)."""
        from sparkstreamingstateful_spark.plans.inspect import shuffle_count

        with self.tracer.span("plan"):
            for key, df in self.results:
                self.exchanges[key] = shuffle_count(df)

    # -- metrics -----------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        return {"setup_s": self.tracer.duration("setup"), "wall_s": self.tracer.duration("workload")}

    def result(self, values: dict, specs: list[dict]) -> dict:
        """The result line: every metric of ``specs``, by name, with its unit."""
        return {
            "correct": not self.failed,
            "attempted": self.attempted,
            "failed": len(self.failed),
            "metrics": {
                s["name"]: {"value": float(values[s["name"]]), "unit": s["unit"]} for s in specs
            },
        }

    def per_layer(self, events: list[dict]) -> tuple[dict, dict]:
        t = self.tracer
        key_spans = t.named("key")
        spans = [(s["key"], s["start"], s["end"]) for s in key_spans]
        per_key = layers.key_layers(events, spans, self.cores)
        for s in key_spans:
            m = per_key[s["key"]]
            built = [f for f in t.within(s, "feeder.chunked_events_dir") if f.get("build")]
            m.update(
                {
                    "operators.key_s": t.length([s]),
                    "operators.call_s": t.length(t.children(s, "call")),
                    "operators.action_s": t.length(t.children(s, "action")),
                    "streaming.feeder.builds": len(built),
                    "streaming.feeder.build_s": t.length(built),
                    # time in run_stream outside every micro-batch
                    "streaming.runner.start_stop_s": t.length(t.within(s, "runner.run_stream"))
                    - m["streaming.runner.trigger_ms"] / 1e3,
                    "plan.exchanges": self.exchanges.get(s["key"], 0),
                }
            )
        total = layers.summarize(per_key, self.cores)
        total.update(
            {
                "session.start_s": t.duration("session.start"),
                "session.warmup_s": t.duration("session.warmup"),
                "session.peak_rss_mb": self.peak_rss_bytes / 2**20,
                "registry.collect_s": t.duration("registry.collect"),
                "operators.key_s.p50": layers.median(t.length([s]) for s in key_spans),
                "trace.wall_s": self.end_to_end()["wall_s"],
                "check.s": t.duration("check"),
            }
        )
        return total, per_key


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))

    # Everything Spark, its JVM and the program write goes under one private
    # dir in the checkout, deleted at the end.
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    private = tempfile.mkdtemp(prefix="run-", dir=base)
    tmp, local, eventlog = (os.path.join(private, d) for d in ("tmp", "local", "eventlog"))
    for d in (tmp, local, eventlog):
        os.makedirs(d)
    # -XX:-UsePerfData: otherwise the JVM writes its perf-data file to the
    # system temp dir, outside the checkout
    submit = f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
    if args.trace:
        submit += (
            " --conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false"
            f" --conf spark.eventLog.dir=file://{eventlog}"
        )
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(cores),
        PYSPARK_SUBMIT_ARGS=f"{submit} pyspark-shell",
        # Python workers find pickled functions through PYTHONPATH
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    os.chdir(private)  # spark-warehouse/ and friends land in the private dir

    # Only the result line goes to stdout; the program, Spark and the
    # Python workers (which inherit fd 1) write to stderr.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    run = Run(args, workload, cores)
    try:
        run.execute()
        if args.trace:
            total, per_key = run.per_layer(layers.read_eventlog(eventlog))
            specs = _metric_specs("per_layer")
            _write_trace(args, workload, cores, run, total, per_key)
            values = total
        else:
            specs = _metric_specs("end_to_end")
            values = run.end_to_end()
    finally:
        os.chdir(ROOT)
        shutil.rmtree(private, ignore_errors=True)
    times = [(s["key"], run.tracer.length([s])) for s in run.tracer.named("key")]
    print("perfbench: key times " + json.dumps(times), file=sys.stderr)
    for key, why in run.failed.items():
        print(f"perfbench: {key} failed:\n{why}", file=sys.stderr)
    result_out.write(json.dumps(run.result(values, specs)) + "\n")
    result_out.flush()
    return 0


def _write_trace(args, workload, cores, run, total, per_key) -> None:
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    for m in per_key.values():
        m["streaming.runner.batch_ms.p50"] = layers.median(m.pop("streaming.runner.batch_ms", []))
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": workload.sf,
        "cores": cores,
        "order": [s["key"] for s in run.tracer.named("key")],
        "failed": sorted(run.failed),
        "workload_metrics": dict(sorted(total.items())),
        "per_key": {k: dict(sorted(m.items())) for k, m in per_key.items()},
        "spans": run.tracer.spans,
    }
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    raise SystemExit(main())
