"""Shared pieces of the benchmark: session start and shutdown, the span
tracer, Spark event-log totals, peak memory and small statistics helpers.

The tracer measures the package from outside.  ``Tracer.wrap`` replaces a
public function or method with a wrapper that records a span around each
call and, where asked, counts the Spark jobs the call launched (job groups
plus ``statusTracker``).  Wrappers are installed only for a traced run and
the package source is never edited.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import resource
import statistics
import threading
import time


# -- statistics -------------------------------------------------------------


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]); 0.0 for an empty list."""
    values = sorted(values)
    if not values:
        return 0.0
    k = max(0, min(len(values) - 1, int(round(q * (len(values) - 1)))))
    return values[k]


def tail_percentile(values, min_beyond: int = 10) -> tuple[float, float, int]:
    """The highest of p90/p99/p99.9 that has at least ``min_beyond`` samples
    above it: (percentile, value, samples beyond).  Falls back to the
    median when the sample is too small for p90."""
    values = sorted(values)
    n = len(values)
    best = (50.0, quantile(values, 0.5), n // 2)
    for p in (90.0, 99.0, 99.9):
        beyond = int(n * (1 - p / 100.0))
        if beyond >= min_beyond:
            best = (p, quantile(values, p / 100.0), beyond)
    return best


# -- session ----------------------------------------------------------------


def start_session(work: str, cores: int, trace: bool):
    """SparkSession on local[cores] with every scratch path inside ``work``;
    the event log is on only for a traced run."""
    from data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
    }
    if trace:
        evlog = os.path.join(work, "eventlog")
        os.makedirs(evlog, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class PeakRss:
    """Peak resident memory of this Python process plus the JVM, in MB.

    The kernel keeps each process's high-water mark (``VmHWM``), so one
    read at the end is the peak; the JVM is read before it is stopped."""

    def __init__(self, spark):
        self.pid = jvm_pid(spark)

    def read_mb(self) -> float:
        jvm_kb = 0
        with contextlib.suppress(OSError):
            with open(f"/proc/{self.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0


# -- tracing ----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id, jobs).

    ``enabled`` is read at call time, so wrappers stay installed while a
    comparison pass runs with recording off."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
            "jobs": 0,
        }
        group = prev_group = None
        if jobs:
            group = f"perfbench-{self.run_id}-{rec['id']}"
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(group, name)
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if jobs:
                rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
                if prev_group is not None:
                    self.sc.setJobGroup(prev_group, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, jobs: bool = True) -> None:
        """Record a span around every call of ``owner.attr``."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name, jobs=jobs):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)

    # -- summaries ------------------------------------------------------------

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.of(name)]

    def inclusive_jobs(self, span: dict) -> int:
        """Jobs of a span plus those of every span nested under it."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        total, todo = 0, [span]
        while todo:
            s = todo.pop()
            total += s["jobs"]
            todo.extend(children.get(s["id"], []))
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def install_layer_wrappers(tracer: Tracer) -> None:
    """Spans around the public entry points of each pipeline layer."""
    from data_pipeline_spark import consumer, producer, refresh, registry
    from data_pipeline_spark.sources import file_topic

    reg = registry.SchemaRegistry
    tracer.wrap(reg, "register_schema", "registry.register", jobs=False)
    for attr in ("get_schema_by_id", "latest_schema_for_topic", "latest_schema_for_source"):
        tracer.wrap(reg, attr, "registry.lookup", jobs=False)
    tracer.wrap(refresh, "plan_ranges", "refresh.plan_ranges")
    tracer.wrap(refresh.FullRefreshRunner, "run", "refresh.run")
    tracer.wrap(producer.Producer, "prepare", "producer.prepare")
    tracer.wrap(producer.Producer, "publish", "producer.publish")
    store = file_topic.TopicStore
    tracer.wrap(store, "publish_counted", "topic_store.publish")
    tracer.wrap(store, "high_watermarks", "topic_store.high_watermarks")
    tracer.wrap(store, "read", "topic_store.read")
    tracer.wrap(store, "read_stream", "topic_store.read_stream")
    tracer.wrap(file_topic.OffsetLedger, "commit_messages", "offset_ledger.commit")
    tracer.wrap(file_topic.OffsetLedger, "committed", "offset_ledger.committed")
    tracer.wrap(consumer.Consumer, "messages", "consumer.messages")
    tracer.wrap(consumer.Consumer, "messages_stream", "consumer.messages_stream")


def layer_metrics(tracer: Tracer) -> dict[str, float]:
    """Per-layer figures from the pipeline spans (0 for a layer the
    workload never called)."""
    d = tracer.durations
    publishes = tracer.of("topic_store.publish")
    producer_pubs = tracer.of("producer.publish")
    runs = tracer.of("refresh.run") + tracer.of("refresh.plan_ranges")
    return {
        "registry.register_s": sum(d("registry.register")),
        "registry.lookup_calls": float(len(d("registry.lookup"))),
        "registry.lookup_s": sum(d("registry.lookup")),
        "refresh.plan_ranges_s": median(d("refresh.plan_ranges")),
        "refresh.run_s": median(d("refresh.run")),
        "refresh.jobs": float(sum(tracer.inclusive_jobs(s) for s in runs))
        / max(1, len(tracer.of("refresh.run"))),
        "producer.prepare_s": median(d("producer.prepare")),
        "producer.publish_s_p50": quantile(
            d("producer.publish") or d("topic_store.publish"), 0.5
        ),
        "producer.publish_s_p90": quantile(
            d("producer.publish") or d("topic_store.publish"), 0.9
        ),
        "producer.jobs_per_publish": median(
            tracer.inclusive_jobs(s) for s in (producer_pubs or publishes)
        ),
        "topic_store.publish_s_p50": quantile(d("topic_store.publish"), 0.5),
        "topic_store.publish_s_p90": quantile(d("topic_store.publish"), 0.9),
        "topic_store.jobs_per_publish": median(
            tracer.inclusive_jobs(s) for s in publishes
        ),
        "topic_store.high_watermarks_s": median(d("topic_store.high_watermarks")),
        "topic_store.read_s": median(
            d("topic_store.read") + d("topic_store.read_stream")
        ),
        "offset_ledger.commit_s": median(d("offset_ledger.commit")),
        "offset_ledger.committed_s": median(d("offset_ledger.committed")),
    }


# -- Spark event log ----------------------------------------------------------


def event_log_totals(work: str, t0: float, t1: float, cores: int) -> dict[str, float]:
    """Job/task totals from the private event log, for tasks that finished
    inside the measured window [t0, t1] (epoch seconds).  Read after the
    session has stopped, when the log is complete."""
    jobs = tasks = 0
    task_ms = gc_ms = shuffle = spill = 0
    lo, hi = t0 * 1000.0, t1 * 1000.0
    for path in glob.glob(os.path.join(work, "eventlog", "*")):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    if lo <= ev.get("Submission Time", 0) <= hi:
                        jobs += 1
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    info = ev.get("Task Info", {})
                    if not lo <= info.get("Finish Time", 0) <= hi:
                        continue
                    m = ev.get("Task Metrics") or {}
                    tasks += 1
                    task_ms += m.get("Executor Run Time", 0)
                    gc_ms += m.get("JVM GC Time", 0)
                    shuffle += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    wall = max(1e-9, t1 - t0)
    task_s = task_ms / 1000.0
    return {
        "spark.jobs": float(jobs),
        "spark.tasks": float(tasks),
        "spark.task_s": task_s,
        "spark.gc_s": gc_ms / 1000.0,
        "spark.shuffle_bytes": float(shuffle),
        "spark.spill_bytes": float(spill),
        "spark.idle_core_share": max(0.0, 1.0 - task_s / (wall * cores)),
    }
