"""Spans and per-operation counters, taken from outside the library.

A ``Tracer`` records a span around each public-layer call the benchmark
makes. With tracing off every method is a no-op, so the untraced run
pays nothing for it.

With tracing on:

- every span carries name, start, end, parent span, operation id and
  the py4j trips made inside it;
- ``op()`` runs the operation under a Spark job group of its own;
  ``read_counters()``, called once after the timed phase, reads each
  group's jobs, stages, completed tasks, executor run and CPU time,
  input rows and bytes, shuffle and spill bytes from the status store
  (reading them after every operation would put the reads in the
  timings);
- py4j trips are counted by wrapping the gateway client's
  ``send_command``; trips the tracer itself makes are not counted, and
  neither are the garbage-collection messages py4j sends on its own;
- every public function of ``esdb_spark.fs`` is wrapped, so each call
  becomes an ``fs.<name>`` span nested under whatever called it.

Spans stay in memory until ``dump()`` writes them as JSON lines.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# py4j's "delete object" message: sent when a Python proxy is collected
_GC_COMMAND = "m\nd\n"

FS_FUNCTIONS = (
    "exists",
    "mkdirs",
    "touch",
    "touch_exclusive",
    "read_text",
    "delete",
    "rename",
    "replace_dir",
    "list_dir",
)

# The status store keeps 1,000 jobs and stages by default; a traced run
# reads every operation's stages at its end, so it keeps them all.
SESSION_CONF = {"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"}

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_ms",
    "executor_cpu_ms",
    "input_rows",
    "input_bytes",
    "shuffle_bytes",
    "spill_bytes",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.trips = 0
        self._spark = spark
        self._stack: list[int] = []
        self._op: str | None = None
        self._token = uuid.uuid4().hex[:12]  # job groups unique per tracer
        self._counting = False
        self._undo: list = []
        if enabled:
            self._install()

    # -- instrumentation -----------------------------------------------------

    def _install(self) -> None:
        client = self._spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(command, *args, **kwargs):
            if self._counting and not command.startswith(_GC_COMMAND):
                self.trips += 1
            return send(command, *args, **kwargs)

        client.send_command = counted
        self._undo.append(lambda: delattr(client, "send_command"))
        self._counting = True

        from esdb_spark import fs

        for name in FS_FUNCTIONS:
            orig = getattr(fs, name)

            def wrapped(*args, _orig=orig, _name=name, **kwargs):
                with self.span(f"fs.{_name}"):
                    return _orig(*args, **kwargs)

            setattr(fs, name, wrapped)
            self._undo.append(lambda n=name, o=orig: setattr(fs, n, o))

    def close(self) -> None:
        while self._undo:
            self._undo.pop()()

    @contextmanager
    def _uncounted(self):
        was, self._counting = self._counting, False
        try:
            yield
        finally:
            self._counting = was

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        """Record one call into a layer. Yields the span record (or
        None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": time.perf_counter(),
            "end": None,
            "trips": self.trips,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["trips"] = self.trips - rec["trips"]
            self._stack.pop()

    @contextmanager
    def op(self, name: str):
        """One operation: a span named ``op:<name>`` in a Spark job group
        of its own. Yields the span record; ``read_counters`` later fills
        its ``spark`` entry."""
        if not self.enabled:
            yield None
            return
        group = f"perfbench-{self._token}-{len(self.ops)}"
        sc = self._spark.sparkContext
        with self._uncounted():
            sc.setJobGroup(group, name)
        self._op = group
        try:
            with self.span(f"op:{name}") as rec:
                rec["group"] = group
                self.ops.append(rec)
                yield rec
        finally:
            self._op = None
            with self._uncounted():
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def read_counters(self) -> None:
        """Fill every operation's ``spark`` counters from the status store."""
        if not self.enabled:
            return
        with self._uncounted():
            sc = self._spark.sparkContext
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            for rec in self.ops:
                rec["spark"] = self._group_counters(rec["group"])

    def _group_counters(self, group: str) -> dict:
        sc = self._spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        seen = set()
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else []:
                if stage in seen:
                    continue
                seen.add(stage)
                try:
                    data = store.lastStageAttempt(stage)
                except Py4JJavaError:
                    # a stage this job reused, from a job old enough to be
                    # gone from the store: it did not run for this job
                    continue
                if data.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += data.numCompleteTasks()
                out["executor_ms"] += data.executorRunTime()
                out["executor_cpu_ms"] += data.executorCpuTime() / 1e6
                out["input_rows"] += data.inputRecords()
                out["input_bytes"] += data.inputBytes()
                out["shuffle_bytes"] += data.shuffleWriteBytes()
                out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
        return out

    # -- read-out ------------------------------------------------------------

    def ops_named(self, name: str, since: float = 0.0) -> list[dict]:
        """Operation records of one class that started at or after ``since``."""
        return [r for r in self.ops if r["name"] == f"op:{name}" and r["start"] >= since]

    def spans_by_group(self) -> dict[str, dict[str, dict]]:
        """{job group: {span name: span}} of the spans inside operations."""
        out: dict = {}
        for s in self.spans:
            if s["op"] is not None:
                out.setdefault(s["op"], {})[s["name"]] = s
        return out

    @staticmethod
    def dur_ms(span: dict) -> float:
        return (span["end"] - span["start"]) * 1e3

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total seconds, and self seconds (the
        span's duration minus the time its child spans cover; calls are
        single-threaded, so children never overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += d
            agg["self_s"] += d - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def counter(recs: list[dict], key: str) -> list[float]:
    """One Spark counter over operation records that have been read."""
    return [r["spark"][key] for r in recs if r and "spark" in r]
