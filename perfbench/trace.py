"""Ops, spans and Spark attribution, all from outside the package.

Every timed op runs under its own Spark job group, and the status
tracker counts the jobs, tasks and failed tasks of that group. In a
traced run, the public entry points of the engine's layers are wrapped
(module attributes and class methods are patched for the run and
restored afterwards) so each call records a span; each span sets its own
job group, so the Spark event log attributes jobs, tasks and stage
metrics to the innermost layer call that launched them.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

# (module path, attribute path, span name). Patched only in a traced run.
# ``analysis.tokenize_flat`` runs inside Python workers, which import the
# package afresh, so the analysis layer is timed by calling the kernel
# directly (see workloads.tokenize_rate) instead of by a wrapper here.
ENTRY_POINTS = [
    ("lucene_solr_spark.session", "get_spark", "session.get_spark"),
    ("lucene_solr_spark.index.docids", "assign_doc_ids",
     "index.docids.assign_doc_ids"),
    ("lucene_solr_spark.streaming.incremental", "assign_doc_ids",
     "index.docids.assign_doc_ids"),
    ("lucene_solr_spark.index.segments", "build_segment_store",
     "index.segments.build_segment_store"),
    ("lucene_solr_spark.index.segments", "SegmentIndex.term_stats",
     "index.segments.term_stats"),
    ("lucene_solr_spark.index.segments", "SegmentIndex.buckets_of",
     "index.segments.buckets_of"),
    ("lucene_solr_spark.index.segments", "SegmentIndex.split_meta",
     "index.segments.split_meta"),
    ("lucene_solr_spark.index.segments", "SegmentIndex.attach_blooms",
     "index.segments.attach_blooms"),
    ("lucene_solr_spark.index.bloom", "build_blooms",
     "index.bloom.build_blooms"),
    ("lucene_solr_spark.index.bloom", "BloomIndex.splits_for",
     "index.bloom.splits_for"),
    ("lucene_solr_spark.search.qparser", "parse_lucene",
     "search.qparser.parse_lucene"),
    ("lucene_solr_spark.search.qparser", "parse_edismax",
     "search.qparser.parse_edismax"),
    ("lucene_solr_spark.search.executor", "Searcher.search",
     "search.executor.search"),
    ("lucene_solr_spark.search.wand", "wand_or_search",
     "search.wand.wand_or_search"),
    ("lucene_solr_spark.search.wand", "wand_and_search",
     "search.wand.wand_and_search"),
    ("lucene_solr_spark.search.wand", "wand_phrase_search",
     "search.wand.wand_phrase_search"),
    ("lucene_solr_spark.streaming.incremental",
     "IncrementalIndexWriter.process_batch", "streaming.process_batch"),
    ("lucene_solr_spark.streaming.incremental",
     "IncrementalIndexWriter.reader", "streaming.reader"),
    ("lucene_solr_spark.streaming.incremental",
     "IncrementalIndexWriter.compact", "streaming.compact"),
    ("lucene_solr_spark.streaming.incremental",
     "StreamingIndexReader.term_stats", "streaming.term_stats"),
]


class Recorder:
    """Owns the op and span records of one benchmark run."""

    def __init__(self, traced: bool, clock=time.perf_counter):
        self.traced = traced
        self.clock = clock
        self.sc = None  # set once the session exists
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []
        self._op: dict | None = None
        self._patches: list[tuple[object, str, object]] = []
        # In a traced run, spans are recorded on every other op; the
        # rest run unwrapped, which measures the tracing overhead.
        self.spans_on = False

    # -- Spark job groups ---------------------------------------------------

    def _set_group(self, group: str | None, desc: str = "") -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, desc)

    def _current_group(self) -> str | None:
        if self._stack:
            return self._stack[-1]["group"]
        return self._op["group"] if self._op else None

    def _spark_counts(self, groups: list[str]) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numCompletedTasks
                        failed += st.numFailedTasks
        return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}

    # -- ops ------------------------------------------------------------------

    @contextmanager
    def op(self, kind: str, timed: bool = True):
        """One attempted operation. Yields the op record; ``seconds``,
        ``error`` and the Spark counts are filled in on exit. An error is
        recorded, not raised: it counts as a failed op."""
        rec = {
            "id": len(self.ops),
            "kind": kind,
            "timed": timed,
            "group": f"perfbench-op{len(self.ops)}",
            "groups": [],
            "traced": self.traced and self.spans_on,
            "error": None,
        }
        rec["groups"].append(rec["group"])
        self.ops.append(rec)
        self._op = rec
        self._set_group(rec["group"], kind)
        t0 = self.clock()
        try:
            yield rec
        except Exception as e:  # a failed op is data, not a crash
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        finally:
            rec["seconds"] = self.clock() - t0
            self._set_group(None)
            self._op = None
            if self.sc is not None:
                rec.update(self._spark_counts(rec["groups"]))

    # -- spans ----------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not (self.traced and self.spans_on):
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1]["id"] if self._stack else None
        op_id = self._op["id"] if self._op else None
        group = f"perfbench-op{op_id}-s{sid}"
        rec = {"id": sid, "name": name, "parent": parent, "op": op_id,
               "group": group}
        self.spans.append(rec)
        if self._op is not None:
            self._op["groups"].append(group)
        self._stack.append(rec)
        self._set_group(group, name)
        rec["start"] = self.clock()
        try:
            yield
        finally:
            rec["end"] = self.clock()
            self._stack.pop()
            self._set_group(self._current_group())

    def _wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def patch_entry_points(self) -> None:
        import importlib

        for mod_name, attr_path, span_name in ENTRY_POINTS:
            owner = importlib.import_module(mod_name)
            *outer, attr = attr_path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            original = owner.__dict__[attr]
            self._patches.append((owner, attr, original))
            setattr(owner, attr, self._wrapper(original, span_name))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(
                    {k: s[k] for k in ("id", "name", "start", "end",
                                       "parent", "op")}
                ) + "\n")


# -- Spark event log -----------------------------------------------------------

EVENT_METRICS = (
    "executor_run_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes",
    "records_read",
)


def event_log_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics from the Spark event log, summed per job group."""
    stage_group: dict[int, str] = {}
    per_group: dict[str, dict[str, float]] = {}
    paths = sorted(
        os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files
        if f.startswith("events_") or f.startswith("local-")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"
                    )
                    if group:
                        for sid in ev.get("Stage IDs", ()):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    acc = per_group.setdefault(
                        group, dict.fromkeys(EVENT_METRICS, 0.0)
                    )
                    acc["executor_run_ms"] += tm.get("Executor Run Time", 0)
                    acc["gc_ms"] += tm.get("JVM GC Time", 0)
                    acc["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += tm.get(
                        "Memory Bytes Spilled", 0
                    ) + tm.get("Disk Bytes Spilled", 0)
                    acc["records_read"] += (
                        tm.get("Input Metrics") or {}
                    ).get("Records Read", 0) + (
                        tm.get("Shuffle Read Metrics") or {}
                    ).get("Total Records Read", 0)
    return per_group


# -- process memory ------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool | None:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return None


class PeakRss:
    """``peak_rss_mb`` over the program's part of a run: its set-up and
    measured ops, without the benchmark's own inputs and oracle.

    ``start()`` resets the VmHWM of this process and of every descendant
    (``clear_refs`` 5) and notes this process's resident size. ``stop()``
    reads the split in MiB: ``jvm`` and ``workers`` (the Python daemon and
    workers) are their whole peaks, since all they hold serves the
    program; ``driver`` is this process's peak above its size at
    ``start()``, because that size holds the corpus frame and the oracle.
    ``total`` is their sum.
    """

    def __init__(self):
        self.driver_base_mb = 0.0
        self.result: dict[str, float] | None = None

    @staticmethod
    def rss_mb(pid="self") -> float:
        return _status_kb(pid, "VmRSS") / 1024.0

    def start(self) -> None:
        for pid in ["self", *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:  # a process that has just ended
                pass
        self.driver_base_mb = self.rss_mb()

    def stop(self) -> None:
        peak = _status_kb("self", "VmHWM") / 1024.0
        out = {"driver": max(0.0, peak - self.driver_base_mb), "jvm": 0.0,
               "workers": 0.0, "driver_base": self.driver_base_mb}
        for pid in descendants(os.getpid()):
            jvm = _is_jvm(pid)
            if jvm is not None:
                out["jvm" if jvm else "workers"] += _status_kb(pid, "VmHWM") / 1024.0
        out["total"] = out["driver"] + out["jvm"] + out["workers"]
        self.result = out
