"""In-memory span recorder, wrappers around the engine's public calls,
and readers of Spark's own status stores.

Everything here is switched by ``REC.on``: the wrappers stay installed
for the whole traced run, and cost one attribute test when off, so a
traced run can interleave untraced passes and measure its own overhead.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "covid_19_fl_spark"


class Recorder:
    """Spans (name, start, end, parent, run id) plus named counters."""

    def __init__(self) -> None:
        self.on = False
        self.run_id = ""
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counters: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, key: str, value: float) -> None:
        if self.on:
            self.counters[key] += value

    def peak(self, key: str, value: float) -> None:
        if self.on and value > self.counters.get(key, 0):
            self.counters[key] = value

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s}) + "\n")


REC = Recorder()


def self_times(spans: list[dict]) -> dict[str, list[float]]:
    """name → [self seconds, total seconds, calls]; self time is a
    span's duration minus what its direct children cover."""
    child_time = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    out: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0, 0])
    for i, s in enumerate(spans):
        dur = s["end"] - s["start"]
        row = out[s["name"]]
        row[0] += dur - child_time[i]
        row[1] += dur
        row[2] += 1
    return dict(out)


# -- wrappers ---------------------------------------------------------------


def _wrap(fn, name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not REC.on:
            return fn(*args, **kwargs)
        with REC.span(name):
            return fn(*args, **kwargs)

    return traced


def instrument(targets: list[tuple[object, str]]) -> int:
    """Replace every module-level binding of each target function in the
    engine package with a span-recording wrapper, so aliases made with
    ``from x import f`` are traced too. Returns the bindings replaced."""
    wrappers = {id(fn): (fn, _wrap(fn, name)) for fn, name in targets}
    replaced = 0
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            hit = wrappers.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
                replaced += 1
    return replaced


def public_functions(mod) -> list[tuple[object, str]]:
    short = mod.__name__.split(".", 1)[1]
    return [
        (fn, f"{short}.{name}")
        for name, fn in vars(mod).items()
        if inspect.isfunction(fn) and fn.__module__ == mod.__name__ and not name.startswith("_")
    ]


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under a table directory."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            if n.startswith("part-"):
                files += 1
    return size, files


def instrument_sinks(table_cls) -> None:
    """Span every ParquetTable verb; count bytes and files at the two
    physical write points (``_swap`` rewrites, ``append`` adds)."""
    for verb in ("overwrite", "replace_where", "append_new", "merge_update", "compact", "delete_where"):
        setattr(table_cls, verb, _wrap(getattr(table_cls, verb), f"sinks.{verb}"))

    orig_swap, orig_append = table_cls._swap, table_cls.append

    @functools.wraps(orig_swap)
    def _swap(self, df):
        orig_swap(self, df)
        if REC.on:
            size, files = dir_stats(self.path)
            REC.add("sinks.bytes_written", size)
            REC.add("sinks.files_written", files)

    @functools.wraps(orig_append)
    def append(self, df):
        before = dir_stats(self.path) if REC.on else (0, 0)
        orig_append(self, df)
        if REC.on:
            after = dir_stats(self.path)
            REC.add("sinks.bytes_written", after[0] - before[0])
            REC.add("sinks.files_written", after[1] - before[1])

    table_cls._swap = _swap
    table_cls.append = append


def install(spark) -> None:
    """Wrap the engine's public layer boundaries (call once, after the
    registry is imported)."""
    import importlib

    mods = {
        m: importlib.import_module(f"{PKG}.{m}")
        for m in (
            "tables",
            "confs",
            "suite",
            "pipelines",
            "sources.html",
            "operators.graph",
            "llmops.dedup",
            "llmops.similarity",
            "sinks.batch",
        )
    }
    targets = [
        (mods["tables"].load, "tables.load"),
        (mods["confs"].ensure_session_defaults, "confs.ensure_session_defaults"),
        (mods["suite"].drain_persisted_state, "suite.drain_persisted_state"),
        (mods["sources.html"].read_html_table, "sources.read_html_table"),
    ]
    for name in ("run_csv_ingest", "run_stats_pipeline", "run_county_stats_pipeline"):
        targets.append((getattr(mods["pipelines"], name), f"pipelines.{name}"))
    for m in ("operators.graph", "llmops.dedup", "llmops.similarity"):
        targets += public_functions(mods[m])
    instrument(targets)
    instrument_sinks(mods["sinks.batch"].ParquetTable)


# -- Spark status readers ---------------------------------------------------

_NODE_RE = re.compile(r'label="(?:<br>)?<b>([^<]+)</b>(.*?)"')
_ROWS_RE = re.compile(r"number of output rows: ([\d,]+)")


class SparkProbe:
    """Per-phase Spark counters: each phase runs under its own job
    group; ``end`` reads the AppStatusStore (jobs, stages, tasks,
    executor time, shuffle, spill) and the SQL status store (join
    output rows) right away, inside the default 1000-entry retention."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.last_exec = -1

    def begin(self, group: str) -> None:
        lst = self.sql.executionsList()
        size = lst.size()
        self.last_exec = lst.apply(size - 1).executionId() if size else -1
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict:
        jobs = list(self.tracker.getJobIdsForGroup(group))
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "run_s", "shuffle_write_bytes", "spill_bytes"), 0
        )
        out["jobs"] = len(jobs)
        stage_ids = set()
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted or never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["run_s"] += st.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["join_output_rows"] = self._join_rows()
        return out

    def _join_rows(self) -> int:
        """Output rows of every join node in the SQL executions started
        since ``begin`` (execution ids only grow; the list is sorted)."""
        lst = self.sql.executionsList()
        rows = 0
        i = lst.size() - 1
        while i >= 0:
            eid = lst.apply(i).executionId()
            if eid <= self.last_exec:
                break
            dot = self.sql.planGraph(eid).makeDotFile(self.sql.executionMetrics(eid))
            for name, body in _NODE_RE.findall(dot):
                if "Join" in name or name == "CartesianProduct":
                    m = _ROWS_RE.search(body)
                    if m:
                        rows += int(m.group(1).replace(",", ""))
            i -= 1
        return rows

    def cache_sample(self) -> None:
        """Persisted RDD count and their storage bytes, kept as peaks."""
        jsc = self.sc._jsc
        REC.peak("cache.persisted_rdds_peak", jsc.getPersistentRDDs().size())
        used = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
        REC.peak("cache.storage_bytes_peak", used)


def phase_counters(stats: dict, phase: str) -> None:
    """Fold one phase's Spark stats into the recorder's counters."""
    if phase in ("build", "action"):
        REC.add(f"suite.{phase}_jobs", stats["jobs"])
    for k in ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes", "join_output_rows"):
        REC.add(f"spark.{k}", stats[k])
    REC.add("spark.run_s", stats["run_s"])


def make_stream_listener():
    """A StreamingQueryListener that sums micro-batch progress into the
    recorder's ``streaming.*`` counters and notes terminated queries."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.terminated: set[str] = set()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            REC.add("streaming.batches", 1)
            REC.add("streaming.input_rows", p.numInputRows)
            d = p.durationMs or {}
            REC.add("streaming.add_batch_s", d.get("addBatch", 0) / 1000.0)
            REC.add("streaming.wal_commit_s", d.get("walCommit", 0) / 1000.0)
            for op in p.stateOperators or []:
                REC.add("streaming.state_rows", op.numRowsTotal)
                REC.add("streaming.state_commit_s", op.commitTimeMs / 1000.0)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated.add(str(event.id))

    return Listener()
