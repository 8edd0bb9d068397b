"""Spans recorded from outside the package, around the calls into each
layer's public functions, plus the Spark-side counters attributed to them.

A span is ``{id, name, layer, parent, run_id, start, end}``. Spans live in
memory and are written out once, when the run ends. In a traced run every
span sets a Spark job group, so the stage metrics the UI's REST API
reports (tasks, failures, shuffle, spill, task times) attribute to the
span's layer. Streaming micro-batches run on the queries' own threads
under the query's run id as job group; the benchmark's
``StreamingQueryListener`` maps those run ids back to pipeline stages.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, run_id: str, spark=None):
        """``spark`` set = traced run: spans also tag Spark job groups."""
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def group_id(self, span_id: int) -> str:
        return f"pb-{self.run_id}-{span_id}"

    def _set_group(self, span_id: int | None, name: str = "") -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(self.group_id(span_id), name)

    def add(self, name: str, layer: str, start: float, end: float | None,
            parent: int | None) -> dict:
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": parent, "run_id": self.run_id, "start": start, "end": end}
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        rec = self.add(name, layer, time.time(), None, parent)
        self._stack.append(rec["id"])
        self._set_group(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent, self.spans[parent]["name"] if parent is not None else "")

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = sum(c["end"] - c["start"] for c in self.children(span["id"]))
        return (span["end"] - span["start"]) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StreamListener(StreamingQueryListener):
    """Collects every streaming query's progress: per-batch duration, input
    rows, state rows and processing rate, keyed by the query's run id."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: list[str] = []          # run ids, in start order
        self.terminated: set[str] = set()
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        with self.lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        state_rows = sum(op.numRowsTotal for op in (p.stateOperators or []))
        rec = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "start": _iso_epoch(p.timestamp),
            "duration_s": p.batchDuration / 1000.0,
            "rows": p.numInputRows,
            "rows_per_s": p.processedRowsPerSecond,
            "state_rows": state_rows,
        }
        with self.lock:
            self.progress.append(rec)

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated.add(str(event.runId))

    def mark(self) -> tuple[int, int]:
        with self.lock:
            return len(self.started), len(self.progress)

    def since(self, mark: tuple[int, int], timeout: float = 30.0):
        """(run ids started, progress records) since ``mark``, after
        waiting until every query started since then has terminated (the
        listener bus delivers events asynchronously)."""
        deadline = time.time() + timeout
        while True:
            with self.lock:
                runs = self.started[mark[0]:]
                done = all(r in self.terminated for r in runs)
                prog = list(self.progress[mark[1]:])
            if done or time.time() > deadline:
                return runs, prog
            time.sleep(0.05)


class StageHarvest:
    """Reads Spark's own stage counters from the UI REST API (traced runs
    only: the UI is enabled through the session's ``extra_conf``)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def _settle(self, timeout: float = 20.0) -> list:
        """Jobs once the status store has caught up with the scheduler."""
        deadline = time.time() + timeout
        prev = None
        while True:
            jobs = self._get("/jobs")
            running = [j for j in jobs if j["status"] == "RUNNING"]
            sig = (len(jobs), len(running))
            if (not running and sig == prev) or time.time() > deadline:
                return jobs
            prev = sig
            time.sleep(0.3)

    def by_group(self) -> dict:
        """job group -> {tasks, failed_tasks, shuffle_write_mb, spill_mb,
        skew}; ``skew`` is max/median task run time of the group's busiest
        stage."""
        jobs = self._settle()
        stages = {(s["stageId"], s["attemptId"]): s for s in self._get("/stages")}
        by_stage_id: dict[int, list] = {}
        for key, s in stages.items():
            by_stage_id.setdefault(key[0], []).append(s)
        out: dict[str, dict] = {}
        for j in jobs:
            g = j.get("jobGroup")
            if g is None:
                continue
            acc = out.setdefault(g, {"tasks": 0, "failed_tasks": 0,
                                     "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                                     "_stages": []})
            for sid in j["stageIds"]:
                for s in by_stage_id.get(sid, ()):
                    if s["status"] == "SKIPPED" or (sid, s["attemptId"]) in acc["_stages"]:
                        continue
                    acc["_stages"].append((sid, s["attemptId"]))
                    acc["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
                    acc["failed_tasks"] += s["numFailedTasks"]
                    acc["shuffle_write_mb"] += s["shuffleWriteBytes"] / 2**20
                    acc["spill_mb"] += s["diskBytesSpilled"] / 2**20
        for acc in out.values():
            acc["skew"] = self._skew(acc.pop("_stages"), stages)
        return out

    def _skew(self, keys, stages) -> float:
        multi = [k for k in keys if stages[k]["numCompleteTasks"] > 1]
        if not multi:
            return 1.0
        sid, att = max(multi, key=lambda k: stages[k]["executorRunTime"])
        q = self._get(f"/stages/{sid}/{att}/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else 1.0
