"""The benchmark's own instruments: a span recorder, the Spark stage pull
behind it, and a ``/proc`` resident-memory sampler.

Spans are recorded by the benchmark around its calls into the engine, never
inside the engine.  In a traced run every span gets its own Spark job group
(set here, not by the package).  After the measured operations,
``collect()`` reads the stages of each group from the Spark UI's status
API: jobs, tasks, executor run and CPU time, GC time and shuffle bytes, so
the status calls add nothing to a span's time.  Spans stay in memory until
the run writes them out.  An untraced run creates the same spans as
no-ops, so it sets no job group and makes no status calls.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

_SPARK_KEYS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
               "shuffle_write_bytes", "job_s")


class SparkStatus:
    """Stage metrics per job group, from the Spark UI's REST status API
    (the same numbers the Spark UI shows)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        port = re.search(r":(\d+)$", sc.uiWebUrl or "")
        if port is None:
            raise RuntimeError("the traced run needs the Spark UI "
                               "(spark.ui.enabled)")
        self._base = (f"http://127.0.0.1:{port.group(1)}/api/v1/"
                      f"applications/{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=10) as r:
            return json.load(r)

    def groups(self, groups: list[str], wait_s: float = 10.0) -> dict:
        """group -> totals over its jobs' completed stages.  The status
        store is fed by an asynchronous listener, so poll until every
        job and stage of the groups has reached a final state."""
        ids = {g: list(self._sc.statusTracker().getJobIdsForGroup(g))
               for g in groups}
        wanted = {j for js in ids.values() for j in js}
        deadline = time.monotonic() + wait_s
        while True:
            jobs = {j["jobId"]: j for j in self._get("/jobs")
                    if j["jobId"] in wanted}
            stage_ids = {s for j in jobs.values() for s in j["stageIds"]}
            stages = [s for s in self._get("/stages")
                      if s["stageId"] in stage_ids]
            settled = (len(jobs) == len(wanted)
                       and all(j["status"] != "RUNNING"
                               for j in jobs.values())
                       and all(s["status"] not in ("ACTIVE", "PENDING")
                               for s in stages))
            if settled or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        by_stage: dict[int, list] = {}
        for s in stages:
            by_stage.setdefault(s["stageId"], []).append(s)
        out = {}
        for g, js in ids.items():
            tot = dict.fromkeys(_SPARK_KEYS, 0)
            tot["jobs"] = len(js)
            for jid in js:
                job = jobs.get(jid, {})
                if job.get("submissionTime") and job.get("completionTime"):
                    tot["job_s"] += (_ts(job["completionTime"])
                                     - _ts(job["submissionTime"]))
                for sid in job.get("stageIds", []):
                    for st in by_stage.get(sid, []):
                        if st["status"] != "COMPLETE":
                            continue          # skipped: reused shuffle
                        tot["tasks"] += st["numCompleteTasks"]
                        tot["executor_run_s"] += st["executorRunTime"] / 1e3
                        tot["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                        tot["gc_s"] += st["jvmGcTime"] / 1e3
                        tot["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            out[g] = tot
        return out


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class Tracer:
    """Span recorder.  ``span()`` yields a dict the caller may add
    counts to; disabled, it yields a throwaway dict and records
    nothing."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._spark = None
        self._status: SparkStatus | None = None
        self._pending: list[dict] = []

    def attach(self, spark) -> None:
        """Tag the spans' Spark jobs from now on (a new session after
        a restart must be attached again)."""
        if self.enabled:
            self._spark = spark
            self._status = SparkStatus(spark)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        idx = len(self.spans)
        rec = {"name": name, "run_id": self.run_id, "id": idx,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None,
               "counts": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(idx)
        sc = self._spark.sparkContext if self._spark is not None else None
        group = f"perfbench-{self.run_id}-{idx}"
        outer = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if sc is not None:
                if outer:
                    sc.setJobGroup(outer, outer)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                rec["group"] = group
                self._pending.append(rec)

    def collect(self) -> None:
        """Attach the Spark stage totals to every ended span."""
        if self._pending:
            got = self._status.groups([r["group"] for r in self._pending])
            for r in self._pending:
                r["spark"] = got[r["group"]]
            self._pending = []

    def by_name(self, name: str) -> list[dict]:
        self.collect()
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, span: dict) -> list[dict]:
        ids = {span["id"]}
        for s in self.spans[span["id"] + 1:]:    # children follow parents
            if s["parent"] in ids:
                ids.add(s["id"])
        return [self.spans[i] for i in sorted(ids)]

    def write(self, path: str) -> None:
        """Spans with self time: the span's duration minus the part of
        it its children cover."""
        self.collect()
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            covered = _union([(c["start"], c["end"])
                              for c in kids.get(s["id"], [])])
            s["self_s"] = (s["end"] - s["start"]) - covered
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f,
                      indent=1, default=str)


def _union(intervals: list[tuple]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class RssSampler:
    """Peak resident memory of this process and every descendant (the
    JVM and the Python workers), read from ``/proc``."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        total = sum(self._rss(p) for p in self._tree(os.getpid()))
        self.peak_bytes = max(self.peak_bytes, total)

    @staticmethod
    def _tree(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue                      # exited while listing
            # comm may hold spaces and parens: fields resume after the last ')'
            ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                return int(f.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0
