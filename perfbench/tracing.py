"""Spans and Spark stage metrics, recorded from outside the program.

Each span runs the code inside it under its own Spark job group, so the
stages the layer's call launched can be read back afterwards through the
status tracker (job ids per group -> stage ids -> last stage attempt in
the application status store). Spans stay in memory; `layer_totals`
derives per-layer figures and `dump` writes the spans out at the end.

Self time of a span is its wall time minus the wall time of its direct
child spans; idle core time is self time x cores minus the task time of
the stages the span itself launched.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

_GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, cores: int, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        # time spent setting and restoring job groups inside spans: the
        # part of tracing that lands inside the traced operation
        self.overhead_s = 0.0

    @contextmanager
    def span(self, layer: str):
        """Record one span for `layer`; with tracing on, the Spark jobs it
        starts run in a job group of their own."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{sid}-{layer}",
            "counts": {},
        }
        t0 = time.perf_counter()
        prev_group = self.sc.getLocalProperty(_GROUP_PROP)
        self.sc.setJobGroup(rec["group"], layer, False)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if prev_group is None:
                self.sc.setLocalProperty(_GROUP_PROP, None)
            else:
                self.sc.setJobGroup(prev_group, "", False)
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def count(self, key: str, n: float = 1) -> None:
        """Add `n` to a count of the innermost open span, if any."""
        if self._stack:
            c = self._stack[-1]["counts"]
            c[key] = c.get(key, 0) + n

    def wrap(self, module, name: str, layer: str):
        """Replace `module.name` by a traced version; returns an undo."""
        orig = getattr(module, name)

        def traced(*args, **kwargs):
            with self.span(layer):
                return orig(*args, **kwargs)

        setattr(module, name, traced)
        return lambda: setattr(module, name, orig)

    # -- reading the stage metrics back -----------------------------------

    def _stage_metrics(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        m = dict.fromkeys(
            (
                "task_s", "cpu_s", "gc_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "input_records",
                "input_stages", "failed_tasks",
            ),
            0.0,
        )
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j: stage evicted or never attempted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            m["task_s"] += st.executorRunTime() / 1e3
            m["cpu_s"] += st.executorCpuTime() / 1e9
            m["gc_s"] += st.jvmGcTime() / 1e3
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["shuffle_read_bytes"] += st.shuffleReadBytes()
            m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            m["input_records"] += st.inputRecords()
            m["input_stages"] += 1 if st.inputRecords() > 0 else 0
            m["failed_tasks"] += st.numFailedTasks()
        m["spark_jobs"] = len(jobs)
        return m

    def _scan_files(self, groups: set[str]) -> dict[str, float]:
        """Per job group: the 'number of files read' the file scans of its
        SQL executions report (SQL status store, final adaptive plan)."""
        tracker = self.sc.statusTracker()
        job_group = {
            j: g for g in groups for j in tracker.getJobIdsForGroup(g)
        }
        store = self.spark._jsparkSession.sharedState().statusStore()
        exec_group: dict[int, str] = {}
        it = store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            keys = e.jobs().keySet().iterator()
            while keys.hasNext():
                g = job_group.get(int(keys.next()))
                if g is not None:
                    exec_group[e.executionId()] = g
        out = dict.fromkeys(groups, 0.0)
        for eid, g in exec_group.items():
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                metrics = nodes.next().metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    if m.name() != "number of files read":
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[g] += float(str(v.get()).replace(",", ""))
        return out

    def finish(self) -> None:
        """Attach stage metrics and self times to every recorded span."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]] = children.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        scans = self._scan_files({s["group"] for s in self.spans if s["layer"] == "query"})
        for s in self.spans:
            if s["group"] in scans:
                s["counts"]["files_read"] = scans[s["group"]]
            s["wall_s"] = s["end"] - s["start"]
            s["self_s"] = s["wall_s"] - children.get(s["id"], 0.0)
            s["stages"] = self._stage_metrics(s["group"])
            s["idle_core_s"] = s["self_s"] * self.cores - s["stages"]["task_s"]

    def layer_totals(self) -> dict[str, dict]:
        """Sum of every span of a layer: wall, self, idle core time, stage
        metrics and the counts the caller attached."""
        out: dict[str, dict] = {}
        for s in self.spans:
            t = out.setdefault(
                s["layer"],
                {"spans": 0, "wall_s": 0.0, "self_s": 0.0, "idle_core_s": 0.0,
                 "stages": {}, "counts": {}},
            )
            t["spans"] += 1
            t["wall_s"] += s["wall_s"]
            t["self_s"] += s["self_s"]
            t["idle_core_s"] += s["idle_core_s"]
            for k, v in s["stages"].items():
                t["stages"][k] = t["stages"].get(k, 0.0) + v
            for k, v in s["counts"].items():
                t["counts"][k] = t["counts"].get(k, 0.0) + v
        return out

    def dump(self, path: str) -> None:
        base = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {**{k: v for k, v in s.items() if k not in ("start", "end")},
             "start_s": s["start"] - base, "end_s": s["end"] - base}
            for s in self.spans
        ]
        with open(path, "w", encoding="utf-8") as f:
            json.dump(rows, f, indent=1)
