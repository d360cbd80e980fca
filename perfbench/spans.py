"""In-memory spans with one Spark job group per layer.

A span is (rep, name, parent, start, end). Entering a span names the
current Python thread's Spark job group after the layer, so every job
the layer submits can be found afterwards with
``statusTracker().getJobIdsForGroup``; its stages' executor CPU,
shuffle bytes and GC time are read from the status store. Nothing is
written until ``dump`` is called at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[tuple[str, float]] = []
        self.rep = 0

    def _group(self, layer: str, rep: int | None = None) -> str:
        return f"perfbench:{self.rep if rep is None else rep}:{layer}"

    def enter(self, layer: str) -> None:
        self._stack.append((layer, time.perf_counter()))
        self.sc.setJobGroup(self._group(layer), layer)

    def exit(self) -> None:
        layer, start = self._stack.pop()
        parent = self._stack[-1][0] if self._stack else None
        self.spans.append({"rep": self.rep, "name": layer, "parent": parent,
                           "start": start, "end": time.perf_counter()})
        if parent is not None:
            self.sc.setJobGroup(self._group(parent), parent)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, layer: str):
        self.enter(layer)
        try:
            yield
        finally:
            self.exit()

    def switch(self, layer: str) -> None:
        """Move from the open top-level layer to `layer` (sequential
        stages that hand over at function calls rather than nest)."""
        if len(self._stack) > 1 and self._stack[1][0] == layer:
            return
        while len(self._stack) > 1:
            self.exit()
        self.enter(layer)

    def close_all(self) -> None:
        while self._stack:
            self.exit()

    def layer_table(self, rep: int) -> dict[str, dict]:
        """Per layer of one rep: self_s, jobs, executor_cpu_s,
        shuffle_bytes, gc_s. Self time is the span's duration minus the
        time its child spans cover."""
        spans = [s for s in self.spans if s["rep"] == rep]
        table: dict[str, dict] = {}
        for s in spans:
            row = table.setdefault(s["name"], {"self_s": 0.0})
            row["self_s"] += s["end"] - s["start"]
        for s in spans:
            if s["parent"] is not None:
                table[s["parent"]]["self_s"] -= s["end"] - s["start"]
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        seen: set[int] = set()
        for layer, row in table.items():
            jobs = tracker.getJobIdsForGroup(self._group(layer, rep))
            row.update(jobs=len(jobs), executor_cpu_s=0.0, shuffle_bytes=0, gc_s=0.0)
            for job in jobs:
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # no attempt recorded: the stage never ran
                        continue
                    row["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    row["shuffle_bytes"] += st.shuffleWriteBytes()
                    row["gc_s"] += st.jvmGcTime() / 1e3
        return table

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, sort_keys=True)
