"""In-memory span tracing for traced benchmark runs.

Spans are recorded from the benchmark's own files: ``Tracer.install``
wraps the engine's public functions in their modules (and in the modules
that imported them by name), so calls made inside the engine, such as the
pipeline's own sink writes, open child spans too.  Each span runs under
its own Spark job group; after an op the tracer asks
``sparkContext.statusTracker()`` which jobs, and how many completed tasks,
each group ran.  Nothing is written while the benchmark runs.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self._resolved = 0

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "start": time.perf_counter(),
               "end": None, "parent": self._stack[-1] if self._stack else None,
               "jobs": 0, "tasks": 0, "result": None}
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(f"perfbench-{idx}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"perfbench-{top}", self.spans[top]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def install(self, targets: list[tuple]) -> None:
        """Wrap ``getattr(module, attr)`` in a span named ``name`` for each
        (module, attr, name) target; the span records the call's result."""
        for module, attr, name in targets:
            orig = getattr(module, attr)

            def traced(*args, __orig=orig, __name=name, **kwargs):
                with self.span(__name) as rec:
                    rec["result"] = out = __orig(*args, **kwargs)
                    return out

            setattr(module, attr, functools.wraps(orig)(traced))
            self._patched.append((module, attr, orig))

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def resolve_jobs(self) -> None:
        """Attach job and completed-task counts to spans closed since the
        last call.  Reads only Spark's in-process status store: no Spark job."""
        tracker = self.sc.statusTracker()
        for rec in self.spans[self._resolved:]:
            for job_id in tracker.getJobIdsForGroup(f"perfbench-{rec['id']}"):
                rec["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else []:
                    stage = tracker.getStageInfo(stage_id)
                    rec["tasks"] += stage.numCompletedTasks if stage else 0
        self._resolved = len(self.spans)

    def children(self, idx: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == idx]

    def self_seconds(self, rec: dict) -> float:
        """Span duration minus the part its child spans cover (children
        run sequentially on the calling thread, so they do not overlap)."""
        kids = sum(c["end"] - c["start"] for c in self.children(rec["id"]))
        return rec["end"] - rec["start"] - kids

    def subtree(self, root: dict) -> list[dict]:
        """``root`` and every span below it."""
        out, todo = [], [root]
        while todo:
            rec = todo.pop()
            out.append(rec)
            todo.extend(self.children(rec["id"]))
        return out

    def per_root(self, root: dict, name: str) -> list[dict]:
        """Spans called ``name`` in the subtree under ``root``."""
        return [s for s in self.subtree(root) if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                row = {k: v for k, v in rec.items() if k != "result"}
                fh.write(json.dumps(row) + "\n")

