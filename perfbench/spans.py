"""Spans around the package's public callables, for the traced run.

The timed runs never import this wrapping: a traced run patches the
callables at the names where ``pipeline.py`` looks them up (and the
benchmark's own catalog loop opens spans itself), records one span per
call and tags the Spark jobs the call starts with a job group of its own.
Spans stay in memory until ``write`` at the end of the run.

Stage task time, shuffle bytes and spill come from the driver's local
``/api/v1`` status endpoints, so a traced session must run with the UI
on.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
import urllib.request


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": len(self.spans),
            "name": name,
            "layer": name.split(".", 1)[0],
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{len(self.spans)}",
            **attrs,
        }
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setLocalProperty("spark.jobGroup.id", span["group"])
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", parent["group"] if parent else None
            )
            span["jobs"] = list(
                self.sc.statusTracker().getJobIdsForGroup(span["group"])
            )

    def record(self, name: str, start: float, end: float) -> None:
        """A span for a call made before the tracer existed."""
        self.spans.append({
            "id": len(self.spans), "name": name, "layer": name.split(".", 1)[0],
            "parent": None, "start": start, "end": end, "jobs": [],
        })

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned call until ``unpatch``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, spanned)

    @property
    def active(self) -> bool:
        return bool(self._patched)

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # -- after the run ---------------------------------------------------
    def attach_stage_metrics(self) -> None:
        """Add task seconds, shuffle bytes, spill bytes and single-task
        stage counts to every span, from the jobs its group ran."""
        base = self.sc.uiWebUrl
        if not base:
            raise RuntimeError("traced session needs spark.ui.enabled=true")
        app = f"{base}/api/v1/applications/{self.sc.applicationId}"
        stages = {}
        for s in _get_json(f"{app}/stages"):
            stages[s["stageId"]] = s  # retried attempts: keep the last
        job_stages = {j["jobId"]: j["stageIds"] for j in _get_json(f"{app}/jobs")}
        for span in self.spans:
            task_ms = shuffle = spill = single = 0
            for job in span.get("jobs", ()):
                for sid in job_stages.get(job, ()):
                    st = stages.get(sid)
                    if st is None or st.get("status") == "SKIPPED":
                        continue
                    task_ms += st.get("executorRunTime", 0)
                    shuffle += st.get("shuffleReadBytes", 0) + st.get(
                        "shuffleWriteBytes", 0
                    )
                    spill += st.get("memoryBytesSpilled", 0) + st.get(
                        "diskBytesSpilled", 0
                    )
                    single += st.get("numTasks", 0) == 1
            span.update(
                task_s=task_ms / 1000.0,
                shuffle_bytes=shuffle,
                spill_bytes=spill,
                single_task_stages=single,
            )

    def children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def subtree(self, span: dict, kids=None) -> list[dict]:
        kids = self.children() if kids is None else kids
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], ()))
        return out

    def self_seconds_by_layer(self) -> dict[str, float]:
        """Each span's duration minus the time its child spans cover,
        summed per layer."""
        kids = self.children()
        out: dict[str, float] = {}
        for s in self.spans:
            covered = sum(c["end"] - c["start"] for c in kids.get(s["id"], ()))
            out[s["layer"]] = out.get(s["layer"], 0.0) + (
                s["end"] - s["start"] - covered
            )
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:  # noqa: S310 - local UI
        return json.load(resp)
