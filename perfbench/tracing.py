"""Span tracer for the traced run, built only from the benchmark's side.

``Tracer.install`` replaces the names each caller resolves (for example
``service.read_dwca``, not ``sources.dwca.read_dwca``) with wrappers that
record a span: name, start, end, parent, thread and request id. A wrapper
that may launch Spark jobs tags them with ``setJobGroup`` inside its own
thread; ``resolve_spark`` later counts each group's jobs, stages and tasks
through ``statusTracker()``. Spans stay in memory until ``write``.

Parent links: within a thread, the enclosing span. A job run by the
service's queue worker links to the span that enqueued it (captured at
``JobQueue.enqueue``), and a span opened on an HTTP server thread links to
the client request in flight (the benchmark drives one request at a time).

Spark is lazy: the CSV parse, star join and geometry of a conversion
execute inside ``sinks.parquet.write_parquet``'s span, not in the
``read_layer`` / ``dwca_flatten`` spans that build the plan. Splitting that
time needs spans inside the program.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path

LAZY_NOTE = (
    "Spark is lazy: sinks.parquet.write_parquet spans carry the CSV parse, "
    "star join and geometry execution of a conversion; read_layer spans "
    "carry only schema-inference jobs and dwca_flatten only plan building."
)


def _dir_bytes(path) -> int:
    p = Path(str(path).removeprefix("file:"))
    if p.is_file():
        return p.stat().st_size
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.inflight: tuple[int | None, str | None] = (None, None)

    # --- spans ---------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, group: bool = False, parent: int | None = None,
             req: str | None = None):
        stack = self._stack()
        if stack:
            parent, req = stack[-1]["id"], stack[-1]["req"]
        elif parent is None:
            parent, req = self.inflight[0], req or self.inflight[1]
        sp = {"id": next(self._ids), "name": name, "parent": parent, "req": req,
              "thread": threading.get_ident()}
        sc = _active_sc() if group else None
        if sc is not None:
            prev = (sc.getLocalProperty("spark.jobGroup.id"),
                    sc.getLocalProperty("spark.job.description"))
            sp["group"] = f"perfbench-{os.getpid()}-{sp['id']}"
            sc.setJobGroup(sp["group"], name)
        stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev[0])
                sc.setLocalProperty("spark.job.description", prev[1])
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def request(self, name: str, req: str):
        """A client-side span that server-thread spans adopt as parent."""
        with self.span(name, req=req) as sp:
            self.inflight = (sp["id"], req)
            try:
                yield sp
            finally:
                self.inflight = (None, None)

    # --- patching ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, group: bool = False, after=None):
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name, group=group) as sp:
                result = original(*args, **kwargs)
                if after is not None:
                    after(sp, result)
                return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def _wrap_enqueue(self, job_queue_cls) -> None:
        tracer = self
        original = job_queue_cls.enqueue

        def enqueue(queue_self, fn, *args):
            stack = tracer._stack()
            parent, req = (stack[-1]["id"], stack[-1]["req"]) if stack else tracer.inflight
            t_enq = time.perf_counter()

            @functools.wraps(fn)
            def traced_job(*a):
                with tracer.span(f"service.{fn.__name__}", group=True,
                                 parent=parent, req=req) as sp:
                    sp["queue_wait_s"] = sp["start"] - t_enq
                    return fn(*a)

            return original(queue_self, traced_job, *args)

        self._patches.append((job_queue_cls, "enqueue", original))
        job_queue_cls.enqueue = enqueue

    def install(self, fetch_owner=None) -> None:
        """Wrap every layer's entry points; ``fetch_owner.fetch`` is the
        benchmark's IPT transport (the ``sources.ipt`` byte count)."""
        from dwca_parquet_spark import fs, service
        from dwca_parquet_spark.plans import flatten, geoapi
        from dwca_parquet_spark.sinks import parquet
        from dwca_parquet_spark.sources import dwca, ipt

        def sized(sp, path):
            sp["bytes"] = _dir_bytes(path)

        def skipped(sp, result):
            sp["skipped"] = result is None

        def fetched(sp, payload):
            sp["bytes"] = len(payload)

        self._wrap_enqueue(service.JobQueue)
        for m in ("list_resources", "get_resource", "generate_csw", "generate_geoapi"):
            self.wrap(service.ResourceService, m, f"service.ResourceService.{m}")
        self.wrap(service, "read_dwca", "sources.dwca.read_dwca", group=True)
        self.wrap(dwca, "stage_archive", "sources.dwca.stage_archive", after=sized)
        self.wrap(dwca, "parse_meta", "sources.dwca.parse_meta")
        self.wrap(dwca, "read_layer", "sources.dwca.read_layer", group=True)
        self.wrap(service, "dwca_flatten", "plans.flatten.dwca_flatten", group=True)
        self.wrap(flatten, "validate_wkt", "functions.geometry.validate_wkt")
        self.wrap(service, "write_versioned", "sinks.parquet.write_versioned",
                  group=True, after=skipped)
        for owner in (parquet, service):
            self.wrap(owner, "write_parquet", "sinks.parquet.write_parquet",
                      group=True, after=sized)
        self.wrap(service, "harvest_rows", "plans.csw.harvest_rows")
        self.wrap(service, "eml_to_csw_records", "plans.csw.eml_to_csw_records", group=True)
        self.wrap(service, "harvest_geoapi_rows", "plans.geoapi.harvest_geoapi_rows")
        self.wrap(service, "ipt_to_pygeoapi_resources",
                  "plans.geoapi.ipt_to_pygeoapi_resources", group=True)
        self.wrap(service, "write_json_array", "sinks.jsonarray.write_json_array", group=True)
        for owner in (service, geoapi, ipt):
            self.wrap(owner, "parse_eml", "sources.ipt.parse_eml")
        self.wrap(ipt, "parse_rss", "sources.ipt.parse_rss")
        for m in ("exists", "is_file", "size", "delete", "mkdirs", "rename", "copy",
                  "glob", "copy_to_local", "copy_from_local"):
            self.wrap(fs.FS, m, f"fs.{m}")
        if fetch_owner is not None:
            self.wrap(fetch_owner, "fetch", "sources.ipt.fetch", after=fetched)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # --- Spark accounting ----------------------------------------------------

    def resolve_spark(self, sc) -> None:
        """Count the jobs, stages and tasks of every tagged span (own jobs
        only; ``summary`` rolls them up the span tree)."""
        from py4j.protocol import Py4JError

        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # a private API; fall back to a grace period
            time.sleep(1.0)
        st = sc.statusTracker()
        for sp in self.spans:
            if "group" not in sp:
                continue
            jobs = stages = tasks = failed = 0
            for jid in st.getJobIdsForGroup(sp["group"]):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    s = st.getStageInfo(sid)
                    if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                        continue  # skipped stage: its shuffle output was reused
                    stages += 1
                    tasks += s.numCompletedTasks + s.numFailedTasks
                    failed += s.numFailedTasks
            sp.update(jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed)

    # --- output --------------------------------------------------------------

    def summary(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds, and inclusive Spark
        counts. Self time subtracts same-thread child spans only; a queued
        job runs beside the request that enqueued it."""
        children: dict[int, list[dict]] = {}
        for sp in self.spans:
            children.setdefault(sp["parent"], []).append(sp)

        def inclusive(sp, key):
            return sp.get(key, 0) + sum(inclusive(c, key) for c in children.get(sp["id"], ())
                                        if c["thread"] == sp["thread"])

        out: dict[str, dict] = {}
        for sp in self.spans:
            dur = sp["end"] - sp["start"]
            child = sum(c["end"] - c["start"] for c in children.get(sp["id"], ())
                        if c["thread"] == sp["thread"])
            row = out.setdefault(sp["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                                              "jobs": 0, "stages": 0, "tasks": 0,
                                              "failed_tasks": 0, "bytes": 0})
            row["calls"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - child
            row["bytes"] += sp.get("bytes", 0)
            for key in ("jobs", "stages", "tasks", "failed_tasks"):
                row[key] += inclusive(sp, key)
        return out

    def spark_totals(self) -> dict[str, int]:
        return {key: sum(sp.get(key, 0) for sp in self.spans)
                for key in ("jobs", "stages", "tasks", "failed_tasks")}

    def write(self, path: Path, extra: dict) -> None:
        t0 = min((sp["start"] for sp in self.spans), default=0.0)
        spans = [{**sp, "start": sp["start"] - t0, "end": sp["end"] - t0}
                 for sp in sorted(self.spans, key=lambda s: s["start"])]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"note": LAZY_NOTE, **extra,
                                    "summary": self.summary(), "spans": spans},
                                   indent=1, default=str))


def _active_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context
