"""Per-layer ledger for the benchmark's traced run.

Everything here is recorded from the benchmark's own files; the library
is not edited.  Four sources feed the ledger of one query execution:

- Spans.  ``Tracer.install`` wraps every public function of every
  package module and rebinds the wrapper wherever a module imported the
  function by name.  It must run before ``__spark_entry__`` is imported,
  because that module binds the functions it uses at import time.  A
  span's self time is its duration minus that of the spans it called on
  the same thread.
- py4j.  Each command the Python side sends to the JVM is counted:
  memory commands (the deletes the finalizer thread sends for collected
  proxies) apart from all others.
- Engine jobs.  The run loop sets a job group around the builder call
  and around the final action; ``EngineStats`` reads the jobs and stages
  of those groups from the Spark UI's REST API on localhost.  Streaming
  batches run on the stream's own thread under a job group named after
  the stream's run id, so ``DataStreamWriter.start`` is wrapped to
  capture each stream the query starts.
- Streaming progress.  The captured streams' ``recentProgress`` holds
  the same ``StreamingQueryProgress`` records a
  ``StreamingQueryListener`` receives, read synchronously once the drain
  has finished.

The wrappers test ``Tracer.active`` first and otherwise call straight
through, so the untraced passes of the traced run pay one attribute
read per call.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import threading
import time
import urllib.request
from collections import defaultdict
from datetime import datetime, timezone

PACKAGE = "blueforty___etl_data_pipeline_spark"

#: How long ``EngineStats.by_group`` waits for the UI store to catch up.
UI_CATCH_UP_S = 10.0

_CUT = "lineage.cut_lineage"
_SPREAD = "parallelism.spread_scan"


class Tracer:
    """Collects spans and counters into ``self.cur``, the ledger of the
    query execution in progress (a ``defaultdict(float)``)."""

    def __init__(self) -> None:
        self.active = False
        self.cur: defaultdict[str, float] = defaultdict(float)
        self.streams: list = []
        self._tls = threading.local()
        self._lock = threading.Lock()

    # -- installation ---------------------------------------------------

    def install(self) -> None:
        pkg = importlib.import_module(PACKAGE)
        mods = [pkg] + [
            importlib.import_module(info.name)
            for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + ".")
        ]
        wrapped: dict = {}
        for mod in mods:
            layer = mod.__name__[len(PACKAGE) + 1 :]
            for name, fn in vars(mod).items():
                if _traceable(fn, mod.__name__, name):
                    wrapped[fn] = self._wrap(layer, name, fn)
        for mod in mods:
            for name, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in wrapped:
                    setattr(mod, name, wrapped[val])
        self._patch_py4j()
        self._patch_stream_start()

    def _wrap(self, layer: str, name: str, fn):
        key = f"{layer}.{name}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            stack = self._stack()
            stack.append(0.0)
            t0 = time.perf_counter()
            out = None
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                dt = time.perf_counter() - t0
                child = stack.pop()
                if stack:
                    stack[-1] += dt
                with self._lock:
                    cur = self.cur
                    cur[f"{layer}.calls"] += 1
                    cur[f"{layer}.self_s"] += dt - child
                    if key in (_CUT, _SPREAD):
                        cur[f"{key}.calls"] += 1
                        cur[f"{key}.s"] += dt
                    if key == _SPREAD and args and out is not None and out is not args[0]:
                        cur[f"{key}.hits"] += 1

        return wrapper

    def _stack(self) -> list[float]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    def _patch_py4j(self) -> None:
        from py4j import java_gateway, protocol

        memory = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
        orig = java_gateway.GatewayClient.send_command
        tracer = self

        def send_command(client, command, *args, **kwargs):
            if tracer.active:
                key = "py4j.gc_deletes" if command.startswith(memory) else "py4j.calls"
                with tracer._lock:
                    tracer.cur[key] += 1
            return orig(client, command, *args, **kwargs)

        java_gateway.GatewayClient.send_command = send_command

    def _patch_stream_start(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        orig = DataStreamWriter.start
        tracer = self

        @functools.wraps(orig)
        def start(writer, *args, **kwargs):
            query = orig(writer, *args, **kwargs)
            if tracer.active:
                tracer.streams.append(query)
            return query

        DataStreamWriter.start = start

    # -- per query --------------------------------------------------------

    def begin(self) -> None:
        self.cur = defaultdict(float)
        self.streams = []
        self.active = True

    def end(self) -> tuple[dict[str, float], list[str]]:
        """Stop counting; fold in the progress of the streams the query
        ran and return (ledger, run ids of those streams)."""
        self.active = False
        cur = self.cur
        run_ids = []
        for query in self.streams:
            run_ids.append(str(query.runId))
            for prog in query.recentProgress:
                _add_progress(cur, json.loads(prog.json))
        return dict(cur), run_ids


def _traceable(fn, module: str, name: str) -> bool:
    return (
        inspect.isfunction(fn)
        and not name.startswith("_")
        and fn.__module__ == module
        and not inspect.isgeneratorfunction(fn)
        # pandas_udf / udf objects carry their Spark type; leave them be.
        and not hasattr(fn, "evalType")
    )


def _add_progress(cur: defaultdict[str, float], prog: dict) -> None:
    dur = prog.get("durationMs", {})
    ops = prog.get("stateOperators", [])
    cur["streaming.batches"] += 1
    cur["streaming.batch_s"] += dur.get("triggerExecution", 0) / 1e3
    cur["streaming.add_batch_s"] += dur.get("addBatch", 0) / 1e3
    cur["streaming.wal_commit_s"] += dur.get("walCommit", 0) / 1e3
    cur["streaming.state_commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1e3
    cur["streaming.input_rows"] += prog.get("numInputRows", 0)
    rows = sum(o.get("numRowsTotal", 0) for o in ops)
    cur["streaming.state_rows"] = max(cur["streaming.state_rows"], rows)


class EngineStats:
    """Job and stage metrics per job group, from the Spark UI REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self._base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def by_group(self, groups: set[str]) -> dict[str, dict]:
        """Return {group: {jobs, job_s, stages, tasks, task_s, gc_s,
        shuffle_read_mb, shuffle_write_mb, spill_mb}} for ``groups``.

        The UI's store is fed by the listener bus, so it can trail the
        driver; poll until no job of ``groups`` is still running."""
        deadline = time.monotonic() + UI_CATCH_UP_S
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            if all(j["status"] not in ("RUNNING", "UNKNOWN") for j in jobs):
                break
            if time.monotonic() > deadline:
                raise TimeoutError("Spark UI store did not catch up with the driver")
            time.sleep(0.1)
        stages = {
            s["stageId"]: s
            for s in self._get("/stages")
            if s["status"] == "COMPLETE"
        }
        out: dict[str, dict] = {g: defaultdict(float) for g in groups}
        seen: set[int] = set()
        for job in jobs:
            acc = out[job["jobGroup"]]
            acc["jobs"] += 1
            acc["job_s"] += _span_s(job.get("submissionTime"), job.get("completionTime"))
            for sid in job["stageIds"]:
                st = stages.get(sid)
                if st is None or sid in seen:
                    continue
                seen.add(sid)
                acc["stages"] += 1
                acc["tasks"] += st["numCompleteTasks"]
                acc["task_s"] += st["executorRunTime"] / 1e3
                acc["gc_s"] += st["jvmGcTime"] / 1e3
                acc["shuffle_read_mb"] += st["shuffleReadBytes"] / 2**20
                acc["shuffle_write_mb"] += st["shuffleWriteBytes"] / 2**20
                acc["spill_mb"] += st["diskBytesSpilled"] / 2**20
        return {g: dict(v) for g, v in out.items()}


def _span_s(start: str | None, end: str | None) -> float:
    if not start or not end:
        return 0.0
    return (_epoch_ms(end) - _epoch_ms(start)) / 1e3


def _epoch_ms(stamp: str) -> float:
    # The REST API writes e.g. "2026-01-02T03:04:05.678GMT".
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1e3
