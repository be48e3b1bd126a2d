"""Span tracing from outside the package.

``Tracer.install`` replaces the public functions of each layer module of
``usgs_lidar_spark`` with thin wrappers that record a span per call: name,
layer, start, end, parent span and the operation's id. It must run before
``usgs_lidar_spark.plans.queries`` is imported, because the query modules
bind some operator functions by name at import time; references that other
already-imported package modules hold are rebound as well.

Counts gathered at the same boundaries:

* py4j calls -- the gateway client's ``send_command`` is wrapped;
* Spark jobs -- every span outside the ``functions`` layer runs under its
  own job group, read back from ``statusTracker`` once the run ends;
* bytes      -- summed per stage from the Spark event log (``eventlog``),
  attributed to spans through the job group each job carried.

Spans stay in memory and are written out when the run ends. A wrapper is
pickled by reference (it replaces the original under the same module and
qualified name), so Python workers run the plain package functions.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import pkgutil
import sys
import time

#: Operator modules reported by name; the others report as operators.other.
OPERATOR_MODULES = (
    "voxel", "spatial", "dedup", "similarity", "graph", "retrieval",
    "pipeline", "textquality", "minhash_kernel",
)
FUNCTION_MODULES = (
    "sqlbuild", "vectors", "projection", "spread", "tmerc", "mercator",
    "strings", "textstats", "zorder", "arrow_exact",
)
SOURCE_MODULES = ("writers", "readers")

# Span record fields (lists, for low overhead).
ID, NAME, LAYER, OP, PARENT, T0, T1, PY0, PY1, GROUP, ARG = range(11)


def _layer_modules() -> list[tuple[str, str]]:
    mods = [
        ("usgs_lidar_spark.session", "session"),
        ("usgs_lidar_spark.catalog", "catalog"),
        ("usgs_lidar_spark.plans.lifecycle", "plans"),
        ("usgs_lidar_spark.multimodal.binary_ops", "multimodal.binary_ops"),
    ]
    pkg = "usgs_lidar_spark.operators"
    for info in pkgutil.iter_modules(importlib.import_module(pkg).__path__):
        m = info.name
        mods.append((f"{pkg}.{m}", f"operators.{m if m in OPERATOR_MODULES else 'other'}"))
    mods += [(f"usgs_lidar_spark.functions.{m}", "functions") for m in FUNCTION_MODULES]
    mods += [(f"usgs_lidar_spark.sources.{m}", "sources") for m in SOURCE_MODULES]
    return mods


def _source_layer(fn_name: str) -> str:
    return "sources.write" if fn_name.startswith(("write", "upsert")) else "sources.read"


class Tracer:
    """Records spans while ``on``; a no-op pass-through otherwise."""

    def __init__(self) -> None:
        self.on = False
        self.spans: list[list] = []
        self.stack: list[list] = []
        self.op: int | None = None
        self.py4j = 0
        self._mute = False
        self._sc = None

    # -- installation ---------------------------------------------------
    def install(self) -> None:
        """Wrap every public function of each layer module."""
        if "usgs_lidar_spark.plans.queries" in sys.modules:
            raise RuntimeError("install the tracer before importing plans.queries")
        originals: dict[int, object] = {}
        for modname, layer in _layer_modules():
            mod = importlib.import_module(modname)
            for name, fn in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != modname
                ):
                    continue
                lay = _source_layer(name) if layer == "sources" else layer
                short = modname.rsplit(".", 1)[1]
                wrapped = self._wrap(fn, f"{short}.{name}", lay)
                setattr(mod, name, wrapped)
                originals[id(fn)] = (fn, wrapped)
        # Rebind names other package modules imported before wrapping.
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith("usgs_lidar_spark"):
                continue
            for name, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, name, hit[1])

    def _wrap(self, fn, name: str, layer: str):
        tracer = self
        grouped = layer != "functions"
        wants_arg = layer.startswith("sources") or name == "catalog.load_table"
        sig = inspect.signature(fn) if wants_arg else None

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            sp = tracer.enter(name, layer, grouped)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.exit(sp)
                if sig is not None:
                    sp[ARG] = _path_arg(sig, args, kwargs)

        return traced

    def attach(self, spark) -> None:
        """Count py4j calls on the session's gateway (once per process)."""
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        if getattr(client, "_perfbench_counted", False):
            return
        send = client.send_command
        tracer = self

        def counted(*args, **kwargs):
            if tracer.on and not tracer._mute:
                tracer.py4j += 1
            return send(*args, **kwargs)

        client.send_command = counted
        client._perfbench_counted = True

    # -- spans ----------------------------------------------------------
    def _set_group(self, group: str) -> None:
        if self._sc is None:
            return
        self._mute = True
        try:
            self._sc._jsc.setJobGroup(group, "", False)
        finally:
            self._mute = False

    def enter(self, name: str, layer: str, grouped: bool = True) -> list:
        parent = self.stack[-1] if self.stack else None
        sid = len(self.spans)
        group = f"pb{os.getpid()}.{sid}" if grouped and self._sc is not None else None
        sp = [sid, name, layer, self.op, parent[ID] if parent else None,
              0.0, 0.0, self.py4j, 0, group, None]
        self.spans.append(sp)
        self.stack.append(sp)
        if group is not None:
            self._set_group(group)
        sp[T0] = time.perf_counter()
        return sp

    def exit(self, sp: list) -> None:
        sp[T1] = time.perf_counter()
        sp[PY1] = self.py4j
        self.stack.pop()
        if sp[GROUP] is not None:
            outer = next((s[GROUP] for s in reversed(self.stack) if s[GROUP]), None)
            if outer is not None:
                self._set_group(outer)
            elif self._sc is not None:
                self._mute = True
                try:
                    self._sc._jsc.clearJobGroup()
                finally:
                    self._mute = False

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """A span around a ``with`` block (none while tracing is off)."""
        sp = self.enter(name, layer) if self.on else None
        try:
            yield sp
        finally:
            if sp is not None:
                self.exit(sp)

    # -- read-back ------------------------------------------------------
    def jobs_by_group(self) -> dict[str, list[int]]:
        """Job ids per span job group, from the live statusTracker."""
        st = self._sc.statusTracker()
        out = {}
        for sp in self.spans:
            if sp[GROUP] is not None:
                ids = list(st.getJobIdsForGroup(sp[GROUP]))
                if ids:
                    out[sp[GROUP]] = ids
        return out

    def stage_counts(self, job_ids: list[int]) -> dict[str, int]:
        """Executed stages, completed and failed tasks of ``job_ids``."""
        st = self._sc.statusTracker()
        stages = tasks = failed = 0
        seen = set()
        for jid in job_ids:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks + si.numFailedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return {"stages": stages, "tasks": tasks, "failed_tasks": failed}

    def dump(self, path: str) -> None:
        keys = ("id", "name", "layer", "op", "parent", "start", "end",
                "py4j_start", "py4j_end", "job_group", "arg")
        with open(path, "w") as fh:
            json.dump([dict(zip(keys, sp)) for sp in self.spans], fh)


def _path_arg(sig: inspect.Signature, args, kwargs):
    """The ``path`` (or ``sf_dir``/``name``) argument of a traced call."""
    try:
        bound = sig.bind_partial(*args, **kwargs).arguments
    except TypeError:
        return None
    if "path" in bound and isinstance(bound["path"], str):
        return bound["path"]
    if "sf_dir" in bound and "name" in bound:
        return os.path.join(bound["sf_dir"], f"{bound['name']}.parquet")
    return None


def self_times(spans: list[list]) -> dict[int, tuple[float, int]]:
    """span id -> (self seconds, self py4j calls): the span's own interval
    and calls minus those its direct children cover."""
    child_t: dict[int, float] = {}
    child_p: dict[int, int] = {}
    for sp in spans:
        if sp[PARENT] is not None:
            child_t[sp[PARENT]] = child_t.get(sp[PARENT], 0.0) + (sp[T1] - sp[T0])
            child_p[sp[PARENT]] = child_p.get(sp[PARENT], 0) + (sp[PY1] - sp[PY0])
    return {
        sp[ID]: (
            (sp[T1] - sp[T0]) - child_t.get(sp[ID], 0.0),
            (sp[PY1] - sp[PY0]) - child_p.get(sp[ID], 0),
        )
        for sp in spans
    }


#: Event-log accumulator -> reported byte metric.
_BYTE_ACCUMS = {
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


def _file_size_metrics(plan: dict, out: set) -> None:
    """Accumulator ids of every scan's "size of files read" in a plan."""
    for m in plan.get("metrics", ()):
        if m.get("name") == "size of files read":
            out.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _file_size_metrics(child, out)


def eventlog_bytes(log_dir: str) -> dict[str, dict[str, int]]:
    """job group -> byte totals from every finished Spark event log in
    ``log_dir``: task metrics summed over the stages the group's jobs
    completed, and ``files_read_bytes``, the scans' "size of files read"
    (the bytes left after partition pruning) of the SQL executions whose
    jobs ran under the group."""
    out: dict[str, dict[str, int]] = {}
    for fname in sorted(os.listdir(log_dir)):
        if fname.endswith(".inprogress"):
            continue
        stage_group: dict[int, str] = {}
        exec_group: dict[str, str] = {}
        size_accs: dict[int, str] = {}
        file_bytes: dict[int, int] = {}
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", ()):
                            stage_group[sid] = group
                        if "spark.sql.execution.id" in props:
                            exec_group.setdefault(props["spark.sql.execution.id"], group)
                elif '"SparkListenerStageCompleted"' in line:
                    info = json.loads(line)["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None:
                        continue
                    acc = out.setdefault(group, {})
                    for a in info.get("Accumulables", ()):
                        key = _BYTE_ACCUMS.get(a.get("Name"))
                        if key:
                            acc[key] = acc.get(key, 0) + int(a.get("Value", 0))
                elif "SparkListenerSQLExecutionStart" in line or "SQLAdaptiveExecutionUpdate" in line:
                    ev = json.loads(line)
                    ids: set = set()
                    _file_size_metrics(ev.get("sparkPlanInfo") or {}, ids)
                    for i in ids:
                        size_accs[i] = str(ev["executionId"])
                elif "SparkListenerDriverAccumUpdates" in line:
                    for acc_id, value in json.loads(line).get("accumUpdates", ()):
                        if acc_id in size_accs:
                            file_bytes[acc_id] = int(value)
        for acc_id, value in file_bytes.items():
            group = exec_group.get(size_accs[acc_id])
            if group is not None:
                acc = out.setdefault(group, {})
                acc["files_read_bytes"] = acc.get("files_read_bytes", 0) + value
    return out
