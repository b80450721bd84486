"""Outside-in layer trace.

The traced run replaces public functions of the library's modules
with wrappers that record a span per call: name, start, end, parent
span and op id. Spans stay in memory and are written out when the run
ends. While a span is the innermost open one, the Spark jobs its code
starts carry the span's id as their job group; at the end the job and
stage REST API turns those into job, stage, task, shuffle and spill
counts per span. No library file is
changed: the wrappers are installed from here, in every loaded module
namespace that holds the original function.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
import urllib.request
from contextlib import contextmanager

# (module, attribute, span name); "Class.method" patches the class.
SYNC_POINTS = [
    ("mydatasyncer_spark.sources.readers", "read_file", "readers.read"),
    ("mydatasyncer_spark.sources.readers", "coerce_rfc3339", "readers.coerce"),
    ("mydatasyncer_spark.operators.validation", "validate_primary_keys",
     "validation.validate"),
    ("mydatasyncer_spark.operators.columns", "determine_sync_columns",
     "columns.determine"),
    ("mydatasyncer_spark.operators.diff", "diff_snapshots", "diff.build"),
    ("mydatasyncer_spark.dag", "DependencyGraph.sync_order", "dag.sync_order"),
    ("mydatasyncer_spark.syncer", "Syncer.run", "syncer.run"),
    ("mydatasyncer_spark.sinks.applier", "DbApiBackend.read_snapshot",
     "applier.read_snapshot"),
    ("mydatasyncer_spark.sinks.applier", "apply_diff", "applier.apply"),
    ("mydatasyncer_spark.sinks.applier", "DbApiBackend.insert_rows", "applier.insert"),
    ("mydatasyncer_spark.sinks.applier", "DbApiBackend.update_rows", "applier.update"),
    ("mydatasyncer_spark.sinks.applier", "DbApiBackend.delete_rows", "applier.delete"),
    ("mydatasyncer_spark.sinks.applier", "stage_legs", "applier.stage"),
    ("mydatasyncer_spark.sinks.applier", "apply_staged_upserts",
     "applier.staged_apply"),
    ("mydatasyncer_spark.sinks.applier", "apply_staged_deletes",
     "applier.staged_apply"),
    ("mydatasyncer_spark.sinks.applier", "drop_staged", "applier.drop_staged"),
    ("mydatasyncer_spark.sinks.jdbc", "JdbcBackend.read_snapshot",
     "jdbc.read_snapshot"),
    ("mydatasyncer_spark.sinks.jdbc", "JdbcBackend.stage_leg", "jdbc.stage_leg"),
    ("mydatasyncer_spark.sinks.jdbc", "JdbcBackend.execute_update", "jdbc.execute"),
]

OPERATOR_PACKAGE = "mydatasyncer_spark.operators"
COUNTS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op_id: int | None = None
        # seconds spent in open/close per op: the tracer's own cost
        self.bookkeeping: dict[int | None, float] = {}
        self.patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _group(self, span: dict | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if span is None else f"span{span['id']}"
        )

    def _charge(self, t0: float) -> None:
        self.bookkeeping[self.op_id] = (
            self.bookkeeping.get(self.op_id, 0.0) + time.perf_counter() - t0
        )

    def open(self, name: str) -> dict:
        t0 = time.perf_counter()
        span = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(span)
        self.stack.append(span)
        self._group(span)
        self._charge(t0)
        return span

    def close(self, span: dict) -> None:
        span["end"] = t0 = time.perf_counter()
        self.stack.pop()
        self._group(self.stack[-1] if self.stack else None)
        self._charge(t0)

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    # ---------------------------------------------------------- patching
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def _replace_everywhere(self, original, wrapper) -> None:
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not (name.startswith("mydatasyncer_spark") or name == "__spark_entry__"):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self.patched.append((mod, attr, value))
                    setattr(mod, attr, wrapper)

    def install(self, operators: bool) -> None:
        """Wrap the sync path's layer boundaries and, with
        ``operators``, every public function of the operator modules
        (span ``op.<module>.<function>``)."""
        import importlib

        for module, attr, span in SYNC_POINTS:
            mod = importlib.import_module(module)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                original = vars(cls)[meth]
                self.patched.append((cls, meth, original))
                setattr(cls, meth, self._wrap(original, span))
            else:
                original = getattr(mod, attr)
                self._replace_everywhere(original, self._wrap(original, span))
        if not operators:
            return
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith(OPERATOR_PACKAGE + "."):
                continue
            short = modname.rsplit(".", 1)[-1]
            for attr, fn in list(vars(mod).items()):
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == modname
                    and not attr.startswith("_")
                    and not hasattr(fn, "__wrapped__")
                ):
                    self._replace_everywhere(fn, self._wrap(fn, f"op.{short}.{attr}"))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self.patched):
            setattr(owner, attr, original)
        self.patched.clear()

    # --------------------------------------------------------- engine data
    def engine_counts(self) -> dict[int, dict]:
        """Per span id, the jobs it started itself and their stage,
        task, shuffle-write and spill totals, from the REST API
        (skipped stages contribute nothing)."""
        sc = self.sc
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

        def get(path):
            with urllib.request.urlopen(base + path, timeout=30) as r:
                return json.load(r)

        stages = {}
        for s in get("/stages"):
            if s.get("status") == "SKIPPED":
                continue
            st = stages.setdefault(s["stageId"], [0, 0, 0])
            st[0] += s.get("numCompleteTasks", 0)
            st[1] += s.get("shuffleWriteBytes", 0)
            st[2] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        out: dict[int, dict] = {}
        for j in get("/jobs"):
            group = j.get("jobGroup") or ""
            if not group.startswith("span"):
                continue
            ran = [stages[sid] for sid in j.get("stageIds", []) if sid in stages]
            c = out.setdefault(int(group[4:]), dict.fromkeys(COUNTS, 0))
            c["jobs"] += 1
            c["stages"] += len(ran)
            c["tasks"] += sum(s[0] for s in ran)
            c["shuffle_write_bytes"] += sum(s[1] for s in ran)
            c["spill_bytes"] += sum(s[2] for s in ran)
        return out

    def finish(self) -> list[dict]:
        """Spans with duration, self time (duration minus the part its
        children cover) and engine counts, both ``self_<count>`` and
        inclusive of children."""
        engine = self.engine_counts()
        children: dict[int, float] = {}
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            if s["parent"] is not None:
                children[s["parent"]] = children.get(s["parent"], 0.0) + s["dur_s"]
        for s in self.spans:
            s["self_s"] = s["dur_s"] - children.get(s["id"], 0.0)
            own = engine.get(s["id"], dict.fromkeys(COUNTS, 0))
            for key in COUNTS:
                s["self_" + key] = s[key] = own[key]
        # children come after their parent, so a reverse sweep sums
        # every subtree into its root
        by_id = {s["id"]: s for s in self.spans}
        for s in reversed(self.spans):
            if s["parent"] is not None:
                for key in COUNTS:
                    by_id[s["parent"]][key] += s[key]
        return self.spans
