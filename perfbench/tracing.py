"""Tracing for the ``--trace 1`` run: spans, py4j and Spark counts.

Everything is measured from outside the program, around its public
calls:

- spans (name, start, end, parent, operation id) are kept in memory
  and written as JSON at exit; a layer's self time is its span minus
  the part covered by its child spans;
- py4j round-trips are counted by wrapping
  ``ClientServerConnection.send_command``;
- every operation runs under its own Spark job group, and its jobs,
  stages and tasks are read back from ``statusTracker()``;
- task time, GC, shuffle, spill and output bytes come from the Spark
  event log this run enables, parsed after the session stops;
- Catalyst phase times come from ``QueryExecution.tracker()`` of the
  DataFrame an operation collected.

``NullTracer`` has the same interface and does nothing, so the
untraced runs execute the same workload code.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import time
from collections import defaultdict

CATALYST_PHASES = ("analysis", "optimization", "planning")
SPARK_COUNTS = (
    "jobs", "stages", "tasks", "task_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class NullTracer:
    """Tracing switched off: every hook is a no-op."""

    #: "setup" until the workload starts its timed phase
    phase = "setup"

    def install(self, spark) -> None:
        pass

    def uninstall(self) -> None:
        pass

    @contextlib.contextmanager
    def op(self, kind: str):
        yield

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def catalyst(self, df) -> None:
        pass


class Tracer(NullTracer):
    """Records spans and per-operation Spark counts for one run."""

    def __init__(self, event_log_dir: str, spool_dir: str):
        self.event_log_dir = event_log_dir
        self.spool_dir = spool_dir
        self._rows_in_file: dict[tuple, int] = {}
        #: scan spans whose files' row counts are still to be read
        self._unresolved: list[dict] = []
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op_id: int | None = None
        self.ops: dict[int, dict] = {}
        self.py4j_calls = 0
        self._restore: list[tuple[object, str, object]] = []
        self._spark = None

    # -- hooks ---------------------------------------------------------

    def install(self, spark) -> None:
        """Wrap py4j's send path and the two module attributes whose
        driver-side cost the per-layer metrics split out."""
        from py4j.clientserver import ClientServerConnection

        self._spark = spark
        orig_send = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command):
            tracer.py4j_calls += 1
            return orig_send(conn, command)

        self._patch(ClientServerConnection, "send_command", send_command)
        for module, attr, name in (
            ("coltt_spark.filters", "compile_filter_mask", "filters.compile_filter_mask"),
            ("coltt_spark.operators.blocks", "block_index_scan", "blocks.block_index_scan"),
        ):
            mod = importlib.import_module(module)
            self._patch(mod, attr, self._wrap(getattr(mod, attr), name))

    def _patch(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _wrap(self, fn, name: str):
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name) as sp:
                if name == "blocks.block_index_scan":
                    sp["files"] = tracer._scan_paths(args, kwargs)
                    tracer._unresolved.append(sp)
                return fn(*args, **kwargs)

        return wrapped

    def uninstall(self) -> None:
        self._resolve_rows()
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- spans and operations -----------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        sp = {
            "name": name,
            "op": self._op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "py4j_start": self.py4j_calls,
        }
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.perf_counter()
            sp["py4j"] = self.py4j_calls - sp.pop("py4j_start")

    @contextlib.contextmanager
    def op(self, kind: str):
        """One operation: a job group, a root span and its Spark counts."""
        op_id = len(self.ops)
        group = f"perfbench-op-{op_id}"
        sc = self._spark.sparkContext
        sc.setJobGroup(group, kind)
        self._op_id = op_id
        self.ops[op_id] = {
            "kind": kind, "group": group, "phase": self.phase, "catalyst": {},
        }
        spooled = self._spool_entries()
        try:
            with self.span(kind):
                yield
        finally:
            self._op_id = None
            for prop in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(prop, None)
            self.ops[op_id].update(self._job_counts(group))
            self.ops[op_id]["spool_misses"] = len(self._spool_entries() - spooled)
            self._resolve_rows()

    def _spool_entries(self) -> set[str]:
        if not os.path.isdir(self.spool_dir):
            return set()
        return {n for n in os.listdir(self.spool_dir) if ".tmp." not in n}

    def spool_bytes(self) -> int:
        total = 0
        for base, _dirs, names in os.walk(self.spool_dir):
            total += sum(os.stat(os.path.join(base, n)).st_size for n in names)
        return total

    def _job_counts(self, group: str) -> dict[str, int]:
        st = self._spark.sparkContext.statusTracker()
        jobs = list(st.getJobIdsForGroup(group))
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def catalyst(self, df) -> None:
        """Record the Catalyst phase times of a collected DataFrame."""
        if self._op_id is None:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        out = self.ops[self._op_id]["catalyst"]
        for ph in CATALYST_PHASES:
            opt = phases.get(ph)
            if opt.isDefined():
                out[ph] = out.get(ph, 0.0) + float(opt.get().durationMs())

    @staticmethod
    def _scan_paths(args, kwargs) -> list[str]:
        """Paths of the files a ``block_index_scan`` call will read: its
        explicit ``files`` (an IVF probe) or every part file under its
        path."""
        files = kwargs.get("files")
        if files is not None:
            return list(files)
        path = args[1] if len(args) > 1 else kwargs["path"]
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("part-") and f.endswith(".parquet")
        )

    def _resolve_rows(self) -> None:
        """Replace the paths of pending scan spans by (path, vector rows).
        Runs when an operation has ended, so reading the files' ``n``
        column stays out of every timed span; each file is read once."""
        import pyarrow.parquet as pq

        for sp in self._unresolved:
            out = []
            for f in sp["files"]:
                st = os.stat(f)
                key = (st.st_dev, st.st_ino, st.st_mtime_ns)
                if key not in self._rows_in_file:
                    n = pq.read_table(f, columns=["n"]).column(0).to_numpy()
                    self._rows_in_file[key] = int(n.sum())
                out.append((f, self._rows_in_file[key]))
            sp["files"] = out
        self._unresolved.clear()

    # -- derived -------------------------------------------------------

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its children cover
        (children of one span run sequentially on the driver thread)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp["parent"] is not None:
                child[sp["parent"]] += sp["end"] - sp["start"]
        return [sp["end"] - sp["start"] - c for sp, c in zip(self.spans, child)]

    def spark_task_metrics(self) -> dict[str, dict[str, float]]:
        """Parse the event log (after the session stopped) into task
        metrics per job group: task, GC, shuffle, spill, output bytes."""
        stage_group: dict[int, str] = {}
        per_group: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for name in os.listdir(self.event_log_dir):
            with open(os.path.join(self.event_log_dir, name)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if group:
                            for sid in ev.get("Stage IDs", ()):
                                stage_group[sid] = group
                    elif kind == "SparkListenerTaskEnd":
                        group = stage_group.get(ev.get("Stage ID"))
                        tm = ev.get("Task Metrics")
                        if group is None or not tm:
                            continue
                        g = per_group[group]
                        g["task_ms"] += tm.get("Executor Run Time", 0)
                        g["gc_ms"] += tm.get("JVM GC Time", 0)
                        sr = tm.get("Shuffle Read Metrics", {})
                        g["shuffle_read_bytes"] += (
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        )
                        g["shuffle_write_bytes"] += tm.get(
                            "Shuffle Write Metrics", {}
                        ).get("Shuffle Bytes Written", 0)
                        g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                            "Disk Bytes Spilled", 0
                        )
                        g["bytes_written"] += tm.get("Output Metrics", {}).get(
                            "Bytes Written", 0
                        )
        return per_group

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {
                            "name": sp["name"], "op": sp["op"], "parent": sp["parent"],
                            "start": sp["start"], "end": sp["end"],
                            "self_s": st, "py4j": sp["py4j"],
                            "files": len(sp.get("files", ())),
                        }
                        for sp, st in zip(self.spans, selfs)
                    ],
                    "ops": self.ops,
                },
                f,
            )
