"""Traced-run helpers: in-memory spans, a py4j round-trip counter and a
reader for Spark's status store. All of it wraps the engine from the
outside; nothing here changes how a query is built or run."""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory and written out when the run ends.

    A span has a name, a start, an end, a parent span and the id of the
    key-rep (one key executed once) it belongs to. Spans nest by call
    order: the span opened last is the parent of the next one.
    """

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, rep: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "rep": rep,
            "parent": self._stack[-1] if self._stack else None,
            "start": self.clock(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = self.clock()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class Py4jCounter:
    """Counts Python→JVM round trips by wrapping py4j's
    ``ClientServerConnection.send_command`` (the connection PySpark uses)
    for as long as it is installed.

    Reference releases are not counted: py4j sends one whenever Python's
    garbage collector frees a proxy object, which happens at moments the
    caller does not choose, so counting them would make the count vary
    from run to run.
    """

    def __init__(self):
        self.calls = 0
        self._original = None

    def install(self) -> None:
        from py4j import protocol
        from py4j.clientserver import ClientServerConnection

        release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
        original = self._original = ClientServerConnection.send_command

        def send_command(conn, command, *args, **kwargs):
            if not command.startswith(release):
                self.calls += 1
            return original(conn, command, *args, **kwargs)

        ClientServerConnection.send_command = send_command

    def uninstall(self) -> None:
        from py4j.clientserver import ClientServerConnection

        if self._original is not None:
            ClientServerConnection.send_command = self._original
            self._original = None


#: Stage fields summed into the exec.* and sink.* metrics, with the
#: factor that turns each into the unit the metric reports.
STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1),
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "output_rows": ("outputRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}

_EXCHANGE = re.compile(r"^[\s:+\-|]*(Exchange|BroadcastExchange)\b")


def count_exchanges(plan_text: str) -> int:
    """Shuffle and broadcast exchanges in a physical plan's tree string
    (reused exchanges are not counted again)."""
    return sum(1 for line in plan_text.splitlines() if _EXCHANGE.match(line))


class StatusStore:
    """Reads job, stage and storage figures from a live SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._ssc = self.sc._jsc.sc()
        self._store = self._ssc.statusStore()

    def drain(self) -> None:
        """Wait until the status listener has seen every posted event, so
        the store holds the final figures of jobs that just ended."""
        self._ssc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Sum STAGE_FIELDS over the stages that ran for ``job_ids``
        (stages skipped because their output was reused are left out)."""
        totals = {name: 0 for name in STAGE_FIELDS}
        totals["stages"] = 0
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for job in job_ids:
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            data = self._store.lastStageAttempt(sid)
            if str(data.status()) != "COMPLETE":
                continue
            totals["stages"] += 1
            for name, (field, scale) in STAGE_FIELDS.items():
                totals[name] += getattr(data, field)() * scale
        return totals

    def persistent_rdds(self) -> set[int]:
        return set(self.sc._jsc.getPersistentRDDs().keySet())

    def rdd_bytes(self, rdd_ids: set[int]) -> int:
        """Memory plus disk bytes the block manager holds for ``rdd_ids``."""
        return sum(
            info.memSize() + info.diskSize()
            for info in self._ssc.getRDDStorageInfo()
            if info.id() in rdd_ids
        )


#: A file write in a SQL execution's physical plan.
_WRITE = "InsertIntoHadoopFsRelationCommand"


def scanned_tables(plan_text: str, data_dir: str) -> set[str]:
    """Names of the ``<data_dir>/<name>.parquet`` tables a plan scans."""
    pattern = re.escape(data_dir.rstrip("/")) + r"/(\w+)\.parquet"
    return set(re.findall(pattern, plan_text))


class SqlStore:
    """Reads SQL executions from the session's SQL status store."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def last_execution_id(self) -> int:
        """Id of the newest execution the store holds (-1 if none)."""
        n = self._store.executionsCount()
        last = self._store.executionsList(max(0, n - 1), 1)
        return last.apply(0).executionId() if last.size() else -1

    def written_sources(self, after_id: int, data_dir: str) -> set[str]:
        """Tables under ``data_dir`` scanned by the file writes among the
        executions newer than ``after_id``: the inputs of what was written.
        Call it after the listener bus has drained."""
        out: set[str] = set()
        for eid in range(after_id + 1, self.last_execution_id() + 1):
            found = self._store.execution(eid)
            if found.isDefined():
                plan = found.get().physicalPlanDescription()
                if _WRITE in plan:
                    out |= scanned_tables(plan, data_dir)
        return out


def catalyst_figures(df) -> dict[str, float]:
    """Force the physical plan of ``df`` and read its Catalyst phase times
    (ms) and exchange count from the query execution."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    phases = qe.tracker().phases()
    out = {
        f"{phase}_ms": (phases.apply(phase).durationMs() if phases.contains(phase) else 0)
        for phase in ("analysis", "optimization", "planning")
    }
    out["exchanges"] = count_exchanges(plan.toString())
    return out
