"""Measurement sources: the process tree in /proc, spans around each call
into a layer, Spark's status store and a StreamingQueryListener.

Everything is recorded from the benchmark's side of the program's public
calls; nothing inside ``kstreamjs_spark`` is patched.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------- /proc

def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds including reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        rest = stat[stat.rfind(")") + 2:].split()
        cpu = sum(int(x) for x in rest[11:15]) / _TICK
        out[int(name)] = (int(rest[1]), cpu)
    return out


class ProcTree:
    """CPU of this process, the JVM it launched and the JVM's Python
    workers.  Each process counts its own time plus that of children it
    has reaped, so workers that exit stay counted in their parent."""

    def __init__(self, jvm_pid: int) -> None:
        self.main = os.getpid()
        self.jvm = jvm_pid

    def _tree(self):
        table = _proc_table()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        return table, kids

    def cpu(self) -> dict[str, float]:
        table, kids = self._tree()
        out = {"main": 0.0, "jvm": 0.0, "pyworker": 0.0}

        def walk(pid, group):
            if pid in table:
                out[group] += table[pid][1]
            for k in kids.get(pid, ()):
                if k == self.jvm:
                    walk(k, "jvm")
                else:
                    walk(k, "pyworker" if group in ("jvm", "pyworker") else group)

        walk(self.main, "main")
        return out

    def peak_rss_mb(self) -> float:
        """Sum of each live process's resident high-water mark."""
        _, kids = self._tree()
        todo, total = [self.main], 0
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, ()))
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
            except OSError:
                pass
        return total / 1024.0


def host_context() -> dict:
    """Host steal seconds and 1-minute load: context for a run's figures,
    not metrics."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"steal_s": int(cpu[8]) / _TICK, "load1": load1}


# ----------------------------------------------------- streaming listener

class _Listener(StreamingQueryListener):
    """Keeps every query's start, progress and end.  Spark delivers these
    on its listener bus thread; readers take the lock."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: list[str] = []
        self.progress: dict[str, list[dict]] = {}
        self.ended: dict[str, threading.Event] = {}

    def _ended(self, qid: str) -> threading.Event:
        with self.lock:
            return self.ended.setdefault(qid, threading.Event())

    def onQueryStarted(self, event) -> None:  # noqa: N802
        with self.lock:
            self.started.append(str(event.id))
        self._ended(str(event.id))

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        rec = {
            "batch": p.batchId,
            "timestamp": p.timestamp,
            "rows_in": int(p.numInputRows or 0),
            "rows_out": int(getattr(p.sink, "numOutputRows", -1) or 0),
            "durations_ms": dict(p.durationMs or {}),
            "state": [
                {"rows_total": s.numRowsTotal, "rows_updated": s.numRowsUpdated,
                 "memory_bytes": s.memoryUsedBytes,
                 "dropped": s.numRowsDroppedByWatermark}
                for s in (p.stateOperators or [])
            ],
        }
        with self.lock:
            self.progress.setdefault(str(p.id), []).append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self._ended(str(event.id)).set()


# ----------------------------------------------------------------- tracer

class Tracer:
    """Spans (name, start, end, parent, attributes) kept in memory.

    With ``enabled`` false every span is a no-op, so the end-to-end run
    pays only for what its checks need: the streaming listener, whose
    drop counts the window checks read.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.listener: _Listener | None = None
        self.last_drain: dict | None = None
        self._sc = None
        self._next_stage = 0
        self._next_job = 0

    def attach(self, spark, streams: bool) -> None:
        self._sc = spark.sparkContext
        if streams:
            self.listener = _Listener()
            spark.streams.addListener(self.listener)
        if self.enabled:
            dag = self._sc._jsc.sc().dagScheduler()
            self._next_stage, self._next_job = dag.nextStageId(), dag.nextJobId()

    # ..................................................... spans
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add_span(self, name, start, end, parent, **attrs) -> None:
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "start": start, "end": end, **attrs})

    # ..................................................... ops
    @contextlib.contextmanager
    def op(self, name: str):
        """Span one operation; in a traced run also record, as child spans
        with counts, every Spark stage the operation ran."""
        with self.span(f"op:{name}", layer="op") as rec:
            yield
        if rec is not None:
            self._stages(rec)

    def _stages(self, op_rec: dict) -> None:
        jsc = self._sc._jsc.sc()
        dag, store = jsc.dagScheduler(), jsc.statusStore()
        next_stage, next_job = dag.nextStageId(), dag.nextJobId()
        totals = {"jobs": next_job - self._next_job, "stages": 0, "tasks": 0,
                  "run_s": 0.0, "cpu_s": 0.0, "shuffle_read_mb": 0.0,
                  "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        busy = []
        for sid in range(self._next_stage, next_stage):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            sub, comp = sd.submissionTime(), sd.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue  # skipped: planned but never run
            start, end = sub.get().getTime() / 1e3, comp.get().getTime() / 1e3
            rec = {"tasks": sd.numCompleteTasks(),
                   "run_s": sd.executorRunTime() / 1e3,
                   "cpu_s": sd.executorCpuTime() / 1e9,
                   "shuffle_read_mb": sd.shuffleReadBytes() / 2**20,
                   "shuffle_write_mb": sd.shuffleWriteBytes() / 2**20,
                   "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20}
            self.add_span(f"stage:{sid}", start, end, op_rec["id"], layer="spark", **rec)
            totals["stages"] += 1
            for k, v in rec.items():
                totals[k] += v
            busy.append((max(start, op_rec["start"]), min(end, op_rec["end"])))
        self._next_stage, self._next_job = next_stage, next_job
        covered, last = 0.0, op_rec["start"]
        for s, e in sorted(busy):
            if e > last:
                covered += e - max(s, last)
                last = e
        totals["idle_gap_s"] = (op_rec["end"] - op_rec["start"]) - covered
        op_rec["spark"] = totals

    # ..................................................... streams
    @contextlib.contextmanager
    def drain(self, name: str, sink_dir: str | None = None):
        """Span one drain of a stream backlog and, when the drain returns,
        wait for the listener to see every query it started end; then
        summarise their triggers in ``last_drain``."""
        lst = self.listener
        with lst.lock:
            first = len(lst.started)
        with self.span(f"drain:{name}", layer="stream") as rec:
            yield
        with lst.lock:
            qids = lst.started[first:]
        for qid in qids:
            if not lst._ended(qid).wait(60):
                raise TimeoutError(f"no end event for streaming query {qid}")
        with lst.lock:
            triggers = [t for q in qids for t in lst.progress.get(q, [])]
        out = {"triggers": triggers, "queries": len(qids),
               "dropped": sum(s["dropped"] for t in triggers for s in t["state"])}
        if sink_dir is not None and os.path.isdir(sink_dir):
            import pyarrow.parquet as pq

            files = [e for e in os.scandir(sink_dir) if e.name.startswith("part-")]
            out["sink_files"] = len(files)
            out["sink_mb"] = sum(e.stat().st_size for e in files) / 2**20
            out["sink_rows"] = sum(pq.read_metadata(e.path).num_rows for e in files)
        self.last_drain = out
        if rec is not None:
            rec["drain"] = out
            from datetime import datetime

            for t in triggers:
                start = datetime.fromisoformat(t["timestamp"].replace("Z", "+00:00"))
                start = start.timestamp()
                dur = t["durations_ms"].get("triggerExecution", 0) / 1e3
                self.add_span(f"trigger:{t['batch']}", start, start + dur, rec["id"],
                              layer="streaming", rows_in=t["rows_in"])

    # ..................................................... JVM
    def gc_seconds(self) -> float:
        mf = self._sc._jvm.java.lang.management.ManagementFactory
        return sum(max(0, g.getCollectionTime())
                   for g in mf.getGarbageCollectorMXBeans()) / 1e3

    def persisted_rdds(self) -> int:
        return self._sc._jsc.sc().getPersistentRDDs().size()
