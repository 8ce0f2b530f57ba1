"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selfcheck

Runs one workload as a closed loop (one client; each operation starts when
the previous one returned) on ``local[N]``, N = the CPUs this process may
use, and prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer split from a traced
run.  See perfbench/README.md for the protocol and the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

END_TO_END = ("setup_s", "cpu_s")
PER_LAYER = (
    "pass_s", "op_geomean_s", "rows_per_s",
    "session.start_s", "session.warm_passes",
    "queries.build_s", "queries.collect_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.idle_gap_s",
    "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "jvm.gc_s", "proc.jvm_cpu_s", "proc.pyworker_cpu_s", "proc.main_cpu_s",
    "plans.persisted_rdds",
    "trigger_p50_s", "streaming.triggers", "streaming.trigger_p90_s",
    "streaming.addBatch_s", "streaming.queryPlanning_s", "streaming.walCommit_s",
    "streaming.commitOffsets_s", "streaming.latestOffset_s", "streaming.getBatch_s",
    "state.rows_total", "state.rows_updated", "state.memory_mb",
    "state.rows_dropped_by_watermark",
    "sink.files", "sink.mb_written", "stream.rows_in", "stream.rows_out",
    "proc.peak_rss_mb",
)
_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
           "latestOffset", "getBatch")


def _unit(name: str) -> str:
    if name == "rows_per_s":
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or name == "sink.mb_written":
        return "MB"
    return "count"


# ------------------------------------------------------------------ run

class Run:
    """One workload run: inputs, a Spark session, warm passes, then
    measured passes until ``seconds`` have gone by."""

    def __init__(self, workload, seed, seconds, trace, tiny, cpus, work):
        from perfbench.trace import Tracer

        self.wl = workload
        self.seed, self.seconds, self.tiny, self.cpus = seed, seconds, tiny, cpus
        self.work = work
        self.tracer = Tracer(enabled=trace)
        self.attempted = self.failed = self.wrong = 0
        self.passes: list[dict] = []

    def execute(self) -> None:
        from perfbench.trace import ProcTree
        from pyspark import SparkContext

        self.warm_ops, self.ops = self.wl.prepare(
            str(self.work / "inputs"), self.seed, self.tiny)
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark", layer="session"):
            from kstreamjs_spark.session import get_spark

            self.spark = get_spark(app_name="perfbench", cpus=self.cpus,
                                   extra_conf=self._conf())
        self.session_s = time.perf_counter() - t0
        self.jvm = SparkContext._gateway.proc
        self.proc = ProcTree(self.jvm.pid)
        self.tracer.attach(self.spark, streams=self.wl.stream)
        for _ in range(self.wl.warm_passes):
            self._pass("warm", self.warm_ops)
        self.setup_s = time.perf_counter() - t0
        m0 = time.perf_counter()
        while True:
            self._pass("measured", self.ops)
            if time.perf_counter() - m0 >= self.seconds:
                break
        self.peak_rss_mb = self.proc.peak_rss_mb()
        self.persisted = self.tracer.persisted_rdds()

    def _conf(self) -> dict:
        w = self.work
        return {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={w / 'tmp'}",
            "spark.local.dir": str(w / "local"),
            "spark.sql.warehouse.dir": str(w / "warehouse"),
            "spark.sql.streaming.checkpointLocation": str(w / "checkpoints"),
        }

    def _pass(self, kind: str, ops) -> None:
        """Run each operation once and check its output.  Wall time and
        process-tree CPU are taken around the operation alone, so neither
        the checks nor the tracer's own reads count."""
        tr = self.tracer
        gc0 = tr.gc_seconds() if tr.enabled else 0.0
        rec = {"kind": kind, "ops": {}, "op_cpu": {}, "drains": {},
               "cpu": {"main": 0.0, "jvm": 0.0, "pyworker": 0.0}}
        with tr.span("pass", layer="pass", kind=kind) as span:
            for op in ops:
                self.attempted += 1
                try:
                    with tr.op(op.name):
                        cpu0, t = self.proc.cpu(), time.perf_counter()
                        out = op.run(self.spark, tr)
                        wall, cpu1 = time.perf_counter() - t, self.proc.cpu()
                    for k in cpu0:
                        rec["cpu"][k] += cpu1[k] - cpu0[k]
                    reason = op.check(out, tr.last_drain if self.wl.stream else None)
                except Exception:  # noqa: BLE001 - a failed operation is counted
                    self.failed += 1
                    print(f"[perfbench] {op.name} failed:\n{traceback.format_exc()}",
                          file=sys.stderr)
                    continue
                if reason is not None:
                    self.failed += 1
                    self.wrong += 1
                    print(f"[perfbench] {op.name} wrong output: {reason}",
                          file=sys.stderr)
                    continue
                rec["ops"][op.name] = wall
                rec["op_cpu"][op.name] = sum(cpu1.values()) - sum(cpu0.values())
                if self.wl.stream:
                    rec["drains"][op.name] = tr.last_drain
        rec["gc_s"] = (tr.gc_seconds() - gc0) if tr.enabled else 0.0
        rec["span"] = span
        self.passes.append(rec)
        print(f"[perfbench] {kind} pass: " + " ".join(
            f"{k}={v:.3f}" for k, v in rec["ops"].items()), file=sys.stderr)

    def close(self) -> None:
        """Stop Spark and the JVM it launched, and wait for both."""
        spark = getattr(self, "spark", None)
        if spark is not None:
            from pyspark import SparkContext

            spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
        jvm = getattr(self, "jvm", None)
        if jvm is not None:
            if jvm.stdin is not None:
                jvm.stdin.close()  # the gateway exits when its stdin closes
            try:
                jvm.wait(timeout=30)
            except Exception:  # noqa: BLE001 - still running: end it
                jvm.kill()
                jvm.wait(timeout=30)

    # .............................................................. metrics
    def _measured(self):
        return [p for p in self.passes if p["kind"] == "measured"]

    def op_medians(self) -> dict[str, float]:
        out = {}
        for op in self.ops:
            walls = [p["ops"][op.name] for p in self._measured() if op.name in p["ops"]]
            if walls:
                out[op.name] = statistics.median(walls)
        return out

    def end_to_end(self) -> dict[str, float]:
        """The gated metrics: set-up wall and CPU seconds a pass.  CPU is
        what a pass costs on a shared box and, unlike wall, it does not
        count the time the host takes the CPUs away (README, Steadiness)."""
        cpu = [sum(p["cpu"].values()) for p in self._measured() if p["ops"]]
        if not cpu:
            return {}
        return {"setup_s": self.setup_s, "cpu_s": statistics.median(cpu)}

    def walls(self) -> dict[str, float]:
        """What a user waits for: reported in the traced run, ungated."""
        med = self.op_medians()
        if not med:
            return {}
        pass_s = sum(med.values())
        rows = sum(op.rows_in for op in self.ops if op.name in med)
        return {
            "pass_s": pass_s,
            "op_geomean_s": math.exp(statistics.fmean(math.log(v) for v in med.values())),
            "rows_per_s": rows / pass_s,
        }

    def per_layer(self) -> dict[str, float]:
        """Per-layer figures from the spans: each is the median over the
        measured passes of its per-pass value, except the run-level ones
        (session, persisted RDDs, trigger percentiles, peak RSS)."""
        spans = self.tracer.spans
        kids: dict = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)

        def under(root, name_prefix):
            todo, out = list(kids.get(root["id"], [])), []
            while todo:
                s = todo.pop()
                if s["name"].startswith(name_prefix):
                    out.append(s)
                todo.extend(kids.get(s["id"], []))
            return out

        per_pass = []
        triggers = []
        for p in self._measured():
            span = p["span"]
            dur = lambda ss: sum(s["end"] - s["start"] for s in ss)  # noqa: E731
            ops = under(span, "op:")
            spark = [o.get("spark", {}) for o in ops]
            tot = lambda k: sum(s.get(k, 0) for s in spark)  # noqa: E731
            drains = list(p["drains"].values())
            trig = [t for d in drains for t in d["triggers"]]
            triggers += [t["durations_ms"].get("triggerExecution", 0) / 1e3 for t in trig]
            state_last = [d["triggers"][-1]["state"] for d in drains if d["triggers"]]
            row = {
                "queries.build_s": dur(under(span, "build")),
                "queries.collect_s": dur(under(span, "collect")),
                "spark.jobs": tot("jobs"), "spark.stages": tot("stages"),
                "spark.tasks": tot("tasks"), "spark.idle_gap_s": tot("idle_gap_s"),
                "spark.executor_run_s": tot("run_s"),
                "spark.executor_cpu_s": tot("cpu_s"),
                "spark.shuffle_read_mb": tot("shuffle_read_mb"),
                "spark.shuffle_write_mb": tot("shuffle_write_mb"),
                "spark.spill_mb": tot("spill_mb"),
                "jvm.gc_s": p["gc_s"],
                "proc.jvm_cpu_s": p["cpu"]["jvm"],
                "proc.pyworker_cpu_s": p["cpu"]["pyworker"],
                "proc.main_cpu_s": p["cpu"]["main"],
                "streaming.triggers": len(trig),
                "state.rows_total": sum(s["rows_total"] for st in state_last for s in st),
                "state.rows_updated": sum(s["rows_updated"] for t in trig for s in t["state"]),
                "state.memory_mb": max([s["memory_bytes"] for t in trig for s in t["state"]],
                                       default=0) / 2**20,
                "state.rows_dropped_by_watermark": sum(d["dropped"] for d in drains),
                "sink.files": sum(d.get("sink_files", 0) for d in drains),
                "sink.mb_written": sum(d.get("sink_mb", 0.0) for d in drains),
                "stream.rows_in": sum(t["rows_in"] for t in trig),
                # a file sink reports no output rows; its files are counted
                "stream.rows_out": sum(max(t["rows_out"], 0) for t in trig)
                + sum(d.get("sink_rows", 0) for d in drains),
            }
            for ph in _PHASES:
                row[f"streaming.{ph}_s"] = sum(
                    t["durations_ms"].get(ph, 0) for t in trig) / 1e3
            for o in ops:
                row[f"op.{o['name'][3:]}_s"] = o["end"] - o["start"]
            per_pass.append(row)

        out = {k: statistics.median(r.get(k, 0) for r in per_pass)
               for k in {k for r in per_pass for k in r}}
        out.update(self.walls())
        out["session.start_s"] = self.session_s
        out["session.warm_passes"] = self.wl.warm_passes
        out["plans.persisted_rdds"] = self.persisted
        out["proc.peak_rss_mb"] = self.peak_rss_mb
        if triggers:
            q = statistics.quantiles(triggers, n=10) if len(triggers) > 1 else triggers * 9
            out["trigger_p50_s"] = statistics.median(triggers)
            out["streaming.trigger_p90_s"] = q[8]
        return out

    def dump_trace(self, path: Path) -> None:
        passes = [{k: v for k, v in p.items() if k not in ("span", "drains")}
                  for p in self.passes]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.tracer.spans, "passes": passes},
                                   default=str))


# ------------------------------------------------------------------ main

def _environment(work: Path) -> None:
    """Keep every file the run writes inside ``work``, make the package
    importable by Spark's Python workers, and read timestamps in UTC."""
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # HotSpot writes its perf-counter file to the OS temp directory whatever
    # java.io.tmpdir says; both JVMs spark-submit starts read this variable
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def run_once(args) -> int:
    from perfbench.trace import host_context
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    work = ROOT / ".perfbench_work" / f"{wl.name}-{args.seed}-{os.getpid()}"
    _environment(work)
    ctx = {"start": host_context()}
    run = Run(wl, args.seed, args.seconds, bool(args.trace), args.tiny,
              args.cpus, work)
    try:
        run.execute()
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            work.parent.rmdir()
    ctx["end"] = host_context()
    ctx["cpus"] = args.cpus
    if args.trace:
        metrics = run.per_layer()
        names = list(PER_LAYER) + [f"op.{op}_s" for w in WORKLOADS.values()
                                   for op in w.op_names]
        trace_path = ROOT / ".perfbench_out" / f"trace-{wl.name}-{args.seed}-{os.getpid()}.json"
        run.dump_trace(trace_path)
        ctx["trace"] = str(trace_path.relative_to(ROOT))
    else:
        metrics = run.end_to_end()
        names = list(END_TO_END)
    result = {
        "correct": run.wrong == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": metrics.get(n, 0.0), "unit": _unit(n)}
                    for n in names},
    }
    ctx["passes"] = [{"kind": p["kind"], "ops": p["ops"], "op_cpu": p["op_cpu"]}
                     for p in run.passes]
    print(json.dumps({"context": ctx}))
    print(json.dumps(result))
    return 0 if run.attempted > run.failed else 1


def write_expected(wl, args) -> int:
    out = Path(args.expected).resolve()
    _, ops = wl.prepare(str(out / "inputs"), args.seed, args.tiny)
    (out / "expected.json").write_text(json.dumps(
        {op.name: op.expected for op in ops}, indent=1, default=str))
    print(out / "expected.json")
    return 0


def selfcheck() -> int:
    """Every workload on tiny inputs, untraced and traced, each in its own
    process; fails if any run fails or reports wrong output."""
    import subprocess

    from perfbench.workloads import WORKLOADS

    bad = []
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, str(Path(__file__)), "--workload", name,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            last = (proc.stdout.strip().splitlines() or ["{}"])[-1]
            res = json.loads(last) if last.startswith("{") else {}
            ok = (proc.returncode == 0 and res.get("correct") is True
                  and res.get("failed") == 0 and res.get("attempted", 0) > 0)
            print(f"{name} trace={trace}: {'ok' if ok else 'FAIL'} {last}")
            if not ok:
                bad.append(name)
                sys.stderr.write(proc.stderr[-4000:])
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] threads (default: the CPUs this process may use)")
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-check)")
    ap.add_argument("--selfcheck", action="store_true",
                    help="run every workload on tiny inputs and check outputs")
    ap.add_argument("--expected", metavar="DIR",
                    help="write the workload's inputs for --seed and the answers "
                         "its checks expect to DIR, without starting Spark")
    args = ap.parse_args(argv)
    if not (ROOT / "kstreamjs_spark" / "__init__.py").is_file():
        print(f"perfbench: no kstreamjs_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    if args.selfcheck:
        return selfcheck()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    if args.expected:
        return write_expected(WORKLOADS[args.workload], args)
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
