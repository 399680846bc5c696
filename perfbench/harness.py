"""One benchmark run: Spark session, closed-loop operation timing,
gates, and the metric table."""

from __future__ import annotations

import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

import pandas as pd

from .trace import OP_FIGURES, EventLog, Span, Tracer

# pipeline stage -> layer metric of its StageRunner span
STAGE_LAYERS = {
    "s1_docs": "extract.assemble_s",
    "s2_mentions": "extract.detect_s",
    "s3_linked": "linking.link_s",
    "s4_canonical": "canonicalize.s4_s",
    "s5_triples": "triples.materialize_s",
    "s6_evidence": "kg.evidence_s",
    "s7_beliefs": "kg.beliefs_s",
    "s8_temporal": "kg.temporal_s",
    "s9_degrees": "kg.degrees_s",
}


@dataclass
class Op:
    kind: str
    start: float
    end: float
    span: Optional[Span]
    error: Optional[str] = None
    # a documented defect of the program (ROADMAP direction 3): counted
    # in the traced failed_ops share, not in the run's failed count
    known_defect: bool = False

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Harness:
    workload: str
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    root: str
    out_dir: str
    t_process: float
    cores: int
    tracer: Tracer = None
    spark: Any = None
    ops: list[Op] = field(default_factory=list)
    # single-valued layer figures the workload records (setup phases,
    # driver-side kernel time, work counts)
    figures: dict[str, float] = field(default_factory=dict)
    t_measure: Optional[float] = None
    peak_rss_mb: float = 0.0
    event_log: Optional[EventLog] = None
    kernel_calls: list[tuple[float, float]] = field(default_factory=list)
    # gates queued by gate(), run by finish() after peak_rss_mb is read
    pending: list[tuple[list[Op], Callable[[], tuple[bool, str]]]] = field(
        default_factory=list)

    def __post_init__(self):
        self.tracer = Tracer(self.trace)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.out_dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.time() - self.t_process:7.2f}s] {msg}",
              file=sys.stderr, flush=True)

    # --- session ---------------------------------------------------------

    def start_session(self) -> None:
        from coies_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local", ""),
            "spark.sql.warehouse.dir": self.path("warehouse", ""),
        }
        if self.trace:
            os.environ["PERFBENCH_KERNEL_LOG"] = self.path("kernel", "")
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog", ""),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.python.daemon.module": "perfbench.pydaemon",
            })
        t0 = time.time()
        self.spark = get_spark(f"perfbench-{self.workload}", cores=self.cores,
                               extra_conf=conf)
        self.spark.range(1).count()
        self.figures["session.start_s"] = time.time() - t0

    def finish(self) -> None:
        """End the measurement: read the peak memory of the operations,
        then run the queued gates (whose own allocations must not count
        in that peak), then stop Spark and parse the trace."""
        self.peak_rss_mb = _peak_rss_mb(self.spark)
        for ops, check in self.pending:
            self._run_gate(ops, check)
        self.pending.clear()
        self.shutdown()
        if self.trace:
            from .pydaemon import read_kernel_log

            (name,) = os.listdir(self.path("eventlog", ""))
            self.event_log = EventLog.parse(self.path("eventlog", name))
            self.kernel_calls = read_kernel_log(self.path("kernel", ""))

    def shutdown(self) -> None:
        """Stop Spark, then end the driver JVM and wait for it."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # --- operations ------------------------------------------------------

    def phase(self, name: str, fn: Callable[[], Any]) -> Any:
        """Run one named set-up phase and record its seconds."""
        t0 = time.time()
        out = fn()
        self.figures[name] = self.figures.get(name, 0.0) + time.time() - t0
        self.log(f"{name} +{time.time() - t0:.3f}s")
        return out

    def timed(self, kind: str, fn: Callable[[], Any]) -> tuple[Op, Any]:
        """Run one operation, closed loop: the next starts after this
        returns.  An exception fails the operation and is recorded."""
        if self.t_measure is None:
            self.t_measure = time.time()
        out, error = None, None
        with self.tracer.span(kind, self.spark) as span:
            t0 = time.time()
            try:
                out = fn()
            except Exception as e:  # noqa: BLE001 - recorded as a failed op
                error = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
                traceback.print_exc(limit=-4, file=sys.stderr)
            t1 = time.time()
        op = Op(kind, t0, t1, span, error)
        self.ops.append(op)
        self.log(f"{kind} {op.wall:.3f}s" + (f" FAILED {error}" if error else ""))
        return op, out

    def gate(self, ops: list[Op], check: Callable[[], tuple[bool, str]]) -> None:
        """Queue an untimed correctness check for finish(); a mismatch
        or an error fails every op it covers.  ``check`` must read the
        outputs it compares from disk (see keep()), not hold them."""
        self.pending.append((ops, check))

    def keep(self, name: str, frame: pd.DataFrame) -> str:
        """Write an operation's output to the run dir for a later gate,
        so it is not held in memory during the measurement."""
        path = self.path("outputs", f"{name}.pkl")
        frame.to_pickle(path)
        return path

    def _run_gate(self, ops: list[Op], check) -> None:
        try:
            ok, why = check()
        except Exception:  # noqa: BLE001 - a crashing gate is a failure
            ok, why = False, traceback.format_exc(limit=3).strip().splitlines()[-1]
        if not ok:
            for op in ops:
                if op.error is None:
                    op.error = f"gate: {why}"
            self.log(f"GATE FAILED ({[o.kind for o in ops]}): {why}")

    def measuring(self, rounds: int, min_rounds: int) -> bool:
        """Closed-loop continuation: keep going until ``seconds`` of
        measurement have passed and ``min_rounds`` rounds are done."""
        if rounds < min_rounds:
            return True
        return time.time() - (self.t_measure or time.time()) < self.seconds

    def scratch_dir(self, *parts: str) -> str:
        d = self.path(*parts, "")
        shutil.rmtree(d, ignore_errors=True)
        return d

    # --- metrics ---------------------------------------------------------

    def kinds(self, primary: list[str]) -> list[Op]:
        return [o for o in self.ops if o.kind in primary]

    def end_to_end(self, primary: list[str]) -> dict[str, float]:
        """op_s: geometric mean over the primary kinds of each kind's
        median wall time (failed operations included: a failure's time
        is what the caller waited)."""
        walls = [[o.wall for o in self.ops if o.kind == k] for k in primary]
        # a kind is missing only when an earlier operation failed
        meds = [statistics.median(w) for w in walls if w]
        return {
            "op_s": math.exp(sum(math.log(m) for m in meds) / len(meds)),
            "peak_rss_mb": self.peak_rss_mb,
            "setup_s": self.t_measure - self.t_process,
        }

    def layers(self, primary: list[str],
               kind_metrics: dict[str, str]) -> dict[str, float]:
        """Per-layer table of a traced run, for the layers this workload
        reaches.  Spark figures are means over the primary operations,
        and per operation kind under ``<kind>.``; stage spans are means
        over builds, and checkpoint and upsert figures means over folds
        (the write path).  ``kind_metrics`` names the metric of each
        kind's median wall time."""
        out = dict(self.figures)
        tr, ev = self.tracer, self.event_log
        by_kind: dict[str, list[Op]] = {}
        for o in self.ops:
            by_kind.setdefault(o.kind, []).append(o)
        builds, folds = by_kind.get("build", []), by_kind.get("fold", [])

        def mean(values):
            values = list(values)
            return sum(values) / len(values) if values else 0.0

        def stages(ops):
            return [(o, s) for o in ops for s in tr.descendants(o.span.id)
                    if s.name.startswith("stage:")]

        def spark_figures(ops, prefix=""):
            figs = [ev.op_figures(o.span, self.cores) for o in ops]
            return {prefix + name: mean(f[name] for f in figs)
                    for name in OP_FIGURES}

        out["traced.op_s"] = self.end_to_end(primary)["op_s"]
        out["failed_ops"] = mean(o.error is not None for o in self.ops)
        out.update(spark_figures(self.kinds(primary)))
        for kind, ops in by_kind.items():
            out.update(spark_figures(ops, f"{kind}."))
            if kind in kind_metrics:
                out[kind_metrics[kind]] = statistics.median(o.wall for o in ops)
        build_stages = stages(builds)
        for stage, layer in STAGE_LAYERS.items():
            out[layer] = mean(
                sum(s.wall for oo, s in build_stages
                    if oo is o and s.name == f"stage:{stage}")
                for o in builds
            )
        # a stage's parquet write runs its whole lazy plan, so the write
        # call's wall time is the stage's execution; the rest of the
        # stage span is StageRunner's own work after the write
        execs = {o.span.id: 0.0 for o in folds}
        selfs = dict(execs)
        for o, s in stages(folds):
            w = sum(c.wall for c in tr.children(s.id, "parquet_write"))
            execs[o.span.id] += w
            selfs[o.span.id] += s.wall - w
        out["checkpoint.exec_s"] = mean(execs.values())
        out["checkpoint.verify_s"] = mean(selfs.values())
        out["triples.upsert_s"] = mean(
            sum(s.wall for s in tr.children(o.span.id, "triples.upsert"))
            for o in folds
        )
        out["graph.cc_jobs"] = mean(
            sum(len(ev.jobs_in(s.start, s.end))
                for s in tr.descendants(o.span.id) if s.name == "graph.cc")
            for o in self.kinds(primary)
        )
        detect = [s for _, s in build_stages if s.name == "stage:s2_mentions"]
        run_s = sum(ev.executor_run_in(s.start, s.end) for s in detect)
        kern = sum(d for t, d in self.kernel_calls
                   if any(s.start <= t <= s.end for s in detect))
        out["extract.kernel_share"] = kern / run_s if run_s else 0.0
        return out


def _peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0
