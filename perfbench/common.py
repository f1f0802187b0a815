"""Shared pieces of the benchmark: Spark session lifecycle, in-memory
span tracer, streaming-progress listener, and the result line.

Everything the benchmark writes goes under the checkout it runs from:
a per-run work directory (inputs, tables, checkpoints, Spark local and
temp dirs) that is deleted at the end, and `.bench_out/` for the
trace files of traced runs.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import statistics
import subprocess
import tempfile
import threading
import time
from contextlib import contextmanager
from datetime import datetime


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Tracer:
    """Spans kept in memory and written out when the run ends. Each span
    has an id, name, start, end (seconds on the perf_counter clock),
    the id of its parent and free-form attributes. With `on=False`
    every call is a no-op, so the untraced run pays nothing."""

    def __init__(self, on: bool) -> None:
        self.on = on
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        stack = self._stack()
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1, default=str)


def _epoch(ts: str) -> float:
    # StreamingQueryProgress.timestamp: ISO-8601 UTC with milliseconds
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def progress_listener():
    """A StreamingQueryListener that keeps every progress record with
    input rows, keyed by query id. Records carry the trigger start
    (epoch seconds) and Structured Streaming's own per-phase
    `durationMs`."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.by_query: dict[str, list[dict]] = {}

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            if not p.numInputRows:
                return
            rec = {
                "batch": p.batchId,
                "start": _epoch(p.timestamp),
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
            }
            with self.lock:
                self.by_query.setdefault(str(p.id), []).append(rec)

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

        def records(self, query_id) -> list[dict]:
            with self.lock:
                return list(self.by_query.get(str(query_id), []))

    return ProgressLog()


def stream_layer_metrics(prefix: str, recs: list[dict]) -> dict[str, float]:
    """trigger / addBatch / overhead (trigger minus addBatch: offset
    listing, planning and WAL commit) medians plus the batch count."""
    trig = [r["ms"].get("triggerExecution", 0) for r in recs]
    add = [r["ms"].get("addBatch", 0) for r in recs]
    return {
        f"{prefix}.trigger_ms_p50": median(trig),
        f"{prefix}.add_batch_ms_p50": median(add),
        f"{prefix}.overhead_ms_p50": median([t - a for t, a in zip(trig, add)]),
        f"{prefix}.batches": len(recs),
    }


class Session:
    """The Spark session of one benchmark run, created through the
    program's own `route81_spark.session.get_spark` on local[nproc].
    Spark's local, temp and warehouse directories are pointed into the
    run's work directory; with `event_log` Spark's JSON event log is
    switched on from outside the program (spark-submit arguments)."""

    def __init__(self, work: str, event_log: bool = False) -> None:
        self.cpus = cpu_count()
        self.event_dir = os.path.join(work, "eventlog")
        tmp = os.path.join(work, "tmp")
        for d in (tmp, os.path.join(work, "spark-local"), self.event_dir):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
        # no hsperfdata file in the system temp dir
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        conf = {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.compress"] = "false"
        args = []
        for k, v in conf.items():
            args += ["--conf", f"{k}={v}"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])

        t0 = time.perf_counter()
        from route81_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.parallelism = self.spark.sparkContext.defaultParallelism

    def jobs_in_group(self, group: str) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def stop(self) -> None:
        """Stop every stream, the SparkContext and the JVM, and wait
        until the JVM process has exited."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        for q in self.spark.streams.active:
            q.stop()
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None) if gateway else None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )
