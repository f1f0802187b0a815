"""Stats / observability (SURVEY §2 P18).

Reference: mutex-guarded counters logged every stats-duration and
served over HTTP /started /healthz /stats with optional pprof
(/root/reference/route81.go:488-679, 919-980). Spark-native: the
producer stream carries observe() metrics; a StreamingQueryListener
accumulates them; a tiny HTTP thread serves the same endpoints.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql.streaming import StreamingQueryListener

from route81_spark.session import codegen_totals


class StatsListener(StreamingQueryListener):
    """Accumulates the observe('producer_stats', ...) metrics emitted by
    the producer job plus the consumer jobs' success/failed dicts — the
    counter set mirrors route81.go:488-509."""

    def __init__(self, log: bool = True, interval_s: float = 0.0) -> None:
        # log=False ≡ route81's disable-stats-log: counters accumulate
        # (HTTP /stats still serves them) but nothing prints.
        # interval_s ≡ stats-duration (route81.go:443-444): progress
        # events arrive per micro-batch; only log on this cadence.
        self.log = log
        self.interval_s = interval_s
        self._last_log = 0.0
        self.lock = threading.Lock()
        self.counters: dict[str, int] = {
            "success": 0, "failed": 0, "inserted": 0, "updated": 0,
            "removed": 0, "dropped": 0, "queued": 0,
        }
        self.started_at = time.time()
        self.terminated: list[str] = []
        self._consumer_stats: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        row = event.progress.observedMetrics.get("producer_stats")
        if row is None:
            return
        with self.lock:
            d = row.asDict()
            self.counters["queued"] += int(d.get("queued", 0) or 0)
            self.counters["inserted"] += int(d.get("inserted", 0) or 0)
            self.counters["updated"] += int(d.get("updated", 0) or 0)
            self.counters["removed"] += int(d.get("removed", 0) or 0)
            self.counters["dropped"] += int(d.get("dropped", 0) or 0)
            # rows that reached the sink committed with the batch:
            # at-least-once success accounting (route81.go:824-831)
            self.counters["success"] += int(d.get("queued", 0) or 0)
        if self.log and time.time() - self._last_log >= self.interval_s:
            self._last_log = time.time()
            print(f"route81_spark stats: {self.snapshot()}")

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        # fatal-error handling ≡ route81's shutdown on fatal Kafka errors
        # (route81.go:898-901)
        self.terminated.append(str(event.id))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def consumer_stats(self) -> dict:
        """A fresh counter dict for one `consumer_job(stats=...)`. Each
        consumer writes only its own dict; snapshot() adds them all in."""
        d: dict[str, int] = {}
        with self.lock:
            self._consumer_stats.append(d)
        return d

    def snapshot(self) -> dict:
        with self.lock:
            out = dict(self.counters)
            for d in self._consumer_stats:
                out["success"] += d.get("success", 0)
                out["failed"] += d.get("failed", 0)
            return out


def _thread_stacks() -> str:
    """All driver-thread stacks — the Python analogue of a goroutine
    dump (pprof.Index's goroutine profile)."""
    import sys
    import traceback

    names = {t.ident: t.name for t in threading.enumerate()}
    out = []
    for ident, frame in sys._current_frames().items():
        out.append(f"thread {names.get(ident, ident)}:")
        out.extend(line.rstrip() for line in traceback.format_stack(frame))
        out.append("")
    return "\n".join(out)


_profile_lock = threading.Lock()


def _sample_profile(seconds: float, interval: float = 0.01) -> str:
    """Sampling CPU profile of the Python driver (pprof.Profile
    equivalent; the JVM side is covered by the Spark UI). Samples every
    thread's innermost frames and reports aggregate counts, hottest
    first."""
    import sys
    from collections import Counter

    counts: Counter[str] = Counter()
    deadline = time.time() + max(0.1, min(seconds, 60.0))
    n = 0
    while time.time() < deadline:
        for frame in sys._current_frames().values():
            stack = []
            f = frame
            while f is not None and len(stack) < 8:
                stack.append(f"{f.f_code.co_filename}:{f.f_lineno}({f.f_code.co_name})")
                f = f.f_back
            counts[" <- ".join(stack)] += 1
        n += 1
        time.sleep(interval)
    lines = [f"samples: {n} interval_s: {interval}"]
    lines += [f"{c}\t{s}" for s, c in counts.most_common(50)]
    return "\n".join(lines)


def serve_stats(
    listener: StatsListener, port: int = 0, pprof: bool = False
) -> ThreadingHTTPServer:
    """HTTP /started /healthz /stats like route81.go:937-980, plus the
    config-gated /debug/pprof/* family (route81.go:141 `pprof` key,
    served route81.go:967-973) mapped to the Python driver: cmdline,
    thread-stack dump, sampling CPU profile. /stats serves the listener's
    counters plus the JVM's generated-code compiles and their total
    milliseconds (`codegen_compiles`, `codegen_compile_ms`), which keep
    rising while repeated work is recompiled. Returns the server (already
    serving on a daemon thread); .server_port has the bound port."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            import sys
            from urllib.parse import parse_qs, urlparse

            url = urlparse(self.path)
            ctype = "application/json"
            if url.path in ("/started", "/healthz"):
                body = b"ok"
            elif url.path == "/stats":
                body = json.dumps({**listener.snapshot(), **codegen_totals()}).encode()
            elif pprof and url.path in ("/debug/pprof", "/debug/pprof/"):
                ctype = "text/plain"
                body = b"profiles: cmdline profile goroutine\n"
            elif pprof and url.path == "/debug/pprof/cmdline":
                ctype = "text/plain"
                body = "\x00".join(sys.argv).encode()
            elif pprof and url.path == "/debug/pprof/goroutine":
                ctype = "text/plain"
                body = _thread_stacks().encode()
            elif pprof and url.path == "/debug/pprof/profile":
                # malformed ?seconds must be a 400, not a handler
                # traceback/connection reset; valid values are clamped
                # so a request can't pin a handler thread for minutes
                try:
                    secs = float(parse_qs(url.query).get("seconds", ["1"])[0])
                    if not (0 < secs <= 60):
                        raise ValueError(secs)
                except ValueError:
                    self.send_response(400)
                    self.end_headers()
                    self.wfile.write(b"bad seconds parameter")
                    return
                ctype = "text/plain"
                # serialize profiles: each request samples every thread's
                # frames in a loop — concurrent profilers would degrade
                # the process they're measuring
                with _profile_lock:
                    body = _sample_profile(secs).encode()
            else:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # silence
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv
