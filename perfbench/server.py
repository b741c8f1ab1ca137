"""The program under test, in its own process.

Started by ``run.py`` as ``python3 perfbench/server.py <workdir> <trace>``.
It builds a Spark session with the engine defaults (``session.get_spark``),
a ``StorageEngine`` over a fresh warehouse, the REST app from
``service.app.create_app`` on an HTTP port and ``service.pgwire.PgWireServer``
on a TCP port.  The client then drives it only through those ports, except
for the analytics workload, which calls ``__spark_entry__.queries()`` here,
in process, as the registry's contract prescribes.

Control commands arrive as JSON lines on stdin; each reply is one JSON line
on stdout prefixed with ``@@`` (Spark may print to stdout too).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def reply(obj) -> None:
    sys.stdout.write("@@" + json.dumps(obj) + "\n")
    sys.stdout.flush()


class Server:
    def __init__(self, workdir: str, trace: bool) -> None:
        from werkzeug.serving import WSGIRequestHandler, make_server

        from keboola_storage_duckdb_spark.engine import StorageEngine
        from keboola_storage_duckdb_spark.service.app import create_app
        from keboola_storage_duckdb_spark.service.pgwire import PgWireServer
        from keboola_storage_duckdb_spark.session import get_spark

        # the JVM's temporary files (Spark artifacts, native libraries) go
        # to the run's directory, and no perf-data file is left in /tmp.
        # The JIT stops at C1: C2's background compiles keep rounds getting
        # faster for 25-30 s of work and vary from run to run (on 4 shared
        # vCPUs, analytics round_s spread 0.29 over five seeds with C2, 0.13
        # with C1 only)
        extra = {"spark.driver.extraJavaOptions":
                 f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                 "-XX:TieredStopAtLevel=1"}
        if trace:
            # the status store must still hold every job of the timed
            # window when it is read at the end
            extra.update({"spark.ui.retainedJobs": "100000",
                          "spark.ui.retainedStages": "100000",
                          "spark.sql.ui.retainedExecutions": "100000"})
        self.spark = get_spark(app_name="perfbench", extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.engine = StorageEngine(self.spark,
                                    os.path.join(workdir, "warehouse"))
        app = create_app(self.engine)
        self.tracer = None
        if trace:
            from tracing import Tracer
            self.tracer = Tracer()
            self.tracer.install(app)

        class Handler(WSGIRequestHandler):
            protocol_version = "HTTP/1.1"   # keep-alive: one connection
                                            # per surface
            def log_request(self, *a, **k):
                pass

        self.http = make_server("127.0.0.1", 0, app, threaded=True,
                                request_handler=Handler)
        threading.Thread(target=self.http.serve_forever, daemon=True).start()
        self.pg = PgWireServer(self.engine, port=0)
        self.pg.start()
        self.ranges: dict[str, tuple[int, int]] = {}
        self.queries = None

    def next_job(self) -> int:
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    # ------------------------------------------------------------ commands
    def cmd_begin(self, c):
        self.tracer.op = c["op"]
        self.ranges[c["op"]] = (self.next_job(), None)

    def cmd_end(self, c):
        first, _ = self.ranges[c["op"]]
        self.ranges[c["op"]] = (first, self.next_job())
        self.tracer.op = None

    def cmd_window(self, c):
        """Mark the start or end of the timed window: next Spark job id,
        JVM I/O counters and the CPU time of the program's processes."""
        return {"job": self.next_job(), "io": jvm_io(), "cpu_s": tree_cpu_s()}

    def cmd_stats(self, c):
        from tracing import spark_job_stats
        spark = spark_job_stats(self.spark, self.ranges)
        return {op: {**self.tracer.op_summary(op),
                     **{f"spark.{k}": v for k, v in spark[op].items()}}
                for op in self.ranges}

    def cmd_query(self, c):
        """Run one registry query in process and collect it to the driver."""
        if self.queries is None:
            import __spark_entry__
            self.queries = __spark_entry__.queries()
        t0 = time.perf_counter()
        df = self.queries[c["name"]](self.spark, c["sf_dir"])
        rows = [tuple(r) for r in df.collect()]
        ms = (time.perf_counter() - t0) * 1000
        from oracle import digests
        return {"ms": ms, "rows": len(rows),
                "digests": digests(rows, df.columns)}

    def cmd_rss(self, c):
        return {"peak_rss_mb": peak_rss_mb()}


def proc_stats():
    """(pid, /proc/<pid>/stat fields after the command name) of every
    process."""
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    yield int(d), f.read().rsplit(")", 1)[1].split()
            except OSError:
                pass


def children(pid: int) -> list[int]:
    return [p for p, fields in proc_stats() if int(fields[1]) == pid]


def descendants(pid: int) -> list[tuple[int, list[str]]]:
    """(pid, stat fields) of every process below ``pid`` in the process
    tree, whatever its process group (Spark's Python worker daemon makes a
    group of its own)."""
    below: dict[int, list] = {}
    for p, fields in proc_stats():
        below.setdefault(int(fields[1]), []).append((p, fields))
    out, todo = [], [pid]
    while todo:
        for p, fields in below.get(todo.pop(), []):
            out.append((p, fields))
            todo.append(p)
    return out


def tree_cpu_s() -> float:
    """User and system CPU time of this process and every process below it
    (the server, its JVM and Spark's Python workers), including exited
    children."""
    with open(f"/proc/{os.getpid()}/stat") as f:
        own = f.read().rsplit(")", 1)[1].split()
    ticks = sum(sum(int(x) for x in fields[11:15])
                for _, fields in [(0, own), *descendants(os.getpid())])
    return ticks / os.sysconf("SC_CLK_TCK")


def jvm_io() -> dict:
    """/proc/<pid>/io of the JVM this process started (local mode: driver
    and executors are one JVM)."""
    out = {}
    for pid in children(os.getpid()):
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    k, v = line.split(":")
                    out[k] = out.get(k, 0) + int(v)
        except OSError:
            pass
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and its JVM."""
    total = 0
    for pid in [os.getpid(), *children(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def main() -> None:
    workdir, trace = sys.argv[1], sys.argv[2] == "1"
    server = Server(workdir, trace)
    reply({"http": server.http.server_port, "pg": server.pg.port})
    for line in sys.stdin:      # until the client closes the pipe
        c = json.loads(line)
        try:
            out = getattr(server, "cmd_" + c["cmd"])(c) or {}
            reply({"ok": True, **out})
        except Exception as e:      # report and keep serving
            reply({"ok": False, "error": f"{type(e).__name__}: {e}",
                   "trace": traceback.format_exc()[-2000:]})
    server.pg.stop()
    server.http.shutdown()
    server.spark.stop()


if __name__ == "__main__":
    main()
