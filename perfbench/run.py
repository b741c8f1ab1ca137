"""Benchmark of the storage service and its analytics registry.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 4

Run from the root of a checkout.  It generates every input from ``--seed``
under ``perfbench/.work/``, starts the program in its own process
(``server.py``), sets it up, runs a fixed number of untimed warm-up rounds,
then measures rounds of operations in a closed loop (one client, one
connection per surface, each request sent after the previous reply): a
fixed number of rounds per workload, and at least ``--seconds``.
Every operation's output is checked.  The last line of stdout is one JSON
object: end-to-end metrics with ``--trace 0``, per-layer metrics from spans
and Spark's status store with ``--trace 1``.  See README.md.
"""

from __future__ import annotations

import argparse
import http.client
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from surfaces import Http, OpError, PgClient  # noqa: E402

now = time.perf_counter
WATCHDOG_S = 170

END_TO_END = {"setup_s": "s", "round_s": "s", "cpu_ms_per_op": "ms"}
OP_CLASSES = ("preview", "query", "pgwire", "import", "delete", "export",
              "pass")
SPARK_KEYS = {"jobs": "count", "tasks": "count", "job_wall_ms": "ms",
              "driver_ms": "ms", "cpu_ms": "ms", "shuffle_bytes": "bytes",
              "spill_bytes": "bytes", "gc_ms": "ms", "result_rows": "count"}
# Registry queries of the analytics pass: the flagship scan-aggregate, a
# driver-crossover operator from operators/ (quantiles), the sessionizer of
# streaming/, and from functions/ Lloyd k-means and the ROADMAP's
# carry-over target containment_dedup.  One query per module (19) takes
# 42 s cold and 16 s warm per pass on 4 cores, too long for a run of
# about 40 s.
ANALYTICS = ("pricing_summary quantiles sessionize containment_dedup "
             "kmeans_fixed").split()
ROUND_LAYER = {   # per-layer metric -> (unit, span key summed over a round)
    "engine.register_views_ms": ("ms", "engine.register_project_views.ms"),
    "engine.register_views_calls": ("count",
                                    "engine.register_project_views.calls"),
    "engine.workspace_views_ms": ("ms", "engine.register_workspace_views.ms"),
    "engine.read_table_calls": ("count", "engine.read_table.calls"),
    "catalog.meta_reads": ("count", "catalog.read_meta.calls"),
    "catalog.lock_hold_ms": ("ms", "catalog.lock.ms"),
    "operators.filters_ms": ("ms", "operators.filters.ms"),
    "operators.dedup_ms": ("ms", "operators.dedup.ms"),
}


def per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s", "setup.load_s": "s",
             "setup.warmup_s": "s", "session.peak_rss_mb": "MB"}
    units.update({f"{c}.p50_ms": "ms" for c in OP_CLASSES})
    units.update({"app.self_ms.preview": "ms", "app.self_ms.query": "ms",
                  "app.resp_bytes.preview": "bytes",
                  "driver.self_ms.query": "ms", "pgwire.self_ms": "ms",
                  "pgwire.bytes_sent": "bytes"})
    units.update({k: u for k, (u, _) in ROUND_LAYER.items()})
    units["engine.view_cache_hit_ratio"] = "ratio"
    units.update({"engine.write_bytes_per_user_byte": "ratio",
                  "engine.space_amp": "ratio"})
    units.update({f"q.{q}.ms": "ms" for q in ANALYTICS})
    units.update({f"spark.{k}.{c}": u for k, u in SPARK_KEYS.items()
                  for c in OP_CLASSES})
    units.update({"spark.unattributed_jobs": "count",
                  "trace.overhead_ms": "ms", "trace.round_s": "s"})
    return units


# ------------------------------------------------------------------ program
def machine_env(work: str) -> dict:
    """Settings fitted to this machine: every core, a driver heap of a
    quarter of physical memory (at most 4 GiB), Spark scratch and temporary
    files in the benchmark's work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    heap_mb = max(1024, min(4096, mem_kb // 4 // 1024))
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    path = os.pathsep.join(p for p in (ROOT, BENCH,
                                       os.environ.get("PYTHONPATH")) if p)
    # spark-submit's launcher is a JVM of its own
    return dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
                SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m", SPARK_LOCAL_DIRS=local,
                PYTHONPATH=path, SPARK_LAUNCHER_OPTS="-XX:-UsePerfData")


class Program:
    """The server process; ``start_s`` is the wall time until it serves."""

    def __init__(self, work: str, trace: bool) -> None:
        self.log_path = os.path.join(work, "server.log")
        self.log = open(self.log_path, "w")
        t0 = now()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH, "server.py"), work,
             "1" if trace else "0"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, env=machine_env(work), cwd=ROOT,
            start_new_session=True)
        self.ports = self._read()
        self.start_s = now() - t0

    def _read(self) -> dict:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                with open(self.log_path) as f:
                    tail = f.read()[-3000:]
                raise RuntimeError(f"server exited:\n{tail}")
            if line.startswith("@@"):
                return json.loads(line[2:])

    def call(self, cmd: str, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        r = self._read()
        if not r.get("ok"):
            raise OpError(r.get("error"))
        return r

    def close(self) -> None:
        self.proc.stdin.close()
        self.proc.stdout.close()
        self.log.close()


def adopt_orphans() -> None:
    """Make this process the reaper of every orphan below it, so a process
    whose parent dies (the JVM, Spark's Python worker daemon) stays in this
    process's tree, where ``stop_all`` finds and waits for it."""
    import ctypes
    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER,
                                               1, 0, 0, 0):
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_all(timeout_s: float = 60) -> None:
    """Kill every process this one started, with everything they started,
    and wait until each has ended."""
    from server import descendants
    deadline = now() + timeout_s
    while now() < deadline:
        for pid, _ in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:       # no child left, live or zombie
            return
        time.sleep(0.02)
    raise RuntimeError("processes of the run did not end")


# ----------------------------------------------------------------- workloads
class Op:
    """One operation of a round.  ``fn`` runs it and returns its output;
    ``check(output)`` runs after the timed window and says whether the
    output was right (a failed check or an exception fails the op)."""

    def __init__(self, cls: str, name: str, fn, check=None) -> None:
        self.cls, self.name, self.fn, self.check = cls, name, fn, check


def duck_types(schema) -> list[dict]:
    import pyarrow as pa
    names = {pa.int64(): "BIGINT", pa.int32(): "INTEGER",
             pa.float64(): "DOUBLE", pa.string(): "VARCHAR",
             pa.timestamp("us"): "TIMESTAMP"}
    return [{"name": f.name, "type": names[f.type]} for f in schema]


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Workload:
    """``warmup`` untimed rounds run after load; the timed window then runs
    at least ``rounds`` rounds and at least ``--seconds``.  Both counts are
    fixed: every run times the same rounds after start, whatever the host's
    speed, and the median does not depend on how many rounds fit in the
    window."""
    name = ""
    project, bucket = "shop", "sales"

    def __init__(self, work: str, seed: int) -> None:
        import numpy as np
        self.seed = seed
        self.work, self.rng = work, np.random.default_rng(seed)
        self.prog = None
        self.user_bytes = 0   # bytes of import batches sent in the window

    def tables_path(self) -> str:
        return (f"/projects/{self.project}/branches/default/buckets/"
                f"{self.bucket}/tables")

    def create_and_load(self, rest: Http, name: str, tbl, path: str,
                        pk: list[str]) -> None:
        rest.json("POST", self.tables_path(),
                  {"name": name, "columns": duck_types(tbl.schema),
                   "primary_key": pk})
        out = rest.json("POST", f"{self.tables_path()}/{name}/import/file",
                        {"path": path, "format": "parquet"})
        if out["rows_after"] != tbl.num_rows:
            raise OpError(f"load {name}: {out} != {tbl.num_rows} rows")

    def query(self, rest: Http, sql: str) -> tuple[list[str], list[tuple]]:
        rows = rest.json("POST", f"/projects/{self.project}/query",
                         {"sql": sql})["rows"]
        cols = list(rows[0]) if rows else []
        return cols, [tuple(r[c] for c in cols) for r in rows]

    def inputs(self) -> None: ...
    def load(self) -> None: ...
    def ops(self, i: int) -> list[Op]: ...

    def finish(self) -> list[str]:
        """End-of-run checks; returns what failed."""
        return []

    def close(self) -> None: ...


def duck_con(paths: dict[str, str], prefix: str = ""):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=1")
    for name, p in paths.items():
        con.execute(f"CREATE VIEW {prefix}{name} AS "
                    f"SELECT * FROM read_parquet('{p}')")
    return con


class ServeRead(Workload):
    """Read mix over a quarter-sf0.1 sales schema and a workspace.  Round
    ``i`` takes its parameters from set ``i % POOL`` of a seeded pool, as a
    dashboard repeats its requests.  Spark inlines literals into generated
    code, so always-new literals would compile new code in every round and
    keep rounds getting faster for over a minute; the warm-up runs every set
    of the pool three times, after which rounds are flat."""
    name = "serve_read"
    SCALE, POOL = 0.25, 2
    warmup, rounds = 3 * POOL, 2 * POOL
    PKS = {"customer": ["c_custkey"], "orders": ["o_orderkey"],
           "lineitem": ["l_orderkey", "l_linenumber"]}

    def inputs(self) -> None:
        import fixtures
        self.tables = fixtures.star(self.rng, self.SCALE)
        self.paths = fixtures.write({t: self.tables[t] for t in self.PKS},
                                    os.path.join(self.work, "in"))

    def load(self) -> None:
        ports = self.prog.ports
        self.rest, self.driver = Http(ports["http"]), Http(ports["http"])
        rest, p = self.rest, self.project
        rest.json("POST", "/projects", {"id": p})
        rest.json("POST", f"/projects/{p}/branches/default/buckets",
                  {"name": self.bucket})
        for t, pk in self.PKS.items():
            self.create_and_load(rest, t, self.tables[t], self.paths[t], pk)
        rest.json("POST", f"/projects/{p}/workspaces", {"id": "ws1"})
        for body in ({"bucket": self.bucket, "table": "customer",
                      "destination": "cust_seg",
                      "columns": ["c_custkey", "c_nationkey", "c_mktsegment"],
                      "where": "c_mktsegment = 'BUILDING'"},
                     {"bucket": self.bucket, "table": "orders",
                      "destination": "ord_prio",
                      "columns": ["o_orderkey", "o_orderpriority",
                                  "o_orderstatus"],
                      "where": "o_orderstatus <> 'P'"}):
            rest.json("POST", f"/projects/{p}/workspaces/ws1/load", body)
        pw = rest.json("POST", f"/projects/{p}/workspaces/ws1/credentials/"
                               "reset")["password"]
        self.pg = PgClient(ports["pg"], "ws1", p, pw)
        self.duck = duck_con(self.paths, "sales_")
        self.duck.execute("CREATE VIEW cust_seg AS SELECT c_custkey, "
                          "c_nationkey, c_mktsegment FROM sales_customer "
                          "WHERE c_mktsegment = 'BUILDING'")
        self.duck.execute("CREATE VIEW ord_prio AS SELECT o_orderkey, "
                          "o_orderpriority, o_orderstatus FROM sales_orders "
                          "WHERE o_orderstatus <> 'P'")

    def expect(self, sql: str):
        res = self.duck.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def checker(self, sql: str):
        def check(out) -> bool:
            import oracle
            cols, rows = self.expect(sql)
            return oracle.same(out[1], out[0], rows, cols)
        return check

    def preview(self, table: str, where: str, columns: list[str],
                order_by: list[str], limit: int, arrow: bool) -> Op:
        from urllib.parse import urlencode
        qs = urlencode({"where": where, "columns": ",".join(columns),
                        "order_by": ",".join(order_by), "limit": limit})
        path = f"{self.tables_path()}/{table}/preview?{qs}"

        def fn():
            if arrow:
                import pyarrow as pa
                status, _, body = self.rest.request(
                    "GET", path,
                    headers={"Accept": "application/vnd.apache.arrow.stream"})
                if status >= 400:
                    raise OpError(f"arrow preview {status} {body[:200]!r}")
                tbl = pa.ipc.open_stream(io.BytesIO(body)).read_all()
                return tbl.column_names, [tuple(r.values())
                                          for r in tbl.to_pylist()]
            rows = self.rest.json("GET", path)["rows"]
            return columns, [tuple(r[c] for c in columns) for r in rows]
        sql = (f"SELECT {', '.join(columns)} FROM sales_{table} WHERE {where} "
               f"ORDER BY {', '.join(order_by)} LIMIT {limit}")
        return Op("preview", "preview_arrow" if arrow else "preview_json",
                  fn, self.checker(sql))

    def ops(self, i: int) -> list[Op]:
        import numpy as np
        r = np.random.default_rng([self.seed, i % self.POOL])
        n_cust = self.tables["customer"].num_rows
        n_ord = self.tables["orders"].num_rows
        ck, k0 = int(r.integers(0, n_cust)), int(r.integers(0, n_ord - 400))
        price = 495000 - 100 * int(r.integers(0, 20))
        day = f"{1996 + int(r.integers(0, 5))}-0{1 + int(r.integers(0, 9))}-01"
        seg = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING",
               "HOUSEHOLD"][int(r.integers(0, 5))]
        nk, key = int(r.integers(0, 25)), int(r.integers(0, n_ord))
        q_agg = ("SELECT o_orderpriority, count(*) AS n, "
                 "sum(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents "
                 f"FROM sales_orders WHERE o_orderdate >= TIMESTAMP '{day}' "
                 "GROUP BY o_orderpriority")
        q_join = ("SELECT c.c_nationkey, count(*) AS n_orders FROM "
                  "sales_orders o JOIN sales_customer c ON o.o_custkey = "
                  f"c.c_custkey WHERE c.c_mktsegment = '{seg}' "
                  "GROUP BY c.c_nationkey")
        q_drv = ("SELECT l_returnflag, l_linestatus, count(*) AS n, "
                 "sum(CAST(l_quantity AS BIGINT)) AS qty FROM sales_lineitem "
                 f"WHERE l_shipdate < TIMESTAMP '{day}' "
                 "GROUP BY l_returnflag, l_linestatus")
        q_pg = ("SELECT count(*) AS n, sum(CAST(ROUND(o.o_totalprice * 100) "
                "AS BIGINT)) AS cents FROM cust_seg c JOIN sales_orders o "
                f"ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = {nk}")
        q_ext = ("SELECT o_orderpriority, count(*) AS n FROM ord_prio "
                 "WHERE o_orderkey > $1 GROUP BY o_orderpriority")

        def driver():
            out = self.driver.json("POST", "/driver/execute", {"command": {
                "type": "ExecuteQueryCommand", "projectId": self.project,
                "sql": q_drv}})["result"]["rows"]
            cols = list(out[0]) if out else []
            return cols, [tuple(row[c] for c in cols) for row in out]

        return [
            self.preview("orders", f"o_custkey = {ck}",
                         ["o_orderkey", "o_custkey", "o_totalprice",
                          "o_orderdate"], ["o_orderkey"], 100, False),
            self.preview("lineitem",
                         f"l_orderkey >= {k0} AND l_orderkey < {k0 + 50}",
                         ["l_orderkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_shipdate"],
                         ["l_orderkey", "l_linenumber"], 500, False),
            self.preview("orders", f"o_totalprice > {price}",
                         ["o_orderkey", "o_orderstatus", "o_totalprice"],
                         ["o_orderkey"], 200, True),
            Op("query", "query_agg", lambda: self.query(self.rest, q_agg),
               self.checker(q_agg)),
            Op("query", "query_join", lambda: self.query(self.rest, q_join),
               self.checker(q_join)),
            Op("query", "driver_query", driver, self.checker(q_drv)),
            Op("pgwire", "pg_simple", lambda: self.pg.simple(q_pg),
               self.checker(q_pg)),
            Op("pgwire", "pg_extended",
               lambda: self.pg.extended(q_ext, [str(key)]),
               self.checker(q_ext.replace("$1", str(key)))),
        ]

    def close(self) -> None:
        for c in ("pg", "rest", "driver"):
            if hasattr(self, c):
                getattr(self, c).close()


class IngestMutate(Workload):
    """Upsert, insert-if-absent, delete, read-after-write and export cycles
    on orders and lineitem; each cycle deletes the keys the previous one
    inserted, so table sizes stay steady."""
    name = "ingest_mutate"
    warmup, rounds = 1, 2
    SCALE, NEW_ORDERS, UPDATES, DUP_LINES = 0.25, 1250, 250, 125
    FIRST_NEW_KEY = 10**7

    def inputs(self) -> None:
        import fixtures
        t = fixtures.star(self.rng, self.SCALE)
        self.base = {k: t[k] for k in ("orders", "lineitem")}
        self.n_cust = t["customer"].num_rows
        self.n_part, self.n_supp = t["part"].num_rows, t["supplier"].num_rows
        self.paths = fixtures.write(self.base, os.path.join(self.work, "in"))
        self.n_orders = self.n_base = self.base["orders"].num_rows
        self.n_lines = self.base["lineitem"].num_rows
        self.log: list[tuple] = []          # the op log the replay follows
        # the first cycle deletes the last NEW_ORDERS orders of the base
        # table; every later one deletes the orders its predecessor added
        lo = self.n_orders - self.NEW_ORDERS
        keys = self.base["lineitem"]["l_orderkey"].to_numpy()
        self.prev = {"lo": lo, "hi": self.n_orders,
                     "lines": int((keys >= lo).sum())}

    def batch(self, i: int) -> dict:
        """Cycle ``i``'s inputs: orders as CSV (new keys plus updates of
        existing ones), lineitem as parquet (lines of the new orders plus
        existing keys, which ``do_nothing`` must ignore)."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.csv as pcsv
        import pyarrow.parquet as pq

        import fixtures
        r = self.rng
        lo = self.FIRST_NEW_KEY + i * self.NEW_ORDERS
        new = fixtures.orders(r, lo, self.NEW_ORDERS, self.n_cust)
        # updates hit base orders that no cycle deletes
        u0 = int(r.integers(0, self.n_base - self.NEW_ORDERS - self.UPDATES))
        upd = fixtures.orders(r, u0, self.UPDATES, self.n_cust)
        lines = fixtures.lineitem(r, new, self.n_part, self.n_supp)
        # existing lines of orders no cycle deletes
        kept = np.flatnonzero(self.base["lineitem"]["l_orderkey"].to_numpy()
                              < self.n_base - self.NEW_ORDERS)
        old = self.base["lineitem"].take(np.sort(r.choice(
            kept, self.DUP_LINES, replace=False)))
        old = old.set_column(4, "l_quantity", pa.array(
            r.integers(1, 51, self.DUP_LINES).astype("float64")))
        d = os.path.join(self.work, "batches")
        os.makedirs(d, exist_ok=True)
        csv, pqt = f"{d}/orders_{i}.csv", f"{d}/lineitem_{i}.parquet"
        pcsv.write_csv(pa.concat_tables([new, upd]), csv)
        pq.write_table(pa.concat_tables([lines, old]), pqt)
        cents = np.round(upd["o_totalprice"].to_numpy() * 100).astype("int64")
        return {"i": i, "lo": lo, "hi": lo + self.NEW_ORDERS, "csv": csv,
                "parquet": pqt, "lines": lines.num_rows, "u0": u0,
                "upd_cents": int(cents.sum()),
                "bytes": os.path.getsize(csv) + os.path.getsize(pqt)}

    def import_orders(self, b: dict) -> None:
        t = self.tables_path()
        out = self.rest.json("POST", f"{t}/orders/import/file", {
            "path": b["csv"], "format": "csv",
            "import_options": {"incremental": True,
                               "dedup_mode": "update_duplicates"}})
        self.log.append(("upsert_orders", b["csv"]))
        self.expect(out, rows_before=self.n_orders,
                    rows_after=self.n_orders + self.NEW_ORDERS)
        self.n_orders += self.NEW_ORDERS

    def import_lines(self, b: dict) -> None:
        out = self.rest.json(
            "POST", f"{self.tables_path()}/lineitem/import/file", {
                "path": b["parquet"], "format": "parquet",
                "import_options": {"incremental": True,
                                   "dedup_mode": "do_nothing"}})
        self.log.append(("insert_lines", b["parquet"]))
        self.expect(out, rows_before=self.n_lines,
                    rows_after=self.n_lines + b["lines"])
        self.n_lines += b["lines"]

    @staticmethod
    def expect(out: dict, **want) -> None:
        got = {k: out.get(k) for k in want}
        if got != want:
            raise AssertionError(f"{got} != {want}")

    def delete(self, table: str, key: str, b: dict, n: int) -> None:
        out = self.rest.json("DELETE", f"{self.tables_path()}/{table}/rows", {
            "where_filters": [
                {"column": key, "operator": "ge", "values": [b["lo"]],
                 "dataType": "BIGINT"},
                {"column": key, "operator": "lt", "values": [b["hi"]],
                 "dataType": "BIGINT"}]})
        self.log.append((f"delete_{table}", key, b["lo"], b["hi"]))
        self.expect(out, rows_deleted=n)

    def load(self) -> None:
        self.rest = Http(self.prog.ports["http"])
        p = self.project
        self.rest.json("POST", "/projects", {"id": p})
        self.rest.json("POST", f"/projects/{p}/branches/default/buckets",
                       {"name": self.bucket})
        self.create_and_load(self.rest, "orders", self.base["orders"],
                             self.paths["orders"], ["o_orderkey"])
        self.create_and_load(self.rest, "lineitem", self.base["lineitem"],
                             self.paths["lineitem"],
                             ["l_orderkey", "l_linenumber"])

    def ops(self, i: int) -> list[Op]:
        b, prev = self.batch(i + 1), self.prev
        self.prev = b

        def upsert():
            self.import_orders(b)
            self.user_bytes += os.path.getsize(b["csv"])

        def insert():
            self.import_lines(b)
            self.user_bytes += os.path.getsize(b["parquet"])

        def del_orders():
            self.delete("orders", "o_orderkey", prev, self.NEW_ORDERS)
            self.n_orders -= self.NEW_ORDERS

        def del_lines():
            self.delete("lineitem", "l_orderkey", prev, prev["lines"])
            self.n_lines -= prev["lines"]

        def read_after_write():
            sql = ("SELECT count(*) AS n, sum(CASE WHEN o_orderkey >= "
                   f"{b['u0']} AND o_orderkey < {b['u0'] + self.UPDATES} "
                   "THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END)"
                   f" AS upd_cents, sum(CASE WHEN o_orderkey >= {b['lo']} "
                   "THEN 1 ELSE 0 END) AS n_new FROM sales_orders")
            cols, rows = self.query(self.rest, sql)
            got = dict(zip(cols, map(int, rows[0])))
            want = {"n": self.n_orders, "upd_cents": b["upd_cents"],
                    "n_new": self.NEW_ORDERS}
            if got != want:
                raise AssertionError(f"{got} != {want}")

        def export():
            out = self.rest.json(
                "POST", f"{self.tables_path()}/orders/export", {
                    "format": "csv", "compression": "gzip",
                    "where_filters": [
                        {"column": "o_orderkey", "operator": "ge",
                         "values": [b["lo"]], "dataType": "BIGINT"}]})
            self.expect(out, rows_exported=self.NEW_ORDERS)
        return [Op("import", "import_orders_csv", upsert),
                Op("import", "import_lineitem_parquet", insert),
                Op("delete", "delete_orders", del_orders),
                Op("delete", "delete_lineitem", del_lines),
                Op("query", "read_after_write", read_after_write),
                Op("export", "export_orders_csv_gz", export)]

    FINGERPRINT = {
        "orders": ("SELECT count(*) AS n, sum(o_orderkey) AS k, "
                   "sum(o_custkey) AS c, sum(o_orderkey * (CAST(ROUND("
                   "o_totalprice * 100) AS BIGINT) % 1000003)) AS p, "
                   "sum(length(o_orderstatus) + length(o_orderpriority)) AS s,"
                   " count(DISTINCT o_orderdate) AS d FROM {t}"),
        "lineitem": ("SELECT count(*) AS n, sum(l_orderkey * l_linenumber) "
                     "AS k, sum(l_linenumber * (CAST(ROUND(l_extendedprice * "
                     "100) AS BIGINT) % 1000003)) AS p, sum(CAST(l_quantity "
                     "AS BIGINT) * l_partkey) AS q, count(DISTINCT "
                     "l_shipdate) AS d FROM {t}"),
    }
    ORDERS_CSV = ("{'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT', "
                  "'o_orderstatus': 'VARCHAR', 'o_totalprice': 'DOUBLE', "
                  "'o_orderdate': 'TIMESTAMP', 'o_orderpriority': 'VARCHAR'}")

    def finish(self) -> list[str]:
        """Content fingerprint of both tables against a DuckDB replay of
        the op log over the same inputs."""
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads=1")
        for t in ("orders", "lineitem"):
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                        f"read_parquet('{self.paths[t]}')")
        for op, *a in self.log:
            if op == "upsert_orders":
                src = (f"read_csv('{a[0]}', header=true, "
                       f"columns={self.ORDERS_CSV})")
                con.execute(f"DELETE FROM orders WHERE o_orderkey IN "
                            f"(SELECT o_orderkey FROM {src})")
                con.execute(f"INSERT INTO orders SELECT * FROM {src}")
            elif op == "insert_lines":
                con.execute(
                    "INSERT INTO lineitem SELECT * FROM "
                    f"read_parquet('{a[0]}') b WHERE NOT EXISTS "
                    "(SELECT 1 FROM lineitem l WHERE "
                    "l.l_orderkey = b.l_orderkey AND "
                    "l.l_linenumber = b.l_linenumber)")
            else:
                table, key, lo, hi = op[len("delete_"):], *a
                con.execute(f"DELETE FROM {table} WHERE {key} >= {lo} "
                            f"AND {key} < {hi}")
        failed = []
        for t, sql in self.FINGERPRINT.items():
            cols, rows = self.query(self.rest, sql.format(t=f"sales_{t}"))
            got = {c: int(v) for c, v in zip(cols, rows[0])}
            res = con.execute(sql.format(t=t))
            want = {d[0]: int(v) for d, v in zip(res.description,
                                                   res.fetchone())}
            if got != want:
                failed.append(f"{t} content {got} != replay {want}")
        return failed

    def close(self) -> None:
        if hasattr(self, "rest"):
            self.rest.close()


class Analytics(Workload):
    """One pass over registry queries per round, in the program's process,
    on generated fixtures of a tenth of sf0.1 (the pass is dominated by
    per-job overhead at this size, as at sf0.1)."""
    name = "analytics"
    SCALE = 0.1
    warmup, rounds = 3, 3

    def inputs(self) -> None:
        import fixtures
        t = {**fixtures.star(self.rng, self.SCALE),
             **fixtures.extras(self.rng, self.SCALE)}
        self.sf_dir = os.path.join(self.work, "sf")
        paths = fixtures.write(t, self.sf_dir)
        sys.path.insert(0, ROOT)
        import __spark_entry__
        import oracle
        self.expected = oracle.registry_digests(
            duck_con(paths), ANALYTICS, __spark_entry__.oracle_sql(),
            oracle.file_hash(paths.values()),
            os.path.join(BENCH, ".work", "oracle-cache"))

    def ops(self, i: int) -> list[Op]:
        def run(q):
            return lambda: self.prog.call("query", name=q, sf_dir=self.sf_dir)
        import oracle
        return [Op("pass", q, run(q), lambda out, q=q: oracle.matches(
                    out["digests"], self.expected[q]))
                for q in ANALYTICS]


WORKLOADS = {w.name: w for w in (ServeRead, IngestMutate, Analytics)}


# ------------------------------------------------------------------- runner
def execute(wl: Workload, i: int, trace: bool) -> list[dict]:
    out = []
    for j, op in enumerate(wl.ops(i)):
        rec = {"id": f"{i}.{j}", "round": i, "cls": op.cls, "name": op.name,
               "ok": True, "rows": 0, "op": op}
        if trace:
            wl.prog.call("begin", op=rec["id"])
        t0 = now()
        try:
            rec["out"] = op.fn()
        except (OpError, AssertionError, OSError, ValueError, KeyError,
                http.client.HTTPException) as e:
            rec["ok"], rec["error"] = False, f"{type(e).__name__}: {e}"
        rec["ms"] = (now() - t0) * 1000
        if trace:
            wl.prog.call("end", op=rec["id"])
        out_ = rec.get("out")
        if isinstance(out_, dict) and "ms" in out_:    # timed in process
            rec["ms"], rec["rows"] = out_["ms"], out_["rows"]
        elif isinstance(out_, tuple):
            rec["rows"] = len(out_[1])
        out.append(rec)
    return out


def verify(records: list[dict]) -> None:
    for r in records:
        op = r.pop("op")
        if r["ok"] and op.check is not None and not op.check(r["out"]):
            r["ok"], r["error"] = False, "output differs from the oracle"
        r.pop("out", None)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(records, stats, w0, w1, space, user_bytes, setup) -> dict:
    """Per-layer metrics of a traced run (see README.md for each one)."""
    m = dict(setup)
    by_round: dict[int, list] = {}
    for r in records:
        by_round.setdefault(r["round"], []).append(r)
    ops = [(r, stats.get(r["id"], {})) for r in records]

    def per_op(cls, f, names=None):
        return median([f(r, s) for r, s in ops if r["cls"] == cls
                       and (names is None or r["name"] in names)])
    for c in OP_CLASSES[:-1]:
        m[f"{c}.p50_ms"] = per_op(c, lambda r, s: r["ms"])
    m["pass.p50_ms"] = median([sum(r["ms"] for r in rs)
                               for rs in by_round.values()
                               if rs[0]["cls"] == "pass"])

    def self_ms(r, s):
        return r["ms"] - s.get("engine.outer.ms", 0.0)
    rest_q = {"query_agg", "query_join", "read_after_write"}
    m["app.self_ms.preview"] = per_op("preview", self_ms)
    m["app.self_ms.query"] = per_op("query", self_ms, rest_q)
    m["app.resp_bytes.preview"] = per_op(
        "preview", lambda r, s: s.get("service.app.resp_bytes", 0.0))
    m["driver.self_ms.query"] = per_op("query", self_ms, {"driver_query"})
    m["pgwire.self_ms"] = per_op("pgwire", self_ms)
    m["pgwire.bytes_sent"] = per_op(
        "pgwire", lambda r, s: s.get("pgwire.bytes_sent", 0.0))
    for name, (_, key) in ROUND_LAYER.items():
        m[name] = median([sum(stats.get(r["id"], {}).get(key, 0.0)
                              for r in rs) for rs in by_round.values()])
    calls = sum(s.get("engine.register_project_views.calls", 0.0)
                for _, s in ops)
    hits = sum(s.get("engine.view_cache_hits", 0.0) for _, s in ops)
    m["engine.view_cache_hit_ratio"] = hits / calls if calls else 0.0
    io0, io1 = w0["io"].get("write_bytes", 0), w1["io"].get("write_bytes", 0)
    m["engine.write_bytes_per_user_byte"] = \
        (io1 - io0) / user_bytes if user_bytes else 0.0
    m["engine.space_amp"] = space[1] / space[0] if space[0] else 1.0
    for q in ANALYTICS:
        m[f"q.{q}.ms"] = median([r["ms"] for r in records if r["name"] == q])

    def spark(r, s, k):
        if k == "result_rows":
            return r["rows"]
        if k == "driver_ms":
            return r["ms"] - s.get("spark.job_wall_ms", 0.0)
        return s.get(f"spark.{k}", 0.0)
    for k in SPARK_KEYS:
        for c in OP_CLASSES:
            if c == "pass":   # a pass is a round of queries
                m[f"spark.{k}.{c}"] = median([
                    sum(spark(r, stats.get(r["id"], {}), k) for r in rs)
                    for rs in by_round.values() if rs[0]["cls"] == c])
            else:
                m[f"spark.{k}.{c}"] = per_op(
                    c, lambda r, s, k=k: spark(r, s, k))
    # a job missing from the status store (evicted or never posted) counts
    # as unattributed; run() also fails the traced run for it
    m["spark.unattributed_jobs"] = (w1["job"] - w0["job"]) - sum(
        s.get("spark.jobs", 0.0) for _, s in ops)
    m["trace.overhead_ms"] = median([s.get("trace.overhead_ms", 0.0)
                                     for _, s in ops])
    m["trace.round_s"] = median([sum(r["ms"] for r in rs) / 1000
                                 for rs in by_round.values()])
    return m


def run(wl: Workload, seconds: float, trace: bool) -> dict:
    t = now()
    wl.inputs()
    print(f"inputs {now() - t:.2f}s", file=sys.stderr)
    wl.prog = Program(wl.work, trace)
    t = now()
    wl.load()
    load_s = now() - t
    t = now()
    warm = [r for i in range(wl.warmup) for r in execute(wl, i, False)]
    warmup_s = now() - t
    setup = {"session.start_s": wl.prog.start_s, "setup.load_s": load_s,
             "setup.warmup_s": warmup_s}
    print(f"setup {setup}", file=sys.stderr)
    print("warm-up round_s", [round(sum(r["ms"] for r in warm
                                        if r["round"] == k) / 1000, 3)
                              for k in range(wl.warmup)], file=sys.stderr)
    warehouse = os.path.join(wl.work, "warehouse")
    w0, space0 = wl.prog.call("window"), dir_bytes(warehouse)
    wl.user_bytes = 0
    records, i, t_start = [], wl.warmup, now()
    while i < wl.warmup + wl.rounds or now() - t_start < seconds:
        records += execute(wl, i, trace)
        i += 1
    w1, space1 = wl.prog.call("window"), dir_bytes(warehouse)
    round_s = [sum(r["ms"] for r in records if r["round"] == k) / 1000
               for k in range(wl.warmup, i)]
    print("round_s", [round(x, 3) for x in round_s], file=sys.stderr)
    verify(warm)
    verify(records)
    failures = [f"{r['name']}: {r['error']}" for r in warm + records
                if not r["ok"]]
    end_failures = wl.finish()
    if trace:
        stats = wl.prog.call("stats")
        stats.pop("ok")
        missing = sum(s.get("spark.jobs_missing", 0) for s in stats.values())
        if missing:
            end_failures.append(f"{missing:.0f} Spark jobs of the window "
                                "are missing from the status store")
        metrics = layer_metrics(records, stats, w0, w1, (space0, space1),
                                wl.user_bytes, setup)
        metrics["session.peak_rss_mb"] = wl.prog.call("rss")["peak_rss_mb"]
        units = per_layer_units()
    else:
        metrics = {
            "setup_s": sum(setup.values()),
            "round_s": median(round_s),
            "cpu_ms_per_op": (w1["cpu_s"] - w0["cpu_s"]) * 1000 / len(records)}
        units = END_TO_END
    for f in failures + end_failures:
        print(f"FAILED {f}", file=sys.stderr)
    failed = sum(not r["ok"] for r in records)
    return {"correct": not failures and not end_failures,
            "attempted": len(records), "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()}}


def checkout_ok() -> bool:
    return all(os.path.exists(os.path.join(ROOT, p)) for p in (
        "__spark_entry__.py", "tools/check_oracle.py",
        "keboola_storage_duckdb_spark/service/app.py"))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not checkout_ok():
        print("run from the root of a checkout of the program "
              "(__spark_entry__.py, tools/, keboola_storage_duckdb_spark/)",
              file=sys.stderr)
        return 2

    def timeout(*_):
        raise TimeoutError(f"run exceeded {WATCHDOG_S}s")
    adopt_orphans()
    signal.signal(signal.SIGALRM, timeout)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))  # clean up
    signal.alarm(WATCHDOG_S)
    work = os.path.join(BENCH, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    wl = WORKLOADS[args.workload](work, args.seed)
    try:
        result = run(wl, args.seconds, bool(args.trace))
    finally:
        signal.alarm(0)       # nothing interrupts the clean-up
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        wl.close()
        stop_all()
        if wl.prog is not None:
            wl.prog.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
