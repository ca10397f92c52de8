"""The closed-loop workloads: one client, next operation after the last one.

Each workload drives the package only through its public entry points and
checks every result outside the timed region. ``Recorder`` keeps the timed
samples; the per-layer numbers come from ``trace`` and are computed only
when the run is traced.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from cdcgen import CUSTOMER, ORDERS, SPECS, ChangeStream, Reference
from host import tree_cpu_s
from trace import tracker_phases


@dataclass
class Recorder:
    """Timed samples and outcomes of one phase (warm-up or measured).

    An operation can be marked disturbed (the host stole CPU while it ran);
    ``clean()`` then leaves it out of the timing statistics. It still counts
    as attempted, and as failed if it failed.
    """

    spark: object
    trace: bool
    samples: list = field(default_factory=list)  # (kind, seconds, cpu s, group, op)
    ops: list = field(default_factory=list)      # [items, ok, disturbed]
    trace_s: float = 0.0   # benchmark time spent on trace bookkeeping

    def timed(self, kind: str, group: str, fn):
        """Run ``fn`` as one timed sample of ``kind``; Spark jobs it starts
        carry job group ``group`` when tracing."""
        if self.trace:
            t = time.perf_counter()
            self.spark.sparkContext.setJobGroup(group, group)
            self.trace_s += time.perf_counter() - t
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            secs = time.perf_counter() - t0
            cpu = tree_cpu_s() - c0
            self.samples.append((kind, secs, cpu, group, len(self.ops) - 1))
            if self.trace:  # later untimed work must not join this group
                t = time.perf_counter()
                self.spark.sparkContext.setJobGroup("between", "between")
                self.trace_s += time.perf_counter() - t

    def operation(self, items: int, fn) -> bool:
        """One attempted operation; it fails if it raises or returns False."""
        op = [items, False, False]
        self.ops.append(op)
        try:
            op[1] = bool(fn())
        except Exception:
            traceback.print_exc(file=sys.stderr)
        return op[1]

    def disturb(self, first_op: int) -> None:
        for op in self.ops[first_op:]:
            op[2] = True

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not ok for _, ok, _ in self.ops)

    @property
    def disturbed(self) -> int:
        return sum(d for _, _, d in self.ops)

    def busy_s(self) -> float:
        return sum(s[1] for s in self.samples)

    def clean(self) -> dict:
        """Timing statistics over undisturbed operations (all of them when
        every operation was disturbed)."""
        keep = {i for i, (_, _, d) in enumerate(self.ops) if not d} or \
            set(range(len(self.ops)))
        out = {"write": [], "read": [], "ddl": [], "busy_s": 0.0, "cpu_s": 0.0,
               "items": sum(self.ops[i][0] for i in keep if self.ops[i][1])}
        for kind, secs, cpu, _, op in self.samples:
            if op in keep:
                out[kind].append(secs)
                out["busy_s"] += secs
                out["cpu_s"] += cpu
        return out


def _land(path: str, lines: list[str]) -> int:
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
        f.write("\n")
    return os.path.getsize(path)


def _snapshot_dir(state_root: str, qualified: str) -> str | None:
    """Newest committed snapshot directory of a table under the pipeline's
    documented layout ``state_root/db.table/v{n}``, or None."""
    done = [os.path.dirname(p) for p in
            glob.glob(os.path.join(state_root, qualified, "v*", "_SUCCESS"))]
    return max(done, key=lambda d: int(os.path.basename(d)[1:]), default=None)


class CdcIngest:
    """A Canal stream through one two-route ``CdcPipeline``: per operation,
    apply one landed micro-batch, then a FINAL read with one aggregate."""

    name = "cdc_ingest"
    warmup_ops = 3
    batch_rows = 2000
    jvm_flags = ""  # executor code dominates, and C2 runs it 1.5x faster

    def __init__(self, spark, run_dir: str, seed: int, trace: bool):
        from canal_clickhouse_spark.pipeline import CdcPipeline, TableSync

        self.spark, self.run_dir, self.seed, self.trace = spark, run_dir, seed, trace
        self.batch_dir = os.path.join(run_dir, "batches")
        os.makedirs(self.batch_dir, exist_ok=True)
        self.state_root = os.path.join(run_dir, "cdc_state")
        self.rules = [TableSync(s.database, s.table, s.pk, dict(s.mapping), s.mode)
                      for s in (ORDERS, CUSTOMER)]
        self.pipe = CdcPipeline(spark, self.rules, self.state_root)
        self.n = 0
        self.layer: dict = {"read_phases": [], "read_files": [], "batch_bytes": 0,
                            "measured_batches": []}

    # -- set-up ----------------------------------------------------------------

    def make_inputs(self) -> None:
        self.stream = ChangeStream(self.seed)
        self.ref = Reference()
        load = self.stream.initial_load()
        self.ref.apply(load.lines)
        self.load_path = os.path.join(self.batch_dir, "load.jsonl")
        _land(self.load_path, load.lines)

    def load(self) -> None:
        self.pipe.apply_messages(self.spark.read.text(self.load_path), "value")

    # -- one operation ---------------------------------------------------------

    def _final_read(self):
        from pyspark.sql import functions as F

        return (self.pipe.read_table("shop", "orders")
                .groupBy("o_orderstatus")
                .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("price"),
                     F.sum("o_custkey").alias("cust"),
                     F.sum(F.unix_date("o_orderdate")).alias("days")))

    def op(self, rec: Recorder, measured: bool) -> None:
        i = self.n
        self.n += 1
        batch = self.stream.next_batch(self.batch_rows)
        path = os.path.join(self.batch_dir, f"b{i:05d}.jsonl")
        size = _land(path, batch.lines)
        self.ref.apply(batch.lines)
        expected = self.ref.orders_summary()
        tag = "m" if measured else "w"
        held = {}

        def run() -> bool:
            rec.timed("write", f"{tag}.apply.{i}", lambda: self.pipe.apply_messages(
                self.spark.read.text(path), "value"))

            def read():
                held["df"] = self._final_read()
                return held["df"].collect()

            rows = rec.timed("read", f"{tag}.read.{i}", read)
            got = {r["o_orderstatus"]: (r["n"], r["price"], r["cust"], r["days"])
                   for r in rows}
            return got == expected

        rec.operation(batch.change_rows, run)
        if measured:
            self.layer["measured_batches"].append((i, path))
            self.layer["batch_bytes"] += size
            if self.trace and "df" in held:
                t = time.perf_counter()
                self.layer["read_phases"].append(tracker_phases(held["df"]))
                self.layer["read_files"].append(
                    len(self.pipe.read_table("shop", "orders").inputFiles()))
                rec.trace_s += time.perf_counter() - t

    # -- after the measured phase ----------------------------------------------

    def final_check(self) -> bool:
        """Full FINAL state of both routes against the reference."""
        ok = True
        for q, spec in SPECS.items():
            got = {tuple(r) for r in self.pipe.read_table(spec.database, spec.table)
                   .select(*spec.cols).collect()}
            ok &= got == self.ref.rows(q)
        return ok

    def probes(self, groups_prefix: str = "p") -> dict:
        """Untimed layer probes over the last measured batches: the envelope
        parse alone, and the version merge alone over state ∪ batch."""
        from pyspark.sql import functions as F
        from canal_clickhouse_spark.cdc.apply import collapse_signs, latest_per_key
        from canal_clickhouse_spark.cdc.envelope import parse_envelope

        out = {"parse_s": [], "rows_out": [], "merge_s": [], "groups": []}
        sc = self.spark.sparkContext
        for i, path in self.layer["measured_batches"][-3:]:
            msgs = self.spark.read.text(path)
            env = msgs.select(F.col("value").alias("msg"),
                              F.get_json_object("value", "$.database").alias("_db"),
                              F.get_json_object("value", "$.table").alias("_tbl"))
            sc.setJobGroup(f"{groups_prefix}.parse.{i}", "probe")
            t0 = time.perf_counter()
            rows = 0
            typed = {}
            for spec in (ORDERS, CUSTOMER):
                routed = env.filter((F.col("_db") == spec.database)
                                    & (F.col("_tbl") == spec.table))
                typed[spec.table] = parse_envelope(routed.select("msg"), dict(spec.mapping))
                rows += typed[spec.table].count()
            out["parse_s"].append(time.perf_counter() - t0)
            out["rows_out"].append(rows)
            sc.setJobGroup(f"{groups_prefix}.merge.{i}", "probe")
            t0 = time.perf_counter()
            for spec in (ORDERS, CUSTOMER):
                snap = _snapshot_dir(self.state_root, f"{spec.database}.{spec.table}")
                if snap is None:
                    continue
                state = self.spark.read.parquet(snap)
                batch = typed[spec.table].select(*spec.cols, "op",
                                           F.unix_millis("event_time").alias("version"))
                if spec.mode == "replacing":
                    merged = latest_per_key(state.unionByName(batch), spec.pk)
                else:
                    signs = batch.select(*spec.cols, "version", F.explode(
                        F.when(F.col("op") == "INSERT", F.array(F.lit(1)))
                        .when(F.col("op") == "UPDATE", F.array(F.lit(-1), F.lit(1)))
                        .otherwise(F.array(F.lit(-1)))).alias("sign"))
                    merged = collapse_signs(state.unionByName(signs), spec.pk,
                                            [c for c in spec.cols if c != spec.pk])
                merged.count()
            out["merge_s"].append(time.perf_counter() - t0)
            out["groups"].append(i)
        sc.setJobGroup("", "")
        return out

    def state_stats(self) -> dict:
        import pyarrow.parquet as pq

        rows = size = files = 0
        for q in SPECS:
            snap = _snapshot_dir(self.state_root, q)
            if snap is None:
                continue
            for p in glob.glob(os.path.join(snap, "*.parquet")):
                files += 1
                size += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
        return {"rows": rows, "bytes": size, "files": files}


def tie_probe(spark, run_dir: str, seed: int) -> int:
    """Keys whose FINAL row differs from the reference when the stream may
    change one row twice inside one binlog second (the version tie)."""
    from canal_clickhouse_spark.pipeline import CdcPipeline, TableSync

    rules = [TableSync(s.database, s.table, s.pk, dict(s.mapping), s.mode)
             for s in (ORDERS, CUSTOMER)]
    pipe = CdcPipeline(spark, rules, os.path.join(run_dir, "tie_state"))
    stream = ChangeStream(seed + 1_000_003, n_orders=2_000, n_customers=500,
                          tie_free=False)
    ref = Reference()
    for k, batch in enumerate([stream.initial_load(), stream.next_batch(1000)]):
        path = os.path.join(run_dir, f"tie_{k}.jsonl")
        _land(path, batch.lines)
        ref.apply(batch.lines)
        pipe.apply_messages(spark.read.text(path), "value")
    mismatched = 0
    for q, spec in SPECS.items():
        got = {r[0]: tuple(r) for r in pipe.read_table(spec.database, spec.table)
               .select(*spec.cols).collect()}
        want = {row[0]: row for row in ref.rows(q)}
        mismatched += sum(got.get(k) != want.get(k) for k in set(got) | set(want))
    return mismatched


# -- ChSession -------------------------------------------------------------------

CH_DDL = [
    ("DROP TABLE IF EXISTS bench_orders", "DROP TABLE IF EXISTS bench_orders"),
    ("CREATE TABLE bench_orders (o_orderkey Int64, o_custkey Int64,"
     " o_orderstatus String, o_totalprice Decimal(12, 2), o_orderdate Date,"
     " o_orderpriority String, ver UInt32)"
     " ENGINE = ReplacingMergeTree(ver) ORDER BY o_orderkey",
     "CREATE TABLE bench_orders (o_orderkey BIGINT, o_custkey BIGINT,"
     " o_orderstatus VARCHAR, o_totalprice DECIMAL(12,2), o_orderdate DATE,"
     " o_orderpriority VARCHAR, ver UINTEGER)"),
]
CH_INSERT_SELECT = (
    "INSERT INTO bench_orders SELECT o_orderkey, o_custkey, o_orderstatus,"
    " toDecimal64(o_totalprice, 2), toDate(o_orderdate), o_orderpriority, 1"
    " FROM orders",
    "INSERT INTO bench_orders SELECT o_orderkey, o_custkey, o_orderstatus,"
    " CAST(o_totalprice AS DECIMAL(12,2)), CAST(o_orderdate AS DATE),"
    " o_orderpriority, 1 FROM orders",
)
# FINAL over ReplacingMergeTree(ver): the highest ver per key wins
DUCK_FINAL = ("CREATE OR REPLACE VIEW bench_final AS SELECT * EXCLUDE (ver)"
              " FROM bench_orders QUALIFY row_number() OVER"
              " (PARTITION BY o_orderkey ORDER BY ver DESC) = 1")
CH_SELECTS = [
    ("SELECT o_orderstatus, count() AS n, sum(o_totalprice) AS total"
     " FROM bench_orders FINAL GROUP BY o_orderstatus",
     "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total"
     " FROM bench_final GROUP BY 1"),
    ("SELECT toStartOfMonth(o_orderdate) AS month, uniqExact(o_custkey) AS custs,"
     " countIf(o_orderpriority = '1-URGENT') AS urgent"
     " FROM bench_orders FINAL GROUP BY month",
     "SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,"
     " count(DISTINCT o_custkey) AS custs,"
     " count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent"
     " FROM bench_final GROUP BY 1"),
    ("SELECT o_custkey, o_orderkey, o_totalprice FROM bench_orders FINAL"
     " ORDER BY o_custkey, o_totalprice DESC, o_orderkey LIMIT 2 BY o_custkey",
     "SELECT o_custkey, o_orderkey, o_totalprice FROM bench_final QUALIFY"
     " row_number() OVER (PARTITION BY o_custkey"
     " ORDER BY o_totalprice DESC, o_orderkey) <= 2"),
    # `bench_orders AS o FINAL` is valid CH but the translator rejects the
    # alias-then-FINAL spelling, so the join reads FINAL through a subquery
    ("SELECT c.c_mktsegment AS seg, count() AS n, sum(o.o_totalprice) AS total"
     " FROM (SELECT o_custkey, o_totalprice FROM bench_orders FINAL) AS o"
     " INNER JOIN customer AS c ON o.o_custkey = c.c_custkey GROUP BY seg",
     "SELECT c.c_mktsegment AS seg, count(*) AS n, sum(o.o_totalprice) AS total"
     " FROM bench_final AS o JOIN customer AS c ON o.o_custkey = c.c_custkey"
     " GROUP BY 1"),
    ("SELECT l_returnflag, toYear(l_shipdate) AS y, count() AS n,"
     " sum(l_quantity) AS qty FROM lineitem WHERE l_discount > 0.05"
     " GROUP BY l_returnflag, y",
     "SELECT l_returnflag, CAST(year(l_shipdate) AS BIGINT) AS y, count(*) AS n,"
     " sum(l_quantity) AS qty FROM lineitem WHERE l_discount > 0.05 GROUP BY 1, 2"),
]
FIXTURE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")


class ChSessionWorkload:
    """A CH client session over sf0.01 tables; one operation is one statement,
    one pass re-creates a ReplacingMergeTree table, fills it and queries it."""

    name = "ch_session"
    warmup_ops = 2  # passes
    # Statements are driver-side dispatch that C2 never pays back within a
    # run: C1 only runs them as fast, with 40% less CPU and no run-to-run
    # split between runs whose C2 compiles landed before the window and not.
    jvm_flags = "-XX:TieredStopAtLevel=1"
    values_blocks = 3
    values_rows = 40

    def __init__(self, spark, run_dir: str, seed: int, trace: bool):
        self.spark, self.run_dir, self.seed, self.trace = spark, run_dir, seed, trace
        self.sf_dir = os.path.join(run_dir, "sf")
        self.parts_dir = os.path.join(run_dir, "parts")
        self.n = 0
        self.layer: dict = {"select_phases": [], "insert_files": [], "stmt": []}
        self.translate = None  # a trace.Wrap while tracing

    def make_inputs(self) -> None:
        import duckdb
        from fixtures import write_fixtures

        tables = write_fixtures(self.sf_dir, self.seed)
        self.n_orders = tables["orders"].num_rows
        self.n_customers = tables["customer"].num_rows
        self.rng = np.random.default_rng(self.seed)
        self.duck = duckdb.connect()
        self.duck.sql("SET TimeZone='UTC'")
        self.duck.sql("SET threads=1")
        for t in FIXTURE_TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            self.duck.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def load(self) -> None:
        from canal_clickhouse_spark.chsql_ddl import ChSession

        self.ch = ChSession(self.spark, self.sf_dir, parts_dir=self.parts_dir)

    def _values(self, ver: int) -> str:
        r = self.rng
        keys = r.choice(self.n_orders, self.values_rows, replace=False)
        rows = []
        for k in keys:
            day = int(r.integers(0, 2400))
            rows.append((int(k), int(r.integers(0, self.n_customers)),
                         "FOP"[int(r.integers(0, 3))],
                         f"{int(r.integers(90_000, 50_000_000)) / 100:.2f}", day,
                         ("1-URGENT", "2-HIGH", "3-MEDIUM")[int(r.integers(0, 3))]))
        base = dt.date(1995, 1, 1)
        body = ", ".join(
            f"({k}, {c}, '{s}', {p}, '{(base + dt.timedelta(days=d)).isoformat()}',"
            f" '{q}', {ver})" for k, c, s, p, d, q in rows)
        return f"INSERT INTO bench_orders VALUES {body}"

    def _files(self) -> int:
        return sum(len(fs) for _, _, fs in os.walk(self.parts_dir))

    def _statement(self, rec: Recorder, kind: str, group: str, ch_sql: str,
                   duck_sql: str | None, check: str | None) -> None:
        """One statement as one operation: timed execute (and collect for a
        SELECT), then its DuckDB mirror or oracle outside the timer."""
        layer = self.layer
        held = {}

        def run() -> bool:
            files0 = self._files() if self.trace and kind == "write" else 0
            tr0 = self.translate.seconds if self.translate else 0.0

            def execute():
                out = self.ch.execute(ch_sql)
                if kind == "read":
                    held["df"] = out
                    return out.toArrow()
                return out

            result = rec.timed(kind, group, execute)
            if self.trace:
                t = time.perf_counter()
                layer["stmt"].append((group, kind, rec.samples[-1][1],
                                      self.translate.seconds - tr0))
                if kind == "write":
                    layer["insert_files"].append(self._files() - files0)
                rec.trace_s += time.perf_counter() - t
            if duck_sql is not None:
                self.duck.sql(duck_sql)
            if check is None:
                return True
            from oracle_compare import assert_tables_match
            try:
                assert_tables_match(result, self.duck.sql(check).arrow(), group)
            except AssertionError as e:
                print(str(e)[:2000], file=sys.stderr)
                return False
            return True

        rec.operation(1, run)
        if self.trace and kind == "read" and "df" in held:
            t = time.perf_counter()
            layer["select_phases"].append(tracker_phases(held["df"]))
            rec.trace_s += time.perf_counter() - t

    def op(self, rec: Recorder, measured: bool) -> None:
        """One pass: DROP+CREATE, the INSERTs, then the SELECTs."""
        p = self.n
        self.n += 1
        tag = "m" if measured else "w"
        for j, (ch_sql, duck_sql) in enumerate(CH_DDL):
            self._statement(rec, "ddl", f"{tag}.ddl.{p}.{j}", ch_sql, duck_sql, None)
        self._statement(rec, "write", f"{tag}.insert.{p}.0", *CH_INSERT_SELECT, None)
        for v in range(self.values_blocks):
            sql = self._values(2 + v)
            self._statement(rec, "write", f"{tag}.insert.{p}.{1 + v}", sql, sql, None)
        self.duck.sql(DUCK_FINAL)
        for j, (ch_sql, oracle) in enumerate(CH_SELECTS):
            self._statement(rec, "read", f"{tag}.select.{p}.{j}", ch_sql, None, oracle)


WORKLOADS = {w.name: w for w in (CdcIngest, ChSessionWorkload)}
