"""``migrate``: the point-in-time migration (plan → copy → verify).

Set-up builds a seeded multi-commit source warehouse:

- ``lineitem_snap`` partitioned by ship month, in four appends; the
  seed decides which rows land in which append;
- ``orders_snap`` as an append and then an overwrite that drops one
  seeded order status;
- ``typed_snap``: 100 rows covering nested and exotic types;
- ``nation_snap`` and ``region_snap``: small dimension tables.

Each unit plans the migration as of a fixed instant between the third
and fourth lineitem append, copies every table into a fresh target
catalog and verifies it. The check recomputes every table at its
planned snapshot in DuckDB and compares it with what the target reads
back; every ``verify()`` row must also report ``success``.
"""

from __future__ import annotations

import shutil
from concurrent.futures import ThreadPoolExecutor

import gen
import oracle
from pyspark.sql import functions as F
from workloads import Metric, Unit, Workload, p50, register

from apache_iceberg_tables_migration_tool_spark import plans as P
from apache_iceberg_tables_migration_tool_spark.sources.snapcat import SnapCatalog

_T = [f"2024-06-0{i}T00:00:00.000000+00:00" for i in range(1, 7)]
AS_OF = "2024-06-03T12:00:00+00:00"
_APPENDS = 4  # lineitem commits; the plan's as-of falls after the third
_PLANNED = 3
_STATUSES = ["F", "O", "P"]

_TYPED_SQL = """
SELECT event_id AS id, value > 50 AS flag, CAST(value AS DECIMAL(12,2)) AS d,
       CAST(ts AS DATE) AS bd, ts AS tz,
       {'a': user_id, 'b': event_type} AS s, [user_id, event_id] AS arr,
       MAP([event_type], [value]) AS m, encode(props) AS bin
FROM events"""


@register
class Migrate(Workload):
    name = "migrate"

    def setup(self) -> None:
        rng = gen.rng_for(self.seed, "migrate")
        # seeded commit split: append i holds rows with
        # pmod(l_orderkey * a + b, 4) == i — both engines evaluate it.
        # An odd a permutes the residues, so every append gets a
        # quarter of the rows whatever the seed.
        self.a = 2 * int(rng.integers(0, 5_000)) + 1
        self.b = int(rng.integers(0, 10_000))
        self.dropped_status = _STATUSES[int(rng.integers(0, 3))]
        inp = gen.relational(self.seed, self.scale, self.path("in"))
        inp["events"] = gen.write(gen.events(self.seed, 100), self.path("in", "events.parquet"))
        self.inputs = inp
        spark = self.spark
        src = self.src = SnapCatalog(self.path("src"))

        def lineitem():
            li = spark.read.parquet(inp["lineitem"]).withColumn(
                "l_shipmonth", F.date_format("l_shipdate", "yyyy-MM"))
            split = F.pmod(F.col("l_orderkey") * self.a + self.b, F.lit(_APPENDS))
            for i in range(_APPENDS):
                src.write("db", "lineitem_snap", li.where(split == i), mode="append",
                          partition_by=["l_shipmonth"], committed_at=_T[i])
            src.set_properties("db", "lineitem_snap", {"write.format": "parquet"})

        def orders():
            df = spark.read.parquet(inp["orders"])
            src.write("db", "orders_snap", df, mode="append", committed_at=_T[0])
            src.set_properties("db", "orders_snap", {"owner": "etl"})
            src.write("db", "orders_snap",
                      df.where(F.col("o_orderstatus") != self.dropped_status),
                      mode="overwrite", committed_at=_T[2])

        def small_tables():
            ev = spark.read.parquet(inp["events"])
            typed = ev.select(
                F.col("event_id").alias("id"), (F.col("value") > 50).alias("flag"),
                F.col("value").cast("decimal(12,2)").alias("d"),
                F.to_date("ts").alias("bd"), F.col("ts").alias("tz"),
                F.struct(F.col("user_id").alias("a"), F.col("event_type").alias("b")).alias("s"),
                F.array(F.col("user_id"), F.col("event_id")).alias("arr"),
                F.create_map(F.col("event_type"), F.col("value")).alias("m"),
                F.encode(F.col("props"), "utf-8").alias("bin"),
            )
            src.write("db", "typed_snap", typed, mode="append", committed_at=_T[1])
            for dim in ("nation", "region"):
                src.write("db", f"{dim}_snap", spark.read.parquet(inp[dim]),
                          mode="append", committed_at=_T[0])

        # independent tables build concurrently; commits within a table
        # stay in order
        with ThreadPoolExecutor(max_workers=3) as pool:
            for f in [pool.submit(t) for t in (lineitem, orders, small_tables)]:
                f.result()
        self.con = oracle.connect(inp)
        split_sql = f"(((l_orderkey * {self.a} + {self.b}) % {_APPENDS}) + {_APPENDS}) % {_APPENDS}"
        self.expected = {
            "lineitem_snap": "SELECT *, strftime(l_shipdate, '%Y-%m') AS l_shipmonth "
                             f"FROM lineitem WHERE {split_sql} < {_PLANNED}",
            "orders_snap": f"SELECT * FROM orders WHERE o_orderstatus <> '{self.dropped_status}'",
            "typed_snap": _TYPED_SQL,
            "nation_snap": "SELECT * FROM nation",
            "region_snap": "SELECT * FROM region",
        }
        self.expected_rows = {
            t: self.con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0]
            for t, q in self.expected.items()
        }
        self.dst: SnapCatalog | None = None
        self.copy_rows: list[float] = []
        self.verify_rows: list[float] = []
        self.copy_s: list[float] = []
        self.verify_s: list[float] = []

    def unit(self) -> Unit:
        spark, src = self.spark, self.src
        if self.dst is not None:
            shutil.rmtree(self.dst.warehouse, ignore_errors=True)
        self.dst = dst = SnapCatalog(self.path(f"dst{len(self.copy_s)}"))
        s0 = self.op_seconds
        plan = self.op("collect_plan", P.collect_plan, src, as_of=AS_OF)
        report = self.op("migrate", lambda: self._collect(
            P.migrate(spark, plan, src, dst, committed_at=_T[4])))
        vrep = self.op("verify", lambda: self._collect(P.verify(spark, plan, src, dst)))
        copy_s, verify_s = self.lat["migrate"][-1], self.lat["verify"][-1]
        self.copy_s.append(copy_s)
        self.verify_s.append(verify_s)
        self.copy_rows.append(sum(r.records_migrated or 0 for r in report))
        self.verify_rows.append(sum((r.src_records or 0) + (r.dst_records or 0) for r in vrep))
        self._last = (plan, report, vrep)
        return Unit(self.op_seconds - s0, copy_s, verify_s)

    def after_unit(self) -> None:
        self._check_reports(*self._last)
        for problem in self.check():
            self.expect(problem)

    def _collect(self, df):
        rows = df.collect()
        self.tracer.note_plan(df)
        return rows

    def _check_reports(self, plan, report, vrep) -> None:
        planned = {t.table_name: t.snapshot_id for t in plan.tables}
        self.expect(None if sorted(planned) == sorted(self.expected)
                    else f"plan covers {sorted(planned)}")
        self.expect(None if planned.get("lineitem_snap") == _PLANNED
                    else f"lineitem planned at snapshot {planned.get('lineitem_snap')}")
        for r in report:
            want = self.expected_rows.get(r.table_name)
            self.expect(None if r.status == "success" and r.records_migrated == want
                        else f"migrate {r.table_name}: {r.status}, {r.records_migrated} "
                             f"rows ({want} expected) {r.error or ''}")
        for r in vrep:
            self.expect(None if r.status == "success"
                        else f"verify {r.table_name}: {r.status} {r.error or ''}")

    def check(self, corrupt: bool = False) -> list[str]:
        """Compare the last pass's target tables with DuckDB."""
        out = []
        with self.tracer.paused():
            for t, sql in self.expected.items():
                got = self.dst.table("db", t).read(self.spark).toArrow()
                p = oracle.diff_tables(self.con, got, sql, f"target db.{t}", corrupt=corrupt)
                if p is not None:
                    out.append(p)
        return out

    def final_check(self) -> list[str]:
        return []  # every pass was checked as it finished

    def detail(self) -> dict[str, Metric]:
        passes = [u.seconds for u in self.units]
        return {
            "migration_s": Metric(p50(passes), "s", "median plan→copy→verify pass"),
            "copy_rows_per_s": Metric(
                p50([r / s for r, s in zip(self.copy_rows, self.copy_s)]), "1/s"),
            "verify_rows_per_s": Metric(
                p50([r / s for r, s in zip(self.verify_rows, self.verify_s)]), "1/s"),
        }
