"""``churn``: a small catalog under a seeded stream of small-delta DML.

Tables ``customer(ck, seg)``, ``orders(ok, ck)`` and
``lineitem(lk, ok, qty)`` (integer update and sum columns, so exact
comparison is legitimate), plus a COUNT/SUM rollup view over
``customer ⋈ orders ⋈ lineitem`` kept by
``pipelines.refresh_join_chain_view``.

One unit is one maintenance cycle of the op stream:

1. four commits on ``lineitem``, one of each class — COW ``upsert``,
   COW ``update_where``, MOR ``upsert_mor``, MOR ``delete_keys`` —
   each followed by a ``read_where`` point lookup;
2. refresh the view, ``compact`` lineitem, refresh again, and only
   then ``expire_snapshots``. Expiring before the view has folded the
   compaction would drop the view's watermark snapshot and the next
   refresh would fail with ``LookupError`` (changelog start snapshot
   expired).

The traffic shape is chosen, not measured. ``CHANGED`` = 16 keys per
commit is a small delta that still lands in most of lineitem's eight
key-range files (each file is missed with chance (7/8)^16 ≈ 0.12), so
a COW commit rewrites most of the table. ``INSERTED`` = 4 new keys per
upsert keeps the table growing slowly. One commit of each class per
cycle keeps a unit short (medians of 26.5 s and 28.8 s in two sets of
ten seeds on a 4-vCPU VM), so a run is one cold unit and the gate's runs fit their time
budget. The cost is that a read sees at most two live delete files
(after the two MOR commits), far short of the 20 commits since the
last compaction over which a point read was seen to climb from 0.2 s
to 3.5 s on this engine; the ``read_tail_ms`` regime of long
delete-file chains is not exercised.

The seed picks the keys, values and read targets. A DuckDB model
table replays the same ops: every point read is compared with it as
it happens, and at the end the three tables and the view are compared
with the model and a DuckDB rollup.
"""

from __future__ import annotations

import os

import gen
import numpy as np
import oracle
import pyarrow as pa
from pyspark.sql import functions as F
from workloads import Metric, Unit, Workload, p50, register, tail

from apache_iceberg_tables_migration_tool_spark.sources.snapcat import SnapCatalog
from apache_iceberg_tables_migration_tool_spark.streaming import pipelines

DB = "shop"
KINDS = ("cow_upsert", "cow_update", "mor_upsert", "mor_delete")
CHANGED = 16  # existing keys touched per commit
INSERTED = 4  # new keys per upsert
VIEW_ARGS = dict(ons=[["ck"], ["ok"]], keys=["seg"], sum_cols=["qty"])
CHAIN = [(DB, "customer"), (DB, "orders"), (DB, "lineitem")]
ROLLUP_SQL = """
SELECT seg, COUNT(*) AS group_count, CAST(SUM(qty) AS BIGINT) AS sum_qty
FROM customer JOIN orders USING (ck) JOIN li USING (ok) GROUP BY seg"""


def _du(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


def _meta_files(root: str) -> dict[str, int]:
    meta = os.path.join(root, "metadata")
    return {os.path.join(d, f): os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(meta) for f in fs}


@register
class Churn(Workload):
    name = "churn"

    def setup(self) -> None:
        n_c, n_o, n_l = (int(k * self.scale) for k in (150_000, 1_500_000, 6_000_000))
        self.n_orders = n_o
        li = gen.lineitem(self.seed, n_l, n_o)
        inp = {
            "customer": gen.write(
                gen.customer(self.seed, n_c).select(["c_custkey", "c_mktsegment"])
                .rename_columns(["ck", "seg"]), self.path("in", "customer.parquet")),
            "orders": gen.write(
                gen.orders(self.seed, n_o, n_c).select(["o_orderkey", "o_custkey"])
                .rename_columns(["ok", "ck"]), self.path("in", "orders.parquet")),
            "lineitem": gen.write(pa.table({
                "lk": np.arange(n_l, dtype=np.int64),
                "ok": li["l_orderkey"],
                "qty": li["l_quantity"].cast(pa.int64()),
            }), self.path("in", "lineitem.parquet")),
        }
        spark = self.spark
        cat = self.cat = SnapCatalog(self.path("wh"))
        cat.write(DB, "customer", spark.read.parquet(inp["customer"]))
        cat.write(DB, "orders", spark.read.parquet(inp["orders"]))
        cat.write(DB, "lineitem", spark.read.parquet(inp["lineitem"])
                  .repartitionByRange(8, "lk").sortWithinPartitions("lk"))
        self.tbl = cat.table(DB, "lineitem")
        self._refresh()
        self.con = oracle.connect(inp)
        self.con.execute("CREATE TABLE li AS SELECT * FROM lineitem")
        self.rng = gen.rng_for(self.seed, "churn")
        self.live = list(range(n_l))
        self.next_lk = n_l
        self.unit_ops: list[int] = []

    # -- ops ---------------------------------------------------------------

    def _refresh(self):
        return pipelines.refresh_join_chain_view(self.spark, self.cat, CHAIN, DB, "view", **VIEW_ARGS)

    def _keys(self) -> list[int]:
        idx = self.rng.choice(len(self.live), CHANGED, replace=False)
        return sorted(self.live[i] for i in idx)

    def _rows(self, keys: list[int]) -> list[tuple[int, int, int]]:
        return [(k, int(self.rng.integers(0, self.n_orders)), int(self.rng.integers(1, 51)))
                for k in keys]

    def _commit(self, kind: str) -> tuple[list[int], float]:
        spark, cat, con = self.spark, self.cat, self.con
        keys = self._keys()
        key_list = ",".join(map(str, keys))
        before = _meta_files(self.tbl.root) if self.tracer.enabled and kind.startswith("mor") else None
        if kind in ("cow_upsert", "mor_upsert"):
            new = list(range(self.next_lk, self.next_lk + INSERTED))
            self.next_lk += INSERTED
            rows = self._rows(keys + new)
            df = spark.createDataFrame(rows, "lk long, ok long, qty long")
            verb = cat.upsert if kind == "cow_upsert" else cat.upsert_mor
            snap = self.op(kind, verb, DB, "lineitem", df, key_cols=["lk"])
            con.execute(f"DELETE FROM li WHERE lk IN ({key_list})")
            con.executemany("INSERT INTO li VALUES (?, ?, ?)", rows)
            self.live.extend(new)
            changed = len(rows)
        elif kind == "cow_update":
            d = int(self.rng.integers(1, 10))
            snap = self.op(kind, cat.update_where, DB, "lineitem",
                           F.col("lk").isin(keys), {"qty": f"qty + {d}"})
            con.execute(f"UPDATE li SET qty = qty + {d} WHERE lk IN ({key_list})")
            changed = len(keys)
        else:
            df = spark.createDataFrame([(k,) for k in keys], "lk long")
            snap = self.op(kind, cat.delete_keys, DB, "lineitem", df, key_cols=["lk"])
            con.execute(f"DELETE FROM li WHERE lk IN ({key_list})")
            gone = set(keys)
            self.live = [k for k in self.live if k not in gone]
            changed = len(keys)
        if self.tracer.enabled:
            with self.tracer.paused():
                self._commit_layers(kind, snap, changed, before)
        return keys, self.lat[kind][-1]

    def _commit_layers(self, kind, snap, changed, before) -> None:
        if kind.startswith("cow"):
            parent = self.tbl.resolve_snapshot(snapshot_id=snap.parent_id)
            old = {f.path for f in parent.files}
            added = sum(f.bytes for f in snap.files if f.path not in old)
            self.layer["cow_bytes_added"].append(added)
            self.layer["cow_user_bytes"].append(
                changed * parent.total_bytes / max(parent.total_records, 1))
        else:
            after = _meta_files(self.tbl.root)
            new = sum(sz for p, sz in after.items()
                      if p not in before or p.endswith("table.json"))
            self.layer["meta_bytes"].append(new)

    def _read(self, key: int) -> float:
        def lookup():
            df = self.tbl.read_where(self.spark, [("lk", "=", key)])
            rows = df.collect()
            self.tracer.note_plan(df)
            return rows

        rows = self.op("read", lookup)
        got = sorted((r.lk, r.ok, r.qty) for r in rows)
        want = sorted(self.con.execute(
            f"SELECT lk, ok, qty FROM li WHERE lk = {key}").fetchall())
        self.expect(None if got == want else f"read lk={key}: {got} != {want}")
        if self.tracer.enabled:
            with self.tracer.paused():
                cur = self.tbl.current_snapshot()
                kept = len(self.tbl.plan_files([("lk", "=", key)]))
                self.layer["files_kept_ratio"].append(kept / max(len(cur.files), 1))
                self.layer["live_delete_files"].append(len(cur.delete_files))
        return self.lat["read"][-1]

    def unit(self) -> Unit:
        s0, n0 = self.op_seconds, self.attempted
        write_s = read_s = 0.0
        for kind in KINDS:
            keys, dt = self._commit(kind)
            write_s += dt
            key = keys[0] if self.rng.random() < 0.5 else self.live[
                int(self.rng.integers(0, len(self.live)))]
            read_s += self._read(key)
        self._view_op()
        if self.tracer.enabled:
            with self.tracer.paused():
                live = self.tbl.current_snapshot().total_bytes
                self.layer["space_per_live_byte"].append(_du(self.tbl.root) / max(live, 1))
        self.op("compact", self.cat.compact, DB, "lineitem", self.spark, sort_by=["lk"])
        write_s += self.lat["compact"][-1]
        self._view_op()
        self.op("expire", self.cat.expire_snapshots, DB, "lineitem", keep_last=1)
        self.op("expire", self.cat.expire_snapshots, DB, "view", keep_last=1)
        self.unit_ops.append(self.attempted - n0)
        return Unit(self.op_seconds - s0, write_s, read_s)

    def _view_op(self) -> None:
        self.op("refresh", self._refresh)
        if self.tracer.enabled:
            with self.tracer.paused():
                self.layer["changelog_rows"].append(self.tracer.count_changelogs())

    # -- checks and metrics -----------------------------------------------

    def check(self, corrupt: bool = False) -> list[str]:
        spark, con = self.spark, self.con
        with self.tracer.paused():
            got = {
                "lineitem": (self.tbl.read(spark).toArrow(), "SELECT lk, ok, qty FROM li"),
                "customer": (self.cat.table(DB, "customer").read(spark).toArrow(),
                             "SELECT * FROM customer"),
                "orders": (self.cat.table(DB, "orders").read(spark).toArrow(),
                           "SELECT * FROM orders"),
                "view": (self.cat.table(DB, "view").read(spark).select(
                    "seg", F.col("group_count").cast("long"),
                    F.col("sum_qty").cast("long")).toArrow(), ROLLUP_SQL),
            }
        out = []
        for name, (table, sql) in got.items():
            p = oracle.diff_tables(con, table, sql, f"{DB}.{name}", corrupt=corrupt)
            if p is not None:
                out.append(p)
        return out

    def detail(self) -> dict[str, Metric]:
        lat = self.lat
        ms = lambda xs: [1000 * x for x in xs]  # noqa: E731
        cow = lat["cow_upsert"] + lat["cow_update"]
        mor = lat["mor_upsert"] + lat["mor_delete"]
        t_val, t_pct, t_n = tail(ms(lat["read"]))
        return {
            "churn_ops_per_s": Metric(
                sum(self.unit_ops) / max(sum(u.seconds for u in self.units), 1e-9), "1/s"),
            "cow_commit_p50_ms": Metric(p50(ms(cow)), "ms"),
            "mor_commit_p50_ms": Metric(p50(ms(mor)), "ms"),
            "read_p50_ms": Metric(p50(ms(lat["read"])), "ms"),
            "read_tail_ms": Metric(t_val, "ms", f"p{t_pct:.1f} of {t_n} reads"),
            "refresh_p50_ms": Metric(p50(ms(lat["refresh"])), "ms"),
        }
