"""The benchmark's three closed-loop workloads.

A workload is a list of rounds; a round is every op of the workload
once, in an order drawn from the seeded generator. An op returns a
DataFrame (the runner collects it) or a commit's return value, and
carries a check that runs outside the timed region: registry ops
compare against their DuckDB oracle (``oracle_sql``), lake ops against
a DuckDB replay of the same seeded mutations.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np

#: Short, multi-table relational ops where table opens, Pype compose
#: and Catalyst are a large share of latency: the curation Pype, the
#: events-table rollup and the two TPC-H joins with the widest table
#: fan-in. Four of the twelve relational keys: a run pays each op's cold
#: first call in set-up, and the run-time budget caps that.
ETL_OPS = (
    "q_pipe_curation", "q_events_hourly_agg", "q_tpch_q5", "q_tpch_q18",
)
ETL_TABLES = ("region", "nation", "customer", "supplier", "orders",
              "lineitem", "events", "documents")

#: Executor-heavy shingle and GEMM kernels with thin build steps:
#: decontamination (an n-gram semi-join behind spread_small_scan) and
#: exact tiled-GEMM similarity search through mapInPandas. Two keys, for
#: the same time budget.
LLM_OPS = ("q_text_decontaminate", "q_sim_cosine_topk")
LLM_TABLES = ("documents", "embeddings")


@dataclass
class Op:
    name: str
    #: "query" (registry op), "commit" (lake mutation), "read" (lake
    #: read) or "maint" (lake vacuum)
    kind: str
    run: Callable[[], object]
    #: result → error text, or None when correct
    check: Callable[[object], str | None]
    #: traced runs only: raw output → layer facts, read after the check
    facts: Callable[[object], dict] | None = None


def same_result(tab_s, tab_d, check_mod) -> str | None:
    """Row count, column names and order-insensitive value hash, with
    ``tools/check.py``'s canonical hashing."""
    if tab_s.num_rows != tab_d.num_rows:
        return f"rows {tab_s.num_rows} != {tab_d.num_rows}"
    if sorted(tab_s.column_names) != sorted(tab_d.column_names):
        return f"cols {sorted(tab_s.column_names)} != {sorted(tab_d.column_names)}"
    hs, hd = check_mod.hash_tables_fast(tab_s, tab_d)
    if hs is None:  # a column type the vectorized hash does not cover
        hs, hd = (
            check_mod.hash_rows(t.column_names,
                                [tuple(r.values()) for r in t.to_pylist()])
            for t in (tab_s, tab_d)
        )
    return None if hs == hd else "value-hash mismatch"


class QueryWorkload:
    """Registry ops over the seeded corpus, checked against DuckDB."""

    def __init__(self, name: str, keys: tuple[str, ...], tables: tuple[str, ...]):
        self.name = name
        self.keys = keys
        self.tables = tables
        self._expected: dict[str, object] = {}

    def prepare(self, ctx) -> None:
        """Expected results, computed once with DuckDB from
        ``oracle_sql()``."""
        oracles = ctx.entry.oracle_sql()
        for k in self.keys:
            self._expected[k] = ctx.duck.sql(oracles[k]).arrow()

    def round(self, ctx, rng) -> list[Op]:
        fns = ctx.entry.queries()
        ops = []
        for k in rng.permutation(list(self.keys)):
            k = str(k)
            exp = self._expected[k]
            ops.append(Op(
                k, "query",
                lambda fn=fns[k]: fn(ctx.spark, ctx.sf_dir),
                lambda tab, exp=exp: same_result(tab, exp, ctx.check),
            ))
        return ops

_ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority")
_STATUS = np.array(["F", "O", "P"])
_PRIOS = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


class LakeWorkload:
    """Writes beside reads on one manifest table of ``orders``.

    Each round: a seeded ``merge_upsert``, a ``delete_where_dv`` over a
    key range, a SQL ``MERGE INTO`` through ``sqltext``, two range and
    one point ``scan_table`` reads and a ``read_table`` aggregate (these
    seven in seeded order), then a ``spype_lake`` change-feed read of
    the round's commits, a key-clustered ``compact`` and a ``vacuum``.
    Compacting and vacuuming every round keeps table state bounded, so
    op times do not trend with run length. Every mutation is replayed
    on a DuckDB copy of ``orders``; every read (the change feed too) is
    compared against it.
    """

    name = "lake_mutate_read"
    tables = ("orders",)
    FILES = 8

    def __init__(self, table_dir: str):
        self.path = os.path.join(table_dir, "orders_tbl")
        self.stats: list[dict] = []  # per-round table state, pre-compact
        self.commits: list[dict] = []  # per-commit write facts
        self.rounds = 0

    # -- setup ---------------------------------------------------------
    def prepare(self, ctx) -> None:
        from pyspark.sql import functions as F

        from spype_spark import lakehouse as lake
        from spype_spark.lake_sink import register_lake_sink
        from spype_spark.tables import load_table

        orders = load_table(ctx.spark, ctx.sf_dir, "orders")
        lake.write_table(
            orders.repartitionByRange(self.FILES, F.col("o_orderkey")),
            self.path,
        )
        register_lake_sink(ctx.spark)
        self.schema = lake.read_table(ctx.spark, self.path).schema
        self.n_keys = orders.count()
        self.next_key = 10 * self.n_keys
        self.version = lake.latest_version(self.path)
        self.row_bytes = (
            os.path.getsize(os.path.join(ctx.sf_dir, "orders.parquet"))
            / self.n_keys
        )
        self._dir = _dir_bytes(self.path)
        ctx.duck.execute(
            "CREATE OR REPLACE TABLE lake AS SELECT * FROM "
            f"read_parquet('{ctx.sf_dir}/orders.parquet')"
        )
        ctx.duck.execute("CREATE OR REPLACE TABLE snap_0 AS SELECT * FROM lake")

    # -- seeded inputs -------------------------------------------------
    def _rows(self, rng, keys: np.ndarray):
        import pyarrow as pa

        n = len(keys)
        days = rng.integers(0, 2404, n).astype("int64")
        base = np.datetime64("1995-01-01", "us").astype("int64")
        return pa.table({
            "o_orderkey": keys.astype("int64"),
            "o_custkey": rng.integers(0, 1000, n).astype("int64"),
            "o_orderstatus": rng.choice(_STATUS, n),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": pa.array(base + days * 86_400_000_000,
                                    pa.timestamp("us")),
            "o_orderpriority": rng.choice(_PRIOS, n),
        })

    def _upsert_rows(self, rng, n_upd: int, n_new: int):
        """``n_upd`` keys from one seeded key window (a CDC batch
        touches a key neighbourhood) plus ``n_new`` fresh keys."""
        lo = int(rng.integers(0, max(1, self.n_keys - 4 * n_upd)))
        upd = rng.choice(np.arange(lo, lo + 4 * n_upd), n_upd, replace=False)
        new = np.arange(self.next_key, self.next_key + n_new)
        self.next_key += n_new
        return self._rows(rng, np.sort(np.concatenate([upd, new])))

    def _frame(self, ctx, tab):
        return ctx.spark.createDataFrame(tab.to_pandas(), self.schema)

    # -- one round -----------------------------------------------------
    def round(self, ctx, rng) -> list[Op]:
        from pyspark.sql import functions as F

        from spype_spark import lakehouse as lake
        from spype_spark import sqltext

        spark, path, duck = ctx.spark, self.path, ctx.duck
        self.rounds += 1
        r = self.rounds
        start_version = self.version

        merge_tab = self._upsert_rows(rng, 300, 30)
        merge_df = self._frame(ctx, merge_tab)
        sql_tab = self._upsert_rows(rng, 150, 20)
        view = f"perfbench_upd_{r}"
        self._frame(ctx, sql_tab).createOrReplaceTempView(view)
        del_lo = int(rng.integers(0, self.n_keys))
        rng_lo = int(rng.integers(0, max(1, self.n_keys - 2000)))
        pr_lo = int(rng.integers(0, max(1, self.n_keys - 3000)))
        price = float(np.round(rng.uniform(100000.0, 400000.0), 2))
        point = int(rng.integers(0, self.n_keys))

        def upsert_replay(name, tab):
            duck.register("upd", tab)
            duck.execute("DELETE FROM lake WHERE o_orderkey IN "
                         "(SELECT o_orderkey FROM upd)")
            duck.execute("INSERT INTO lake SELECT * FROM upd")
            duck.unregister("upd")
            return self._committed(ctx, name, len(tab))

        def delete_replay(_v):
            before = duck.sql("SELECT count(*) FROM lake").fetchone()[0]
            duck.execute(f"DELETE FROM lake WHERE o_orderkey BETWEEN "
                         f"{del_lo} AND {del_lo + 99}")
            after = duck.sql("SELECT count(*) FROM lake").fetchone()[0]
            return self._committed(ctx, "delete_dv", before - after)

        def commit_op(name, run, replay):
            def check(v):
                err = replay(v)
                if err is None and v != self.version:
                    err = f"returned version {v}, expected {self.version}"
                return err
            return Op(f"lake.{name}", "commit", run, check)

        def read_op(name, run, sql):
            return Op(f"lake.{name}", "read", run,
                      lambda tab: same_result(tab, duck.sql(sql).arrow(),
                                              ctx.check))

        def scan_op(name, where, sql):
            op = read_op(name, lambda: lake.scan_table(spark, path, where=where),
                         sql)
            op.facts = lambda df: {
                "files_read_ratio": len(df.inputFiles()) / self.live_files()
            }
            return op

        where_range = ("between", "o_orderkey", rng_lo, rng_lo + 1999)
        where_price = ("and", ("between", "o_orderkey", pr_lo, pr_lo + 2999),
                       ("ge", "o_totalprice", price))
        ops = [
            commit_op(
                "merge_upsert",
                lambda: lake.merge_upsert(spark, path, merge_df,
                                          keys=["o_orderkey"]),
                lambda _v: upsert_replay("merge_upsert", merge_tab),
            ),
            commit_op(
                "delete_dv",
                lambda: lake.delete_where_dv(
                    spark, path,
                    F.col("o_orderkey").between(del_lo, del_lo + 99)),
                delete_replay,
            ),
            commit_op(
                "sql_merge",
                lambda: sqltext.sql(spark, f"""
                    MERGE INTO '{path}' AS t USING {view} AS s
                    ON t.o_orderkey = s.o_orderkey
                    WHEN MATCHED THEN UPDATE SET *
                    WHEN NOT MATCHED THEN INSERT *"""),
                lambda _v: upsert_replay("sql_merge", sql_tab),
            ),
            scan_op(
                "scan_range", where_range,
                f"SELECT * FROM lake WHERE o_orderkey BETWEEN {rng_lo} "
                f"AND {rng_lo + 1999}",
            ),
            scan_op(
                "scan_range_price", where_price,
                f"SELECT * FROM lake WHERE o_orderkey BETWEEN {pr_lo} "
                f"AND {pr_lo + 2999} AND o_totalprice >= {price!r}",
            ),
            scan_op(
                "scan_point", ("eq", "o_orderkey", point),
                f"SELECT * FROM lake WHERE o_orderkey = {point}",
            ),
            read_op(
                "read_agg",
                lambda: lake.read_table(spark, path)
                .groupBy("o_orderstatus")
                .agg(F.count("*").alias("n"),
                     F.sum("o_custkey").alias("cust_sum"),
                     F.max("o_totalprice").alias("max_price")),
                "SELECT o_orderstatus, count(*) AS n, "
                "CAST(sum(o_custkey) AS BIGINT) AS cust_sum, "
                "max(o_totalprice) AS max_price FROM lake GROUP BY 1",
            ),
        ]
        order = [ops[i] for i in rng.permutation(len(ops))]

        def cdf_run():
            return (
                spark.read.format("spype_lake")
                .option("path", path)
                .option("readChangeFeed", "true")
                .option("keys", "o_orderkey")
                .option("startingVersion", str(start_version + 1))
                .option("endingVersion", str(self.version))
                .load()
            )

        def cdf_check(tab):
            exp = self._expected_changes(duck, start_version, self.version)
            err = same_result(tab, exp, ctx.check)
            self._record_state(ctx)
            return err

        def compact_check(v):
            self.version += 1
            self._dir = _dir_bytes(path)
            duck.execute(f"CREATE OR REPLACE TABLE snap_{self.version} AS "
                         f"SELECT * FROM snap_{self.version - 1}")
            spark.catalog.dropTempView(view)
            if v != self.version:
                return f"returned version {v}, expected {self.version}"
            return None

        order += [
            Op("lake.cdf_read", "read", cdf_run, cdf_check),
            Op("lake.compact", "commit",
               lambda: lake.compact(spark, path, target_files=self.FILES,
                                    zorder_code=F.col("o_orderkey")),
               compact_check),
            Op("lake.vacuum", "maint",
               lambda: lake.vacuum(path, keep_last=1, grace_seconds=0),
               lambda _removed: self._vacuumed(duck)),
        ]
        return order

    # -- replay bookkeeping (outside timed regions) ----------------------
    def _committed(self, ctx, name: str, rows: int) -> None:
        self.version += 1
        ctx.duck.execute(f"CREATE OR REPLACE TABLE snap_{self.version} AS "
                         "SELECT * FROM lake")
        now = _dir_bytes(self.path)
        self.commits.append({"op": name, "rows": rows, "added": now - self._dir})
        self._dir = now

    def _vacuumed(self, duck) -> None:
        self._dir = _dir_bytes(self.path)
        for (t,) in duck.sql(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_name LIKE 'snap_%'"
        ).fetchall():
            if t != f"snap_{self.version}":
                duck.execute(f"DROP TABLE {t}")

    @staticmethod
    def _expected_changes(duck, v_from: int, v_to: int):
        """Row-level changes per version step, derived from the replay
        snapshots: keys only after → insert, only before → delete, in
        both with any column changed → update pre/post image."""
        cols = ", ".join(f"x.{c}" for c in _ORDER_COLS)
        differs = " OR ".join(
            f"a.{c} IS DISTINCT FROM b.{c}" for c in _ORDER_COLS[1:])
        parts = []
        for v in range(v_from + 1, v_to + 1):
            old, new = f"snap_{v - 1}", f"snap_{v}"
            tag = f"::BIGINT AS _commit_version"
            parts += [
                f"SELECT {cols}, 'insert' AS _change_type, {v}{tag} "
                f"FROM {new} x ANTI JOIN {old} o USING (o_orderkey)",
                f"SELECT {cols}, 'delete' AS _change_type, {v}{tag} "
                f"FROM {old} x ANTI JOIN {new} n USING (o_orderkey)",
            ]
            for img, side in (("update_preimage", "b"), ("update_postimage", "a")):
                parts.append(
                    f"SELECT {cols.replace('x.', side + '.')}, '{img}' AS "
                    f"_change_type, {v}{tag} FROM {old} b JOIN {new} a "
                    f"ON a.o_orderkey = b.o_orderkey WHERE {differs}"
                )
        return duck.sql(" UNION ALL ".join(parts)).arrow()

    def _record_state(self, ctx) -> None:
        """Table-state facts at the round's end, before compaction."""
        from spype_spark import lakehouse as lake
        from spype_spark import manifest_log as mlog

        live = os.path.join(ctx.work, "live.parquet")
        ctx.duck.execute(f"COPY (SELECT * FROM lake) TO '{live}' (FORMAT PARQUET)")
        live_bytes = os.path.getsize(live)
        m = mlog.m_load(self.path, self.version)
        entries = mlog.m_entries(self.path, m)
        data_bytes = sum(int(e.get("bytes", 0)) for e in entries)
        dir_bytes = _dir_bytes(self.path)
        self.stats.append({
            "files_live": len(entries),
            "versions": len(lake.versions(self.path)),
            "dir_bytes": dir_bytes,
            "metadata_bytes": max(0, dir_bytes - data_bytes),
            "live_bytes": live_bytes,
        })

    def live_files(self) -> int:
        from spype_spark import manifest_log as mlog

        return len(mlog.m_entries(self.path, mlog.m_load(self.path, self.version)))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def make(name: str, work: str):
    if name == "etl_relational":
        return QueryWorkload(name, ETL_OPS, ETL_TABLES)
    if name == "llm_curation":
        return QueryWorkload(name, LLM_OPS, LLM_TABLES)
    if name == "lake_mutate_read":
        return LakeWorkload(os.path.join(work, "lake"))
    raise ValueError(f"unknown workload {name!r}")


#: The workloads BENCHMARK.json declares (the gated set).
WORKLOADS = ("etl_relational", "llm_curation")
#: Runnable by name, outside the gate: its ops also run inside every
#: traced run, which is where the lake layers are measured.
EXTRA = ("lake_mutate_read",)
