"""Lakehouse table-format contracts (SURVEY.md §2.B "lakehouse ops").

MERGE/upsert, DELETE, time travel, and compaction over the versioned-
Parquet format in :mod:`spype_spark.lakehouse`. Each contract builds a
scratch table from the ``orders`` corpus table, applies the operation,
and returns the resulting snapshot — whose content is pure SQL over
``orders``, so every contract (except the metadata history) carries a
DuckDB oracle: the driver independently verifies that versioned
snapshot semantics produce exactly the relational answer.

The results are localCheckpoint-materialized before the scratch table
is deleted (same pattern as sources_sinks).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spype_spark import lakehouse as lake
from spype_spark.queries.sources_sinks import _scratch
from spype_spark.registry import query
from spype_spark.tables import load_table

_BASE_COLS = ("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target table: orders under key 8000."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 8000)
        .select(*_BASE_COLS)
    )


def _updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update set: keys [4000, 12000) — half matched (updates), half
    new (inserts); price bumped, status rewritten."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderkey") >= 4000) & (F.col("o_orderkey") < 12000))
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
            F.lit("U").alias("o_orderstatus"),
        )
    )


_MERGE_ORACLE_CTE = """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey < 8000
    ),
    upd AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
             'U' AS o_orderstatus
      FROM orders WHERE o_orderkey >= 4000 AND o_orderkey < 12000
    )
"""


@query(
    "q_lake_merge_upsert",
    oracle=_MERGE_ORACLE_CTE
    + """
    SELECT * FROM upd
    UNION ALL
    SELECT b.* FROM base b ANTI JOIN upd u ON b.o_orderkey = u.o_orderkey
    """,
)
def q_lake_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE: update-wins upsert into a versioned Parquet table.

    The oracle recomputes the merged state relationally (updates ∪
    anti-joined base) — verifying that snapshot v1 holds exactly the
    MERGE answer: matched rows updated, new keys inserted, untouched
    rows carried over.
    """
    tmp = _scratch("spype_lake_merge_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(_base(spark, sf_dir), path)
        lake.merge_upsert(
            spark, path, _updates(spark, sf_dir), keys=["o_orderkey"]
        )
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_time_travel",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey < 8000
    """,
)
def q_lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: after a MERGE, version 0 still reads as the exact
    pre-merge table (immutable snapshots). The oracle is the original
    base query — if MERGE mutated v0 in place, this hash breaks."""
    tmp = _scratch("spype_lake_tt_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(_base(spark, sf_dir), path)
        lake.merge_upsert(
            spark, path, _updates(spark, sf_dir), keys=["o_orderkey"]
        )
        return lake.read_table(spark, path, version=0).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_delete",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_orderkey < 8000 AND NOT (o_orderstatus = 'F' AND o_totalprice < 100000)
    """,
)
def q_lake_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned DELETE: rows matching the predicate disappear from the
    new snapshot (NULL-evaluating rows are kept, SQL DELETE
    semantics)."""
    tmp = _scratch("spype_lake_del_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(_base(spark, sf_dir), path)
        lake.delete_where(
            spark,
            path,
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 100000),
        )
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_compact",
    oracle=_MERGE_ORACLE_CTE
    + """
    SELECT * FROM upd
    UNION ALL
    SELECT b.* FROM base b ANTI JOIN upd u ON b.o_orderkey = u.o_orderkey
    """,
)
def q_lake_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: rewrite the merged snapshot (written
    deliberately fragmented, 16 files) into one file. The oracle is the
    SAME merged-state SQL — compaction must be content-invisible; the
    file-count drop itself is asserted in tests/test_lakehouse.py."""
    tmp = _scratch("spype_lake_cmp_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(_base(spark, sf_dir).repartition(16), path)
        lake.merge_upsert(
            spark,
            path,
            _updates(spark, sf_dir).repartition(16),
            keys=["o_orderkey"],
        )
        lake.compact(spark, path, target_files=1)
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_history",
    oracle="""
    WITH v1 AS (SELECT COUNT(*) AS n FROM orders WHERE o_orderkey < 12000),
         del AS (SELECT COUNT(*) AS n FROM orders
                 WHERE o_orderkey < 4000 AND o_orderstatus = 'F')
    SELECT CAST(0 AS INT) AS version,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey < 8000) AS n_rows,
           'WRITE' AS op
    UNION ALL SELECT 1, (SELECT n FROM v1), 'MERGE'
    UNION ALL SELECT 2, (SELECT n FROM v1) - (SELECT n FROM del), 'DELETE'
    UNION ALL SELECT 3, (SELECT n FROM v1) - (SELECT n FROM del), 'COMPACT'
    """,
)
def q_lake_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version history: create → merge → delete → compact leaves
    exactly versions 0..3, each time-travel-readable at its own row
    count, each stamped with its OPERATION name (r15 — Delta's
    DESCRIBE HISTORY operation column, from the manifest ``op``
    field; the oracle pins the exact verb sequence).

    The driver-checkable surface is (version, row count, op): v0 =
    base WRITE, v1 = MERGE, v2 = post-DELETE ('F' rows survive the
    merge only under key 4000 — the rest were overwritten to 'U'),
    v3 = COMPACT (content-invisible, dataChange=false). The
    file-count metadata (lake.history) stays asserted in
    tests/test_lakehouse.py — file layout is parallelism-dependent,
    so it is test evidence, not oracle evidence.
    """
    tmp = _scratch("spype_lake_hist_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(_base(spark, sf_dir).repartition(8), path)
        lake.merge_upsert(
            spark, path, _updates(spark, sf_dir), keys=["o_orderkey"]
        )
        lake.delete_where(spark, path, F.col("o_orderstatus") == "F")
        lake.compact(spark, path, target_files=1)
        hist = {
            r["version"]: r["op"]
            # metadata-sized collect: one row per committed version
            for r in lake.history(spark, path).collect()
        }
        rows = [
            (v, lake.read_table(spark, path, version=v).count(), hist[v])
            for v in lake.versions(path)
        ]
        return spark.createDataFrame(
            rows, "version int, n_rows long, op string"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_diff",
    oracle="""
    SELECT o_orderkey, 'insert' AS op
    FROM orders WHERE o_orderkey >= 8000 AND o_orderkey < 12000
    UNION ALL
    SELECT o_orderkey, 'update'
    FROM orders WHERE o_orderkey >= 4000 AND o_orderkey < 8000
    UNION ALL
    SELECT o_orderkey, 'delete'
    FROM orders WHERE o_orderkey < 4000 AND o_orderstatus = 'F'
    """,
)
def q_lake_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between versions: diff v0 (base) against v2
    (post-merge, post-delete) of the standard scenario.

    :func:`spype_spark.lakehouse.table_diff` classifies every changed
    key: merge inserts keys [8000, 12000), rewrites [4000, 8000) (price
    bump + status 'U' — an update even where values collide, because
    the struct compare sees the status change), and the delete removes
    the pre-4000 'F' rows. The oracle derives the same change set from
    the orders table alone — CDC output is pure relational algebra
    over the two snapshots.
    """
    tmp = _scratch("spype_lake_diff_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(_base(spark, sf_dir).repartition(8), path)
        lake.merge_upsert(
            spark, path, _updates(spark, sf_dir), keys=["o_orderkey"]
        )
        lake.delete_where(spark, path, F.col("o_orderstatus") == "F")
        return lake.table_diff(
            spark, path, 0, 2, keys=["o_orderkey"]
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           CAST('P' AS VARCHAR) AS o_priority_class
    FROM orders WHERE o_orderkey >= 4000 AND o_orderkey < 12000
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           CAST(NULL AS VARCHAR) AS o_priority_class
    FROM orders WHERE o_orderkey < 4000
    """,
)
def q_lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with schema evolution (Delta mergeSchema): the update set
    carries a NEW column; matched+inserted rows get its values, while
    carried-over base rows read it as NULL in the evolved snapshot.

    Note the update rows keep their ORIGINAL price/status here (no
    bump) so the contract isolates the evolution semantics: the only
    difference vs the base is the added column and the replaced key
    range.
    """
    tmp = _scratch("spype_lake_evo_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(_base(spark, sf_dir), path)
        upd = (
            load_table(spark, sf_dir, "orders")
            .filter(
                (F.col("o_orderkey") >= 4000) & (F.col("o_orderkey") < 12000)
            )
            .select(
                *_BASE_COLS,
                F.lit("P").alias("o_priority_class"),
            )
        )
        lake.merge_upsert(
            spark, path, upd, keys=["o_orderkey"], evolve_schema=True
        )
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_partitioned_cow",
    oracle=_MERGE_ORACLE_CTE
    + """
    , merged AS (
      SELECT * FROM upd
      UNION ALL
      SELECT b.* FROM base b ANTI JOIN upd u ON b.o_orderkey = u.o_orderkey
    )
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM merged WHERE o_orderstatus <> 'P'
    """,
)
def q_lake_partitioned_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level copy-on-write: the MERGE → DELETE sequence over
    a table PARTITIONED by o_orderstatus, with the copy-on-write
    property itself asserted in-contract.

    v0 = base partitioned by status; v1 = MERGE (updates land in the
    'U' partition, matched keys live in O/F/P — those partitions
    rewrite); v2 = DELETE WHERE status = 'P' (drops the P partition
    wholesale). The final content is pure SQL over orders (the oracle),
    but the contract additionally raises unless v2's MANIFEST carries
    the untouched O/F/U partitions from v1 BY REFERENCE — the identical
    file entries, zero bytes copied or even linked (the object-store
    COW: Delta/Iceberg share unchanged files through their logs the
    same way) — so a silent regression to full-snapshot rewrites fails
    the driver gate, not just a unit test. At 100 TB this is the
    difference between a delete costing O(table) and O(deleted
    partitions)."""
    tmp = _scratch("spype_lake_cow_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(
            _base(spark, sf_dir), path, partition_by="o_orderstatus"
        )
        lake.merge_upsert(
            spark, path, _updates(spark, sf_dir), keys=["o_orderkey"]
        )
        lake.delete_where(spark, path, F.col("o_orderstatus") == "P")

        def entries(version: int) -> dict[str, set[str]]:
            """partition value -> the set of data-file paths (table-
            relative — path identity IS file identity here)."""
            by_part: dict[str, set[str]] = {}
            for e in lake._m_load(path, version)["files"]:
                by_part.setdefault(
                    e["partition"].get("o_orderstatus"), set()
                ).add(e["path"])
            return by_part

        e1, e2 = entries(1), entries(2)
        if not e1:
            raise AssertionError("v1 has no partitions — setup broken")
        for part, files in e1.items():
            if part == "P":
                continue
            if e2.get(part) != files:
                raise AssertionError(
                    f"partition {part} was rewritten by an unrelated "
                    "DELETE — copy-on-write regressed to full rewrite"
                )
        if "P" in e2:
            raise AssertionError("deleted partition survived in v2")
        return (
            lake.read_table(spark, path)
            .select(*_BASE_COLS)
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_vacuum",
    oracle=_MERGE_ORACLE_CTE
    + """
    SELECT * FROM upd
    UNION ALL
    SELECT b.* FROM base b ANTI JOIN upd u ON b.o_orderkey = u.o_orderkey
    """,
)
def q_lake_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot retention: MERGE onto a PARTITIONED table (so v1 shares
    carried-by-reference partition files with v0), then VACUUM down to
    the latest snapshot — the surviving version must still read the
    complete MERGE answer even though the COMMIT its carried files were
    born in was dropped (the manifest GC reference-counts by path and
    keeps every file a surviving manifest names). Asserted in-contract:
    exactly v0 is removed, v1 is the only version left, and time travel
    to v0 raises — then the oracle hash-checks the surviving content
    relationally."""
    tmp = _scratch("spype_lake_vac_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(
            _base(spark, sf_dir), path, partition_by="o_orderstatus"
        )
        lake.merge_upsert(
            spark, path, _updates(spark, sf_dir), keys=["o_orderkey"]
        )
        removed = lake.vacuum(path, keep_last=1)
        if removed != [0] or lake.versions(path) != [1]:
            raise AssertionError(
                f"vacuum retention wrong: removed={removed}, "
                f"left={lake.versions(path)}"
            )
        try:
            lake.read_table(spark, path, version=0)
        except FileNotFoundError:
            pass
        else:
            raise AssertionError("vacuumed v0 still readable")
        return (
            lake.read_table(spark, path)
            .select(*_BASE_COLS)
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_delete_range",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_orderkey < 8000
      AND o_orderkey NOT BETWEEN 2000 AND 2999
    """,
)
def q_lake_delete_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-pruned range DELETE: the base table is written as
    range-clustered files (disjoint o_orderkey intervals recorded as
    manifest [min, max] stats); ``delete_predicate`` with the
    single-leaf spec ``("between", "o_orderkey", 2000, 2999)`` must
    remove exactly the keyed interval — the relational oracle — while
    carrying every file whose recorded interval misses [2000, 2999] BY
    REFERENCE into the new manifest, with ZERO parquet footer reads at
    plan time (asserted in-contract by manifest-entry path identity, so
    a regression to whole-partition rewrites fails the driver gate).
    This is the retention-window delete a 100 TB time-partitioned
    table runs daily."""
    tmp = _scratch("spype_lake_dr_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(
            _base(spark, sf_dir).repartitionByRange(8, "o_orderkey"),
            path,
            partition_by="o_orderstatus",
        )
        lake.delete_predicate(
            spark, path, ("between", "o_orderkey", 2000, 2999)
        )

        f0 = set(lake.data_files(path, 0))
        f1 = set(lake.data_files(path, 1))
        shared = len(f0 & f1)
        total = len(f0)
        n_deleted = (
            lake.read_table(spark, path, version=0).count()
            - lake.read_table(spark, path, version=1).count()
        )
        if n_deleted > 0:
            # real deletion: some files must rewrite, the rest must link
            ok = 0 < shared < total
        else:
            # the interval holds no rows at this SF: EVERY file must
            # prove non-intersection from its stats and carry by link
            ok = shared == total
        if not ok:
            raise AssertionError(
                f"range-delete COW shape wrong: shared={shared}, "
                f"total={total}, n_deleted={n_deleted}"
            )
        return (
            lake.read_table(spark, path)
            .select(*_BASE_COLS)
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_scan_pruned",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_orderkey < 8000
      AND o_orderstatus IN ('O', 'F')
      AND o_orderkey BETWEEN 2000 AND 4999
    """,
)
def q_lake_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-pruned reader scan: a status-partitioned, range-
    clustered table queried through :func:`spype_spark.lakehouse.
    scan_table` with a partition filter (status ∈ {O, F}) and a key
    range ([2000, 4999]) — the file list is cut from manifest metadata
    alone (partition tuples + recorded min/max, zero object listings or
    footer reads at plan time), then the residual row filter keeps the
    semantics exact. The oracle is the plain relational answer; the
    contract additionally raises unless the scan's ``inputFiles()`` is
    a strict subset of the full snapshot's — so a regression to
    read-everything scans fails the driver gate. This is how every
    query against a 100 TB manifest table should open: prune by
    metadata, read the survivors, push the residual."""
    tmp = _scratch("spype_lake_scan_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(
            _base(spark, sf_dir).repartitionByRange(8, "o_orderkey"),
            path,
            partition_by="o_orderstatus",
        )
        full = lake.read_table(spark, path)
        pruned = lake.scan_table(
            spark,
            path,
            where=(
                "and",
                ("in", "o_orderstatus", ["O", "F"]),
                ("between", "o_orderkey", 2000, 4999),
            ),
        )
        n_full = len(set(full.inputFiles()))
        n_pruned = len(set(pruned.inputFiles()))
        out = pruned.select(*_BASE_COLS).localCheckpoint()
        if out.count() > 0:
            # real selection: some files must survive, some must prune
            ok = 0 < n_pruned < n_full
        else:
            # the key range holds no rows at this SF (sf0.001 orderkeys
            # stop at 1499): pruning to ZERO files is the correct
            # maximal outcome, not a regression
            ok = n_pruned < n_full
        if not ok:
            raise AssertionError(
                f"manifest scan pruning regressed: reads {n_pruned} of "
                f"{n_full} files"
            )
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_txn",
    oracle=_MERGE_ORACLE_CTE
    + """
    , merged AS (
      SELECT * FROM upd
      UNION ALL
      SELECT b.* FROM base b ANTI JOIN upd u ON b.o_orderkey = u.o_orderkey
    ),
    cust AS (
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE NOT (c_acctbal < 1000.0)
    )
    SELECT m.o_orderkey, m.o_totalprice, m.o_orderstatus, c.c_mktsegment
    FROM merged m JOIN cust c ON m.o_custkey = c.c_custkey
    """,
)
def q_lake_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic MULTI-TABLE transaction through the catalog commit log
    (spype_spark/catalog.py): one transaction MERGEs into an orders
    table AND DELETEs from a customer table; a single put-if-absent
    log record makes both visible at once. The oracle replays both
    mutations relationally and joins the final states — correct output
    requires BOTH tables to land exactly once, and the in-contract
    assertion pins that one transaction record covers both (the
    atomicity witness, beside the row-level check).
    """
    from spype_spark.catalog import Catalog

    tmp = _scratch("spype_lake_txn_")
    try:
        cat = Catalog(f"{tmp}/cat")
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        )
        with cat.transaction(spark) as txn:
            txn.write(_base(spark, sf_dir), "orders_t")
            txn.write(cust, "cust_t")
        with cat.transaction(spark) as txn:
            txn.merge_upsert(
                "orders_t", _updates(spark, sf_dir), keys=["o_orderkey"]
            )
            txn.delete_where("cust_t", F.col("c_acctbal") < 1000.0)
        # metadata-sized collect: one row per committed txn record
        hist = cat.history(spark).collect()
        if [
            (r.txn, sorted(r.changed)) for r in sorted(hist, key=lambda r: r.txn)
        ] != [(0, ["cust_t", "orders_t"]), (1, ["cust_t", "orders_t"])]:
            raise AssertionError(
                f"expected 2 two-table transaction records, got {hist}"
            )
        out = (
            cat.read(spark, "orders_t")
            .join(
                cat.read(spark, "cust_t"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .select(
                "o_orderkey", "o_totalprice", "o_orderstatus", "c_mktsegment"
            )
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_parts_cow",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_orderkey < 8000 AND o_orderstatus <> 'F'
    """,
)
def q_lake_parts_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest PART-SLAB copy-on-write at driver-gate scale: the table
    is written with enough files (~40 per status partition) to keep
    even the post-delete manifest above the inline threshold, so its manifest is a pointer list over
    content-addressed slabs grouped by (commit uuid, partition). A
    DELETE of one partition must carry the untouched partitions' slabs
    BY NAME — zero metadata rewritten for them — which the contract
    asserts structurally before returning the surviving rows for the
    oracle's row-level check.
    """
    tmp = _scratch("spype_lake_parts_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(
            _base(spark, sf_dir).repartition(40),
            path,
            partition_by="o_orderstatus",
        )
        m0 = lake._m_load(path, 0)
        if "parts" not in m0:
            raise AssertionError(
                f"expected part-slab manifest above the inline threshold, "
                f"got inline ({len(m0.get('files', []))} files)"
            )
        lake.delete_where(spark, path, F.col("o_orderstatus") == "F")
        m1 = lake._m_load(path, 1)
        shared = set(m0["parts"]) & set(m1.get("parts", []))
        if not shared:
            raise AssertionError(
                "untouched partitions' slabs must carry by content-address"
            )
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_delete_mor",
    oracle=_MERGE_ORACLE_CTE
    + """
    , dels AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderkey < 8000 AND o_orderkey % 7 = 0
    ),
    after_del AS (
      SELECT b.* FROM base b ANTI JOIN dels d ON b.o_orderkey = d.o_orderkey
    )
    SELECT * FROM upd
    UNION ALL
    SELECT a.* FROM after_del a ANTI JOIN upd u ON a.o_orderkey = u.o_orderkey
    """,
)
def q_lake_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ equality DELETE (`delete_keys`): a scattered-key
    purge (every 7th orderkey — the shape where copy-on-write would
    rewrite EVERY file) records one small key file and rewrites no
    data file (asserted in-contract: the data file set is unchanged).
    A MERGE then re-inserts keys overlapping the purge; the sequence
    rule must let the new rows through while older files stay
    filtered. The oracle replays delete-then-merge relationally —
    row-level proof of both the tombstone and its non-resurrection
    semantics.
    """
    tmp = _scratch("spype_lake_mor_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(
            _base(spark, sf_dir).repartitionByRange(4, "o_orderkey"), path
        )
        keys = (
            load_table(spark, sf_dir, "orders")
            .filter(
                (F.col("o_orderkey") < 8000)
                & (F.col("o_orderkey") % 7 == 0)
            )
            .select("o_orderkey")
        )
        lake.delete_keys(spark, path, keys)
        if lake.data_files(path, 1) != lake.data_files(path, 0):
            raise AssertionError("MOR delete must rewrite no data file")
        lake.merge_upsert(
            spark, path, _updates(spark, sf_dir), keys=["o_orderkey"]
        )
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_update",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderstatus = 'F' AND o_totalprice < 100000
                THEN o_totalprice * 1.5 ELSE o_totalprice END
             AS o_totalprice,
           CASE WHEN o_orderstatus = 'F' AND o_totalprice < 100000
                THEN 'R' ELSE o_orderstatus END AS o_orderstatus
    FROM orders WHERE o_orderkey < 8000
    """,
)
def q_lake_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL ``UPDATE … SET … WHERE`` over the versioned table: matched
    rows get simultaneous assignments (every right-hand side reads the
    PRE-update value — note the oracle's price CASE keys on the OLD
    status), unmatched rows carry over by copy-on-write. The oracle
    replays the UPDATE as projection CASEs.
    """
    tmp = _scratch("spype_lake_upd_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(_base(spark, sf_dir), path)
        lake.update_where(
            spark,
            path,
            (F.col("o_orderstatus") == "F")
            & (F.col("o_totalprice") < 100000),
            {
                "o_totalprice": F.col("o_totalprice") * 1.5,
                "o_orderstatus": F.lit("R"),
            },
        )
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_cdf",
    oracle=_MERGE_ORACLE_CTE
    + """
    , merged AS (
      SELECT * FROM upd
      UNION ALL
      SELECT b.* FROM base b ANTI JOIN upd u ON b.o_orderkey = u.o_orderkey
    ),
    step1 AS (
      SELECT u.o_orderkey,
             CASE WHEN b.o_orderkey IS NULL THEN 'insert' ELSE 'update' END
               AS op,
             1 AS version
      FROM upd u LEFT JOIN base b ON u.o_orderkey = b.o_orderkey
    ),
    step2 AS (
      SELECT o_orderkey, 'delete' AS op, 2 AS version
      FROM merged WHERE o_orderstatus = 'F'
    )
    SELECT * FROM step1 UNION ALL SELECT * FROM step2
    """,
)
def q_lake_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED across a version chain: MERGE then DELETE,
    then ``changes(v0..v2)`` emits one (key, op, version) row per
    change per step — inserts/updates at v1, deletes at v2. The
    oracle recomputes both steps' change sets relationally (an update
    row's values differ by construction: price +1000, status 'U'), so
    the hash pins the derived feed exactly.
    """
    tmp = _scratch("spype_lake_cdf_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(_base(spark, sf_dir), path)
        lake.merge_upsert(
            spark, path, _updates(spark, sf_dir), keys=["o_orderkey"]
        )
        lake.delete_where(spark, path, F.col("o_orderstatus") == "F")
        feed = lake.changes(spark, path, keys=["o_orderkey"])
        return feed.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_stream_cdf",
    oracle=_MERGE_ORACLE_CTE
    + """
    , merged AS (
      SELECT * FROM upd
      UNION ALL
      SELECT b.* FROM base b ANTI JOIN upd u ON b.o_orderkey = u.o_orderkey
    ),
    step1 AS (
      SELECT u.o_orderkey,
             CASE WHEN b.o_orderkey IS NULL THEN 'insert' ELSE 'update' END
               AS op,
             1 AS version
      FROM upd u LEFT JOIN base b ON u.o_orderkey = b.o_orderkey
    ),
    step2 AS (
      SELECT o_orderkey, 'delete' AS op, 2 AS version
      FROM merged WHERE o_orderstatus = 'F'
    )
    SELECT * FROM step1 UNION ALL SELECT * FROM step2
    """,
)
def q_stream_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING consumption of the change data feed — the Delta
    streaming-source model over the manifest CDF
    (:class:`spype_spark.lakehouse.ChangesStream`): a consumer opened
    at v0 drains ONE microbatch per poll, each exactly the feed for
    the versions committed since its durable checkpoint. Contract
    shape: drain after the MERGE (delivers v1's inserts/updates),
    mutate again, drain after the DELETE (delivers v2's deletes) —
    the union of the drained batches must equal the batch
    ``changes(v0..v2)`` replay, which is what the oracle recomputes
    relationally. Asserted in-contract: a caught-up drain returns
    None, and a RESUMED consumer (same checkpoint dir, fresh object —
    a restarted job) is also caught up, proving the offset survived.
    At 100 TB each drain is O(changed keys) snapshot-diff work and
    consumer state is one integer — no log replay, no full scans."""
    tmp = _scratch("spype_stream_cdf_")
    try:
        path = f"{tmp}/orders_tbl"
        ckpt = f"{tmp}/ckpt"
        lake.write_table(_base(spark, sf_dir), path)
        stream = lake.read_changes_stream(
            spark, path, keys=["o_orderkey"], checkpoint_dir=ckpt,
            from_version=0,
        )
        lake.merge_upsert(
            spark, path, _updates(spark, sf_dir), keys=["o_orderkey"]
        )
        b1 = stream.drain()
        lake.delete_where(spark, path, F.col("o_orderstatus") == "F")
        b2 = stream.drain()
        if b1 is None or b2 is None:
            raise AssertionError("expected two non-empty microbatches")
        if stream.drain() is not None:
            raise AssertionError("caught-up drain must return None")
        resumed = lake.read_changes_stream(
            spark, path, keys=["o_orderkey"], checkpoint_dir=ckpt
        )
        if resumed.consumed_version() != 2 or resumed.drain() is not None:
            raise AssertionError("restart must resume from the checkpoint")
        return b1.unionByName(b2)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_branch_wap",
    oracle=_MERGE_ORACLE_CTE
    + """
    , merged AS (
      SELECT * FROM upd
      UNION ALL
      SELECT b.* FROM base b ANTI JOIN upd u ON b.o_orderkey = u.o_orderkey
    )
    SELECT * FROM merged WHERE o_orderstatus <> 'F'
    """,
)
def q_lake_branch_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish through a branch ref: fork a branch
    (metadata-only, parent files shared by absolute-path reference —
    Iceberg's manifest model), MERGE + DELETE on the branch while the
    parent provably still reads as the untouched base (asserted
    in-contract: WAP's whole point is that unaudited data is
    invisible), then publish — ONE put-if-absent metadata commit
    fast-forwards the parent to the audited state, zero data copied.
    The oracle replays merge-then-delete relationally against the
    published parent. At 100 TB this is how a risky backfill lands:
    full-scale writes and audit queries against the branch, an O(1)
    conditional PUT to go live, ConcurrentWriteError (not silent
    clobber) if the table moved meanwhile."""
    tmp = _scratch("spype_lake_wap_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(_base(spark, sf_dir), path)
        b = lake.create_branch(path, "audit")
        lake.merge_upsert(
            spark, b, _updates(spark, sf_dir), keys=["o_orderkey"]
        )
        lake.delete_where(spark, b, F.col("o_orderstatus") == "F")
        # audit gate: parent head is still the base table, bit-for-bit
        # file identity (same manifest entry list as v0 had)
        if lake.latest_version(path) != 0:
            raise AssertionError("branch mutation leaked into the parent")
        pre = lake.read_table(spark, path)
        base_cnt = _base(spark, sf_dir).count()
        if pre.count() != base_cnt:
            raise AssertionError("parent changed before publish")
        v = lake.publish_branch(path, "audit")
        if v != 1:
            raise AssertionError(f"publish landed at v{v}, expected 1")
        lake.drop_branch(path, "audit")  # published data must survive
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_scan_nulls",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_orderkey < 8000 AND o_orderstatus = 'F'
    """,
)
def q_lake_scan_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NULL file pruning from manifest null-count stats: the table
    carries a column (``o_ship``) that is NULL exactly on status-F
    rows; partitioning by status makes the null distribution
    file-correlated, so ``scan_table(where=("isnull", "o_ship"))``
    keeps only the F-partition files from the recorded per-file null
    counts — zero object reads at plan time — and the residual
    ``IS NULL`` filter keeps row semantics exact. The inverse leaf
    (``("notnull", "o_ship")``) is asserted in-contract to prune too,
    and to partition the row count with the NULL side. The oracle is
    the plain relational answer. Null counts are the one footer stat
    that exists even for all-NULL files (where min/max cannot), which
    is why real formats carry them: IS NULL predicates are common in
    quality-screen scans over sparse columns at 100 TB."""
    tmp = _scratch("spype_lake_nulls_")
    try:
        path = f"{tmp}/orders_tbl"
        src = _base(spark, sf_dir).withColumn(
            "o_ship",
            F.when(F.col("o_orderstatus") != "F", F.col("o_orderstatus")),
        )
        lake.write_table(src, path, partition_by="o_orderstatus")
        full = lake.read_table(spark, path)
        n_full = len(set(full.inputFiles()))
        isnull = lake.scan_table(spark, path, where=("isnull", "o_ship"))
        notnull = lake.scan_table(
            spark, path, where=("notnull", "o_ship")
        )
        n_isnull = len(set(isnull.inputFiles()))
        n_notnull = len(set(notnull.inputFiles()))
        if not (0 < n_isnull < n_full and 0 < n_notnull < n_full):
            raise AssertionError(
                f"null-stat pruning regressed: {n_isnull} / {n_notnull} "
                f"of {n_full} files"
            )
        if isnull.count() + notnull.count() != full.count():
            raise AssertionError("IS NULL / IS NOT NULL scans don't partition")
        return isnull.select(*_BASE_COLS).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_PRED = (
    "or",
    ("and", ("eq", "o_orderstatus", "O"),
     ("between", "o_orderkey", 1000, 2999)),
    ("and", ("eq", "o_orderstatus", "F"), ("ge", "o_orderkey", 6000)),
)

_PRED_SQL = """((o_orderstatus = 'O' AND o_orderkey BETWEEN 1000 AND 2999)
             OR (o_orderstatus = 'F' AND o_orderkey >= 6000))"""


@query(
    "q_lake_scan_predicate",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_orderkey < 8000 AND {_PRED_SQL}
    """,
)
def q_lake_scan_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARBITRARY-predicate manifest pruning: an OR of AND-nests
    (status/key disjuncts) evaluated three-valued per file — AND
    prunes when any conjunct refutes from partition tuples or min/max
    stats, OR only when every disjunct does — then the compiled
    residual keeps row semantics exact. Partition, range and null
    screens are single leaves of the same spec; the strict-subset
    inputFiles assertion pins that disjunctive predicates still prune
    (the case naive per-column pruning cannot express, because
    neither column's global range excludes anything)."""
    tmp = _scratch("spype_lake_predscan_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(
            _base(spark, sf_dir).repartitionByRange(8, "o_orderkey"),
            path,
            partition_by="o_orderstatus",
        )
        full = lake.read_table(spark, path)
        pruned = lake.scan_table(spark, path, where=_PRED)
        n_full = len(set(full.inputFiles()))
        n_pruned = len(set(pruned.inputFiles()))
        out = pruned.select(*_BASE_COLS).localCheckpoint()
        ok = (0 < n_pruned < n_full) if out.count() > 0 else n_pruned < n_full
        if not ok:
            raise AssertionError(
                f"predicate pruning regressed: reads {n_pruned} of "
                f"{n_full} files"
            )
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_delete_predicate",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_orderkey < 8000 AND NOT {_PRED_SQL}
    """,
)
def q_lake_delete_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE with GENERAL predicate file pruning: the OR-of-ANDs
    retention shape (`delete_predicate`) rewrites only files the
    predicate possibly reaches; provably-missed files carry into the
    new version BY REFERENCE — asserted in-contract as a nonempty
    intersection of the two versions' manifest file lists, with the
    carry strictly smaller than the base (something was really
    touched). O(matching files), not O(table): the difference between
    an overnight retention sweep and a full rewrite at 100 TB. The
    oracle is the surviving relational state."""
    tmp = _scratch("spype_lake_preddel_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(
            _base(spark, sf_dir).repartitionByRange(8, "o_orderkey"),
            path,
            partition_by="o_orderstatus",
        )
        v = lake.delete_predicate(spark, path, _PRED)
        if v != 1:
            raise AssertionError(f"unexpected version {v}")
        before = set(lake.data_files(path, 0))
        after = set(lake.data_files(path, 1))
        carried = before & after
        if not carried or not (before - after):
            raise AssertionError(
                f"predicate DELETE pruning regressed: carried "
                f"{len(carried)} of {len(before)} files"
            )
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_append_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey >= 8000 AND o_orderkey < 12000
    """,
)
def q_lake_append_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blind APPEND + incremental consumption: two `append_table`
    commits land new order slices with ZERO reads or rewrites of
    existing data (every base manifest entry carried by reference —
    asserted as a file-list superset), then
    `scan_table(since=base_version)` reads EXACTLY the appended files
    from commit-sequence metadata, never touching a base file
    (asserted disjoint). This is the minute-cadence ingest pair at
    100 TB: append cost is O(new rows) regardless of table size, and
    a downstream consumer checkpointing by version pays O(new files)
    per poll instead of re-scanning the table. The oracle is the
    appended slice relationally. (Tables that also merge/delete should
    consume via `changes()` — `since` is the appends fast path.)
    """
    tmp = _scratch("spype_lake_append_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(_base(spark, sf_dir), path)
        src = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        a1 = src.filter(
            (F.col("o_orderkey") >= 8000) & (F.col("o_orderkey") < 10000)
        )
        a2 = src.filter(
            (F.col("o_orderkey") >= 10000) & (F.col("o_orderkey") < 12000)
        )
        lake.append_table(spark, path, a1)
        lake.append_table(spark, path, a2)
        f0 = set(lake.data_files(path, 0))
        f2 = set(lake.data_files(path, 2))
        if not f0 <= f2:
            raise AssertionError("append rewrote base files")
        inc = lake.scan_table(spark, path, since=0)
        base_files = {p for p in inc.inputFiles() if any(
            p.endswith(b) for b in f0
        )}
        if base_files:
            raise AssertionError(
                f"incremental scan read {len(base_files)} base files"
            )
        return inc.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_widen",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, CAST(o_custkey AS INTEGER) AS ck,
             CAST(o_totalprice AS REAL) AS price
      FROM orders WHERE o_orderkey < 8000
    ),
    wide AS (
      SELECT o_orderkey + 5000000000 AS o_orderkey,
             o_custkey + 5000000000 AS ck,
             o_totalprice AS price
      FROM orders WHERE o_orderkey >= 4000 AND o_orderkey < 6000
    )
    SELECT o_orderkey, CAST(ck AS BIGINT) AS ck,
           CAST(price AS DOUBLE) AS price
    FROM base
    UNION ALL
    SELECT o_orderkey, ck, price FROM wide
    """,
)
def q_lake_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE WIDENING as a metadata-only commit (Delta 3.x's ALTER ...
    TYPE): build the table with NARROW columns (int custkey, float
    price), widen to bigint/double via :func:`lakehouse.widen_types` —
    asserted in-contract to rewrite ZERO data files — then MERGE rows
    whose values only the wide types can hold (keys and custkeys past
    2³¹). The final read serves the carried narrow files THROUGH the
    widened schema (Spark's Parquet scan up-casts int32→long,
    float→double at read time), so the oracle's
    ``CAST(CAST(x AS REAL) AS DOUBLE)`` round-trip pins the exact
    float32 quantization the carried files hold, bit-for-bit across
    engines. At 100 TB this is the point: a type migration on a
    petabyte table is one conditional PUT, not a rewrite."""
    tmp = _scratch("spype_lake_widen_")
    try:
        path = f"{tmp}/orders_tbl"
        narrow = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") < 8000)
            .select(
                "o_orderkey",
                F.col("o_custkey").cast("int").alias("ck"),
                F.col("o_totalprice").cast("float").alias("price"),
            )
        )
        lake.write_table(narrow, path)
        files_before = set(lake.data_files(path, 0))
        lake.widen_types(spark, path, {"ck": "bigint", "price": "double"})
        if set(lake.data_files(path, 1)) != files_before:
            raise AssertionError("widen must rewrite zero data files")
        wide = (
            load_table(spark, sf_dir, "orders")
            .filter(
                (F.col("o_orderkey") >= 4000) & (F.col("o_orderkey") < 6000)
            )
            .select(
                (F.col("o_orderkey") + F.lit(5000000000)).alias(
                    "o_orderkey"
                ),
                (F.col("o_custkey") + F.lit(5000000000)).alias("ck"),
                F.col("o_totalprice").alias("price"),
            )
        )
        lake.merge_upsert(spark, path, wide, keys=["o_orderkey"])
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_rename",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey < 6000
    ),
    b2 AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 10.0 AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey >= 6000 AND o_orderkey < 9000
    ),
    m1 AS (
      SELECT * FROM b2
      UNION ALL
      SELECT b.* FROM base b ANTI JOIN b2 u ON b.o_orderkey = u.o_orderkey
    ),
    d1 AS (SELECT o_orderkey, price, status FROM m1),
    b3 AS (
      SELECT o_orderkey, o_totalprice + 20.0 AS price,
             o_orderstatus AS status, o_custkey + 1000000 AS o_custkey
      FROM orders WHERE o_orderkey < 3000
    ),
    m2 AS (
      SELECT o_orderkey, price, status, o_custkey FROM b3
      UNION ALL
      SELECT d.o_orderkey, d.price, d.status, CAST(NULL AS BIGINT)
      FROM d1 d ANTI JOIN b3 u ON d.o_orderkey = u.o_orderkey
    )
    SELECT o_orderkey, status, price, o_custkey FROM m2
    """,
)
def q_lake_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN RENAME + DROP + re-add through COLUMN MAPPING (Delta
    column-mapping name mode, re-derived for the manifest protocol;
    :func:`lakehouse.rename_columns` / :func:`lakehouse.drop_columns`):

    1. write orders(o_orderkey, o_custkey, o_totalprice, o_orderstatus)
       partitioned by o_orderstatus;
    2. RENAME o_totalprice→price and the PARTITION column
       o_orderstatus→status — asserted in-contract to rewrite ZERO
       data files (pure metadata: logical names change, the frozen
       physical names ride in field metadata, entry partition/stats
       keys are rekeyed in the same commit);
    3. MERGE new keys through the renamed schema — the new files are
       written with the frozen PHYSICAL names, so the snapshot mixes
       pre- and post-rename files served through one mapping, and the
       COW planner prunes partitions by the NEW logical name;
    4. DROP o_custkey (metadata-only, physical name retired), then
       MERGE with ``evolve_schema=True`` re-adding a NEW column of the
       SAME NAME holding different values — the retired set forces a
       fresh physical name, so the old column's bytes (still inside
       the carried files) can NEVER resurrect: unmatched rows read the
       re-added o_custkey as NULL, which is exactly what the oracle's
       relational replay demands.

    At 100 TB this is the whole point of column mapping: renaming or
    dropping a column on a petabyte table is one conditional PUT, and
    every subsequent read pays one projection node — no rewrite, ever.
    Time travel to version 0 still serves the ORIGINAL names (asserted
    in-contract)."""
    tmp = _scratch("spype_lake_rename_")
    try:
        path = f"{tmp}/orders_tbl"
        orders = load_table(spark, sf_dir, "orders")
        lake.write_table(
            orders.filter(F.col("o_orderkey") < 6000).select(*_BASE_COLS),
            path,
            partition_by=["o_orderstatus"],
        )
        files_v0 = set(lake.data_files(path, 0))
        lake.rename_columns(
            spark, path,
            {"o_totalprice": "price", "o_orderstatus": "status"},
        )
        if set(lake.data_files(path, 1)) != files_v0:
            raise AssertionError("rename must rewrite zero data files")
        if "o_totalprice" not in lake.read_table(spark, path, 0).columns:
            raise AssertionError("time travel must serve original names")
        b2 = orders.filter(
            (F.col("o_orderkey") >= 6000) & (F.col("o_orderkey") < 9000)
        ).select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") + F.lit(10.0)).alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
        lake.merge_upsert(spark, path, b2, keys=["o_orderkey"])
        files_before_drop = set(lake.data_files(path, 2))
        lake.drop_columns(spark, path, ["o_custkey"])
        if set(lake.data_files(path, 3)) != files_before_drop:
            raise AssertionError("drop must rewrite zero data files")
        b3 = orders.filter(F.col("o_orderkey") < 3000).select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(20.0)).alias("price"),
            F.col("o_orderstatus").alias("status"),
            (F.col("o_custkey") + F.lit(1000000)).alias("o_custkey"),
        )
        lake.merge_upsert(
            spark, path, b3, keys=["o_orderkey"], evolve_schema=True
        )
        out = lake.read_table(spark, path).select(
            "o_orderkey", "status", "price", "o_custkey"
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_restore",
    oracle=_MERGE_ORACLE_CTE
    + """
    SELECT * FROM upd
    UNION ALL
    SELECT b.* FROM base b ANTI JOIN upd u ON b.o_orderkey = u.o_orderkey
    """,
)
def q_lake_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE … TO VERSION AS OF (Delta's restore, re-derived
    for the manifest protocol; :func:`lakehouse.restore_table`): build
    v0 (base orders) → v1 (MERGE) → v2 (DELETE half the keys) → RESTORE
    to v1 as v3. The restore is asserted in-contract to be pure
    metadata (v3 lists exactly v1's files by reference — zero files
    written) and HISTORY-PRESERVING (the undone v2 still time-travels
    and still shows the delete, and the head version is 3, not a
    rewound 1). The returned head must equal the v1 relational state,
    so the oracle is the SAME merge replay `q_lake_merge_upsert`
    verifies — the delete and its undo cancel exactly.

    At 100 TB the restore path is one conditional PUT of a manifest
    that carries every entry by reference: undoing a bad ingest costs
    the same whether the table is a gigabyte or a petabyte. Timestamp
    time travel (`version_at`, commit-object mtimes, Delta's TIMESTAMP
    AS OF design) rides the same manifest chain and is pinned by
    tests/test_lakehouse.py."""
    tmp = _scratch("spype_lake_restore_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(_base(spark, sf_dir), path)                   # v0
        lake.merge_upsert(
            spark, path, _updates(spark, sf_dir), keys=["o_orderkey"]
        )                                                              # v1
        lake.delete_where(spark, path, F.col("o_orderkey") % 2 == 0)   # v2
        n_v2 = lake.read_table(spark, path, 2).count()
        v = lake.restore_table(spark, path, 1)                         # v3
        if v != 3:
            raise AssertionError("restore must advance the head, not rewind")
        if lake.data_files(path, 3) != lake.data_files(path, 1):
            raise AssertionError("restore must carry v1's files by reference")
        if lake.read_table(spark, path, 2).count() != n_v2:
            raise AssertionError("restore must preserve undone history")
        if n_v2 >= lake.read_table(spark, path, 1).count():
            raise AssertionError("delete accounting broke before restore")
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_clone",
    oracle=_MERGE_ORACLE_CTE
    + """
    SELECT * FROM upd
    UNION ALL
    SELECT b.* FROM base b ANTI JOIN upd u ON b.o_orderkey = u.o_orderkey
    """,
)
def q_lake_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE (Delta's CREATE TABLE … SHALLOW CLONE, plus the
    GC refcount Delta lacks; :func:`lakehouse.clone_table`): write the
    base orders as a source table, clone it METADATA-ONLY (asserted:
    zero parquet files under the clone root — the clone's v0 manifest
    names the source's files by absolute reference), then diverge BOTH
    sides — MERGE the update set into the CLONE, DELETE rows from the
    SOURCE — and assert neither mutation leaks to the other. Finally
    vacuum the source with keep_last=1, grace=0: the source files only
    the clone still references MUST survive (the `_clones` registry
    makes the source's GC refcount live clone manifests — vacuuming a
    Delta shallow-clone source breaks the clone; here it cannot).

    Returned head = clone after the merge, so the oracle is the same
    relational merge replay as `q_lake_merge_upsert` — the source-side
    delete must be invisible to it. At 100 TB a shallow clone is the
    zero-copy dev/test/experiment fork: one manifest PUT forks a
    petabyte."""
    tmp = _scratch("spype_lake_clone_")
    try:
        src = f"{tmp}/orders_src"
        dst = f"{tmp}/orders_clone"
        lake.write_table(_base(spark, sf_dir), src)                    # src v0
        lake.clone_table(src, dst)                                     # dst v0
        import os

        for root, _dirs, files in os.walk(dst):
            if any(f.endswith(".parquet") for f in files):
                raise AssertionError("shallow clone must copy zero data")
        lake.merge_upsert(
            spark, dst, _updates(spark, sf_dir), keys=["o_orderkey"]
        )                                                              # dst v1
        n_src = lake.read_table(spark, src).count()
        lake.delete_where(spark, src, F.col("o_orderkey") % 5 == 0)    # src v1
        if lake.read_table(spark, src).count() >= n_src:
            raise AssertionError("source delete must remove rows")
        lake.vacuum(src, keep_last=1, grace_seconds=0)
        out = lake.read_table(spark, dst)
        # two-case assert (sf0.001 trap: the [4000,12000) update slice
        # is EMPTY there — then no 'U' rows can exist, and the real
        # check is that the clone still reads its pre-merge rows)
        has_updates = not _updates(spark, sf_dir).isEmpty()
        # metadata-sized collect: distinct status values (≤4)
        statuses = {
            r["o_orderstatus"]
            for r in out.select("o_orderstatus").distinct().collect()
        }
        if has_updates and "U" not in statuses:
            raise AssertionError("clone lost its merge after source vacuum")
        if out.isEmpty():
            raise AssertionError("clone unreadable after source vacuum")
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_merge_full",
    oracle=_MERGE_ORACLE_CTE
    + """
    , m1 AS (
      SELECT * FROM upd
      UNION ALL
      SELECT b.* FROM base b ANTI JOIN upd u ON b.o_orderkey = u.o_orderkey
      WHERE b.o_orderstatus <> 'F'
    )
    SELECT * FROM m1
    WHERE NOT (o_orderkey < 2000 AND o_totalprice > 50000)
    """,
)
def q_lake_merge_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-clause MERGE (Delta's complete clause surface;
    :func:`lakehouse.merge`). Two merges exercise every clause family:

    1. the *sync* merge — ``WHEN MATCHED UPDATE, WHEN NOT MATCHED
       INSERT, WHEN NOT MATCHED BY SOURCE AND tgt.status='F' DELETE``:
       matched keys take the source row, new keys insert, and stale
       'F' target rows no source key refreshes are purged — the
       dimension-replication pattern;
    2. the *retention* merge — a KEYS-ONLY source (< 2000) with ``WHEN
       MATCHED AND tgt.price > 50000 DELETE`` and no insert clause:
       SQL MERGE's conditional-delete form, proving the source needn't
       carry the table schema when no clause reads it.

    The oracle replays both merges relationally. Conditions evaluate
    UNKNOWN→no-action and NULL keys never match (SQL MERGE semantics,
    pinned in tests/test_lakehouse.py). Scale note: merge #2 (no
    by-source clause) keeps the manifest COW pruning of merge_upsert;
    merge #1's by-source clause must examine every target row by
    definition — the same full-scan cost Delta documents for
    whenNotMatchedBySource."""
    tmp = _scratch("spype_lake_mfull_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(_base(spark, sf_dir), path)                   # v0
        lake.merge(
            spark, path, _updates(spark, sf_dir), keys=["o_orderkey"],
            when_not_matched_by_source="delete",
            by_source_condition=lambda t: t["o_orderstatus"] == "F",
        )                                                              # v1
        retention_keys = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") < 2000)
            .select("o_orderkey")
        )
        lake.merge(
            spark, path, retention_keys, keys=["o_orderkey"],
            when_matched="delete",
            matched_condition=lambda u, t: t["o_totalprice"] > 50000,
            when_not_matched=None,
        )                                                              # v2
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_hidden_partition",
    oracle="""
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
           CAST(value * 1000000 AS BIGINT) AS value_micro
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts <  TIMESTAMP '2024-01-08 00:00:00'
      AND user_id IN (1, 2, 7)
    """,
)
def q_lake_hidden_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIDDEN PARTITIONING (Iceberg's partition transforms, re-derived
    for the manifest protocol): write events partitioned by
    ``days(ts)`` and ``bucket(4, user_id)`` — the reader NEVER names a
    partition column; it filters on the raw ``ts``/``user_id`` and the
    scan translates those predicates into hidden-partition file
    pruning (`_transform_prune_entries`): the day range keeps 3 of 10
    day slots, the bucket IN-probe hashes the literals (cast to the
    RECORDED source type — Spark hashes by physical type) and keeps at
    most 3 of 4 buckets per day. Strict-subset inputFiles and
    scan≡filter equality are asserted in-contract; the hidden columns
    are invisible in the output schema.

    This is THE 100 TB time-series layout: a year of events is ~365×8
    slots, a dashboard's day-and-user query opens a handful of files,
    and nobody ever writes ``WHERE event_date = ...`` boilerplate (or
    breaks the layout by forgetting it — Iceberg's core pitch over
    Hive-style partitioning). Commit-side force re-derivation keeps
    hidden values correct through UPDATE/MERGE (tests pin the moved-row
    case)."""
    import datetime as dt

    tmp = _scratch("spype_lake_hp_")
    try:
        path = f"{tmp}/events_tbl"
        # a 10-day × 4-bucket slice: the same strict-subset pruning
        # evidence at a fraction of the partitioned-write cost (the
        # full ~30×8 fixture spent its wall-clock writing toy-scale
        # small files, not exercising the planner)
        ev = (
            load_table(spark, sf_dir, "events")
            .filter(
                (F.col("ts") >= dt.datetime(2024, 1, 1))
                & (F.col("ts") < dt.datetime(2024, 1, 11))
            )
            .select("event_id", "ts", "user_id", "event_type", "value")
            .coalesce(1)
        )
        lake.write_table(
            ev, path, partition_by=[("days", "ts"), ("bucket", 4, "user_id")]
        )
        lo = dt.datetime(2024, 1, 5)
        hi = dt.datetime(2024, 1, 8)
        sc = lake.scan_table(
            spark,
            path,
            where=(
                "and",
                ("ge", "ts", lo),
                ("lt", "ts", hi),
                ("in", "user_id", [1, 2, 7]),
            ),
        )
        n_all = len(lake.data_files(path, 0))
        n_sc = len(sc.inputFiles())
        if not (0 < n_sc < n_all):
            raise AssertionError(
                f"hidden-partition pruning failed: {n_sc} of {n_all} files"
            )
        ref = lake.read_table(spark, path).filter(
            (F.col("ts") >= lo) & (F.col("ts") < hi)
            & F.col("user_id").isin(1, 2, 7)
        )
        out = sc.select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
            F.round(F.col("value") * 1000000).cast("long").alias("value_micro"),
        ).localCheckpoint()
        if out.count() != ref.count():
            raise AssertionError("scan_table != read_table().filter()")
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_zorder",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey < 8000
      AND o_custkey BETWEEN 20 AND 80
      AND o_orderkey BETWEEN 1000 AND 3000
    """,
)
def q_lake_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER on a manifest table (Delta's OPTIMIZE ... ZORDER
    BY, as `compact(zorder_code=...)` + manifest stats pruning): write
    orders deliberately FRAGMENTED (16 hash-random files — every file
    spans the whole key space, so a 2-D box predicate can prune
    nothing), then compact with a Morton interleave of (custkey,
    orderkey). The rewrite is the SAME one-shuffle cost as a plain
    compaction, but each produced file now covers a tight rectangle of
    the key plane, so the manifest min/max stats prune a 2-D box scan
    down to the few intersecting files — asserted in-contract: the
    post-zorder `scan_table` must read STRICTLY FEWER files than the
    pre-zorder scan AND a strict subset of the table.

    At 100 TB this is the second half of the hidden-partitioning
    story: partitions give coarse slots, z-order gives multi-dimension
    locality INSIDE each slot, and both feed the same metadata-only
    file pruning (zero object reads at plan time)."""
    from spype_spark.layout import morton2

    tmp = _scratch("spype_lake_zo_")
    try:
        path = f"{tmp}/orders_tbl"
        base = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") < 8000)
            .select("o_orderkey", "o_custkey", "o_totalprice")
        )
        lake.write_table(base.repartition(16), path)
        box = (
            "and",
            ("between", "o_custkey", 20, 80),
            ("between", "o_orderkey", 1000, 3000),
        )
        n_before = len(lake.scan_table(spark, path, where=box).inputFiles())
        lake.compact(
            spark,
            path,
            target_files=8,
            zorder_code=morton2("o_custkey % 65536", "o_orderkey % 65536"),
        )
        sc = lake.scan_table(spark, path, where=box)
        n_after = len(sc.inputFiles())
        n_total = len(lake.data_files(path, 1))
        if not (0 < n_after < n_before and n_after < n_total):
            raise AssertionError(
                f"z-order must tighten pruning: {n_after} files after vs "
                f"{n_before} before (of {n_total})"
            )
        return sc.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_delete_dv",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_orderkey < 8000
      AND NOT (o_orderstatus = 'F' AND o_totalprice < 120000)
      AND NOT (o_orderkey % 5 = 0 AND o_custkey % 2 = 0)
    """,
)
def q_lake_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL DELETION VECTORS (Delta's DVs;
    :func:`lakehouse.delete_where_dv`): two predicate deletes marked as
    (commit-relative file path, row index) sidecars — asserted
    in-contract to rewrite ZERO data files across BOTH commits (the
    v2 file list is identical to v0's) — then a compaction that
    materializes and clears the DVs (asserted empty) without changing
    content. The oracle is the relational double-NOT replay.

    Versus the COW :func:`lakehouse.delete_where` (O(matching files)
    rewrite) and the equality :func:`lakehouse.delete_keys` (needs the
    key list up front), the DV path takes an ARBITRARY predicate and
    writes only O(matched rows): at 100 TB a scattered compliance
    purge costs kilobytes of sidecar plus one broadcast anti-join per
    read until the next compaction — the exact trade Delta documents
    for deletion vectors. Sequence rules keep later re-inserts
    unswallowed; DVs compose with equality deletes, column mapping,
    clones, branches, and hidden partitioning (all test-pinned)."""
    tmp = _scratch("spype_lake_dv_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(_base(spark, sf_dir).repartition(8), path)   # v0
        f0 = lake.data_files(path, 0)
        lake.delete_where_dv(
            spark,
            path,
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 120000),
        )                                                             # v1
        lake.delete_where_dv(
            spark,
            path,
            (F.col("o_orderkey") % 5 == 0) & (F.col("o_custkey") % 2 == 0),
        )                                                             # v2
        if lake.data_files(path, 2) != f0 or lake.data_files(path, 1) != f0:
            raise AssertionError("DV deletes must rewrite zero data files")
        n_mor = lake.read_table(spark, path).count()
        lake.compact(spark, path, target_files=2)                     # v3
        if lake._m_load(path, 3).get("pos_deletes"):
            raise AssertionError("compaction must clear the DVs")
        out = lake.read_table(spark, path)
        if out.count() != n_mor:
            raise AssertionError("compaction changed MOR content")
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_optimize_small",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey < 8000
    """,
)
def q_lake_optimize_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECTIVE OPTIMIZE — bin-packing compaction
    (:func:`lakehouse.compact` with ``min_file_bytes``; Delta/Iceberg
    ``OPTIMIZE``'s actual semantics): only files under the size
    threshold are read and rewritten; everything else carries by
    manifest reference. Asserted in-contract: (a) the two large files'
    manifest entries are carried BYTE-IDENTICAL (same path, same
    stats, same seq — never reopened), (b) the small-file population
    packs into one output, (c) content is invariant — the oracle is
    plain SQL over the base slice.

    The 100 TB point: a full-snapshot rewrite because 2 % of a
    table's files are small costs O(table); this costs
    O(bytes-under-threshold) + one manifest publish. Planning is pure
    manifest arithmetic over the recorded per-entry ``bytes``."""
    tmp = _scratch("spype_lake_opt_")
    try:
        path = f"{tmp}/orders_tbl"
        full = _base(spark, sf_dir)
        # two deliberately LARGE files (3/4 of the rows, split in two)
        # plus two small appended shards (1/8 each) — the shape nightly
        # ingest leaves behind
        lake.write_table(
            full.filter(F.col("o_orderkey") % 8 < 6).repartition(2), path
        )
        for r in (6, 7):
            lake.append_table(
                spark, path, full.filter(F.col("o_orderkey") % 8 == r).coalesce(1)
            )
        m0 = lake._m_load(path, lake.latest_version(path))
        e0 = lake._m_entries(path, m0)
        sizes = sorted(e["bytes"] for e in e0)
        if len(e0) != 4 or sizes[1] >= sizes[2]:
            raise AssertionError(
                f"fixture degenerate: expected 2 small + 2 large files, "
                f"sizes {sizes}"
            )
        thresh = sizes[2]  # smaller of the two large files
        big = {e["path"]: e for e in e0 if e["bytes"] >= thresh}
        v = lake.compact(
            spark, path, min_file_bytes=thresh, target_file_bytes=1 << 30
        )
        e1 = lake._m_entries(path, lake._m_load(path, v))
        if len(e1) != 3:
            raise AssertionError(
                f"expected 2 carried + 1 packed file, got {len(e1)}"
            )
        carried = {e["path"]: e for e in e1 if e["path"] in big}
        if carried != big:
            raise AssertionError(
                "large entries must carry byte-identical (untouched)"
            )
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_branch_multi",
    oracle="""
    WITH f AS (
      SELECT o_orderstatus, COUNT(*) AS fact_n
      FROM orders WHERE o_orderkey < 8000 GROUP BY o_orderstatus
    ),
    r AS (
      SELECT o_orderstatus, COUNT(*) AS rollup_n,
             MAX(o_orderkey) AS rollup_maxk
      FROM orders WHERE o_orderkey < 8000 AND o_orderkey % 8 <> 0
      GROUP BY o_orderstatus
    )
    SELECT f.o_orderstatus, f.fact_n, r.rollup_n, r.rollup_maxk
    FROM f JOIN r ON f.o_orderstatus = r.o_orderstatus
    """,
)
def q_lake_branch_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATALOG-LEVEL multi-table write-audit-publish: a branch ref
    forks the WHOLE catalog state; a fact append and the rollup DERIVED
    FROM THE BRANCH'S AUDIT READ stage on the branch (invisible to the
    parent — asserted); the parent advances concurrently with a
    disjoint append; publish lands BOTH tables in ONE atomic record
    (asserted: exactly one txn id, changed set = {fact, rollup}),
    rebasing the branch's fact change onto the advanced head.

    This is the audit pattern a pipeline needs at 100 TB: the fact and
    its rollup must become visible TOGETHER or not at all — Iceberg
    multi-table transactions / Nessie-style catalog branches, built on
    the same staged-manifest + partition-footprint machinery as the
    transaction (zero new commit primitives). The oracle replays both
    tables relationally: the published fact is the full slice, the
    published rollup aggregates only what the branch saw (base ∪
    branch append — NOT the parent's concurrent append, which landed
    after the audit)."""
    from spype_spark.catalog import Catalog

    tmp = _scratch("spype_cat_wap_")
    try:
        cat = Catalog(f"{tmp}/cat")
        base = _base(spark, sf_dir)
        with cat.transaction(spark) as txn:
            txn.write(base.filter(F.col("o_orderkey") % 4 != 0), "fact")
        n_parent0 = cat.read(spark, "fact").count()
        cat.create_branch("wap")
        with cat.transaction(spark, branch="wap") as txn:
            txn.append(base.filter(F.col("o_orderkey") % 8 == 4), "fact")
        # the audit step: read the BRANCH's fact, derive the rollup
        # from it, stage the rollup on the same branch
        audit_fact = cat.read(spark, "fact", branch="wap")
        rollup = audit_fact.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("rollup_n"),
            F.max("o_orderkey").alias("rollup_maxk"),
        )
        with cat.transaction(spark, branch="wap") as txn:
            txn.write(rollup, "rollup")
        if cat.read(spark, "fact").count() != n_parent0:
            raise AssertionError("branch staging leaked into the parent")
        if "rollup" in cat.state():
            raise AssertionError("branch-created table visible pre-publish")
        # concurrent parent ingest (disjoint blind append) → publish
        # must REBASE, not abort
        with cat.transaction(spark) as txn:
            txn.append(base.filter(F.col("o_orderkey") % 8 == 0), "fact")
        before = cat.latest_txn()
        t = cat.publish_branch(spark, "wap")
        if t != before + 1:
            raise AssertionError("publish must be exactly ONE record")
        changed = [
            tuple(r.changed)
            # metadata-sized collect: one row per committed txn (3)
            for r in cat.history(spark).collect()
            if r.txn == t
        ]
        if changed != [("fact", "rollup")]:
            raise AssertionError(
                f"publish record must cover both tables, got {changed}"
            )
        fact_n = cat.read(spark, "fact").groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("fact_n")
        )
        out = fact_n.join(cat.read(spark, "rollup"), "o_orderstatus").select(
            "o_orderstatus", "fact_n", "rollup_n", "rollup_maxk"
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_sql_facade",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey < 8000
    ),
    upd AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
             'U' AS o_orderstatus
      FROM orders WHERE o_orderkey < 8000 AND o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey + 100000, o_custkey, o_totalprice, 'N'
      FROM orders WHERE o_orderkey < 8000 AND o_orderkey % 5 = 0
    ),
    merged AS (
      SELECT u.o_orderkey, u.o_custkey, u.o_totalprice, u.o_orderstatus
      FROM upd u JOIN base b USING (o_orderkey)
      WHERE b.o_orderstatus <> 'F'
      UNION ALL
      SELECT b.* FROM base b JOIN upd u USING (o_orderkey)
      WHERE b.o_orderstatus = 'F'
      UNION ALL
      SELECT u.o_orderkey, u.o_custkey, u.o_totalprice, u.o_orderstatus
      FROM upd u ANTI JOIN base b ON u.o_orderkey = b.o_orderkey
      UNION ALL
      SELECT b.* FROM base b ANTI JOIN upd u ON b.o_orderkey = u.o_orderkey
      WHERE b.o_orderstatus <> 'F'
    ),
    updated AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 2
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM merged
    )
    SELECT * FROM updated WHERE NOT (o_custkey % 7 = 0)
    """,
)
def q_lake_sql_facade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL TEXT FACADE (:func:`spype_spark.sql`): the lakehouse verbs
    driven entirely through statements — a conditional full-clause
    MERGE INTO (matched-AND update, insert, not-matched-by-source
    conditional delete), an arithmetic UPDATE … WHERE, and a DELETE
    FROM … WHERE — against a path-addressed manifest table. Same
    kernels as q_lake_merge_full / q_lake_update (the facade is a
    statement-level dispatcher; every embedded condition and
    assignment is parsed by Spark itself via F.expr), so the oracle is
    the same relational replay a Python-API run would verify against.
    """
    tmp = _scratch("spype_lake_sqlf_")
    try:
        path = f"{tmp}/orders_tbl"
        lake.write_table(_base(spark, sf_dir).repartition(4), path)
        base = _base(spark, sf_dir)
        upd = base.filter(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
            F.lit("U").alias("o_orderstatus"),
        ).unionByName(
            base.filter(F.col("o_orderkey") % 5 == 0).select(
                (F.col("o_orderkey") + F.lit(100000)).alias("o_orderkey"),
                "o_custkey",
                "o_totalprice",
                F.lit("N").alias("o_orderstatus"),
            )
        )
        upd.createOrReplaceTempView("spype_sqlf_updates")
        import spype_spark

        spype_spark.sql(spark, f"""
            MERGE INTO '{path}' AS t USING spype_sqlf_updates AS s
            ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED AND t.o_orderstatus <> 'F' THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'F'
                THEN DELETE
        """)
        spype_spark.sql(spark, f"""
            UPDATE '{path}' SET o_totalprice = o_totalprice * 2
            WHERE o_orderkey % 10 = 1
        """)
        spype_spark.sql(spark, f"""
            DELETE FROM '{path}' WHERE o_custkey % 7 = 0
        """)
        spark.catalog.dropTempView("spype_sqlf_updates")
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_spec_evolve",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_custkey % 11 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM orders WHERE o_orderkey < 8000
    """,
)
def q_lake_spec_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION SPEC EVOLUTION (Iceberg partition evolution;
    :func:`lakehouse.set_partition_spec`): era A written under
    truncate(500, o_orderkey), then a metadata-only spec change to
    bucket(8, o_custkey), then era B appended under the new spec.
    Asserted in-contract across the MIXED table: (a) an o_orderkey
    range probe prunes the era-A files under their RETIRED transform
    (strict subset of era A), (b) an o_custkey equality probe prunes
    the era-B files under the ACTIVE bucket (strict subset of era B),
    (c) a rewriting UPDATE re-derives its output under the CURRENT
    spec only (every rewritten entry records bucket values, never
    truncate ones). The oracle replays content relationally — the spec
    change and both probes are content-invisible.

    The 100 TB point: outgrowing a partition layout must not cost a
    table rewrite. The spec swap is one manifest publish; each file
    keeps pruning under the spec it was WRITTEN with (per-entry
    recorded hidden values), exactly Iceberg's per-file spec-id
    behavior re-expressed in this manifest protocol."""
    tmp = _scratch("spype_lake_spec_")
    try:
        path = f"{tmp}/orders_tbl"
        full = _base(spark, sf_dir)
        lake.write_table(
            full.filter(F.col("o_orderkey") % 2 == 0),
            path,
            partition_by=[("truncate", 500, "o_orderkey")],
        )
        lake.set_partition_spec(
            spark, path, [("bucket", 8, "o_custkey")]
        )
        lake.append_table(
            spark, path, full.filter(F.col("o_orderkey") % 2 == 1)
        )
        es = lake._m_entries(path, lake._m_load(path, lake.latest_version(path)))
        erel = lambda e: e["path"].split("data/", 1)[1]  # noqa: E731
        frel = lambda f: f.split("/data/", 1)[1]  # noqa: E731
        old = {erel(e) for e in es if "_p_trunc500_o_orderkey" in e["partition"]}
        new = {erel(e) for e in es if "_p_bucket8_o_custkey" in e["partition"]}
        if not old or not new or len(old) + len(new) != len(es):
            raise AssertionError("expected two clean eras of files")
        sc_k = lake.scan_table(
            spark, path, where=("between", "o_orderkey", 1000, 1400)
        )
        hit_old = {frel(f) for f in sc_k.inputFiles() if frel(f) in old}
        if not (0 < len(hit_old) < len(old)):
            raise AssertionError(
                f"retired truncate must strict-subset era A: "
                f"{len(hit_old)}/{len(old)}"
            )
        sc_u = lake.scan_table(spark, path, where=("eq", "o_custkey", 7))
        hit_new = {frel(f) for f in sc_u.inputFiles() if frel(f) in new}
        if not (len(hit_new) < len(new)):
            raise AssertionError(
                f"active bucket must strict-subset era B: "
                f"{len(hit_new)}/{len(new)}"
            )
        n_upd = (
            lake.read_table(spark, path)
            .filter(F.col("o_custkey") % 11 == 0)
            .count()
        )
        lake.update_where(
            spark,
            path,
            F.col("o_custkey") % 11 == 0,
            {"o_totalprice": F.col("o_totalprice") + F.lit(1.0)},
        )
        es2 = lake._m_entries(
            path, lake._m_load(path, lake.latest_version(path))
        )
        rewritten = [e for e in es2 if erel(e) not in old | new]
        # two-case: at tiny scale the update slice can be empty (no
        # rewrite happens at all) — the spec assertion only binds when
        # rows actually moved
        if n_upd > 0 and (
            not rewritten
            or any(
                "_p_trunc500_o_orderkey" in e["partition"]
                for e in rewritten
            )
        ):
            raise AssertionError(
                "rewrites must re-derive under the CURRENT spec only"
            )
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_restore_txn",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_a, COUNT(*) AS n_b
    FROM orders WHERE o_orderkey < 8000 GROUP BY o_orderstatus
    """,
)
def q_lake_restore_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATALOG RESTORE (:meth:`Catalog.restore`): cross-table time
    travel made durable — after a transaction mutates BOTH a fact and
    its rollup, one metadata-only record rolls the WHOLE catalog back
    to the pre-mutation transaction; the log head moves forward and
    history stays readable. Asserted in-contract: the restore is one
    record (txn id increments by one), both tables read back their
    original content ATOMICALLY (same record), and the catalog stays
    writable afterwards (a post-restore append lands on the restored
    state). The oracle replays the original content relationally: the
    fact's per-status counts must equal the rollup's recorded counts —
    true only if BOTH tables rolled back together.

    The 100 TB point: undoing a bad pipeline run that landed across N
    tables is one conditional PUT — no manifest, file, or data object
    is touched (lakehouse.restore_table undoes one table; this undoes
    the transaction boundary, which is what the pipeline actually
    shipped)."""
    from spype_spark.catalog import Catalog

    tmp = _scratch("spype_cat_restore_")
    try:
        cat = Catalog(f"{tmp}/cat")
        base = _base(spark, sf_dir)
        rollup = base.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_b")
        )
        with cat.transaction(spark) as txn:   # txn 0
            txn.write(base, "a")
            txn.write(rollup, "b")
        with cat.transaction(spark) as txn:   # txn 1: corrupt both
            txn.merge_upsert(
                "a",
                base.filter(F.col("o_orderkey") % 3 == 0).withColumn(
                    "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
                ),
                keys=["o_orderkey"],
            )
            txn.delete_where("b", F.col("o_orderstatus") == "F")
        t = cat.restore(0)                    # txn 2: one record undoes both
        if t != 2 or cat.latest_txn() != 2:
            raise AssertionError("restore must be exactly ONE record")
        out = (
            cat.read(spark, "a")
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_a"))
            .join(cat.read(spark, "b"), "o_orderstatus")
            .select("o_orderstatus", "n_a", "n_b")
            .localCheckpoint()
        )
        # history preserved: the corrupted state is still time-travelable
        n_bad = cat.read(spark, "b", txn=1).count()
        n_good = cat.read(spark, "b").count()
        if not n_bad < n_good:
            raise AssertionError("pre-restore history must stay readable")
        # catalog stays writable on the restored state
        with cat.transaction(spark) as txn:
            txn.append(
                cat.read(spark, "a").limit(0), "a"
            )  # schema-checked no-op append
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_cdf_branch",
    oracle="""
    SELECT o_orderkey, 'update' AS op
    FROM orders WHERE o_orderkey < 8000 AND o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey + 100000, 'insert'
    FROM orders WHERE o_orderkey < 8000 AND o_orderkey % 6 = 0
    """,
)
def q_lake_cdf_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED ACROSS A BRANCH PUBLISH: a branch merges an
    update set (price bump on the 'F' partition) plus inserts, the
    PARENT advances concurrently with a disjoint-partition append, the
    publish REBASES — and `changes(head_before_publish → publish)`
    yields exactly the branch's net change (the parent's own append is
    before the window; the publish restamps branch-added entries' seq
    to the published version, so incremental `scan_table(since=head)`
    consumers see precisely the rebased files — asserted). The oracle
    replays the branch's update/insert key set relationally.

    This closes the loop on write-audit-publish at 100 TB: downstream
    incremental consumers (CDC sinks, rollup maintainers) keyed on
    versions/seqs observe a branch publish as ONE ordinary commit —
    no special casing, no missed files."""
    tmp = _scratch("spype_lake_cdfb_")
    try:
        path = f"{tmp}/orders_tbl"
        base = _base(spark, sf_dir)
        lake.write_table(base, path, partition_by="o_orderstatus")
        fork = lake.latest_version(path)
        broot = lake.create_branch(path, "wap")
        upd = base.filter(F.col("o_orderstatus") == "F").withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        )
        ins = base.filter(F.col("o_orderkey") % 6 == 0).select(
            (F.col("o_orderkey") + F.lit(100000)).alias("o_orderkey"),
            "o_custkey",
            "o_totalprice",
            F.lit("F").alias("o_orderstatus"),
        )
        lake.merge_upsert(
            spark, broot, upd.unionByName(ins), keys=["o_orderkey"]
        )
        # parent advances on a DISJOINT partition ('Z' rows are new)
        lake.append_table(
            spark,
            path,
            base.filter(F.col("o_orderkey") % 7 == 0).select(
                (F.col("o_orderkey") + F.lit(200000)).alias("o_orderkey"),
                "o_custkey",
                "o_totalprice",
                F.lit("Z").alias("o_orderstatus"),
            ),
        )
        head = lake.latest_version(path)
        v_pub = lake.publish_branch(path, "wap")
        if v_pub != head + 1 or head != fork + 1:
            raise AssertionError("expected a rebase publish over one advance")
        # incremental consumers checkpointed at `head` see exactly the
        # rebased branch files (seq restamp) — the F partition rewrite
        # plus the inserts
        n_inc = lake.scan_table(spark, path, since=head).count()
        n_f = base.filter(F.col("o_orderstatus") == "F").count()
        n_ins = base.filter(F.col("o_orderkey") % 6 == 0).count()
        if n_inc != n_f + n_ins:
            raise AssertionError(
                f"since={head} saw {n_inc} rows, want {n_f + n_ins}"
            )
        return (
            lake.changes(
                spark, path, keys=["o_orderkey"], v_from=head, v_to=v_pub
            )
            .select("o_orderkey", "op")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_sql_read",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey < 3000
    ),
    v2 AS (
      SELECT * FROM base
      UNION ALL SELECT 900001, 1, 111.5
      UNION ALL SELECT 900002, 2, 222.25
      UNION ALL
      SELECT o_orderkey + 500000, o_custkey, o_totalprice
      FROM base WHERE o_orderkey % 97 = 0
    ),
    head AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey < 3000 AND o_orderkey % 113 = 0
                  THEN o_totalprice + 50.0 ELSE o_totalprice END
               AS o_totalprice
      FROM v2
    )
    SELECT h.o_orderkey, h.o_custkey, h.o_totalprice,
           v.o_totalprice AS price_v0
    FROM head h LEFT JOIN base v ON h.o_orderkey = v.o_orderkey
    """,
)
def q_lake_sql_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL FACADE, READ+DDL SIDE (:func:`spype_spark.sql`, round-11
    extension): the FULL statement lifecycle through SQL text alone —
    ``CREATE TABLE … PARTITIONED BY (bucket(4, o_custkey)) AS SELECT``
    (hidden-partition transform parsed from SQL), ``INSERT INTO …
    VALUES`` (positional, cast to table schema), ``INSERT INTO …
    SELECT`` whose source is a ``VERSION AS OF 0`` time-travel read,
    a ``MERGE INTO`` whose USING subquery time-travels, and a final
    ``SELECT`` joining the head against ``VERSION AS OF 0``. The
    oracle replays the whole sequence relationally: the engine's
    versioned reads must land exactly on the algebra.
    """
    import spype_spark

    tmp = _scratch("spype_lake_sqlr_")
    try:
        path = f"{tmp}/orders_tbl"
        load_table(spark, sf_dir, "orders").createOrReplaceTempView(
            "spype_sqlr_orders"
        )
        spype_spark.sql(spark, f"""
            CREATE TABLE '{path}' PARTITIONED BY (bucket(4, o_custkey)) AS
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM spype_sqlr_orders WHERE o_orderkey < 3000
        """)
        spype_spark.sql(spark, f"""
            INSERT INTO '{path}' VALUES (900001, 1, 111.5),
                                        (900002, 2, 222.25)
        """)
        spype_spark.sql(spark, f"""
            INSERT INTO '{path}'
            SELECT o_orderkey + 500000, o_custkey, o_totalprice
            FROM '{path}' VERSION AS OF 0 WHERE o_orderkey % 97 = 0
        """)
        spype_spark.sql(spark, f"""
            MERGE INTO '{path}' AS t USING (
                SELECT o_orderkey, o_custkey,
                       o_totalprice + 50.0 AS o_totalprice
                FROM '{path}' VERSION AS OF 0 WHERE o_orderkey % 113 = 0
            ) AS s
            ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        """)
        out = spype_spark.sql(spark, f"""
            SELECT h.o_orderkey, h.o_custkey, h.o_totalprice,
                   v.o_totalprice AS price_v0
            FROM '{path}' h LEFT JOIN '{path}' VERSION AS OF 0 v
            ON h.o_orderkey = v.o_orderkey
        """)
        spark.catalog.dropTempView("spype_sqlr_orders")
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_catalog_cdf",
    oracle="""
    WITH fact0 AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey < 4000
    ),
    ins AS (
      SELECT o_orderkey + 100000 AS o_orderkey, o_custkey, o_totalprice
      FROM fact0 WHERE o_orderkey % 5 = 0
    ),
    fact1 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END AS o_totalprice
      FROM fact0
      UNION ALL SELECT * FROM ins
    )
    SELECT 'fact' AS tbl, o_orderkey AS k, 'insert' AS op,
           CAST(0 AS BIGINT) AS version, CAST(0 AS BIGINT) AS txn
    FROM fact0
    UNION ALL
    SELECT 'rollup', o_custkey, 'insert', 0, 1
    FROM (SELECT DISTINCT o_custkey FROM fact0)
    UNION ALL
    SELECT 'fact', o_orderkey, 'update', 1, 2
    FROM fact0 WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 'fact', o_orderkey, 'insert', 1, 2 FROM ins
    UNION ALL
    SELECT 'rollup', o_custkey, 'update', 1, 2
    FROM (SELECT DISTINCT o_custkey FROM ins)
    UNION ALL
    SELECT 'fact', o_orderkey, 'delete', 2, 3
    FROM fact1 WHERE o_custkey % 10 = 0
    """,
)
def q_lake_catalog_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATALOG-GRAIN CHANGE FEED (:meth:`Catalog.changes` /
    :class:`CatalogChangesStream`, round-11): a pipeline following a
    fact table AND its derived rollup consumes both tables' changes
    with ONE txn cursor. Sequence: txn0 create fact, txn1 derive
    rollup, txn2 merge fact + refresh rollup IN ONE TRANSACTION
    (value-identical rollup rows must emit nothing), txn3 delete from
    fact. Consumed through the checkpointed stream with a RESTART
    between txn1 and txn2 (new instance, same checkpoint dir) —
    exactly-once across the restart is asserted in-contract. The
    oracle replays every diff relationally: insert/update/delete
    attribution per key per transaction must land exactly on the
    algebra."""
    from spype_spark.catalog import Catalog

    tmp = _scratch("spype_lake_ccdf_")
    try:
        cat = Catalog(f"{tmp}/cat")
        fact0 = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") < 4000)
            .select("o_orderkey", "o_custkey", "o_totalprice")
        )
        with cat.transaction(spark) as t:
            t.write(fact0.repartition(4), "fact")
        with cat.transaction(spark) as t:
            t.write(
                cat.read(spark, "fact")
                .groupBy("o_custkey")
                .agg(F.count("*").alias("cnt")),
                "rollup",
            )
        keys = {"fact": ["o_orderkey"], "rollup": ["o_custkey"]}
        ckpt = f"{tmp}/ckpt"
        s1 = cat.read_changes_stream(spark, keys, ckpt, from_txn=-1)
        f1 = s1.drain()
        if set(f1) != {"fact", "rollup"} or s1.drain() is not None:
            raise AssertionError("first drain must cover txns 0-1 exactly")
        # txn2: ONE transaction touches both tables
        src = fact0.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        ).unionByName(
            fact0.filter(F.col("o_orderkey") % 5 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(100000)
            )
        )
        with cat.transaction(spark) as t:
            t.merge_upsert("fact", src, keys=["o_orderkey"])
            t.merge_upsert(
                "rollup",
                cat.read(spark, "fact")
                .unionByName(src.join(
                    cat.read(spark, "fact"), "o_orderkey", "left_anti"
                ))
                .groupBy("o_custkey")
                .agg(F.count("*").alias("cnt")),
                keys=["o_custkey"],
            )
        # txn3: delete from fact only
        with cat.transaction(spark) as t:
            t.delete_where("fact", F.col("o_custkey") % 10 == 0)
        # RESTART: a new consumer instance on the same checkpoint must
        # resume after txn1 — stale txns reappearing would double-apply
        s2 = cat.read_changes_stream(spark, keys, ckpt)
        f2 = s2.drain()
        stale = [
            t
            for df in f2.values()
            # metadata-sized collect: distinct txn ids in one drain
            # window, bounded by the record count, never by data
            for t in [r.txn for r in df.select("txn").distinct().collect()]
            if t <= 1
        ]
        if stale or s2.drain() is not None:
            raise AssertionError(f"resume leaked txns {stale}")
        parts = []
        for feeds in (f1, f2):
            for tbl, df in feeds.items():
                kcol = keys[tbl][0]
                parts.append(
                    df.select(
                        F.lit(tbl).alias("tbl"),
                        F.col(kcol).alias("k"),
                        "op",
                        "version",
                        "txn",
                    )
                )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_scan_slab_pruned",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           o_orderkey % 12 AS p
    FROM orders
    WHERE o_orderkey % 12 IN (3, 7) AND o_totalprice >= 1000.0
    """,
)
def q_lake_scan_slab_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLAB-SUMMARY PLANNING PRUNING (round-11, the Iceberg
    manifest-list idea): a manifest table big enough to spill entries
    to part slabs is scanned with a partition filter + stats residual,
    and the contract ASSERTS the planner refuted non-matching slabs
    from pointer summaries alone (`_m_scan_entries` returns strictly
    fewer entries than a full decode, and every surviving entry
    belongs to a requested partition — slabs are partition-pure).
    The oracle replays the scan relationally: slab pruning must be a
    pure planning optimization with zero row-level effect.
    """
    tmp = _scratch("spype_lake_slab_")
    try:
        path = f"{tmp}/orders_tbl"
        df = (
            load_table(spark, sf_dir, "orders")
            .select(
                "o_orderkey",
                "o_custkey",
                "o_totalprice",
                (F.col("o_orderkey") % 12).alias("p"),
            )
        )
        lake.write_table(df.repartition(6), path, partition_by="p")
        m = lake._m_load(path, 0)
        if "parts" not in m or not m.get("part_summaries"):
            raise AssertionError(
                "fixture must exceed the inline threshold and carry "
                "slab summaries"
            )
        pruned = lake._m_scan_entries(
            path, m, lake._pred_compile(("in", "p", [3, 7]), ["p"]), None
        )
        full = lake._m_entries(path, m)
        if not pruned or len(pruned) >= len(full):
            raise AssertionError(
                f"slab pruning did not refute any slab "
                f"({len(pruned)}/{len(full)} entries survived)"
            )
        stray = [
            e["path"]
            for e in pruned
            if lake._norm_part_val(e["partition"]["p"])
            not in {lake._norm_part_val("3"), lake._norm_part_val("7")}
        ]
        if stray:
            raise AssertionError(f"non-matching slabs decoded: {stray[:3]}")
        return (
            lake.scan_table(
                spark,
                path,
                where=(
                    "and",
                    ("in", "p", [3, 7]),
                    ("ge", "o_totalprice", 1000.0),
                ),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_delta_read",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'v1' AS snap
    FROM orders WHERE o_orderkey % 4 < 3
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'head' AS snap
    FROM orders
    """,
)
def q_lake_delta_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interop read of a Delta Lake transaction log — pure Python, no
    jars (:mod:`spype_spark.delta_interop`).

    The contract fabricates a SPEC-SHAPED Delta table from ``orders``
    (Hive-partitioned by ``o_orderstatus``): v0 writes keys with
    ``o_orderkey % 4 < 2``, v1 appends ``% 4 = 2``, a classic
    single-file parquet checkpoint + ``_last_checkpoint`` lands at v1,
    v2 appends ``% 4 = 3`` — then the PRE-CHECKPOINT JSON commits are
    deleted (metadata cleanup, exactly what real Delta retention
    does). The read back therefore MUST replay the parquet checkpoint
    (the JSONs are gone — a reader that ignores it fails loudly
    in-contract) plus the post-checkpoint commit, resolve Hive-style
    partition directories against each add's ``partitionValues``, and
    time-travel to v1. Result: the v1 snapshot ∪ the head snapshot,
    tagged — the oracle replays both relationally from ``orders``
    (modulo predicates, corpus-safe at every sf).
    """
    import os

    from spype_spark import delta_interop as dl

    tmp = _scratch("spype_delta_read_")
    try:
        path = f"{tmp}/orders_delta"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        dl.write_delta(
            spark,
            o.filter(F.col("o_orderkey") % 4 < 2),
            path,
            partition_by=["o_orderstatus"],
        )
        dl.write_delta(
            spark, o.filter(F.col("o_orderkey") % 4 == 2), path, mode="append"
        )
        if dl.checkpoint_delta(spark, path) != 1:
            raise AssertionError("checkpoint did not land at version 1")
        dl.write_delta(
            spark, o.filter(F.col("o_orderkey") % 4 == 3), path, mode="append"
        )
        # metadata cleanup: v0/v1 JSON commits gone — the checkpoint is
        # now the ONLY source for the pre-v2 state
        os.unlink(dl._commit_path(path, 0))
        os.unlink(dl._commit_path(path, 1))
        v1 = dl.read_delta(spark, path, version=1).withColumn(
            "snap", F.lit("v1")
        )
        head = dl.read_delta(spark, path).withColumn("snap", F.lit("head"))
        return (
            v1.unionByName(head)
            .select(
                "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
                "snap",
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_sql_ddl",
    oracle="""
    SELECT o_orderkey,
           CAST(o_custkey AS BIGINT) AS cust,
           o_totalprice AS price,
           o_orderstatus
    FROM orders
    """,
)
def q_lake_sql_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-facade DDL parity: a rename → type-widen → partition-spec
    evolution → branch write-audit-publish sequence driven ENTIRELY by
    SQL text (:mod:`spype_spark.sqltext`), replayed relationally.

    Statements exercised: ``CREATE TABLE … PARTITIONED BY`` (identity
    spec), ``ALTER TABLE RENAME COLUMN`` (column-mapping metadata
    commit), ``ALTER TABLE ALTER COLUMN … TYPE`` (int→bigint widening,
    zero rewrite), ``ALTER TABLE SET PARTITION SPEC (bucket(4, …))``
    (spec evolution — old identity spec retires, asserted in-contract
    on the manifest), ``INSERT INTO`` under the NEW spec, ``CREATE
    BRANCH … AS OF VERSION`` + ``INSERT INTO '<branch root>'`` +
    ``PUBLISH BRANCH`` (single-table WAP squash). Because every DDL
    here is metadata-only, the final content is exactly the three
    modulo slices of ``orders`` re-unioned — the oracle reads the
    WHOLE table with the renamed/widened columns, so a DDL that
    touched data, lost a slice, or mis-mapped a column breaks the
    hash.
    """
    tmp = _scratch("spype_sql_ddl_")
    try:
        import spype_spark

        path = f"{tmp}/orders_ddl"
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        ).createOrReplaceTempView("ddl_orders")
        spype_spark.sql(spark, f"""
            CREATE TABLE '{path}' PARTITIONED BY (o_orderstatus) AS
            SELECT o_orderkey, CAST(o_custkey AS INT) AS cust,
                   o_totalprice, o_orderstatus
            FROM ddl_orders WHERE o_orderkey % 3 = 0
        """)
        spype_spark.sql(
            spark, f"ALTER TABLE '{path}' RENAME COLUMN o_totalprice TO price"
        )
        spype_spark.sql(spark, f"ALTER TABLE '{path}' ALTER COLUMN cust TYPE bigint")
        spype_spark.sql(
            spark, f"ALTER TABLE '{path}' SET PARTITION SPEC (bucket(4, o_orderkey))"
        )
        m = lake._m_load(path, lake.latest_version(path))
        active = [
            t["transform"] for t in m.get("transforms") or []
            if not t.get("retired")
        ]
        if active != ["bucket"]:
            raise AssertionError(f"spec evolution not active: {active}")
        cols = lake.read_table(spark, path).columns
        if cols != ["o_orderkey", "cust", "price", "o_orderstatus"]:
            raise AssertionError(f"unexpected post-DDL column order: {cols}")
        spype_spark.sql(spark, f"""
            INSERT INTO '{path}'
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
            FROM ddl_orders WHERE o_orderkey % 3 = 1
        """)
        head = lake.latest_version(path)
        broot = spype_spark.sql(
            spark, f"ALTER TABLE '{path}' CREATE BRANCH wap AS OF VERSION {head}"
        )
        spype_spark.sql(spark, f"""
            INSERT INTO '{broot}'
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
            FROM ddl_orders WHERE o_orderkey % 3 = 2
        """)
        spype_spark.sql(spark, f"ALTER TABLE '{path}' PUBLISH BRANCH wap")
        spark.catalog.dropTempView("ddl_orders")
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_delta_import",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 7 <> 3
    """,
)
def q_lake_delta_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZERO-COPY migration from Delta into the native manifest format
    (:func:`spype_spark.delta_interop.import_delta`) — then a NATIVE
    mutation over the foreign files.

    A two-commit Delta table is built from ``orders`` (modulo slices,
    corpus-safe), imported BY REFERENCE — the manifest's entries name
    the Delta data files absolutely with footer stats recomputed, and
    an in-contract assert proves NO data file was copied under the
    native root — then a native ``delete_where`` runs on the imported
    table: copy-on-write rewrites only the touched files into the
    native table's own data dir while untouched FOREIGN files carry by
    reference. The oracle replays the end state relationally from
    ``orders``, so a wrong import (missed file, wrong schema, stats
    misread) or a COW that corrupted the carry breaks the hash.
    """
    import glob

    from spype_spark import delta_interop as dl

    tmp = _scratch("spype_delta_imp_")
    try:
        dpath, tpath = f"{tmp}/orders_delta", f"{tmp}/orders_native"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        dl.write_delta(spark, o.filter(F.col("o_orderkey") % 3 < 2), dpath)
        dl.write_delta(
            spark, o.filter(F.col("o_orderkey") % 3 == 2), dpath,
            mode="append",
        )
        dl.import_delta(spark, dpath, tpath)
        if glob.glob(f"{tpath}/data/**/*.parquet", recursive=True):
            raise AssertionError("by-reference import copied data files")
        lake.delete_where(spark, tpath, F.col("o_orderkey") % 7 == 3)
        return lake.read_table(spark, tpath).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_delta_export",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'head' AS snap
    FROM orders
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'v0' AS snap
    FROM orders WHERE o_orderkey % 2 = 0
    """,
)
def q_lake_delta_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUAL-FORMAT export: a native manifest table mirrored as a Delta
    log IN PLACE (:func:`spype_spark.delta_interop.export_delta`) —
    the reverse direction of q_lake_delta_import, so a Delta reader
    can consume this engine's tables over the same immutable files.

    Sequence: native write (orders with even keys) → export (Delta
    v0) → native APPEND (odd keys) → re-export (Delta v1, a
    snapshot-replace commit: remove-all + add-all). The result reads
    the exported log through the Delta replay path twice — head and
    VERSION AS OF 0 — proving both the mirror's fidelity (head ==
    native content, hash-exact) and that re-export preserves Delta
    time travel over the earlier snapshot. Zero data copied
    (asserted: the Delta adds reference the manifest's own files).
    """
    from spype_spark import delta_interop as dl

    tmp = _scratch("spype_delta_exp_")
    try:
        path = f"{tmp}/orders_dual"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        lake.write_table(o.filter(F.col("o_orderkey") % 2 == 0), path)
        if dl.export_delta(spark, path) != 0:
            raise AssertionError("first export should land Delta v0")
        lake.append_table(spark, path, o.filter(F.col("o_orderkey") % 2 == 1))
        if dl.export_delta(spark, path) != 1:
            raise AssertionError("re-export should land Delta v1")
        # zero-copy assert: every Delta add resolves to a file the
        # manifest already owns (no new parquet written by the export)
        _meta, adds, _v = dl._replay(spark, path, None)
        import os as _os
        import urllib.parse as _up

        m = lake._m_load(path, lake.latest_version(path))
        own = {
            _os.path.abspath(_os.path.join(path, e["path"]))
            for e in lake._m_entries(path, m)
        }
        for a in adds:
            ap = _os.path.abspath(
                _os.path.join(path, _up.unquote(a["path"]))
            )
            if ap not in own:
                raise AssertionError(f"export copied/invented a file: {ap}")
        head = dl.read_delta(spark, path).withColumn("snap", F.lit("head"))
        v0 = dl.read_delta(spark, path, version=0).withColumn(
            "snap", F.lit("v0")
        )
        return head.unionByName(v0).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_delta_export_part",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'head' AS snap
    FROM orders WHERE o_orderkey % 2 = 0 AND o_orderstatus <> 'P'
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'v0' AS snap
    FROM orders WHERE o_orderkey % 2 = 0
    """,
)
def q_lake_delta_export_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITIONED dual-format export (VERDICT r12 task 2): a
    partition-COW native table mirrored as a Delta log in place, each
    add carrying its ``partitionValues`` from the manifest entry — the
    authoritative channel Delta readers resolve partition columns
    from (:func:`spype_spark.delta_interop.export_delta`).

    Sequence: native write of even-key orders PARTITIONED BY
    o_orderstatus → export (Delta v0, in-contract assert that every
    add carries a non-empty partitionValues and that metaData lists
    the partition column) → native partition-level DELETE of the 'P'
    partition → re-export (Delta v1, snapshot-replace). The result
    reads the log through the Delta replay path at head and VERSION AS
    OF 0: a dropped partitionValues map, a wrong Hive decode, or a
    re-export that missed the partition drop all break the hash.
    Zero data copied — the adds reference the manifest's own files.
    """
    from spype_spark import delta_interop as dl

    tmp = _scratch("spype_delta_exp_part_")
    try:
        path = f"{tmp}/orders_part_dual"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        lake.write_table(
            o.filter(F.col("o_orderkey") % 2 == 0),
            path,
            partition_by=["o_orderstatus"],
        )
        if dl.export_delta(spark, path) != 0:
            raise AssertionError("first export should land Delta v0")
        meta, adds, _v = dl._replay(spark, path, None)
        if list(meta.get("partitionColumns") or []) != ["o_orderstatus"]:
            raise AssertionError("metaData must list the partition column")
        for a in adds:
            if not (a.get("partitionValues") or {}).get("o_orderstatus"):
                raise AssertionError(f"add without partitionValues: {a}")
        lake.delete_where(spark, path, F.col("o_orderstatus") == "P")
        if dl.export_delta(spark, path) != 1:
            raise AssertionError("re-export should land Delta v1")
        head = dl.read_delta(spark, path).withColumn("snap", F.lit("head"))
        v0 = dl.read_delta(spark, path, version=0).withColumn(
            "snap", F.lit("v0")
        )
        return head.unionByName(v0).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_iceberg_read",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 's1' AS snap
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'head' AS snap
    FROM orders
    """,
)
def q_lake_iceberg_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interop read of an Apache Iceberg table — pure Python, no jars
    (:mod:`spype_spark.iceberg_interop`, VERDICT r12 task 5: the Avro
    blocker is closed by :mod:`spype_spark.avro_io`).

    The contract fabricates a SPEC-SHAPED Iceberg layout from
    ``orders`` (identity-partitioned by ``o_orderstatus``): snapshot 1
    writes keys ``% 3 = 0``, snapshot 2 appends the rest — REAL Avro
    manifest + manifest-list container files (deflate codec, spec
    field names), v2 ``metadata.json`` with the snapshot chain, and a
    ``version-hint.text`` pointer. The read back walks exactly the
    chain a real Iceberg reader walks — version hint → metadata JSON
    → manifest-list Avro → manifest Avro → live parquet files — with
    snapshot time travel to s1. Identity-partition columns come from
    the data files themselves (the Iceberg storage model; the fixture
    writer keeps them in-file via shadow partition dirs). Result: the
    s1 snapshot ∪ the head snapshot, tagged — the oracle replays both
    relationally from ``orders``. A broken Avro varint, a dropped
    manifest carry, or a snapshot-chain bug breaks the hash.
    """
    from spype_spark import iceberg_interop as ice

    tmp = _scratch("spype_iceberg_read_")
    try:
        path = f"{tmp}/orders_iceberg"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        s1 = ice.write_iceberg(
            spark,
            o.filter(F.col("o_orderkey") % 3 == 0),
            path,
            partition_by=["o_orderstatus"],
        )
        s2 = ice.write_iceberg(
            spark, o.filter(F.col("o_orderkey") % 3 != 0), path, mode="append"
        )
        # metadata-sized collect: one row per snapshot (two here)
        snap_rows = ice.iceberg_snapshots(spark, path).collect()
        hist = {r["snapshot_id"]: r["parent_id"] for r in snap_rows}
        if hist.get(s2) != s1:
            raise AssertionError("snapshot chain broken: s2 must parent s1")
        v1 = ice.read_iceberg(spark, path, snapshot_id=s1).withColumn(
            "snap", F.lit("s1")
        )
        head = ice.read_iceberg(spark, path).withColumn("snap", F.lit("head"))
        return (
            v1.unionByName(head)
            .select(
                "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
                "snap",
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_iceberg_import",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 5 <> 2
    """,
)
def q_lake_iceberg_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZERO-COPY migration from Iceberg into the native manifest
    format (:func:`spype_spark.iceberg_interop.import_iceberg`) —
    then a NATIVE mutation over the foreign files.

    A two-snapshot Iceberg table is built from ``orders`` (modulo
    slices, IDENTITY-partitioned by o_orderstatus — unlike Delta,
    Iceberg keeps identity-partition columns IN the data files, the
    same storage model as this engine, so BY-REFERENCE import works
    even for partitioned tables where Delta must materialize). The
    import names the Iceberg data files absolutely with footer stats
    recomputed; an in-contract assert proves NO data file was copied
    under the native root — then a native ``delete_where`` runs:
    copy-on-write rewrites only touched files into the native data
    dir while untouched FOREIGN files carry by reference. The oracle
    replays the end state relationally from ``orders``.
    """
    import glob

    from spype_spark import iceberg_interop as ice

    tmp = _scratch("spype_iceberg_imp_")
    try:
        ipath, tpath = f"{tmp}/orders_ice", f"{tmp}/orders_native"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        ice.write_iceberg(
            spark,
            o.filter(F.col("o_orderkey") % 3 < 2),
            ipath,
            partition_by=["o_orderstatus"],
        )
        ice.write_iceberg(
            spark, o.filter(F.col("o_orderkey") % 3 == 2), ipath,
            mode="append",
        )
        ice.import_iceberg(spark, ipath, tpath)
        if glob.glob(f"{tpath}/data/**/*.parquet", recursive=True):
            raise AssertionError("by-reference import copied data files")
        lake.delete_where(spark, tpath, F.col("o_orderkey") % 5 == 2)
        return lake.read_table(spark, tpath).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_iceberg_export",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'head' AS snap
    FROM orders
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 's1' AS snap
    FROM orders WHERE o_orderkey % 2 = 0
    """,
)
def q_lake_iceberg_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUAL-FORMAT Iceberg export: a PARTITIONED native manifest table
    mirrored as Iceberg metadata IN PLACE
    (:func:`spype_spark.iceberg_interop.export_iceberg`) — completing
    the interop matrix (Delta ⇄ native both directions since r12/r13;
    Iceberg → native landed as q_lake_iceberg_import; this is the
    fourth direction). Because both storage models keep identity
    -partition columns IN the data files, partitioned export is fully
    in profile — the shape Delta's export must carry via
    partitionValues works here with typed partition records.

    Sequence: native write (even keys, partitioned by o_orderstatus)
    → export (Iceberg snapshot s1) → native APPEND (odd keys) →
    re-export (s2, an OVERWRITE snapshot chained to s1). The result
    reads the exported metadata through the Iceberg replay path twice
    — head and SNAPSHOT AS OF s1 — proving mirror fidelity and that
    re-export preserves snapshot time travel. Zero data copied
    (asserted: every Iceberg data_file resolves to a manifest-owned
    file).
    """
    import os as _os

    from spype_spark import iceberg_interop as ice

    tmp = _scratch("spype_iceberg_exp_")
    try:
        path = f"{tmp}/orders_dual"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        lake.write_table(
            o.filter(F.col("o_orderkey") % 2 == 0),
            path,
            partition_by=["o_orderstatus"],
        )
        s1 = ice.export_iceberg(spark, path)
        lake.append_table(spark, path, o.filter(F.col("o_orderkey") % 2 == 1))
        s2 = ice.export_iceberg(spark, path)
        # zero-copy assert: every exported data_file is a file the
        # native manifest already owns
        meta = ice._current_metadata(path)
        snap = ice._pick_snapshot(meta, None)
        m = lake._m_load(path, lake.latest_version(path))
        own = {
            _os.path.abspath(_os.path.join(path, e["path"]))
            for e in lake._m_entries(path, m)
        }
        for fp in ice._live_files(path, snap):
            if _os.path.abspath(fp) not in own:
                raise AssertionError(f"export copied/invented a file: {fp}")
        if s1 == s2:
            raise AssertionError("re-export must mint a new snapshot id")
        head = ice.read_iceberg(spark, path).withColumn("snap", F.lit("head"))
        v1 = ice.read_iceberg(spark, path, snapshot_id=s1).withColumn(
            "snap", F.lit("s1")
        )
        return head.unionByName(v1).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_iceberg_mor",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 's2' AS snap
    FROM orders
    WHERE o_orderkey % 3 <> 2 AND o_orderkey % 11 <> 5
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'head' AS snap
    FROM orders
    WHERE NOT (o_orderkey % 3 <> 2 AND o_orderkey % 11 = 5)
      AND o_orderkey % 7 <> 3
    """,
)
def q_lake_iceberg_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 MERGE-ON-READ deletes, graduated from the r12 gate
    (:mod:`spype_spark.iceberg_interop`): position AND equality delete
    files applied at read time as distributed anti-joins against the
    scan's ``_metadata.file_path`` / ``row_index`` columns — no data
    file rewritten, no row through the driver.

    Snapshot sequence (each bumps the table's sequence number):
      s1  write keys ``% 3 <> 2`` (partitioned by o_orderstatus);
      s2  EQUALITY delete on ``o_orderkey`` values ``% 11 = 5`` —
          applies STRICTLY to older files, so…
      s3  …the append of keys ``% 3 = 2`` (some of which match the
          s2 delete values) must SURVIVE it — the spec's
          sequence-number rule, the part a naive implementation gets
          wrong;
      s4  POSITION delete of live rows ``% 7 = 3`` (computed via
          :func:`position_scan`'s ``_file``/``_pos`` metadata
          columns), which applies to files with seq ≤ its own — both
          s1 and s3 files.

    Result: the head state ∪ time travel to s2 (the eq delete over s1
    data only), tagged — both replayed relationally by the oracle. An
    in-contract assert proves NO data file was rewritten (pure MoR).
    """
    from spype_spark import iceberg_interop as ice

    tmp = _scratch("spype_iceberg_mor_")
    try:
        path = f"{tmp}/orders_mor"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        ice.write_iceberg(
            spark,
            o.filter(F.col("o_orderkey") % 3 != 2),
            path,
            partition_by=["o_orderstatus"],
        )
        files_before = set(_parquet_files_under(f"{path}/data"))
        s2 = ice.write_iceberg_eq_deletes(
            spark,
            o.filter(F.col("o_orderkey") % 11 == 5).select("o_orderkey"),
            path,
            ["o_orderkey"],
        )
        ice.write_iceberg(
            spark, o.filter(F.col("o_orderkey") % 3 == 2), path, mode="append"
        )
        ps = ice.position_scan(spark, path)
        ice.write_iceberg_pos_deletes(
            spark,
            ps.filter(F.col("o_orderkey") % 7 == 3).select(
                F.col("_file").alias("file_path"), F.col("_pos").alias("pos")
            ),
            path,
        )
        # merge-on-read assert: every pre-delete data file still on disk
        if not files_before <= set(_parquet_files_under(f"{path}/data")):
            raise AssertionError("MoR delete rewrote a data file")
        at_s2 = ice.read_iceberg(spark, path, snapshot_id=s2).withColumn(
            "snap", F.lit("s2")
        )
        head = ice.read_iceberg(spark, path).withColumn("snap", F.lit("head"))
        return at_s2.unionByName(head).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _parquet_files_under(root: str) -> list[str]:
    import glob

    return glob.glob(f"{root}/**/*.parquet", recursive=True)


@query(
    "q_lake_delta_colmap",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice AS price,
           o_orderstatus AS status, 'head' AS snap
    FROM orders
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice AS price,
           o_orderstatus AS status, 'v0' AS snap
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice AS price,
           o_orderstatus AS status, 'pf' AS snap
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_lake_delta_colmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta COLUMN MAPPING (name mode), graduated from the r12 gate
    (:mod:`spype_spark.delta_interop`): ``ALTER TABLE RENAME COLUMN``
    as mainstream writers perform it — a metadata-only commit pinning
    each field's ``delta.columnMapping.physicalName`` to its current
    name, upgrading the protocol to reader 3 + ``columnMapping``. The
    reader scans files by their PHYSICAL names and projects back to
    the logical schema (struct casts rename positionally).

    Sequence: write evens (partitioned by o_orderstatus) → RENAME
    o_totalprice→price AND the PARTITION column o_orderstatus→status
    (partitionValues keys stay physical per spec) → append odds with
    the new logical schema (the writer maps them back to physical
    file names/dirs). Result: head ∪ version-0 time travel (pre-rename
    names, aliased) ∪ a partition_filter read by the LOGICAL name —
    all replayed relationally by the oracle. An in-contract assert
    proves the rename touched no data file.
    """
    from spype_spark import delta_interop as di

    tmp = _scratch("spype_delta_cmap_")
    try:
        path = f"{tmp}/orders_cmap"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        di.write_delta(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 0),
            path,
            partition_by=["o_orderstatus"],
        )
        files_before = set(_parquet_files_under(path))
        di.delta_rename_column(
            spark, path, {"o_totalprice": "price", "o_orderstatus": "status"}
        )
        if set(_parquet_files_under(path)) != files_before:
            raise AssertionError("rename must be metadata-only")
        di.write_delta(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 1).select(
                "o_orderkey",
                "o_custkey",
                F.col("o_totalprice").alias("price"),
                F.col("o_orderstatus").alias("status"),
            ),
            path,
            mode="append",
        )
        head = di.read_delta(spark, path).withColumn("snap", F.lit("head"))
        v0 = (
            di.read_delta(spark, path, version=0)
            .select(
                "o_orderkey",
                "o_custkey",
                F.col("o_totalprice").alias("price"),
                F.col("o_orderstatus").alias("status"),
            )
            .withColumn("snap", F.lit("v0"))
        )
        pf = di.read_delta(
            spark, path, partition_filter={"status": "F"}
        ).withColumn("snap", F.lit("pf"))
        return head.unionByName(v0).unionByName(pf).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_delta_dv",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'v1' AS snap
    FROM orders WHERE o_orderkey % 7 <> 3
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'head' AS snap
    FROM orders WHERE o_orderkey % 7 <> 3 AND o_orderkey % 5 <> 1
    """,
)
def q_lake_delta_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta DELETION VECTORS, graduated from the r12 gate
    (:mod:`spype_spark.delta_interop` + the pure-Python roaring codec
    in :mod:`spype_spark.roaring`): merge-on-read row deletes — each
    touched file's add action re-committed with a ``deletionVector``
    descriptor (``u`` storage: a z85-uuid-named ``.bin`` framing the
    magic-prefixed RoaringBitmapArray with big-endian size + CRC-32),
    applied at read as ONE distributed anti-join on the scan's
    ``_metadata`` (file, row position); bitmaps decode on EXECUTORS.

    Sequence over a partitioned orders table: DV-delete keys
    ``% 7 = 3`` (v1) → DV-delete keys ``% 5 = 1`` (v2 — the second
    delete must MERGE positions into files already carrying a vector,
    the spec's one-DV-per-file invariant). Result: time travel to v1
    ∪ head — the oracle replays both; an in-contract assert proves NO
    data file was rewritten (pure merge-on-read).
    """
    import glob

    from spype_spark import delta_interop as di

    tmp = _scratch("spype_delta_dv_")
    try:
        path = f"{tmp}/orders_dv"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        di.write_delta(spark, o, path, partition_by=["o_orderstatus"])
        files0 = set(glob.glob(f"{path}/**/*.parquet", recursive=True))
        v1 = di.delta_delete_rows(spark, path, F.col("o_orderkey") % 7 == 3)
        di.delta_delete_rows(spark, path, F.col("o_orderkey") % 5 == 1)
        if set(glob.glob(f"{path}/**/*.parquet", recursive=True)) != files0:
            raise AssertionError("deletion-vector delete rewrote a data file")
        at_v1 = di.read_delta(spark, path, version=v1).withColumn(
            "snap", F.lit("v1")
        )
        head = di.read_delta(spark, path).withColumn("snap", F.lit("head"))
        return at_v1.unionByName(head).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_iceberg_rename",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice AS price, o_orderstatus
    FROM orders
    WHERE o_orderkey % 2 = 1 OR o_orderkey % 11 <> 5
    """,
)
def q_lake_iceberg_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg FIELD-ID column resolution under RENAME — the spec's
    schema-evolution rule the r12 reader was scoped as missing
    (ROADMAP: name-based matching would silently NULL a renamed
    column's old files). ``rename_iceberg_columns`` publishes a
    metadata-only schema version (same field id, new name); the read
    path groups data files by their footer field-id projection and
    aliases old physical names onto the current logical column —
    both file generations feed `price` (files written before the
    rename carry physical `o_totalprice`, an in-contract assert
    proves the two projection groups really differ).

    Sequence: write evens (partitioned by o_orderstatus, field ids in
    footers) → EQUALITY-delete keys ``% 11 = 5`` (the delete file
    carries the PRE-rename column name and resolves by id too) →
    rename o_totalprice→price → append odds under the new name →
    read. The oracle replays relationally: all orders minus the
    equality-deleted keys, with o_totalprice aliased.
    """
    from spype_spark import iceberg_interop as ice

    tmp = _scratch("spype_iceberg_ren_")
    try:
        path = f"{tmp}/orders_ren"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        ice.write_iceberg(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 0),
            path,
            partition_by=["o_orderstatus"],
        )
        ice.write_iceberg_eq_deletes(
            spark,
            o.filter(F.col("o_orderkey") % 11 == 5).select("o_orderkey"),
            path,
            ["o_orderkey"],
        )
        ice.rename_iceberg_columns(spark, path, {"o_totalprice": "price"})
        ice.write_iceberg(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 1).select(
                "o_orderkey",
                "o_custkey",
                F.col("o_totalprice").alias("price"),
                "o_orderstatus",
            ),
            path,
            mode="append",
        )
        meta = ice._current_metadata(path)
        snap = ice._pick_snapshot(meta, None)
        info = ice._snapshot_files(path, snap)
        groups = ice._group_files_by_projection(
            [fp for fp, _s in info["data"]], ice._current_fields(meta)
        )
        if len(groups) != 2:
            raise AssertionError(
                f"expected two projection generations, got {len(groups)}"
            )
        # the eq delete removed the EVEN %11==5 keys (their files
        # predate it); odd matches were appended after the delete and
        # survive by the strict-sequence rule — the oracle's
        # (odd OR %11<>5) predicate replays exactly that
        return ice.read_iceberg(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_sql_foreign",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice AS price,
           o_orderstatus, 'delta' AS src
    FROM orders WHERE o_orderkey % 7 <> 3
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice AS price,
           o_orderstatus, 'ice' AS src
    FROM orders WHERE o_orderkey % 2 = 0
    """,
)
def q_lake_sql_foreign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOREIGN-format maintenance through the SQL facade (round 13) —
    the statements a Delta/Iceberg user runs against their existing
    tables before migrating:

    - ``DELETE FROM DELTA '<p>' WHERE o_orderkey % 7 = 3`` — a
      deletion-vector delete (merge-on-read, zero files rewritten);
    - ``ALTER DELTA '<p>' RENAME COLUMN o_totalprice TO price`` —
      column mapping (name mode), old physical names still readable;
    - ``SELECT … FROM DELTA '<p>'`` reads the vectored, renamed table;
    - ``ALTER ICEBERG '<p>' RENAME COLUMN …`` (field-id evolution)
      then ``IMPORT ICEBERG '<p>' INTO '<native>'`` — the import
      AUTO-materializes here: a by-reference manifest would read the
      files by NAME and null the renamed column, so renamed (or
      delete-carrying) sources rewrite once through the full Iceberg
      read semantics, the same policy Delta's import applies to
      column-mapped / vectored tables.

    Every verb goes through :func:`spype_spark.sql` — parse, dispatch,
    and kernel in one pass; the oracle replays both end states
    relationally.
    """
    import spype_spark
    from spype_spark import delta_interop as di
    from spype_spark import iceberg_interop as ice

    tmp = _scratch("spype_sql_foreign_")
    try:
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        dpath = f"{tmp}/orders_delta"
        di.write_delta(spark, o, dpath)
        spype_spark.sql(
            spark, f"DELETE FROM DELTA '{dpath}' WHERE o_orderkey % 7 = 3"
        )
        spype_spark.sql(
            spark,
            f"ALTER DELTA '{dpath}' RENAME COLUMN o_totalprice TO price",
        )
        d = spype_spark.sql(
            spark,
            f"SELECT o_orderkey, o_custkey, price, o_orderstatus, "
            f"'delta' AS src FROM DELTA '{dpath}'",
        )
        ipath, npath = f"{tmp}/orders_ice", f"{tmp}/orders_native"
        ice.write_iceberg(spark, o.filter(F.col("o_orderkey") % 2 == 0), ipath)
        spype_spark.sql(
            spark,
            f"ALTER ICEBERG '{ipath}' RENAME COLUMN o_totalprice TO price",
        )
        spype_spark.sql(spark, f"IMPORT ICEBERG '{ipath}' INTO '{npath}'")
        n = spype_spark.sql(
            spark,
            f"SELECT o_orderkey, o_custkey, price, o_orderstatus, "
            f"'ice' AS src FROM '{npath}'",
        )
        return d.unionByName(n).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_delta_v2ckpt",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'ckpt' AS snap
    FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 7 <> 3
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'head' AS snap
    FROM orders
    WHERE (o_orderkey % 2 = 0 AND o_orderkey % 7 <> 3)
       OR o_orderkey % 2 = 1
    """,
)
def q_lake_delta_v2ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta V2 CHECKPOINTS, graduating the last reader-feature gate
    (:func:`delta_interop.checkpoint_delta_v2`): a uuid-named JSON
    top-level (checkpointMetadata / protocol-with-features / metaData
    / txn / sidecar actions) + one parquet SIDECAR under
    ``_delta_log/_sidecars/`` carrying the O(files) add/remove state —
    including ``deletionVector`` descriptors, which the classic
    checkpoint schema cannot express (its writer gates vectored
    tables to this one).

    Sequence: write orders (partitioned) → DV-delete keys ``% 7 = 3``
    → v2 checkpoint → DELETE THE PRE-CHECKPOINT JSON COMMITS (the
    metadata-cleanup scenario every checkpoint exists for — replay
    MUST come from the v2 chain) → append odd keys → read the
    checkpointed version ∪ head. The oracle replays both; time travel
    to the checkpoint version exercises exactly-at-checkpoint replay,
    and the head read proves tail commits stack on the sidecar state.
    """
    import os as _os

    from spype_spark import delta_interop as di

    tmp = _scratch("spype_delta_v2c_")
    try:
        path = f"{tmp}/orders_v2c"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        di.write_delta(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 0),
            path,
            partition_by=["o_orderstatus"],
        )
        di.delta_delete_rows(spark, path, F.col("o_orderkey") % 7 == 3)
        v = di.checkpoint_delta_v2(spark, path)
        for t in range(0, v):
            _os.unlink(di._commit_path(path, t))
        di.write_delta(
            spark, o.filter(F.col("o_orderkey") % 2 == 1), path, mode="append"
        )
        at_ckpt = di.read_delta(spark, path, version=v).withColumn(
            "snap", F.lit("ckpt")
        )
        head = di.read_delta(spark, path).withColumn("snap", F.lit("head"))
        return at_ckpt.unionByName(head).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_delta_idmap",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders
    """,
)
def q_lake_delta_idmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta ID-MODE column mapping (the Iceberg-compatible form, the
    last Delta mapping gate graduated): file columns are matched by
    PARQUET FIELD ID from each footer, not by name — the same footer
    sweep the Iceberg reader runs.

    The contract creates an id-mode table from the EVEN orders keys
    (random physical column names, real field ids in the footers),
    fabricates a FOREIGN data file from one odd quarter whose
    physical names are entirely different but whose field ids match —
    the shape an Iceberg-to-Delta converter produces — commits it as
    a plain add, then NATIVE-APPENDS the remaining quarter through
    ``write_delta(mode="append")`` (graduated r14: the append writes
    under the table's physical names with its stable field ids
    stamped into the new footers). The read must assemble ALL orders
    under the logical names from all THREE file generations in one
    scan; a name-based reader would NULL every column of at least one
    generation. The oracle is the whole table.
    """
    import os as _os

    from spype_spark import delta_interop as di

    tmp = _scratch("spype_delta_idm_")
    try:
        path = f"{tmp}/orders_idm"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        di.write_delta(
            spark, o.filter(F.col("o_orderkey") % 2 == 0), path,
            column_mapping="id",
        )
        foreign = o.filter(F.col("o_orderkey") % 4 == 1).select(
            F.col("o_orderkey").alias("fa"),
            F.col("o_custkey").alias("fb"),
            F.col("o_totalprice").alias("fc"),
            F.col("o_orderstatus").alias("fd"),
        )
        for i, c in enumerate(["fa", "fb", "fc", "fd"], start=1):
            foreign = foreign.withMetadata(c, {"parquet.field.id": i})
        stage = f"{tmp}/stage"
        foreign.coalesce(1).write.parquet(stage)
        part = [n for n in _os.listdir(stage) if n.endswith(".parquet")][0]
        _os.replace(
            _os.path.join(stage, part), _os.path.join(path, "foreign.parquet")
        )
        di._publish_commit(
            path,
            1,
            [
                {
                    "add": {
                        "path": "foreign.parquet",
                        "partitionValues": {},
                        "size": _os.path.getsize(f"{path}/foreign.parquet"),
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            ],
        )
        di.write_delta(
            spark,
            o.filter(F.col("o_orderkey") % 4 == 3),
            path,
            mode="append",
        )
        return di.read_delta(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_iceberg_namemap",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice AS price, o_orderstatus
    FROM orders
    """,
)
def q_lake_iceberg_namemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg NAME MAPPING (``schema.name-mapping.default``) — the
    spec's projection rule for data files written WITHOUT field ids,
    i.e. the Hive/plain-parquet MIGRATION shape (closing the last
    Iceberg column-resolution gate):

    evens are written natively (footer ids) → rename
    o_totalprice→price → a name-mapping maps price's field id to its
    historical name → the odds arrive as an ID-LESS parquet file
    carrying the ORIGINAL column names, registered zero-copy via
    ``add_iceberg_data_files`` (the migrate/add_files shape). The
    read must assemble all orders: the id-carrying generation
    resolves by footer id, the migrated one by name-mapping — without
    the mapping its `price` column would be silently NULL. The oracle
    is the whole table with the alias.
    """
    import os as _os

    from spype_spark import iceberg_interop as ice

    tmp = _scratch("spype_iceberg_nm_")
    try:
        path = f"{tmp}/orders_nm"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        ice.write_iceberg(spark, o.filter(F.col("o_orderkey") % 2 == 0), path)
        ice.rename_iceberg_columns(spark, path, {"o_totalprice": "price"})
        ice.set_iceberg_name_mapping(spark, path, {"price": ["o_totalprice"]})
        hive_dir = f"{tmp}/hive_files"
        o.filter(F.col("o_orderkey") % 2 == 1).coalesce(1).write.parquet(
            hive_dir
        )
        files = [
            _os.path.join(hive_dir, n)
            for n in _os.listdir(hive_dir)
            if n.endswith(".parquet")
        ]
        ice.add_iceberg_data_files(spark, path, files)
        got = ice.read_iceberg(spark, path)
        # the migrated generation must NOT have nulled out the renamed
        # column — that is the failure mode name mapping exists for
        if got.filter(F.col("price").isNull()).limit(1).count() > 0:
            raise AssertionError("name mapping failed: NULL price rows")
        return got.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_delta_export_mor",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_orderkey % 2 = 0
      AND o_orderkey % 10 <> 0
      AND NOT (o_totalprice > 150000)
    """,
)
def q_lake_delta_export_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ dual-format export (graduates the r12 "compact
    first" gate): a native table carrying BOTH pending delete kinds —
    an equality delete (:func:`lakehouse.delete_keys`, keys divisible
    by 10) and a positional deletion vector
    (:func:`lakehouse.delete_where_dv`, price > 150 000) — mirrored as
    a Delta log in place. ``export_delta`` converts the pending
    merge-on-read state into Delta DELETION VECTORS: one roaring
    bitmap per touched data file, protocol upgraded to reader feature
    ``deletionVectors``, zero data files rewritten or copied. The
    result reads the mirror back through the Delta replay path
    (DV anti-join applied), proving a foreign DV-capable reader sees
    exactly the native table's live rows. In-contract asserts: the
    export emitted at least one deletionVector descriptor, and every
    add references a file the manifest already owns (zero-copy)."""
    import os as _os
    import urllib.parse as _up

    from spype_spark import delta_interop as dl

    tmp = _scratch("spype_delta_exp_mor_")
    try:
        path = f"{tmp}/orders_mor"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        lake.write_table(o.filter(F.col("o_orderkey") % 2 == 0), path)
        lake.delete_keys(
            spark,
            path,
            o.filter(F.col("o_orderkey") % 10 == 0).select("o_orderkey"),
        )
        lake.delete_where_dv(spark, path, F.col("o_totalprice") > 150000)
        if dl.export_delta(spark, path) != 0:
            raise AssertionError("first export should land Delta v0")
        _meta, adds, _v = dl._replay(spark, path, None)
        if not any(a.get("deletionVector") for a in adds):
            raise AssertionError("MoR export emitted no deletion vectors")
        m = lake._m_load(path, lake.latest_version(path))
        own = {
            _os.path.abspath(_os.path.join(path, e["path"]))
            for e in lake._m_entries(path, m)
        }
        for a in adds:
            ap = _os.path.abspath(_os.path.join(path, _up.unquote(a["path"])))
            if ap not in own:
                raise AssertionError(f"export copied/invented a file: {ap}")
        return dl.read_delta(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_delta_export_colmap",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice AS price,
           o_orderstatus AS status
    FROM orders
    """,
)
def q_lake_delta_export_colmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITIONED + COLUMN-MAPPED dual-format export (round 14 —
    graduating the last export combo gate): a native table PARTITIONED
    by ``o_orderstatus`` is renamed after its first write — BOTH the
    partition column (→ ``status``) and a data column
    (``o_totalprice`` → ``price``; files and Hive-layout directories
    keep the frozen physical names) — then appended to, and exports as
    Delta columnMapping NAME mode. Per the spec's writer requirement,
    each add's ``partitionValues`` are keyed by the PHYSICAL partition
    name while metaData ``partitionColumns`` stay logical (the keying
    Delta-Spark itself produces) — asserted in-contract on the raw
    actions. Reading the mirror back goes through ``read_delta``'s
    name-mode group scan, including a LOGICAL-name
    ``partition_filter`` that must prune at the partitionValues level
    and agree with the engine's own partition-pruned count."""
    from spype_spark import delta_interop as dl

    tmp = _scratch("spype_delta_exp_cm_")
    try:
        path = f"{tmp}/orders_cm"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        lake.write_table(
            o.filter(F.col("o_orderkey") % 2 == 0),
            path,
            partition_by=["o_orderstatus"],
        )
        lake.rename_columns(
            spark,
            path,
            {"o_totalprice": "price", "o_orderstatus": "status"},
        )
        lake.append_table(
            spark,
            path,
            o.filter(F.col("o_orderkey") % 2 == 1)
            .withColumnRenamed("o_totalprice", "price")
            .withColumnRenamed("o_orderstatus", "status"),
        )
        if dl.export_delta(spark, path) != 0:
            raise AssertionError("first export should land Delta v0")
        st = dl._replay_state(spark, path, None)
        conf = st["meta"].get("configuration") or {}
        if conf.get("delta.columnMapping.mode") != "name":
            raise AssertionError("export did not declare columnMapping")
        if "columnMapping" not in (st["protocol"].get("readerFeatures") or []):
            raise AssertionError("protocol lacks the columnMapping feature")
        if list(st["meta"].get("partitionColumns") or []) != ["status"]:
            raise AssertionError("partitionColumns must stay logical")
        for a in st["adds"]:
            if set(a.get("partitionValues") or {}) != {"o_orderstatus"}:
                raise AssertionError(
                    "partitionValues must be keyed by the physical "
                    "partition name under column mapping"
                )
        filtered = dl.read_delta(
            spark, path, partition_filter={"status": "F"}
        )
        native_f = lake.read_table(spark, path).filter(
            F.col("status") == "F"
        )
        if filtered.count() != native_f.count():
            raise AssertionError(
                "logical-name partition_filter read diverges from the "
                "engine's own partition-pruned count"
            )
        return dl.read_delta(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_delta_changes",
    oracle="""
    WITH ev AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    od AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    live2 AS (
      SELECT * FROM ev WHERE NOT (o_totalprice > 150000)
      UNION ALL SELECT * FROM od
    ),
    m AS (SELECT * FROM live2 WHERE o_orderstatus = 'F')
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'insert' AS _change_type, 0 AS _commit_version FROM ev
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'delete', 1 FROM ev WHERE o_totalprice > 150000
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'insert', 2 FROM od
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'update_preimage', 3 FROM m
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice + 10.0, o_orderstatus,
           'update_postimage', 3 FROM m
    """,
)
def q_lake_delta_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED over a foreign Delta log
    (:func:`delta_interop.delta_changes`) — the interop twin of the
    native catalog CDF: a CDC consumer tails row-level changes from a
    Delta table without rescanning it. The fixture log exercises every
    decode path: v0 create (file-diff `insert`), v1 deletion-vector
    delete (`delete` from the DV position DELTA — only newly
    tombstoned rows), v2 append (`insert`), v3 UPDATE with spec-shaped
    ``cdc`` actions (:func:`delta_interop.delta_update_rows` — the
    authoritative `_change_data` channel with
    ``update_preimage``/``update_postimage`` rows). Rewrite commits
    without cdc raise loudly (the same contract mainstream CDF readers
    enforce) — never a silently-wrong feed. The oracle replays all
    four change sets relationally from the corpus table."""
    from spype_spark import delta_interop as dl

    tmp = _scratch("spype_delta_cdf_")
    try:
        path = f"{tmp}/orders_cdf"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        ev = o.filter(F.col("o_orderkey") % 2 == 0)
        od = o.filter(F.col("o_orderkey") % 2 == 1)
        dl.write_delta(spark, ev, path)
        dl.delta_delete_rows(spark, path, F.col("o_totalprice") > 150000)
        dl.write_delta(spark, od, path, mode="append")
        dl.delta_update_rows(
            spark,
            path,
            F.col("o_orderstatus") == "F",
            {"o_totalprice": F.col("o_totalprice") + 10.0},
        )
        return dl.delta_changes(spark, path, 0).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_iceberg_changes",
    oracle="""
    WITH ev AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    od AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    all_o AS (SELECT * FROM ev UNION ALL SELECT * FROM od),
    live2 AS (SELECT * FROM all_o WHERE NOT (o_totalprice > 150000))
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'insert' AS _change_type, 0 AS _snap_ord FROM ev
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'insert', 1 FROM od
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'delete', 2 FROM all_o WHERE o_totalprice > 150000
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'delete', 3 FROM live2 WHERE o_orderkey % 10 = 0
    """,
)
def q_lake_iceberg_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL READ over an Iceberg snapshot chain
    (:func:`iceberg_interop.iceberg_changes`) — the Iceberg twin of
    q_lake_delta_changes: a CDC consumer tails per-snapshot row-level
    changes. The fixture chain exercises every decidable layer: two
    append snapshots (file-diff `insert`), a POSITION-delete snapshot
    and an EQUALITY-delete snapshot (both read via the `(_file,_pos)`
    anti-join between consecutive position scans, so the verified
    sequence-number machinery decides exactly which rows became
    hidden). Rewrite snapshots without row lineage raise loudly;
    `replace` (compaction) snapshots emit nothing by spec. Snapshot
    ids are content-random longs, so the contract maps them to chain
    ordinals for the relational oracle."""
    from spype_spark import iceberg_interop as ice

    tmp = _scratch("spype_ice_cdc_")
    try:
        path = f"{tmp}/orders_cdc"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        ev = o.filter(F.col("o_orderkey") % 2 == 0)
        od = o.filter(F.col("o_orderkey") % 2 == 1)
        s0 = ice.write_iceberg(spark, ev, path)
        s1 = ice.write_iceberg(spark, od, path, mode="append")
        hits = (
            ice.position_scan(spark, path)
            .filter(F.col("o_totalprice") > 150000)
            .select(
                F.col("_file").alias("file_path"), F.col("_pos").alias("pos")
            )
        )
        s2 = ice.write_iceberg_pos_deletes(spark, hits, path)
        s3 = ice.write_iceberg_eq_deletes(
            spark,
            o.filter(F.col("o_orderkey") % 10 == 0).select("o_orderkey"),
            path,
            ["o_orderkey"],
        )
        ch = ice.iceberg_changes(spark, path)
        ord_col = (
            F.when(F.col("_snapshot_id") == s0, 0)
            .when(F.col("_snapshot_id") == s1, 1)
            .when(F.col("_snapshot_id") == s2, 2)
            .when(F.col("_snapshot_id") == s3, 3)
        )
        return (
            ch.withColumn("_snap_ord", ord_col.cast("int"))
            .drop("_snapshot_id")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_stream_delta_cdc",
    oracle="""
    WITH ev AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    od AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    live2 AS (
      SELECT * FROM ev WHERE NOT (o_totalprice > 150000)
      UNION ALL SELECT * FROM od
    ),
    m AS (SELECT * FROM live2 WHERE o_orderstatus = 'F')
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'insert' AS _change_type, 0 AS _commit_version FROM ev
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'delete', 1 FROM ev WHERE o_totalprice > 150000
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'insert', 2 FROM od
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'update_preimage', 3 FROM m
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice + 10.0, o_orderstatus,
           'update_postimage', 3 FROM m
    """,
)
def q_stream_delta_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING over a foreign Delta change feed — the
    Spark 4 Python DataSource (:mod:`spype_spark.cdf_source`,
    ``format("delta_cdf")``) driving the same v0-v3 mutation fixture
    as ``q_lake_delta_changes`` through a REAL
    ``readStream → writeStream`` pipeline. Offsets are Delta commit
    versions held in Spark's checkpoint: the first
    Trigger.AvailableNow drain (opened after v0 create + v1
    deletion-vector delete) delivers exactly versions 0-1 to a
    parquet sink; the table then mutates on (v2 append, v3 cdc
    UPDATE) and a SECOND drain against the SAME checkpoint resumes
    from the committed offset, delivering exactly 2-3 — asserted
    in-contract, with a third drain proving a caught-up consumer adds
    nothing. Exactly-once CDC tailing with restart, no jars, no
    source-side state; the oracle replays all four change sets
    relationally (identical to the batch twin — the streaming path
    must add or lose NOTHING)."""
    from spype_spark import delta_interop as dl
    from spype_spark.cdf_source import register_delta_cdf

    register_delta_cdf(spark)
    tmp = _scratch("spype_stream_dcdc_")
    try:
        path = f"{tmp}/orders_cdf"
        sink = f"{tmp}/sink"
        ckpt = f"{tmp}/ckpt"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        ev = o.filter(F.col("o_orderkey") % 2 == 0)
        od = o.filter(F.col("o_orderkey") % 2 == 1)

        def drain() -> None:
            q = (
                spark.readStream.format("delta_cdf")
                .option("path", path)
                .load()
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        dl.write_delta(spark, ev, path)
        dl.delta_delete_rows(spark, path, F.col("o_totalprice") > 150000)
        drain()
        phase1 = spark.read.parquet(sink)
        if phase1.filter(F.col("_commit_version") > 1).count() != 0:
            raise AssertionError("first drain must stop at version 1")
        n1 = phase1.count()
        dl.write_delta(spark, od, path, mode="append")
        dl.delta_update_rows(
            spark,
            path,
            F.col("o_orderstatus") == "F",
            {"o_totalprice": F.col("o_totalprice") + 10.0},
        )
        drain()
        out = spark.read.parquet(sink).localCheckpoint(eager=True)
        if out.filter(F.col("_commit_version") <= 1).count() != n1:
            raise AssertionError(
                "resumed drain must not re-emit consumed versions"
            )
        drain()  # caught up — a third drain adds nothing
        if spark.read.parquet(sink).count() != out.count():
            raise AssertionError("caught-up drain must emit nothing")
        return out.select(
            *_BASE_COLS, "_change_type", "_commit_version"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_stream_iceberg_cdc",
    oracle="""
    WITH ev AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    od AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    all_o AS (SELECT * FROM ev UNION ALL SELECT * FROM od),
    live2 AS (SELECT * FROM all_o WHERE NOT (o_totalprice > 150000))
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'insert' AS _change_type, 0 AS _snap_ord FROM ev
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'insert', 1 FROM od
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'delete', 2 FROM all_o WHERE o_totalprice > 150000
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'delete', 3 FROM live2 WHERE o_orderkey % 10 = 0
    """,
)
def q_stream_iceberg_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING over an Iceberg snapshot chain — the
    Iceberg twin of q_stream_delta_cdc: the Spark 4 Python DataSource
    (:mod:`spype_spark.iceberg_cdc`, ``format("iceberg_cdc")``)
    drives the q_lake_iceberg_changes fixture chain through a real
    ``readStream → writeStream`` pipeline. Offsets are snapshot-chain
    ordinals PINNED to their snapshot ids in Spark's checkpoint
    (expired/rewritten history fails loudly, never re-windows): the
    first Trigger.AvailableNow drain delivers the two append
    snapshots to a parquet sink; the table then gains a POSITION
    -delete and an EQUALITY-delete snapshot and a second drain
    resumes from the committed ordinal, delivering exactly the two
    row-level delete sets (per-file mask diffs computed from the
    delete state the planner attached — no joins, no full rescans); a
    caught-up third drain adds nothing. The oracle replays all four
    change sets relationally, identical to the batch twin."""
    from spype_spark import iceberg_interop as ice
    from spype_spark.iceberg_cdc import register_iceberg_cdc

    register_iceberg_cdc(spark)
    tmp = _scratch("spype_stream_icdc_")
    try:
        path = f"{tmp}/orders_cdc"
        sink = f"{tmp}/sink"
        ckpt = f"{tmp}/ckpt"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        ev = o.filter(F.col("o_orderkey") % 2 == 0)
        od = o.filter(F.col("o_orderkey") % 2 == 1)

        def drain() -> None:
            q = (
                spark.readStream.format("iceberg_cdc")
                .option("path", path)
                .load()
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        s0 = ice.write_iceberg(spark, ev, path)
        s1 = ice.write_iceberg(spark, od, path, mode="append")
        drain()
        n1 = spark.read.parquet(sink).count()
        hits = (
            ice.position_scan(spark, path)
            .filter(F.col("o_totalprice") > 150000)
            .select(
                F.col("_file").alias("file_path"), F.col("_pos").alias("pos")
            )
        )
        s2 = ice.write_iceberg_pos_deletes(spark, hits, path)
        s3 = ice.write_iceberg_eq_deletes(
            spark,
            o.filter(F.col("o_orderkey") % 10 == 0).select("o_orderkey"),
            path,
            ["o_orderkey"],
        )
        drain()
        out = spark.read.parquet(sink).localCheckpoint(eager=True)
        if out.filter(
            F.col("_snapshot_id").isin(s0, s1)
        ).count() != n1:
            raise AssertionError(
                "resumed drain must not re-emit consumed snapshots"
            )
        drain()  # caught up — a third drain adds nothing
        if spark.read.parquet(sink).count() != out.count():
            raise AssertionError("caught-up drain must emit nothing")
        ord_col = (
            F.when(F.col("_snapshot_id") == s0, 0)
            .when(F.col("_snapshot_id") == s1, 1)
            .when(F.col("_snapshot_id") == s2, 2)
            .when(F.col("_snapshot_id") == s3, 3)
        )
        return (
            out.withColumn("_snap_ord", ord_col.cast("int"))
            .drop("_snapshot_id")
            .select(*_BASE_COLS, "_change_type", "_snap_ord")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_stream_lake_sink",
    oracle="""
    WITH p01 AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 3 IN (0, 1)
    ),
    kept AS (SELECT * FROM p01 WHERE NOT (o_totalprice > 200000)),
    p2 AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 3 = 2
    )
    SELECT * FROM kept UNION ALL SELECT * FROM p2
    """,
)
def q_stream_lake_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING INTO the native lakehouse — the write-side
    twin of q_stream_delta_cdc: ``writeStream.format("spype_lake")``
    (:mod:`spype_spark.lake_sink`, the Spark 4 Python DataSource
    WRITER API) appends microbatches into a manifest table with the
    engine's own commit protocol. Executors write immutable files and
    report footer stats in the commit messages (the Iceberg
    writer-report model); the driver-side ``commit()`` carries every
    base entry by reference and publishes put-if-absent, stamping
    ``txns[appId]=batchId`` for exactly-once replay. The contract
    interleaves a real engine mutation between two drains — stream
    append (orders ⅓ slice), engine DELETE (totalprice > 200k), a
    RESUMED stream append (another ⅓ slice) — proving the sink
    composes with concurrent verbs by rebasing, and a caught-up drain
    adds nothing. The oracle replays the same append/delete/append
    relationally."""
    from spype_spark.lake_sink import register_lake_sink

    register_lake_sink(spark)
    tmp = _scratch("spype_stream_lsink_")
    try:
        path = f"{tmp}/orders_tbl"
        src = f"{tmp}/src"
        ckpt = f"{tmp}/ckpt"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        lake.write_table(o.filter(F.col("o_orderkey") % 3 == 0), path)
        o.filter(F.col("o_orderkey") % 3 == 1).write.parquet(src)
        schema_ddl = (
            "o_orderkey bigint, o_custkey bigint, "
            "o_totalprice double, o_orderstatus string"
        )

        def drain() -> None:
            q = (
                spark.readStream.schema(schema_ddl)
                .parquet(src)
                .writeStream.format("spype_lake")
                .option("path", path)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()
        n1 = lake.read_table(spark, path).count()
        lake.delete_where(spark, path, F.col("o_totalprice") > 200000)
        o.filter(F.col("o_orderkey") % 3 == 2).write.mode(
            "append"
        ).parquet(src)
        drain()
        out = lake.read_table(spark, path).localCheckpoint(eager=True)
        drain()  # caught up — nothing new lands
        if lake.read_table(spark, path).count() != out.count():
            raise AssertionError("caught-up drain must append nothing")
        if n1 == 0 or out.count() <= n1 // 2:
            raise AssertionError("stream appends did not land")
        return out.select(*_BASE_COLS)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_stream_lake_upsert_native",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    b1 AS (
      SELECT o_orderkey, o_custkey,
             o_totalprice + 1000000 AS o_totalprice,
             'U' AS o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    s1 AS (
      SELECT * FROM base
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b1)
      UNION ALL SELECT * FROM b1
    ),
    s2 AS (SELECT * FROM s1 WHERE NOT (o_custkey % 10 = 7)),
    b2 AS (
      SELECT o_orderkey, o_custkey,
             o_totalprice + 2000000 AS o_totalprice,
             'V' AS o_orderstatus
      FROM orders WHERE o_orderkey % 5 = 0
    )
    SELECT * FROM s2
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b2)
    UNION ALL SELECT * FROM b2
    """,
)
def q_stream_lake_upsert_native(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE streaming UPSERT — ``writeStream.format("spype_lake")
    .option("mergeKeys", "o_orderkey")`` (VERDICT-r14 item 3): each
    microbatch's distinct keys become one equality-delete record
    published UNDER THE SAME manifest commit as the batch's files
    (:func:`lake_sink._commit_append`), so a CDC-shaped stream
    upserts with NO ``foreachBatch`` glue and NO table rewrite —
    O(batch) merge-on-read cost per commit, ``txns[appId]``
    exactly-once, the Delta-parity sink surface. The contract drains
    an upsert batch over a seeded table (even keys, price +1M,
    status 'U' — replacing the seed's even rows and inserting the
    rest), interleaves an engine DELETE (custkey % 10 = 7) to prove
    rebase composes, drains a second upsert (%5 keys, +2M, 'V' —
    last-writer-wins over batch 1 and resurrecting deleted keys),
    and checks a caught-up drain publishes nothing. The oracle
    replays the same upsert/delete/upsert algebra relationally."""
    from spype_spark.lake_sink import register_lake_sink

    register_lake_sink(spark)
    tmp = _scratch("spype_stream_lupsert_")
    try:
        path = f"{tmp}/orders_tbl"
        src = f"{tmp}/src"
        ckpt = f"{tmp}/ckpt"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        lake.write_table(o.filter(F.col("o_orderkey") % 3 == 0), path)
        o.filter(F.col("o_orderkey") % 2 == 0).withColumns(
            {
                "o_totalprice": F.col("o_totalprice") + 1000000,
                "o_orderstatus": F.lit("U"),
            }
        ).write.parquet(src)
        schema_ddl = (
            "o_orderkey bigint, o_custkey bigint, "
            "o_totalprice double, o_orderstatus string"
        )

        def drain() -> None:
            q = (
                spark.readStream.schema(schema_ddl)
                .parquet(src)
                .writeStream.format("spype_lake")
                .option("path", path)
                .option("mergeKeys", "o_orderkey")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()
        lake.delete_where(spark, path, F.col("o_custkey") % 10 == 7)
        o.filter(F.col("o_orderkey") % 5 == 0).withColumns(
            {
                "o_totalprice": F.col("o_totalprice") + 2000000,
                "o_orderstatus": F.lit("V"),
            }
        ).write.mode("append").parquet(src)
        drain()
        v = lake.latest_version(path)
        drain()  # caught up — no new commit may land
        if lake.latest_version(path) != v:
            raise AssertionError("caught-up drain must publish nothing")
        return (
            lake.read_table(spark, path)
            .select(*_BASE_COLS)
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_stream_lake_source",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
    """,
)
def q_stream_lake_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The native lakehouse as a STREAMING SOURCE —
    ``readStream.format("spype_lake")`` (:mod:`spype_spark.lake_sink`,
    the read half of the format): offsets are manifest versions, each
    microbatch delivers exactly the files a version APPENDED (entries
    stamped ``seq == version``), and change commits (MERGE/DELETE
    rewrites) fail the append-tail loudly — or are skipped wholesale
    under ``skipChangeCommits``, Delta's own option semantics — so
    duplicated or vanished rows are impossible by construction. The
    contract drains a table (orders ⅓ slice), engine-appends a second
    slice, and a RESUMED drain against the same checkpoint delivers
    exactly the new files; a caught-up drain adds nothing. Closing the
    loop with q_stream_lake_sink, the native format now has BOTH
    Structured Streaming halves with zero glue code."""
    from spype_spark.lake_sink import register_lake_sink

    register_lake_sink(spark)
    tmp = _scratch("spype_stream_lsrc_")
    try:
        path = f"{tmp}/orders_tbl"
        sink = f"{tmp}/sink"
        ckpt = f"{tmp}/ckpt"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        lake.write_table(o.filter(F.col("o_orderkey") % 3 == 0), path)

        def drain() -> None:
            q = (
                spark.readStream.format("spype_lake")
                .option("path", path)
                .load()
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()
        n1 = spark.read.parquet(sink).count()
        lake.append_table(
            spark, path, o.filter(F.col("o_orderkey") % 3 == 1)
        )
        drain()
        out = spark.read.parquet(sink).localCheckpoint(eager=True)
        if n1 == 0 or out.count() <= n1:
            raise AssertionError("resumed drain did not deliver appends")
        drain()  # caught up
        if spark.read.parquet(sink).count() != out.count():
            raise AssertionError("caught-up drain must deliver nothing")
        return out.select(*_BASE_COLS)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_stream_lake_cdf",
    oracle="""
    WITH ev AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    od AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    live2 AS (
      SELECT * FROM ev WHERE NOT (o_totalprice > 150000)
      UNION ALL SELECT * FROM od
    ),
    m AS (SELECT * FROM live2 WHERE o_orderstatus = 'F')
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'insert' AS _change_type, 0 AS _commit_version FROM ev
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'delete', 1 FROM ev WHERE o_totalprice > 150000
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'insert', 2 FROM od
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           'update_preimage', 3 FROM m
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice + 10.0, o_orderstatus,
           'update_postimage', 3 FROM m
    """,
)
def q_stream_lake_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE change feed as a Spark format —
    ``readStream.format("spype_lake").option("readChangeFeed","true")``
    (:mod:`spype_spark.lake_sink`, Delta's own option surface): the
    native lake gains the same format-level CDC the foreign formats
    got (``delta_cdf`` / ``iceberg_cdc``), so any Spark pipeline tails
    native MERGE/DELETE commits with NO custom consumer class. Offsets
    are manifest versions in Spark's checkpoint; change sets derive
    from the manifest chain alone — per-file ``insert`` partitions for
    appends, per-file mask diffs for merge-on-read deletes (the new
    DV/equality sidecars against the prior state), and a KEY-DIFF of
    exactly the touched files for rewrite commits (MERGE rewrites only
    possibly-matching files, so the diff is bounded by the commit's
    own write amplification, never the table). The fixture mirrors
    q_stream_delta_cdc exactly — v0 create + v1 DV delete, drain; v2
    append + v3 MERGE update, resumed drain; caught-up no-op drain —
    and shares its relational oracle (the native feed must add or
    lose NOTHING vs the foreign twin)."""
    from spype_spark.lake_sink import register_lake_sink

    register_lake_sink(spark)
    tmp = _scratch("spype_stream_lcdf_")
    try:
        path = f"{tmp}/orders_tbl"
        sink = f"{tmp}/sink"
        ckpt = f"{tmp}/ckpt"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        ev = o.filter(F.col("o_orderkey") % 2 == 0)
        od = o.filter(F.col("o_orderkey") % 2 == 1)

        def drain() -> None:
            q = (
                spark.readStream.format("spype_lake")
                .option("path", path)
                .option("readChangeFeed", "true")
                .option("keys", "o_orderkey")
                .load()
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        lake.write_table(ev, path)
        lake.delete_where_dv(
            spark, path, F.col("o_totalprice") > 150000
        )
        drain()
        phase1 = spark.read.parquet(sink)
        if phase1.filter(F.col("_commit_version") > 1).count() != 0:
            raise AssertionError("first drain must stop at version 1")
        n1 = phase1.count()
        lake.append_table(spark, path, od)
        live2 = lake.read_table(spark, path)
        lake.merge_upsert(
            spark,
            path,
            live2.filter(F.col("o_orderstatus") == "F").withColumn(
                "o_totalprice", F.col("o_totalprice") + 10.0
            ),
            ["o_orderkey"],
        )
        drain()
        out = spark.read.parquet(sink).localCheckpoint(eager=True)
        if out.filter(F.col("_commit_version") <= 1).count() != n1:
            raise AssertionError(
                "resumed drain must not re-emit consumed versions"
            )
        # r15: a COMPACTION lands before the final drain — its
        # dataChange=false stamp makes the planner emit NOTHING for
        # v4 (no data file opened, no keys needed), yet the stream
        # must still advance past it: the drain consumes the new
        # version and adds zero rows (Delta's own CDF semantics for
        # pure layout commits)
        from spype_spark.lake_sink import _plan_cdf_step

        v4 = lake.compact(spark, path)
        if _plan_cdf_step(path, v4, None, {}) != []:
            raise AssertionError(
                "compaction must plan to ZERO CDF partitions"
            )
        drain()  # consumes the compaction commit — emits nothing
        if spark.read.parquet(sink).count() != out.count():
            raise AssertionError(
                "compaction commit must add no change rows"
            )
        return out.select(
            *_BASE_COLS, "_change_type", "_commit_version"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_stream_delta_replicate",
    oracle="""
    WITH ev AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    od AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    live2 AS (
      SELECT * FROM ev WHERE NOT (o_totalprice > 150000)
      UNION ALL SELECT * FROM od
    )
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 10.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM live2
    """,
)
def q_stream_delta_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS Delta→native replication
    (:func:`spype_spark.replicate.replicate_delta_to_lake`) — the
    migration pipeline composed from the engine's own pieces:
    ``readStream.format("delta_cdf")`` tails the foreign change feed,
    ``foreachBatch`` applies each source commit IN ORDER via
    merge-on-read ``delete_keys`` (O(deleted keys)) and
    ``merge_upsert`` (partition-COW). The contract mirrors the
    q_lake_delta_changes fixture in TWO phases with a restart between
    (v0 create + v1 DV delete, then v2 append + v3 cdc UPDATE),
    asserting after each drain that the native table equals
    ``read_delta`` of the source at head — and that a caught-up drain
    publishes NO new native version. The oracle replays the final
    state relationally."""
    from spype_spark import delta_interop as di
    from spype_spark.replicate import replicate_delta_to_lake

    tmp = _scratch("spype_repl_")
    try:
        src = f"{tmp}/orders_delta"
        dst = f"{tmp}/orders_native"
        ck = f"{tmp}/ck"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        ev = o.filter(F.col("o_orderkey") % 2 == 0)
        od = o.filter(F.col("o_orderkey") % 2 == 1)

        def mirror() -> None:
            q = replicate_delta_to_lake(
                spark, src, dst, ck, keys=["o_orderkey"]
            )
            q.awaitTermination()

        di.write_delta(spark, ev, src)
        di.delta_delete_rows(spark, src, F.col("o_totalprice") > 150000)
        mirror()
        a = lake.read_table(spark, dst)
        if a.count() != di.read_delta(spark, src).count():
            raise AssertionError("phase-1 mirror diverged")
        di.write_delta(spark, od, src, mode="append")
        di.delta_update_rows(
            spark,
            src,
            F.col("o_orderstatus") == "F",
            {"o_totalprice": F.col("o_totalprice") + 10.0},
        )
        mirror()
        v = lake.latest_version(dst)
        mirror()  # caught up — no new native version
        if lake.latest_version(dst) != v:
            raise AssertionError("caught-up mirror must publish nothing")
        return (
            lake.read_table(spark, dst)
            .select(*_BASE_COLS)
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_stream_iceberg_replicate",
    oracle="""
    WITH ev AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    od AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    all_o AS (SELECT * FROM ev UNION ALL SELECT * FROM od),
    live2 AS (SELECT * FROM all_o WHERE NOT (o_totalprice > 150000))
    SELECT * FROM live2 WHERE o_orderkey % 10 <> 0
    """,
)
def q_stream_iceberg_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS Iceberg→native replication
    (:func:`spype_spark.replicate.replicate_iceberg_to_lake`) — the
    Iceberg twin of q_stream_delta_replicate:
    ``readStream.format("iceberg_cdc")`` tails per-snapshot row-level
    changes, ``foreachBatch`` applies them in SNAPSHOT-CHAIN order
    (ids are content-random longs, so ordering comes from the
    metadata chain, a per-batch metadata-sized read) via merge-on-read
    ``delete_keys`` + ``merge_upsert``. Two phases with a restart:
    (s0 ev insert, s1 od append), then (s2 POSITION delete of
    totalprice > 150k, s3 EQUALITY delete of every 10th key); after
    each drain the native table must equal ``read_iceberg`` at head,
    and a caught-up drain publishes no native version."""
    from spype_spark import iceberg_interop as ice
    from spype_spark.replicate import replicate_iceberg_to_lake

    tmp = _scratch("spype_repl_ice_")
    try:
        src = f"{tmp}/orders_ice"
        dst = f"{tmp}/orders_native"
        ck = f"{tmp}/ck"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        ev = o.filter(F.col("o_orderkey") % 2 == 0)
        od = o.filter(F.col("o_orderkey") % 2 == 1)

        def mirror() -> None:
            q = replicate_iceberg_to_lake(
                spark, src, dst, ck, keys=["o_orderkey"]
            )
            q.awaitTermination()

        ice.write_iceberg(spark, ev, src)
        ice.write_iceberg(spark, od, src, mode="append")
        mirror()
        if (
            lake.read_table(spark, dst).count()
            != ice.read_iceberg(spark, src).count()
        ):
            raise AssertionError("phase-1 mirror diverged")
        hits = (
            ice.position_scan(spark, src)
            .filter(F.col("o_totalprice") > 150000)
            .select(
                F.col("_file").alias("file_path"),
                F.col("_pos").alias("pos"),
            )
        )
        ice.write_iceberg_pos_deletes(spark, hits, src)
        ice.write_iceberg_eq_deletes(
            spark,
            o.filter(F.col("o_orderkey") % 10 == 0).select("o_orderkey"),
            src,
            ["o_orderkey"],
        )
        mirror()
        v = lake.latest_version(dst)
        mirror()  # caught up
        if lake.latest_version(dst) != v:
            raise AssertionError("caught-up mirror must publish nothing")
        return (
            lake.read_table(spark, dst)
            .select(*_BASE_COLS)
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_stream_lake_replicate",
    oracle="""
    WITH ev AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    od AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    live2 AS (
      SELECT * FROM ev WHERE NOT (o_totalprice > 150000)
      UNION ALL SELECT * FROM od
    )
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 10.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM live2
    """,
)
def q_stream_lake_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE→NATIVE replication
    (:func:`spype_spark.replicate.replicate_lake_to_lake`, round 14) —
    the standby/DR mirror composed from the round's native change-feed
    format: ``readStream.format("spype_lake")`` with
    ``readChangeFeed`` emits the Delta-CDF column shape, so the SAME
    ``apply_cdf_batch`` (ordered per-commit key-deletes + merge
    upserts, key-changing updates handled via stale preimages) drives
    the mirror. Fixture mirrors q_stream_delta_replicate exactly on a
    NATIVE source — v0 create + v1 DV delete, drain; v2 append + v3
    MERGE update, resumed drain; caught-up drain publishes NO native
    version — and shares its relational oracle, so the native
    replication path must add or lose nothing vs the foreign twin.
    The SECOND and THIRD syncs drive the round-15 SQL facade form —
    ``REPLICATE LAKE '<src>' INTO '<dst>' KEYS (…) CHECKPOINT '<ck>'``
    (sqltext) — proving the one-line statement resumes the SAME
    checkpointed stream the API started (facade symmetry with
    REPLICATE DELTA|ICEBERG, VERDICT-r14 item 4)."""
    from spype_spark.replicate import replicate_lake_to_lake

    tmp = _scratch("spype_repl_lake_")
    try:
        src = f"{tmp}/orders_src"
        dst = f"{tmp}/orders_dst"
        ck = f"{tmp}/ck"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        ev = o.filter(F.col("o_orderkey") % 2 == 0)
        od = o.filter(F.col("o_orderkey") % 2 == 1)
        first = [True]

        def mirror() -> None:
            if first[0]:
                first[0] = False
                q = replicate_lake_to_lake(
                    spark, src, dst, ck, keys=["o_orderkey"]
                )
                q.awaitTermination()
                return
            import spype_spark

            spype_spark.sql(
                spark,
                f"REPLICATE LAKE '{src}' INTO '{dst}' "
                f"KEYS (o_orderkey) CHECKPOINT '{ck}'",
            )

        lake.write_table(ev, src)
        lake.delete_where_dv(spark, src, F.col("o_totalprice") > 150000)
        mirror()
        if (
            lake.read_table(spark, dst).count()
            != lake.read_table(spark, src).count()
        ):
            raise AssertionError("phase-1 mirror diverged")
        lake.append_table(spark, src, od)
        live2 = lake.read_table(spark, src)
        lake.merge_upsert(
            spark,
            src,
            live2.filter(F.col("o_orderstatus") == "F").withColumn(
                "o_totalprice", F.col("o_totalprice") + 10.0
            ),
            ["o_orderkey"],
        )
        mirror()
        v = lake.latest_version(dst)
        mirror()  # caught up — no new native version
        if lake.latest_version(dst) != v:
            raise AssertionError("caught-up mirror must publish nothing")
        return (
            lake.read_table(spark, dst)
            .select(*_BASE_COLS)
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_sql_cdf",
    oracle="""
    WITH ev AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    od AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    live2 AS (
      SELECT * FROM ev WHERE NOT (o_totalprice > 150000)
      UNION ALL SELECT * FROM od
    ),
    m AS (SELECT * FROM live2 WHERE o_orderstatus = 'F')
    SELECT o_orderkey, 'delete' AS _change_type,
           1 AS _commit_version FROM ev WHERE o_totalprice > 150000
    UNION ALL
    SELECT o_orderkey, 'insert', 2 FROM od
    UNION ALL
    SELECT o_orderkey, 'update_preimage', 3 FROM m
    UNION ALL
    SELECT o_orderkey, 'update_postimage', 3 FROM m
    """,
)
def q_lake_sql_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NATIVE change feed through the SQL facade (round 14) —
    ``SELECT … FROM LAKE CHANGES '<path>' KEYS (o_orderkey) FROM
    VERSION 1``: the batch window of the ``spype_lake`` readChangeFeed
    format addressed in one SQL clause, completing the facade's CDC
    symmetry (``DELTA CHANGES`` / ``ICEBERG CHANGES`` landed r13).
    The fixture is q_stream_lake_cdf's v0-v3 chain; the query windows
    from version 1 (the v0 bulk inserts excluded by the FROM VERSION
    clause — proving the window option routes through the SQL form)
    and projects keys + change metadata. The oracle replays the three
    windowed change sets relationally."""
    import spype_spark as root

    tmp = _scratch("spype_sql_lcdf_")
    try:
        path = f"{tmp}/orders_tbl"
        o = load_table(spark, sf_dir, "orders").select(*_BASE_COLS)
        ev = o.filter(F.col("o_orderkey") % 2 == 0)
        od = o.filter(F.col("o_orderkey") % 2 == 1)
        lake.write_table(ev, path)
        lake.delete_where_dv(
            spark, path, F.col("o_totalprice") > 150000
        )
        lake.append_table(spark, path, od)
        live2 = lake.read_table(spark, path)
        lake.merge_upsert(
            spark,
            path,
            live2.filter(F.col("o_orderstatus") == "F").withColumn(
                "o_totalprice", F.col("o_totalprice") + 10.0
            ),
            ["o_orderkey"],
        )
        return root.sql(
            spark,
            f"SELECT o_orderkey, _change_type, _commit_version "
            f"FROM LAKE CHANGES '{path}' KEYS (o_orderkey) "
            f"FROM VERSION 1",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_bloom_prune",
    oracle="""
    WITH base AS (
      SELECT md5(CAST(o_orderkey AS VARCHAR)) AS k,
             o_orderkey, o_totalprice
      FROM orders WHERE o_orderkey < 8000
    ),
    upd AS (
      SELECT md5(CAST(o_orderkey AS VARCHAR)) AS k,
             o_orderkey, o_totalprice + 1000.0 AS o_totalprice
      FROM orders WHERE o_orderkey < 4
    ),
    merged AS (
      SELECT * FROM upd
      UNION ALL
      SELECT b.* FROM base b ANTI JOIN upd u ON b.k = u.k
    )
    SELECT k, o_orderkey, o_totalprice FROM merged
    WHERE k <> md5('1')
    """,
)
def q_lake_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file BLOOM FILTER pruning on a hash-shaped key (r15 — the
    prune [min, max] stats are structurally blind to: every file of an
    md5-keyed table spans the whole keyspace, so range refutation
    carries nothing and a point MERGE/DELETE would rewrite the entire
    unpartitioned table). The table opts in with
    ``write_table(bloom_keys="k")``; each data file's manifest entry
    then carries a small deterministic filter over its key values
    (double-hashed md5, ~10 bits/value — Delta's Bloom index /
    Parquet's column Bloom re-expressed at the manifest layer this
    engine keeps ALL its prune metadata in), and the planners treat a
    membership MISS as a proof of absence — exactly as sound as the
    min/max path, because Bloom filters have no false negatives.

    The contract asserts the PHYSICAL claims mid-flight (an 8-row
    MERGE against 8 files must carry ≥4 entries untouched; a DELETE
    of an absent key must read back ZERO data files) and returns the
    final table for the oracle to replay relationally — merge applied,
    one real key deleted — proving pruning never changed an answer."""
    import hashlib

    tmp = _scratch("spype_lake_bloom_")
    try:
        path = f"{tmp}/orders_hash"
        base = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") < 8000)
            .select(
                F.md5(F.col("o_orderkey").cast("string")).alias("k"),
                "o_orderkey",
                "o_totalprice",
            )
            .repartition(8, F.col("k"))
        )
        lake.write_table(base, path, bloom_keys="k")
        ups = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") < 4)
            .select(
                F.md5(F.col("o_orderkey").cast("string")).alias("k"),
                "o_orderkey",
                (F.col("o_totalprice") + F.lit(1000.0)).alias(
                    "o_totalprice"
                ),
            )
        )
        v1 = lake.merge_upsert(spark, path, ups, keys=["k"])
        ents = lake._m_entries(path, lake._m_load(path, v1))
        carried = [e for e in ents if e["seq"] != v1]
        # ≤3 update keys live in ≤3 of the 8 hash-bucketed files, so
        # Bloom refutation must carry ≥5 (fpp could cost at most a
        # hair — the bound leaves it no room on 8 files)
        if len(carried) < 5:
            raise AssertionError(
                f"bloom MERGE pruning carried only {len(carried)} of 8 "
                f"hash-keyed files — range-blind layout should carry "
                f"most of them"
            )
        # absent key: every file's filter refutes — zero data read-back
        v2 = lake.delete_predicate(spark, path, ("eq", "k", "f" * 32))
        ghost = [
            e
            for e in lake._m_entries(path, lake._m_load(path, v2))
            if e["seq"] == v2 and e.get("rows")
        ]
        if ghost:
            raise AssertionError(
                f"absent-key DELETE read back {len(ghost)} data files "
                f"despite Bloom refutation"
            )
        # present key: only its covering file rewrites
        k1 = hashlib.md5(b"1").hexdigest()
        v3 = lake.delete_predicate(spark, path, ("eq", "k", k1))
        carried3 = [
            e
            for e in lake._m_entries(path, lake._m_load(path, v3))
            if e["seq"] != v3
        ]
        if len(carried3) < 4:
            raise AssertionError(
                f"point DELETE carried only {len(carried3)} entries"
            )
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_lake_bloom_sql",
    oracle="""
    WITH base AS (
      SELECT md5(CAST(o_orderkey AS VARCHAR)) AS k,
             o_orderkey, o_totalprice
      FROM orders WHERE o_orderkey < 8000
    ),
    upd AS (
      SELECT md5(CAST(o_orderkey AS VARCHAR)) AS k,
             o_orderkey, o_totalprice + 500.0 AS o_totalprice
      FROM orders WHERE o_orderkey < 4
    )
    SELECT COALESCE(u.k, b.k) AS k,
           COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice
    FROM base b FULL JOIN upd u ON b.k = u.k
    """,
)
def q_lake_bloom_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom opt-in driven END-TO-END through the SQL facade
    (r15 — the statement-layer twin of ``q_lake_bloom_prune``, the
    same pairing discipline as q_lake_merge_upsert/q_lake_sql_merge):
    ``CREATE TABLE … BLOOM KEYS (k) AS SELECT`` parses the clause
    into ``write_table(bloom_keys=…)``, and a facade ``MERGE INTO``
    on a ≤3-key update set is planned through the SAME
    bloom-refutation path as the API verb — asserted mid-flight by
    counting carried manifest entries (≥5 of the 8 hash-bucketed
    files MUST survive untouched; range stats alone carry zero on an
    md5-keyed layout). The oracle replays the merged state
    relationally."""
    from spype_spark.sqltext import sql as lake_sql

    tmp = _scratch("spype_lake_bloomsql_")
    try:
        path = f"{tmp}/orders_hash"
        (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") < 8000)
            .select(
                F.md5(F.col("o_orderkey").cast("string")).alias("k"),
                "o_orderkey",
                "o_totalprice",
            )
            .repartition(8, F.col("k"))
            .createOrReplaceTempView("bloom_sql_base")
        )
        lake_sql(
            spark,
            f"CREATE TABLE '{path}' BLOOM KEYS (k) AS "
            f"SELECT * FROM bloom_sql_base",
        )
        (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") < 4)
            .select(
                F.md5(F.col("o_orderkey").cast("string")).alias("k"),
                "o_orderkey",
                (F.col("o_totalprice") + F.lit(500.0)).alias(
                    "o_totalprice"
                ),
            )
            .createOrReplaceTempView("bloom_sql_upd")
        )
        lake_sql(
            spark,
            f"""
            MERGE INTO '{path}' AS t
            USING bloom_sql_upd AS s
            ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            """,
        )
        v = lake.latest_version(path)
        ents = lake._m_entries(path, lake._m_load(path, v))
        carried = [e for e in ents if e["seq"] != v]
        if len(carried) < 5:
            raise AssertionError(
                f"facade MERGE carried only {len(carried)} of 8 files "
                f"— the BLOOM KEYS clause did not reach the planner"
            )
        return lake.read_table(spark, path).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
