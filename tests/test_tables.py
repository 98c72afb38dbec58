"""Source-loading correctness, esp. the events-timestamp encoding.

The corpus has shipped ``events.ts`` as TIMESTAMP(NANOS) (rounds 1-3)
and as native timestamp[us] (round 4+); the loader must read BOTH by
branching on the loaded dtype (normalize_events_ts).
"""

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from spype_spark.tables import BROADCAST_DIMS, TABLES, load_table, load_tables


def test_events_ts_matches_duckdb_to_the_microsecond(spark, sf_dir):
    """Whatever the on-disk encoding, the loaded ts must equal DuckDB's
    CAST(ts AS TIMESTAMP) exactly — under the legacy NANOS encoding a
    double-precision ns→µs division silently corrupts ~±1 µs on
    1.7e18-ns values, so the conversion must be integer division."""
    got = {
        r.event_id: r.ts
        for r in load_table(spark, sf_dir, "events")
        .select("event_id", "ts")
        .limit(200)
        .collect()
    }
    con = duckdb.connect()
    want = dict(
        con.sql(
            f"SELECT event_id, CAST(ts AS TIMESTAMP) FROM "
            f"read_parquet('{sf_dir}/events.parquet') LIMIT 200"
        ).fetchall()
    )
    for eid, ts in got.items():
        assert ts == want[eid], f"event {eid}: {ts} != {want[eid]}"


def test_all_tables_load_with_expected_rows(spark, sf_dir):
    dfs = load_tables(spark, sf_dir)
    assert set(dfs) == set(TABLES)
    counts = {n: dfs[n].count() for n in ("region", "nation", "lineitem")}
    assert counts["region"] == 5 and counts["nation"] == 25
    assert counts["lineitem"] == 6000


def test_events_loads_on_unconfigured_session(spark, sf_dir):
    """The nanos conf must apply at runtime — the driver's session is
    built without it. (A no-op on the current µs corpus; kept so a
    future corpus regen back to NANOS can't regress silently.)"""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    df = load_table(spark, sf_dir, "events")  # re-sets the conf itself
    assert df.schema["ts"].dataType.simpleString().startswith("timestamp")
    assert df.count() == 1000


def test_events_ts_normalized_to_timestamp_ntz(spark, sf_dir):
    """Loader contract: whatever the Parquet encoding (NANOS-as-long or
    native µs), events.ts arrives as timestamp_ntz with non-null values
    — the regenerated-corpus regression (r4) was NULL/err timestamps."""
    df = load_table(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    assert df.filter(F.col("ts").isNull()).count() == 0


def test_events_stream_reader_matches_batch_loader(spark, sf_dir):
    """The stream-side schema sniff + shared normalizer must agree with
    the batch loader row-for-row (the r4 bug was a hardcoded `ts long`
    stream schema silently nulling µs timestamps)."""
    from spype_spark.streaming.jobs import _events_stream, _run_available_now

    sdf = _events_stream(spark, sf_dir).select("event_id", "ts")
    got = {
        r.event_id: r.ts.replace(tzinfo=None)
        for r in _run_available_now(
            sdf, "append", "spype_test_stream_schema"
        ).collect()
    }
    want = {
        r.event_id: r.ts
        for r in load_table(spark, sf_dir, "events")
        .select("event_id", "ts")
        .collect()
    }
    assert got == want


def test_broadcast_dims_are_small(spark, sf_dir):
    for name in BROADCAST_DIMS:
        assert load_table(spark, sf_dir, name).count() <= 20_000


def test_reopen_of_unchanged_file_launches_no_job(spark, sf_dir):
    """The second open of an unchanged file reuses the memoized inferred
    schema: no schema-inference job, the same schema."""
    first = load_table(spark, sf_dir, "lineitem").schema
    sc = spark.sparkContext
    sc.setJobGroup("test_reopen_no_job", "reopen of an unchanged file")
    try:
        again = load_table(spark, sf_dir, "lineitem").schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("test_reopen_no_job")) == []
    assert again == first


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """Rewriting a file in place with other column types must not reuse
    the old schema: the next open returns the new types and values."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int32())}), path)
    old = load_table(spark, str(tmp_path), "t")
    assert old.schema["k"].dataType.simpleString() == "int"
    assert sorted(r.k for r in old.collect()) == [1, 2]
    pq.write_table(pa.table({"k": ["alpha", "beta", "gamma"]}), path)
    new = load_table(spark, str(tmp_path), "t")
    assert new.schema["k"].dataType.simpleString() == "string"
    assert sorted(r.k for r in new.collect()) == ["alpha", "beta", "gamma"]


def test_schema_memo_is_keyed_by_conversion_confs(spark, tmp_path):
    """spark.sql.parquet.binaryAsString changes how an unannotated
    binary column converts; flipping it between opens of one unchanged
    file must change the loaded type."""
    key = "spark.sql.parquet.binaryAsString"
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}),
                   tmp_path / "bin.parquet")
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        as_bin = load_table(spark, str(tmp_path), "bin").schema["b"].dataType
        spark.conf.set(key, "true")
        df = load_table(spark, str(tmp_path), "bin")
        as_str = df.schema["b"].dataType
        assert sorted(r.b for r in df.collect()) == ["x", "y"]
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert as_bin.simpleString() == "binary"
    assert as_str.simpleString() == "string"


def test_two_opens_self_join_unambiguously(spark, sf_dir):
    """Only the schema is memoized: two opens are separate relations
    with fresh attribute ids, so a self-join resolves both sides."""
    n1 = load_table(spark, sf_dir, "nation")
    n2 = load_table(spark, sf_dir, "nation")
    a, b = n1.alias("a"), n2.alias("b")
    by_alias = a.join(b, F.col("a.n_regionkey") == F.col("b.n_regionkey"))
    # unaliased attribute references: had both opens shared one
    # relation, Spark would reject this condition as ambiguous
    by_attr = n1.join(n2, n1.n_nationkey < n2.n_nationkey)
    nation = f"read_parquet('{sf_dir}/nation.parquet')"
    want_eq, want_lt = duckdb.sql(
        f"SELECT count(*) FILTER (a.n_regionkey = b.n_regionkey), "
        f"count(*) FILTER (a.n_nationkey < b.n_nationkey) "
        f"FROM {nation} a, {nation} b"
    ).fetchone()
    assert by_alias.count() == want_eq
    assert by_attr.count() == want_lt


def test_missing_table_raises_spark_path_not_found(spark, sf_dir):
    """A missing path bypasses the memo and fails in Spark, as before."""
    with pytest.raises(AnalysisException) as e:
        load_table(spark, sf_dir, "no_such_table")
    assert e.value.getCondition() == "PATH_NOT_FOUND"
