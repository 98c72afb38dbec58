"""Tests for the ``spype_lake`` sink format
(:mod:`spype_spark.lake_sink`) — batch + Structured Streaming APPEND
into native manifest tables through the Python DataSource writer API,
with exactly-once microbatch commits."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spype_spark import lakehouse as lake
from spype_spark import manifest_log as mlog
from spype_spark.lake_sink import (
    _commit_append,
    _LakeStreamWriter,
    _LakeWriteMessage,
    register_lake_sink,
)


@pytest.fixture()
def reg(spark):
    register_lake_sink(spark)
    return spark


def _mk(reg, p, n=20, pcols=None):
    df = reg.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    lake.write_table(df, p, partition_by=pcols)
    return df


def test_batch_append_matches_engine_append(reg, tmp_path):
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    _mk(reg, p1)
    _mk(reg, p2)
    more = reg.range(20, 35).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    more.write.format("spype_lake").mode("append").option("path", p1).save()
    lake.append_table(reg, p2, more)
    a = sorted(tuple(r) for r in lake.read_table(reg, p1).collect())
    b = sorted(tuple(r) for r in lake.read_table(reg, p2).collect())
    assert a == b and len(a) == 35


def test_stream_append_and_exactly_once_drains(reg, tmp_path):
    p = str(tmp_path / "t")
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    _mk(reg, p)
    reg.range(20, 30).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    ).write.parquet(src)

    def drain():
        q = (
            reg.readStream.schema("k bigint, g bigint")
            .parquet(src)
            .writeStream.format("spype_lake")
            .option("path", p)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert sorted(
        r["k"] for r in lake.read_table(reg, p).collect()
    ) == list(range(30))
    drain()  # no new source files — no duplicates
    assert lake.read_table(reg, p).count() == 30
    reg.range(30, 33).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    ).write.mode("append").parquet(src)
    drain()
    assert lake.read_table(reg, p).count() == 33


def test_incremental_slab_append_interleaves_with_engine_verbs(
    reg, tmp_path
):
    """r15: past the inline threshold the sink commit extends ONLY
    the roll buckets its entries hash into (m_append_parts) instead
    of regrouping the table. The incremental chain must (a) keep
    part_groups/part_summaries consistent, (b) read back exactly,
    (c) survive an interleaved ENGINE verb (full-path regroup) and
    keep appending incrementally on top of its layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    df = reg.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    # 70 files crosses _PART_INLINE_MAX (64): v0 is slab-structured
    lake.write_table(df.repartition(70), p)
    m0 = mlog.m_load(p, 0)
    assert "parts" in m0 and set(m0["part_groups"]) == set(m0["parts"])

    def sink_append(i):
        d = os.path.join(p, "data", f"stream-inc{i}")
        os.makedirs(d)
        fp = os.path.join(d, "part-00000.parquet")
        pq.write_table(pa.table({"k": [1000 + i], "g": [0]}), fp)
        e = {
            "path": os.path.relpath(fp, p).replace(os.sep, "/"),
            "partition": {},
            **mlog.m_file_stats(fp),
        }
        _commit_append(p, [_LakeWriteMessage([e], [fp])], "inc-app", i)

    for i in range(5):
        sink_append(i)
    m = mlog.m_load(p, lake.latest_version(p))
    assert set(m["part_groups"]) == set(m["parts"]) == set(
        m["part_summaries"]
    )
    # engine verb in the middle: full-path regroup on merge
    lake.merge_upsert(
        reg, p, reg.createDataFrame([(1000, 77)], "k long, g long"), ["k"]
    )
    for i in range(5, 8):
        sink_append(i)
    got = sorted(r["k"] for r in lake.read_table(reg, p).collect())
    exp = sorted(
        list(range(200)) + [1000 + i for i in range(8)]
    )
    assert got == exp
    assert (
        lake.read_table(reg, p)
        .filter(F.col("k") == 1000)
        .collect()[0]["g"]
        == 77
    )


def test_stream_upsert_mergekeys(reg, tmp_path):
    """.option('mergeKeys', 'k'): each microbatch commits delete-keys
    + append under ONE manifest version — existing keys are replaced,
    new keys insert, untouched rows survive; a replayed drain is a
    no-op (exactly-once on txns[appId])."""
    p = str(tmp_path / "t")
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    _mk(reg, p, n=6)  # k 0..5, g = k % 3
    reg.createDataFrame(
        [(1, 100), (4, 400), (9, 900)], "k long, g long"
    ).write.parquet(src)

    def drain():
        q = (
            reg.readStream.schema("k bigint, g bigint")
            .parquet(src)
            .writeStream.format("spype_lake")
            .option("path", p)
            .option("mergeKeys", "k")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    exp = sorted(
        [(k, k % 3) for k in (0, 2, 3, 5)] + [(1, 100), (4, 400), (9, 900)]
    )
    assert sorted(
        tuple(r) for r in lake.read_table(reg, p).collect()
    ) == exp
    v1 = lake.latest_version(p)
    assert mlog.m_load(p, v1)["op"]["name"] == "STREAMING_UPSERT"
    drain()  # no new source files — no new commit
    assert lake.latest_version(p) == v1
    # a second batch re-upserting an upserted key wins again
    reg.createDataFrame(
        [(9, 999), (0, 7)], "k long, g long"
    ).write.mode("append").parquet(src)
    drain()
    exp2 = sorted(
        [(2, 2), (3, 0), (5, 2), (1, 100), (4, 400), (9, 999), (0, 7)]
    )
    assert sorted(
        tuple(r) for r in lake.read_table(reg, p).collect()
    ) == exp2
    # and the engine's own verbs compose on top (compact materializes)
    lake.compact(reg, p)
    assert sorted(
        tuple(r) for r in lake.read_table(reg, p).collect()
    ) == exp2


def test_mergekeys_partitioned_cross_partition_replace(reg, tmp_path):
    """mergeKeys on a PARTITIONED table: the equality-delete record is
    GLOBAL, so an upsert that moves a key's row to a different
    partition still kills the old row (no partition-local ghost)."""
    p = str(tmp_path / "t")
    _mk(reg, p, n=9, pcols=["g"])  # g = k % 3 partitions
    up = reg.createDataFrame(
        [(1, 2), (4, 0), (100, 1)], "k long, g long"
    )  # k=1 moves g 1->2, k=4 moves g 1->0, k=100 inserts
    (
        up.write.format("spype_lake")
        .mode("append")
        .option("path", p)
        .option("mergeKeys", "k")
        .save()
    )
    got = sorted(tuple(r) for r in lake.read_table(reg, p).collect())
    exp = sorted(
        [(k, k % 3) for k in range(9) if k not in (1, 4)]
        + [(1, 2), (4, 0), (100, 1)]
    )
    assert got == exp, f"cross-partition upsert wrong: {got}"
    # partition pruning still correct post-upsert (old g=1 rows dead)
    g1 = sorted(
        r["k"]
        for r in lake.read_table(reg, p)
        .filter(F.col("g") == 1)
        .collect()
    )
    assert g1 == [7, 100]


def test_mergekeys_fuzz_matches_merge_upsert(reg, tmp_path):
    """Seeded fuzz: a chain of random mergeKeys batch writes must
    leave the SAME table as the engine's merge_upsert applied to a
    twin — and the CDF over an upsert commit emits delete+insert for
    replaced keys (the merge-on-read change shape)."""
    import random

    rng = random.Random(1507)
    p1 = str(tmp_path / "sink")
    p2 = str(tmp_path / "model")
    base = [(k, k * 10) for k in range(30)]
    for p in (p1, p2):
        lake.write_table(
            reg.createDataFrame(base, "k long, g long"), p
        )
    for step in range(6):
        nb = rng.randrange(1, 8)
        ks = rng.sample(range(50), nb)
        batch = [(k, 1000 * (step + 1) + k) for k in ks]
        bdf = reg.createDataFrame(batch, "k long, g long")
        (
            bdf.write.format("spype_lake")
            .mode("append")
            .option("path", p1)
            .option("mergeKeys", "k")
            .save()
        )
        lake.merge_upsert(reg, p2, bdf, ["k"])
    a = sorted(tuple(r) for r in lake.read_table(reg, p1).collect())
    b = sorted(tuple(r) for r in lake.read_table(reg, p2).collect())
    assert a == b, f"sink-upsert chain diverged from merge_upsert: {a[:5]}"
    # CDF of one upsert commit: replaced keys emit delete (old row,
    # mask partition) + insert (new row); fresh keys insert only
    up = reg.createDataFrame([(0, -1), (999, -2)], "k long, g long")
    (
        up.write.format("spype_lake")
        .mode("append")
        .option("path", p1)
        .option("mergeKeys", "k")
        .save()
    )
    v = lake.latest_version(p1)
    assert mlog.m_load(p1, v)["op"]["name"] == "STREAMING_UPSERT"
    ch = sorted(
        (r["k"], r["g"], r["_change_type"])
        for r in _cdf_read(reg, p1, keys=None, start=v, end=v).collect()
    )
    old_g = dict(a)[0]
    assert ch == sorted(
        [(0, old_g, "delete"), (0, -1, "insert"), (999, -2, "insert")]
    ), f"upsert CDF shape wrong: {ch}"


def test_batch_upsert_mergekeys_and_duplicate_batch_is_loud(reg, tmp_path):
    p = str(tmp_path / "t")
    _mk(reg, p, n=4)
    up = reg.createDataFrame([(1, 77), (9, 9)], "k long, g long")
    (
        up.write.format("spype_lake")
        .mode("append")
        .option("path", p)
        .option("mergeKeys", "k")
        .save()
    )
    assert sorted(
        tuple(r) for r in lake.read_table(reg, p).collect()
    ) == sorted([(0, 0), (1, 77), (2, 2), (3, 0), (9, 9)])
    dup = reg.createDataFrame(
        [(5, 1), (5, 2)], "k long, g long"
    ).coalesce(1)
    with pytest.raises(Exception, match="duplicate"):
        (
            dup.write.format("spype_lake")
            .mode("append")
            .option("path", p)
            .option("mergeKeys", "k")
            .save()
        )
    # bad key column is rejected before any write
    with pytest.raises(Exception, match="mergeKeys"):
        (
            up.write.format("spype_lake")
            .mode("append")
            .option("path", p)
            .option("mergeKeys", "nope")
            .save()
        )


def test_replayed_batch_commit_is_idempotent(reg, tmp_path):
    """A commit() replay for an already-committed batchId must drop
    the replay's files and publish nothing — the Delta txn design."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    _mk(reg, p, n=5)

    def msg(tag):
        d = os.path.join(p, "data", f"stream-test{tag}")
        os.makedirs(d)
        fp = os.path.join(d, "part-00000.parquet")
        pq.write_table(
            pa.table({"k": [100 + tag], "g": [0]}), fp
        )
        e = {
            "path": os.path.relpath(fp, p).replace(os.sep, "/"),
            "partition": {},
            **mlog.m_file_stats(fp),
        }
        return _LakeWriteMessage([e], [fp]), fp

    m1, f1 = msg(1)
    _commit_append(p, [m1], "appA", 7)
    v1 = max(mlog.m_versions(p))
    m2, f2 = msg(2)
    _commit_append(p, [m2], "appA", 7)  # replay of batch 7
    assert max(mlog.m_versions(p)) == v1, "replay must not publish"
    assert not os.path.exists(f2), "replay's orphan file must be dropped"
    assert os.path.exists(f1)
    # a LATER batch from the same app commits normally
    m3, _f3 = msg(3)
    _commit_append(p, [m3], "appA", 8)
    assert max(mlog.m_versions(p)) == v1 + 1
    man = mlog.m_load(p, v1 + 1)
    assert man["txns"] == {"appA": 8}


def test_partitioned_append_records_partition_values(reg, tmp_path):
    p = str(tmp_path / "t")
    _mk(reg, p, pcols=["g"])
    more = reg.range(20, 32).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    more.write.format("spype_lake").mode("append").option("path", p).save()
    assert sorted(
        r["k"] for r in lake.read_table(reg, p).collect()
    ) == list(range(32))
    m = mlog.m_load(p, max(mlog.m_versions(p)))
    new = [e for e in mlog.m_entries(p, m) if e["seq"] == m["version"]]
    assert new and all(e["partition"].get("g") in {"0", "1", "2"} for e in new)
    # partition pruning over the sink-written entries
    only1 = lake.scan_table(reg, p, partitions={"g": 1})
    assert sorted(r["k"] for r in only1.collect()) == [
        k for k in range(32) if k % 3 == 1
    ]


def test_sink_composes_with_engine_mutations(reg, tmp_path):
    """Sink appends interleaved with an engine DELETE: every commit
    lands on the latest head, nothing lost."""
    p = str(tmp_path / "t")
    _mk(reg, p)
    reg.range(20, 25).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    ).write.format("spype_lake").mode("append").option("path", p).save()
    lake.delete_where(reg, p, F.col("k") < 3)
    reg.range(25, 28).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    ).write.format("spype_lake").mode("append").option("path", p).save()
    assert sorted(
        r["k"] for r in lake.read_table(reg, p).collect()
    ) == list(range(3, 28))


def test_profile_gates(reg, tmp_path):
    p = str(tmp_path / "t")
    df = _mk(reg, p, n=5)
    # overwrite refused
    with pytest.raises(Exception, match="APPEND-only"):
        df.write.format("spype_lake").mode("overwrite").option(
            "path", p
        ).save()
    # nonexistent table refused
    with pytest.raises(Exception, match="not an existing manifest table"):
        df.write.format("spype_lake").mode("append").option(
            "path", str(tmp_path / "nope")
        ).save()
    # schema mismatch refused
    bad = reg.range(3).select(F.col("id").alias("k"))
    with pytest.raises(Exception, match="stream schema"):
        bad.write.format("spype_lake").mode("append").option(
            "path", p
        ).save()
    # renamed (physical != logical) table refused
    p2 = str(tmp_path / "ren")
    _mk(reg, p2, n=5)
    lake.rename_columns(reg, p2, {"k": "kk"})
    out = reg.range(3).select(
        F.col("id").alias("kk"), (F.col("id") % 3).alias("g")
    )
    with pytest.raises(Exception, match="renamed columns"):
        out.write.format("spype_lake").mode("append").option(
            "path", p2
        ).save()


def test_stale_base_rebases_on_concurrent_commit(reg, tmp_path):
    """A sink commit racing an engine commit rebases onto the new head
    (optimistic retry), never clobbers and never loses entries."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    _mk(reg, p, n=5)
    d = os.path.join(p, "data", "stream-race")
    os.makedirs(d)
    fp = os.path.join(d, "part-00000.parquet")
    pq.write_table(pa.table({"k": [500], "g": [1]}), fp)
    e = {
        "path": os.path.relpath(fp, p).replace(os.sep, "/"),
        "partition": {},
        **mlog.m_file_stats(fp),
    }
    # engine commit lands FIRST (the sink's base goes stale)
    lake.append_table(
        reg,
        p,
        reg.range(90, 92).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g")
        ),
    )
    _commit_append(p, [_LakeWriteMessage([e], [fp])], "appR", 0)
    got = sorted(r["k"] for r in lake.read_table(reg, p).collect())
    assert got == [0, 1, 2, 3, 4, 90, 91, 500]


def test_abort_removes_written_files(reg, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    _mk(reg, p, n=3)
    d = os.path.join(p, "data", "stream-abort")
    os.makedirs(d)
    fp = os.path.join(d, "part-00000.parquet")
    pq.write_table(pa.table({"k": [1], "g": [1]}), fp)
    w = _LakeStreamWriter(p, [], "app")
    w.abort([_LakeWriteMessage([], [fp])], 3)
    assert not os.path.exists(fp) and not os.path.exists(d)
    assert lake.read_table(reg, p).count() == 3


def test_create_table_if_absent(reg, tmp_path):
    """First-write creation (the Delta-sink convention): an absent
    path + createTableIfAbsent publishes an empty v0 from the declared
    schema (partitionedBy honored), then appends normally; without the
    option an absent path stays a loud error."""
    p = str(tmp_path / "fresh")
    df = reg.range(12).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    (
        df.write.format("spype_lake")
        .mode("append")
        .option("path", p)
        .option("createTableIfAbsent", "true")
        .option("partitionedBy", "g")
        .save()
    )
    assert mlog.m_versions(p) == [0, 1]
    assert sorted(r["k"] for r in lake.read_table(reg, p).collect()) == list(
        range(12)
    )
    m = mlog.m_load(p, 1)
    assert m["partition_by"] == ["g"]
    assert all(
        e["partition"].get("g") in {"0", "1", "2"}
        for e in mlog.m_entries(p, m)
    )
    # engine verbs compose with a sink-created table
    lake.delete_where(reg, p, F.col("k") < 4)
    assert lake.read_table(reg, p).count() == 8
    # streaming creation too
    p2 = str(tmp_path / "fresh2")
    src = str(tmp_path / "src2")
    df.write.parquet(src)
    q = (
        reg.readStream.schema("k bigint, g bigint")
        .parquet(src)
        .writeStream.format("spype_lake")
        .option("path", p2)
        .option("createTableIfAbsent", "true")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert lake.read_table(reg, p2).count() == 12
    # bad partition column is loud
    with pytest.raises(Exception, match="not in the stream schema"):
        df.write.format("spype_lake").mode("append").option(
            "path", str(tmp_path / "fresh3")
        ).option("createTableIfAbsent", "true").option(
            "partitionedBy", "nope"
        ).save()


def test_stream_source_tails_appends_exactly_once(reg, tmp_path):
    """format('spype_lake') as a streaming SOURCE: each drain delivers
    exactly the files new versions appended; restart resumes from the
    checkpointed version."""
    p = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _mk(reg, p, n=30)

    def drain():
        q = (
            reg.readStream.format("spype_lake")
            .option("path", p)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert reg.read.parquet(out).count() == 30
    lake.append_table(
        reg,
        p,
        reg.range(30, 45).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g")
        ),
    )
    drain()
    assert sorted(r["k"] for r in reg.read.parquet(out).collect()) == list(
        range(45)
    )
    drain()  # caught up
    assert reg.read.parquet(out).count() == 45


def test_stream_source_change_commit_gate_and_skip(reg, tmp_path):
    """A MERGE/DELETE version fails the append-tail stream loudly;
    skipChangeCommits skips it wholesale and keeps tailing appends
    (Delta's option semantics)."""
    p = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _mk(reg, p, n=20)
    lake.delete_where(reg, p, F.col("k") < 5)

    q = (
        reg.readStream.format("spype_lake")
        .option("path", p)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="CHANGE commit"):
        q.awaitTermination()
    out2 = str(tmp_path / "out2")
    ck2 = str(tmp_path / "ck2")

    def drain_skip():
        q = (
            reg.readStream.format("spype_lake")
            .option("path", p)
            .option("skipChangeCommits", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", out2)
            .option("checkpointLocation", ck2)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain_skip()
    # v0's 20 appended rows delivered; the delete commit skipped
    assert reg.read.parquet(out2).count() == 20
    lake.append_table(
        reg,
        p,
        reg.range(20, 26).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g")
        ),
    )
    drain_skip()
    got = sorted(r["k"] for r in reg.read.parquet(out2).collect())
    assert got == list(range(26))


def test_batch_read_points_to_jvm_path(reg, tmp_path):
    p = str(tmp_path / "t")
    _mk(reg, p, n=3)
    with pytest.raises(Exception, match="JVM scan path"):
        reg.read.format("spype_lake").option("path", p).load().collect()


def test_commit_gates_mid_stream_ddl(reg, tmp_path):
    """Engine DDL landing between sink commits must fail the NEXT
    commit loudly — never publish a manifest that silently drops
    retired/constraints/transforms/mapping state (review r13)."""
    p = str(tmp_path / "t")
    df = _mk(reg, p)
    more = reg.range(20, 23).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    more.write.format("spype_lake").mode("append").option("path", p).save()
    lake.rename_columns(reg, p, {"k": "kk"})
    bad = reg.range(3).select(
        F.col("id").alias("kk"), (F.col("id") % 3).alias("g")
    )
    with pytest.raises(Exception, match="renamed"):
        bad.write.format("spype_lake").mode("append").option(
            "path", p
        ).save()


def test_empty_batch_publishes_nothing(reg, tmp_path):
    p = str(tmp_path / "t")
    df = _mk(reg, p, n=5)
    v = lake.latest_version(p)
    df.limit(0).write.format("spype_lake").mode("append").option(
        "path", p
    ).save()
    assert lake.latest_version(p) == v


def test_sink_preserves_slab_structure(reg, tmp_path):
    """Appending into a slab-structured manifest must keep the parts
    layout (content-addressed slabs + summaries), not degrade it to an
    inline O(table-files) list per microbatch (review r13). The
    commit runs in the data-source worker, so the table must be
    GENUINELY past _PART_INLINE_MAX files — 70 identity partitions."""
    p = str(tmp_path / "t")
    df = reg.range(280).select(
        F.col("id").alias("k"), (F.col("id") % 70).alias("g")
    )
    lake.write_table(df.coalesce(1), p, partition_by=["g"])
    m0 = mlog.m_load(p, 0)
    assert "parts" in m0 and "files" not in m0
    reg.range(280, 287).select(
        F.col("id").alias("k"), (F.col("id") % 70).alias("g")
    ).write.format("spype_lake").mode("append").option("path", p).save()
    m1 = mlog.m_load(p, 1)
    assert "parts" in m1 and "files" not in m1, "slab layout degraded"
    assert sorted(
        r["k"] for r in lake.read_table(reg, p).collect()
    ) == list(range(287))


def test_source_vacuumed_prev_is_loud(reg, tmp_path):
    """A retained version whose PREDECESSOR manifest was vacuumed
    cannot be proven append-only — the source must refuse, never
    silently re-deliver a rewrite's carried rows (review r13)."""
    import os as _os

    from spype_spark.lake_sink import _LakeStreamSourceReader

    p = str(tmp_path / "t")
    _mk(reg, p, n=6)
    lake.append_table(
        reg,
        p,
        reg.range(6, 9).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g")
        ),
    )
    lake.append_table(
        reg,
        p,
        reg.range(9, 12).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g")
        ),
    )
    _os.remove(mlog.m_path(p, 1))
    rdr = _LakeStreamSourceReader(
        reg.read.parquet(
            _os.path.join(p, mlog.m_entries(p, mlog.m_load(p, 0))[0]["path"])
        ).schema,
        {"path": p},
    )
    with pytest.raises(ValueError, match="vacuumed"):
        rdr.partitions({"version": 1}, {"version": 2})


def test_auto_created_table_has_table_meta(reg, tmp_path):
    """Sink-created tables must write _table.json so engine verbs see
    partition_by (review r13: without it, MERGE/DELETE lose
    partition-level COW on sink-created tables)."""
    p = str(tmp_path / "fresh")
    reg.range(9).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    ).write.format("spype_lake").mode("append").option("path", p).option(
        "createTableIfAbsent", "true"
    ).option("partitionedBy", "g").save()
    assert lake.table_meta(p)["partition_by"] == ["g"]


# ---------------------------------------------------------------------------
# CHANGE DATA FEED — .option("readChangeFeed", "true") over the
# manifest chain (round 14)
# ---------------------------------------------------------------------------


def _cdf_read(reg, p, keys="k", start=0, end=None):
    r = (
        reg.read.format("spype_lake")
        .option("path", p)
        .option("readChangeFeed", "true")
        .option("startingVersion", str(start))
    )
    if keys:
        r = r.option("keys", keys)
    if end is not None:
        r = r.option("endingVersion", str(end))
    return r.load()


def _feed(reg, p, **kw):
    return sorted(
        tuple(r)
        for r in _cdf_read(reg, p, **kw)
        .select("k", "g", "_change_type", "_commit_version")
        .collect()
    )


def test_cdf_append_and_eq_delete(reg, tmp_path):
    """Appends emit per-file inserts; a merge-on-read equality delete
    emits exactly the newly-dead rows (no rescan of live ones)."""
    p = str(tmp_path / "t")
    _mk(reg, p, n=6)  # v0: k 0..5
    lake.append_table(
        reg,
        p,
        reg.range(6, 9).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g")
        ),
    )  # v1
    lake.delete_keys(
        reg, p, reg.createDataFrame([(1,), (7,)], "k long")
    )  # v2
    got = _feed(reg, p, keys=None)  # decidable without keys
    exp = sorted(
        [(k, k % 3, "insert", 0) for k in range(6)]
        + [(k, k % 3, "insert", 1) for k in range(6, 9)]
        + [(1, 1, "delete", 2), (7, 1, "delete", 2)]
    )
    assert got == exp


def test_cdf_dv_delete_and_reinsert_sequence_rule(reg, tmp_path):
    """A positional DV delete emits only newly-dead rows; a LATER
    append re-inserting a deleted key is a plain insert (the old
    tombstone must not swallow or re-emit it)."""
    p = str(tmp_path / "t")
    _mk(reg, p, n=6)  # v0
    lake.delete_where_dv(reg, p, F.col("k") >= 4)  # v1: kills 4,5
    lake.append_table(
        reg,
        p,
        reg.createDataFrame([(4, 99)], "k long, g long"),
    )  # v2: re-insert k=4
    got = _feed(reg, p, keys=None)
    exp = sorted(
        [(k, k % 3, "insert", 0) for k in range(6)]
        + [(4, 1, "delete", 1), (5, 2, "delete", 1)]
        + [(4, 99, "insert", 2)]
    )
    assert got == exp
    # and the live table agrees with the feed's net effect
    assert sorted(
        tuple(r) for r in lake.read_table(reg, p).collect()
    ) == sorted([(0, 0), (1, 1), (2, 2), (3, 0), (4, 99)])


def test_cdf_merge_rewrite_key_diff(reg, tmp_path):
    """A MERGE rewrite emits update pre/post images for changed rows,
    inserts for new keys, and NOTHING for rows the rewrite carried
    unchanged — the bounded key-diff of the touched files."""
    p = str(tmp_path / "t")
    _mk(reg, p, n=4)  # v0: (k, k%3)
    upd = reg.createDataFrame([(1, 77), (9, 9)], "k long, g long")
    lake.merge_upsert(reg, p, upd, ["k"])  # v1
    got = _feed(reg, p, start=1)
    assert got == sorted(
        [
            (1, 1, "update_preimage", 1),
            (1, 77, "update_postimage", 1),
            (9, 9, "insert", 1),
        ]
    )


def test_cdf_compaction_emits_nothing(reg, tmp_path):
    """Compaction rewrites files without changing rows — the key-diff
    cancels exactly, so the feed stays silent."""
    p = str(tmp_path / "t")
    _mk(reg, p, n=6)
    lake.delete_keys(reg, p, reg.createDataFrame([(2,)], "k long"))
    v = lake.compact(reg, p)
    got = _cdf_read(reg, p, start=v, end=v)
    assert got.count() == 0


def test_cdf_rewrite_without_keys_is_loud(reg, tmp_path):
    p = str(tmp_path / "t")
    _mk(reg, p, n=4)
    lake.merge_upsert(
        reg, p, reg.createDataFrame([(1, 77)], "k long, g long"), ["k"]
    )
    with pytest.raises(Exception, match="keys"):
        _cdf_read(reg, p, keys=None).count()


def test_cdf_delete_of_absent_key_emits_nothing(reg, tmp_path):
    p = str(tmp_path / "t")
    _mk(reg, p, n=4)
    v = lake.delete_keys(
        reg, p, reg.createDataFrame([(123,)], "k long")
    )
    assert _cdf_read(reg, p, start=v, end=v).count() == 0


def test_cdf_stream_exactly_once_resume(reg, tmp_path):
    """Streaming CDF resumes from Spark's checkpointed version offset:
    drain → mutate → resumed drain delivers exactly the new commits,
    and a caught-up drain adds nothing."""
    p = str(tmp_path / "t")
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    _mk(reg, p, n=6)

    def drain():
        q = (
            reg.readStream.format("spype_lake")
            .option("path", p)
            .option("readChangeFeed", "true")
            .option("keys", "k")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    n1 = reg.read.parquet(sink).count()
    assert n1 == 6
    lake.delete_keys(reg, p, reg.createDataFrame([(0,)], "k long"))
    lake.merge_upsert(
        reg, p, reg.createDataFrame([(1, 88)], "k long, g long"), ["k"]
    )
    drain()
    out = reg.read.parquet(sink)
    assert out.filter(F.col("_commit_version") == 0).count() == n1
    got = sorted(
        tuple(r)
        for r in out.filter(F.col("_commit_version") > 0)
        .select("k", "g", "_change_type", "_commit_version")
        .collect()
    )
    assert got == sorted(
        [
            (0, 0, "delete", 1),
            (1, 1, "update_preimage", 2),
            (1, 88, "update_postimage", 2),
        ]
    )
    drain()
    assert reg.read.parquet(sink).count() == out.count()


def test_cdf_vacuumed_prev_is_loud(reg, tmp_path):
    import os as _os

    from spype_spark.lake_sink import _cdf_plan_range

    p = str(tmp_path / "t")
    _mk(reg, p, n=4)
    lake.append_table(
        reg,
        p,
        reg.createDataFrame([(9, 9)], "k long, g long"),
    )
    lake.append_table(
        reg,
        p,
        reg.createDataFrame([(10, 1)], "k long, g long"),
    )
    _os.remove(mlog.m_path(p, 1))
    with pytest.raises(ValueError, match="vacuumed"):
        _cdf_plan_range(p, 2, 2, ["k"], {})


def test_cdf_parallelism_is_per_file(reg, tmp_path):
    """Append commits plan ONE partition per added file — the feed
    scan scales with files, not commits."""
    from spype_spark.lake_sink import _cdf_plan_range

    p = str(tmp_path / "t")
    df = reg.range(40).repartition(4).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    lake.write_table(df, p)
    parts = _cdf_plan_range(p, 0, 0, None, {})
    assert len(parts) >= 4
    assert all(pt.kind == "insert" for pt in parts)


def test_cdf_rename_uses_head_schema(reg, tmp_path):
    """Change rows from versions BEFORE a rename must surface under
    the head's logical names (physical names are frozen), never
    NULL-filled (review r14)."""
    p = str(tmp_path / "t")
    _mk(reg, p, n=6)  # v0: columns k, g
    lake.rename_columns(reg, p, {"g": "grp"})  # v1: metadata-only
    lake.append_table(
        reg,
        p,
        reg.createDataFrame([(9, 9)], "k long, grp long"),
    )  # v2
    got = sorted(
        tuple(r)
        for r in _cdf_read(reg, p, keys=None)
        .select("k", "grp", "_change_type", "_commit_version")
        .collect()
    )
    exp = sorted(
        [(k, k % 3, "insert", 0) for k in range(6)] + [(9, 9, "insert", 2)]
    )
    assert got == exp, "pre-rename change rows must carry real values"


def test_cdf_clone_v0_applies_carried_deletes(reg, tmp_path):
    """A clone's v0 carries entries with OLD seqs plus repathed delete
    records — the feed must NOT resurrect deleted rows as inserts
    (review r14)."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _mk(reg, src, n=10)
    lake.delete_where_dv(reg, src, F.col("k") >= 7)
    lake.clone_table(src, dst)
    got = sorted(
        (r["k"], r["_change_type"])
        for r in _cdf_read(reg, dst, keys=None).collect()
    )
    assert got == [(k, "insert") for k in range(7)], (
        "clone CDF must emit only LIVE rows at v0"
    )


def test_cdf_stream_schema_drift_is_loud(reg, tmp_path):
    """A rename landing mid-stream invalidates the checkpointed query
    schema — the next drain must fail loudly, never NULL-fill."""
    from spype_spark.lake_sink import _LakeCDFStreamReader

    p = str(tmp_path / "t")
    _mk(reg, p, n=4)
    old_schema = (
        reg.read.format("spype_lake")
        .option("path", p)
        .option("readChangeFeed", "true")
        .load()
        .schema
    )
    lake.rename_columns(reg, p, {"g": "grp"})
    rdr = _LakeCDFStreamReader(old_schema, {"path": p})
    with pytest.raises(ValueError, match="renamed or dropped"):
        rdr.partitions({"version": -1}, {"version": 1})


def test_cdf_nan_rows_are_not_updates(reg, tmp_path):
    """A rewrite carrying a NaN double unchanged must not emit a
    phantom update pair (IEEE NaN != NaN; review r14)."""
    p = str(tmp_path / "t")
    df = reg.createDataFrame(
        [(0, 1.5), (1, float("nan")), (2, 2.5)], "k long, x double"
    )
    lake.write_table(df, p)
    lake.merge_upsert(
        reg,
        p,
        reg.createDataFrame([(0, 9.9)], "k long, x double"),
        ["k"],
    )
    got = sorted(
        (r["k"], r["_change_type"])
        for r in _cdf_read(reg, p, keys="k", start=1).collect()
    )
    assert got == sorted(
        [(0, "update_preimage"), (0, "update_postimage")]
    ), f"NaN row must not appear in the feed, got {got}"


def test_cdf_eq_delete_before_rename_resolves_keys(reg, tmp_path):
    """A historical window crossing an eq-delete recorded BEFORE a
    later rename (legal: compaction clears pending deletes first)
    must resolve the record's delete-time key names through the
    frozen physical names to the head schema (advice r15)."""
    p = str(tmp_path / "t")
    _mk(reg, p, n=6)  # v0: columns k, g
    lake.delete_keys(
        reg, p, reg.createDataFrame([(1,), (4,)], "k long")
    )  # v1: eq-delete keyed on the OLD name "k"
    lake.compact(reg, p)  # v2: clears the pending delete
    lake.rename_columns(reg, p, {"k": "kk"})  # v3: metadata-only
    got = sorted(
        (r["kk"], r["_change_type"], r["_commit_version"])
        for r in _cdf_read(reg, p, keys="kk").collect()
    )
    exp = sorted(
        [(k, "insert", 0) for k in range(6)]
        + [(1, "delete", 1), (4, "delete", 1)]
    )
    assert got == exp, f"historical eq-delete under rename: {got}"


def test_cdf_compaction_skipped_at_plan_time(reg, tmp_path):
    """A dataChange=false commit (COMPACT/ZORDER/OPTIMIZE stamp) plans
    to ZERO partitions — no keys demanded, no data file opened — where
    pre-r15 it paid a full key-diff read to emit zero rows."""
    from spype_spark.lake_sink import _plan_cdf_step

    p = str(tmp_path / "t")
    _mk(reg, p, n=6)
    lake.delete_keys(reg, p, reg.createDataFrame([(2,)], "k long"))
    v = lake.compact(reg, p)
    assert mlog.m_load(p, v)["op"] == {
        "name": "COMPACT",
        "dataChange": False,
    }
    # planner-side: no partitions, EVEN WITHOUT keys (the pre-r15
    # path raised here), and no data file read is reachable
    assert _plan_cdf_step(p, v, None, {}) == []
    # end-to-end: the feed over the whole history stays correct
    got = _feed(reg, p, keys="k")
    assert got == sorted(
        [(k, k % 3, "insert", 0) for k in range(6)]
        + [(2, 2, "delete", 1)]
    )


def test_cdf_rewrite_diff_buckets_match_single_task(reg, tmp_path):
    """Forcing diffBucketBytes=1 splits a MERGE rewrite's key-diff
    into multiple hash-bucket partitions whose union equals the
    single-task change set exactly."""
    from spype_spark.lake_sink import _cdf_head_rename, _plan_cdf_step

    p = str(tmp_path / "t")
    df = reg.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g")
    )
    lake.write_table(df, p)
    upd = reg.createDataFrame(
        [(k, 1000 + k) for k in range(0, 200, 3)]
        + [(900 + i, i) for i in range(5)],
        "k long, g long",
    )
    lake.merge_upsert(reg, p, upd, ["k"])  # v1 rewrite
    rename = _cdf_head_rename(p)
    parts = _plan_cdf_step(p, 1, ["k"], rename, bucket_bytes=1)
    assert len(parts) > 1, "tiny bucket target must split the diff"
    assert {pt.kind for pt in parts} == {"diff"}
    assert {(pt.bucket, pt.nbuckets) for pt in parts} == {
        (b, len(parts)) for b in range(len(parts))
    }

    def rows(bucket_bytes):
        return sorted(
            tuple(r)
            for r in (
                reg.read.format("spype_lake")
                .option("path", p)
                .option("readChangeFeed", "true")
                .option("keys", "k")
                .option("startingVersion", 1)
                .option("diffBucketBytes", bucket_bytes)
                .load()
                .select("k", "g", "_change_type", "_commit_version")
                .collect()
            )
        )

    single = rows(1 << 40)
    bucketed = rows(1)
    assert single == bucketed
    exp = sorted(
        [(k, k % 7, "update_preimage", 1) for k in range(0, 200, 3)]
        + [(k, 1000 + k, "update_postimage", 1) for k in range(0, 200, 3)]
        + [(900 + i, i, "insert", 1) for i in range(5)]
    )
    assert single == exp


def test_cdf_rewrite_range_buckets_bound_reads_and_match(reg, tmp_path):
    """Key-clustered rewrites route diff buckets by key-RANGE
    intersection (r16): every bucket's file lists hold only the files
    whose manifest [min, max] envelope intersects its key slice — not
    every touched file — and the union of bucket outputs equals the
    single-task change set exactly."""
    from spype_spark.lake_sink import _cdf_head_rename, _plan_cdf_step
    import spype_spark.manifest_log as mlog

    p = str(tmp_path / "t")
    df = reg.range(4000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g")
    )
    # truncate-partitioned layout → partition-level COW merge rewrites
    # per leaf, so BOTH diff sides stay key-clustered
    lake.write_table(df, p, partition_by=[("truncate", 500, "k")])
    upd = reg.createDataFrame(
        [(k, 1000 + k) for k in range(0, 4000, 3)], "k long, g long"
    )
    lake.merge_upsert(reg, p, upd, ["k"])  # v1 rewrite, every leaf
    ents = mlog.m_entries(p, mlog.m_load(p, 1))
    tot = sum(e.get("bytes", 0) for e in ents)
    rename = _cdf_head_rename(p)
    parts = _plan_cdf_step(p, 1, ["k"], rename, bucket_bytes=tot // 4)
    assert len(parts) > 1 and {pt.kind for pt in parts} == {"diff"}
    assert all(pt.bounds is not None for pt in parts), (
        "clustered rewrite must take the range route"
    )
    n_files = [len(pt.old_files) + len(pt.new_files) for pt in parts]
    assert max(n_files) < len(ents), (
        f"range buckets must not read every touched file: {n_files}"
    )
    # bounds tile the key domain: open left edge, open right edge,
    # contiguous interior
    bnds = [pt.bounds for pt in sorted(parts, key=lambda x: x.bucket)]
    assert bnds[0][0] is None and bnds[-1][1] is None
    assert all(a[1] == b[0] for a, b in zip(bnds, bnds[1:]))

    def rows(bucket_bytes):
        return sorted(
            tuple(r)
            for r in (
                reg.read.format("spype_lake")
                .option("path", p)
                .option("readChangeFeed", "true")
                .option("keys", "k")
                .option("startingVersion", 1)
                .option("diffBucketBytes", bucket_bytes)
                .load()
                .select("k", "g", "_change_type", "_commit_version")
                .collect()
            )
        )

    assert rows(tot // 4) == rows(1 << 40)


def test_cdf_range_bucket_planner_units(reg, tmp_path):
    """_plan_range_buckets unit invariants: null-carrying files join
    bucket 0, heavy overlap / float stats / missing stats fall back to
    the hash split (None)."""
    from spype_spark.lake_sink import _plan_range_buckets

    def e(mn, mx, b=100, nulls=0, col="k"):
        return {"stats": {col: [mn, mx]}, "nulls": {col: nulls}, "bytes": b}

    eb = lambda x: x["bytes"]  # noqa: E731
    # clustered, 4 files/side → accepted, each file in its slice only
    old = [e(0, 9), e(10, 19), e(20, 29), e(30, 39)]
    new = [e(0, 9), e(10, 19), e(20, 29), e(30, 39)]
    rb = _plan_range_buckets(old, new, "k", 800, 200, eb)
    assert rb is not None and len(rb) == 4
    for x, (bounds, oi, ni) in enumerate(rb):
        assert oi == [x] and ni == [x], (x, oi, ni)
    # a null-carrying file is ALSO read in bucket 0
    old_n = [e(0, 9), e(10, 19), e(20, 29), e(30, 39, nulls=3)]
    rb = _plan_range_buckets(old_n, new, "k", 800, 200, eb)
    assert rb is not None
    assert 3 in rb[0][1], "null carrier must join bucket 0's old side"
    # unrecorded null count (pre-r13 entry) → also bucket 0
    old_u = [e(0, 9), e(10, 19), e(20, 29), e(30, 39)]
    del old_u[3]["nulls"]
    rb = _plan_range_buckets(old_u, new, "k", 800, 200, eb)
    assert rb is not None and 3 in rb[0][1]
    # full-overlap layout → hash fallback
    old_o = [e(0, 39), e(0, 39), e(0, 39), e(0, 39)]
    assert _plan_range_buckets(old_o, new, "k", 800, 200, eb) is None
    # float stats (NaN rows order nowhere) → hash fallback
    old_f = [e(0.0, 9.5), e(10.0, 19.5), e(20.0, 29.5), e(30.0, 39.5)]
    assert _plan_range_buckets(old_f, new, "k", 800, 200, eb) is None
    # missing stats on any file → hash fallback
    old_m = [e(0, 9), {"bytes": 100}, e(20, 29), e(30, 39)]
    assert _plan_range_buckets(old_m, new, "k", 800, 200, eb) is None
    # single bucket target → None (unbucketed path is identical)
    assert _plan_range_buckets(old, new, "k", 800, 10_000, eb) is None


def test_cdf_range_route_survives_rename_and_name_reuse(reg, tmp_path):
    """Range routing reads entry stats under the key's LOGICAL name.
    Rename the key k -> kk, add a new column that reuses the name k
    with values far outside kk's range, then MERGE: the change feed
    must still equal table_diff row for row (routing by the new k's
    envelope would drop every row from the diff)."""
    p = str(tmp_path / "t")
    df = reg.range(4000).select(
        F.col("id").alias("k"),
        (F.col("id") / 500).cast("long").alias("p"),
        (F.col("id") % 7).alias("g"),
    )
    lake.write_table(df, p, partition_by="p")
    lake.rename_columns(reg, p, {"k": "kk"})  # v1
    full = reg.range(4000).select(
        F.col("id").alias("kk"),
        (F.col("id") / 500).cast("long").alias("p"),
        (F.col("id") % 7).alias("g"),
        (F.col("id") + 100_000).alias("k"),
    )
    lake.merge_upsert(reg, p, full, ["kk"], evolve_schema=True)  # v2
    upd = full.filter(F.col("kk") % 3 == 0).withColumn(
        "g", F.col("g") + 1000
    )
    v = lake.merge_upsert(reg, p, upd, ["kk"])  # v3 rewrite
    ents = mlog.m_entries(p, mlog.m_load(p, v))
    assert all("k" in e.get("stats", {}) for e in ents), (
        "every file must carry stats under the reused name k"
    )
    tot = sum(e.get("bytes", 0) for e in ents)
    feed = (
        reg.read.format("spype_lake")
        .option("path", p)
        .option("readChangeFeed", "true")
        .option("keys", "kk")
        .option("startingVersion", v)
        .option("diffBucketBytes", max(1, tot // 4))
        .load()
        .filter(F.col("_change_type") != "update_preimage")
        .select(
            "kk",
            F.regexp_replace("_change_type", "_postimage", "").alias("op"),
        )
    )
    got = sorted(tuple(r) for r in feed.collect())
    exp = sorted(
        tuple(r) for r in lake.table_diff(reg, p, v - 1, v, ["kk"]).collect()
    )
    assert got == exp and len(exp) == len(range(0, 4000, 3))


def test_cdf_pure_remove_commit_needs_no_keys(reg, tmp_path):
    """A commit that only DROPS whole files (nothing added, no kept
    file touched) is fully derivable without keys — the old side's
    live rows are the deletes (advice r15)."""
    p = str(tmp_path / "t")
    _mk(reg, p, n=6, pcols=["g"])  # one file per g partition
    lake.delete_where(reg, p, F.col("g") == 1)  # drops partition g=1
    got = _feed(reg, p, keys=None)
    exp = sorted(
        [(k, k % 3, "insert", 0) for k in range(6)]
        + [(1, 1, "delete", 1), (4, 1, "delete", 1)]
    )
    assert got == exp, f"pure-remove without keys: {got}"


def test_cdf_null_float_transitions_and_both_null(reg, tmp_path):
    """NULL float cells must not poison the diff: is_nan(NULL) is
    null and Arrow's non-Kleene and_/or_ propagate it, which silently
    dropped NULL->value updates and suppressed rows whose OTHER column
    changed alongside a both-NULL float (advice r15)."""
    p = str(tmp_path / "t")
    df = reg.createDataFrame(
        [
            (0, None, 1),  # NULL -> 3.0: must emit an update pair
            (1, None, 1),  # x stays NULL, g changes: must still emit
            (2, 2.5, 1),  # untouched: silent
            (3, None, 1),  # carried unchanged (both NULL): silent
        ],
        "k long, x double, g long",
    )
    lake.write_table(df, p)
    upd = reg.createDataFrame(
        [(0, 3.0, 1), (1, None, 9), (3, None, 1)],
        "k long, x double, g long",
    )
    lake.merge_upsert(reg, p, upd, ["k"])
    key = lambda t: (t[0], t[3], t[2])
    got = sorted(
        (
            (r["k"], r["x"], r["g"], r["_change_type"])
            for r in _cdf_read(reg, p, keys="k", start=1).collect()
        ),
        key=key,
    )
    assert got == sorted(
        [
            (0, None, 1, "update_preimage"),
            (0, 3.0, 1, "update_postimage"),
            (1, None, 1, "update_preimage"),
            (1, None, 9, "update_postimage"),
        ],
        key=key,
    ), f"NULL-float diff wrong: {got}"


def test_sink_stamps_bloom_filters(reg, tmp_path):
    """A bloom-opted table fed through the sink gets its filters from
    the EXECUTOR write tasks (in-memory Arrow columns — zero extra
    reads), inline or sidecar by size; the manifest keeps the opt-in;
    an absent-key delete afterwards reads back zero data files. The
    createTableIfAbsent path honors .option('bloomKeys', …) with the
    same validation as write_table."""
    p = str(tmp_path / "t")
    df = reg.range(30_000).select(
        F.md5(F.col("id").cast("string")).alias("k"),
        F.col("id").alias("v"),
    ).repartition(4, F.col("k"))
    lake.write_table(df.limit(0), p, bloom_keys="k")
    df.write.format("spype_lake").option("path", p).mode(
        "append"
    ).save()
    m = lake._m_load(p, lake.latest_version(p))
    assert m["bloom_keys"] == ["k"]
    ents = [e for e in lake._m_entries(p, m) if e.get("rows")]
    assert ents and all("bloom" in e for e in ents)
    # 4 files × ~7.5k values → sidecar form; sidecars live next to
    # their data files
    assert any("ref" in e["bloom"]["k"] for e in ents)
    for e in ents:
        bf = e["bloom"]["k"]
        if "ref" in bf:
            assert os.path.exists(os.path.join(p, bf["ref"]))
    v2 = lake.delete_predicate(reg, p, ("eq", "k", "f" * 32))
    ghosts = [
        e
        for e in lake._m_entries(p, lake._m_load(p, v2))
        if e["seq"] == v2 and e.get("rows")
    ]
    assert ghosts == []
    # create-on-first-write with the option
    p2 = str(tmp_path / "t2")
    df.write.format("spype_lake").option("path", p2).option(
        "createTableIfAbsent", "true"
    ).option("bloomKeys", "k").mode("append").save()
    m2 = lake._m_load(p2, lake.latest_version(p2))
    assert m2["bloom_keys"] == ["k"]
    assert all(
        "bloom" in e
        for e in lake._m_entries(p2, m2)
        if e.get("rows")
    )
    assert lake.read_table(reg, p2).count() == 30_000
    # option validation is loud
    p3 = str(tmp_path / "t3")
    with pytest.raises(Exception, match="bloomKeys"):
        reg.range(5).select(
            F.col("id").cast("double").alias("d")
        ).write.format("spype_lake").option("path", p3).option(
            "createTableIfAbsent", "true"
        ).option("bloomKeys", "d").mode("append").save()


def test_sink_streaming_stamps_bloom_filters(reg, tmp_path):
    """The STREAMING half: microbatch commits through the sink stamp
    filters and keep the opt-in across batches."""
    import shutil
    import tempfile

    p = str(tmp_path / "t")
    lake.write_table(
        reg.range(0).select(
            F.md5(F.col("id").cast("string")).alias("k"),
            F.col("id").alias("v"),
        ),
        p,
        bloom_keys="k",
    )
    src = tempfile.mkdtemp(prefix="sink_bloom_src_")
    ckpt = tempfile.mkdtemp(prefix="sink_bloom_ck_")
    try:
        reg.range(500).select(
            F.md5(F.col("id").cast("string")).alias("k"),
            F.col("id").alias("v"),
        ).write.parquet(src, mode="overwrite")
        q = (
            reg.readStream.schema("k string, v long")
            .parquet(src)
            .writeStream.format("spype_lake")
            .option("path", p)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        m = lake._m_load(p, lake.latest_version(p))
        assert m["bloom_keys"] == ["k"]
        ents = [e for e in lake._m_entries(p, m) if e.get("rows")]
        assert ents and all("bloom" in e for e in ents)
        assert lake.read_table(reg, p).count() == 500
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
