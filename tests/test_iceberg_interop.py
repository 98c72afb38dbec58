"""Iceberg metadata interop (spype_spark/iceberg_interop.py) and the
pure-Python Avro container codec it rides on (spype_spark/avro_io.py):
spec-shaped chain walk (version hint → metadata JSON → manifest-list
Avro → manifest Avro → parquet), snapshot time travel, and LOUD gates
on everything outside the profile."""

import json
import os

import pytest
from pyspark.sql import functions as F

from spype_spark import iceberg_interop as ice
from spype_spark.avro_io import read_avro, write_avro


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("p"),
        (F.col("id") * 10).alias("v"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# Avro codec
# ---------------------------------------------------------------------------


def test_avro_round_trip_all_types(tmp_path):
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "by", "type": "bytes"},
            {"name": "u", "type": ["null", "long"], "default": None},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {"name": "e", "type": {"type": "enum", "name": "E",
                                   "symbols": ["A", "B"]}},
            {"name": "fx", "type": {"type": "fixed", "name": "FX", "size": 3}},
        ],
    }
    recs = [
        {"b": True, "i": -7, "l": 1 << 40, "f": 0.5, "d": -2.25,
         "s": "héllo", "by": b"\x00\xff", "u": None, "arr": [1, -2, 3],
         "m": {"x": "y"}, "e": "B", "fx": b"abc"},
        {"b": False, "i": 0, "l": -1, "f": 1.0, "d": 0.0, "s": "",
         "by": b"", "u": 99, "arr": [], "m": {}, "e": "A", "fx": b"zzz"},
    ]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t-{codec}.avro")
        write_avro(p, schema, recs, codec=codec)
        s2, got = read_avro(p)
        assert got == recs
        assert s2["name"] == "t"


def test_avro_malformed_is_loud(tmp_path):
    p = str(tmp_path / "bad")
    with open(p, "wb") as f:
        f.write(b"NOTAVRO")
    with pytest.raises(ValueError, match="magic"):
        read_avro(p)
    # unsupported codec
    schema = {"type": "record", "name": "t",
              "fields": [{"name": "x", "type": "long"}]}
    good = str(tmp_path / "good.avro")
    write_avro(good, schema, [{"x": 1}], codec="null")
    data = bytearray(open(good, "rb").read())
    i = data.find(b"null", 4)
    data[i : i + 4] = b"zstd"
    bad2 = str(tmp_path / "bad2.avro")
    open(bad2, "wb").write(bytes(data))
    with pytest.raises(ValueError, match="codec"):
        read_avro(bad2)
    # corrupted sync marker
    data = bytearray(open(good, "rb").read())
    data[-1] ^= 0xFF
    bad3 = str(tmp_path / "bad3.avro")
    open(bad3, "wb").write(bytes(data))
    with pytest.raises(ValueError, match="sync"):
        read_avro(bad3)


# ---------------------------------------------------------------------------
# Iceberg chain
# ---------------------------------------------------------------------------


def test_iceberg_write_read_snapshot_chain(spark, tmp_path):
    p = str(tmp_path / "t")
    s1 = ice.write_iceberg(spark, _df(spark, 0, 20), p, partition_by=["p"])
    s2 = ice.write_iceberg(spark, _df(spark, 20, 30), p, mode="append")
    got = ice.read_iceberg(spark, p)
    assert got.schema.simpleString() == "struct<k:bigint,p:int,v:bigint>"
    assert _rows(got) == _rows(_df(spark, 0, 30))
    assert _rows(ice.read_iceberg(spark, p, snapshot_id=s1)) == _rows(
        _df(spark, 0, 20)
    )
    hist = {r.snapshot_id: r.parent_id
            for r in ice.iceberg_snapshots(spark, p).collect()}
    assert hist[s2] == s1 and hist[s1] is None


def test_iceberg_same_version_publish_raises_and_keeps_winner(
    spark, tmp_path, monkeypatch
):
    """Two writers that read the same current metadata version race for
    one ``v{N}.metadata.json`` slot: the later one raises
    ConcurrentWriteError instead of replacing the file, so the first
    writer's snapshot survives — for snapshot publishes and for the
    metadata-only verbs alike."""
    from spype_spark.lakehouse import ConcurrentWriteError

    p = str(tmp_path / "t")
    md = os.path.join(p, "metadata")
    ice.write_iceberg(spark, _df(spark, 0, 10), p)
    stale = ice._current_version(md)
    s2 = ice.write_iceberg(spark, _df(spark, 10, 20), p, mode="append")
    slot = os.path.join(md, f"v{stale + 1}.metadata.json")
    with open(slot) as f:
        winner = f.read()
    # the losers read the current version before the winner published
    monkeypatch.setattr(ice, "_current_version", lambda _md: stale)
    with pytest.raises(ConcurrentWriteError):
        ice.write_iceberg(spark, _df(spark, 20, 30), p, mode="append")
    with pytest.raises(ConcurrentWriteError):
        ice.set_iceberg_name_mapping(spark, p)
    with pytest.raises(ConcurrentWriteError):
        ice.rename_iceberg_columns(spark, p, {"v": "value"})
    monkeypatch.undo()
    with open(slot) as f:
        assert f.read() == winner
    assert ice._current_version(md) == stale + 1
    assert ice._current_metadata(p)["current-snapshot-id"] == s2
    assert _rows(ice.read_iceberg(spark, p)) == _rows(_df(spark, 0, 20))
    assert not [n for n in os.listdir(md) if n.startswith(".tmp")]


def test_iceberg_unpartitioned_and_version_hint_fallback(spark, tmp_path):
    p = str(tmp_path / "t")
    ice.write_iceberg(spark, _df(spark, 0, 12).select("k", "v"), p)
    assert ice.read_iceberg(spark, p).count() == 12
    # remove the hint: the reader must fall back to the highest
    # v*.metadata.json
    os.unlink(os.path.join(p, "metadata", "version-hint.text"))
    assert ice.read_iceberg(spark, p).count() == 12


def test_iceberg_deleted_entries_are_dropped(spark, tmp_path):
    """A manifest entry with status=2 (DELETED) must not be scanned."""
    p = str(tmp_path / "t")
    ice.write_iceberg(spark, _df(spark, 0, 10).select("k", "v"), p)
    meta = ice._current_metadata(p)
    snap = ice._pick_snapshot(meta, None)
    _s, manifests = read_avro(ice._resolve_file(p, snap["manifest-list"]))
    mpath = ice._resolve_file(p, manifests[0]["manifest_path"])
    schema, entries = read_avro(mpath)
    victim = entries[0]["data_file"]["file_path"]
    entries[0]["status"] = 2
    write_avro(mpath, schema, entries)
    got = ice.read_iceberg(spark, p)
    files = {r[0] for r in got.select(F.input_file_name()).distinct().collect()}
    assert not any(victim.endswith(os.path.basename(f)) for f in files)
    assert got.count() < 10


def test_iceberg_mor_position_deletes(spark, tmp_path):
    """v2 merge-on-read position deletes (graduated r13): rows named
    by (file_path, pos) vanish from the read WITHOUT any data file
    being rewritten; they apply to files with seq ≤ the delete's."""
    p = str(tmp_path / "t")
    ice.write_iceberg(spark, _df(spark, 0, 60), p, partition_by=["p"])
    before = {fn for fn in _data_files(p)}
    ps = ice.position_scan(spark, p)
    dels = ps.filter("k % 5 = 1").select(
        F.col("_file").alias("file_path"), F.col("_pos").alias("pos")
    )
    ice.write_iceberg_pos_deletes(spark, dels, p)
    got = sorted(r["k"] for r in ice.read_iceberg(spark, p).collect())
    assert got == [k for k in range(60) if k % 5 != 1]
    # merge-on-read: every pre-delete data file still present untouched
    assert before <= {fn for fn in _data_files(p)}
    # a LATER append is NOT hit by the earlier position delete
    ice.write_iceberg(spark, _df(spark, 100, 103), p, mode="append")
    got2 = sorted(r["k"] for r in ice.read_iceberg(spark, p).collect())
    assert got2 == [k for k in range(60) if k % 5 != 1] + [100, 101, 102]


def test_iceberg_mor_equality_deletes_strict_sequence(spark, tmp_path):
    """Equality deletes hide matching rows of STRICTLY OLDER data
    files only — rows appended after the delete survive even when
    they match (the spec's sequence-number rule)."""
    p = str(tmp_path / "t")
    ice.write_iceberg(spark, _df(spark, 0, 20), p)
    dels = spark.createDataFrame([(4,), (7,), (104,)], "k long")
    s2 = ice.write_iceberg_eq_deletes(spark, dels, p, ["k"])
    # re-append k=4 AFTER the delete: the new row must survive
    ice.write_iceberg(spark, _df(spark, 4, 5), p, mode="append")
    ice.write_iceberg(spark, _df(spark, 104, 106), p, mode="append")
    got = sorted(r["k"] for r in ice.read_iceberg(spark, p).collect())
    assert got == sorted(
        [k for k in range(20) if k not in (4, 7)] + [4, 104, 105]
    )
    # time travel to the delete snapshot: only the old data, filtered
    at2 = sorted(r["k"] for r in ice.read_iceberg(spark, p, snapshot_id=s2).collect())
    assert at2 == [k for k in range(20) if k not in (4, 7)]


def test_iceberg_mor_combined_and_import_gate(spark, tmp_path):
    """Position + equality deletes compose; by-reference import of a
    table with pending deletes is loud (a plain file list cannot
    express them), while materialize applies them."""
    p = str(tmp_path / "t")
    ice.write_iceberg(spark, _df(spark, 0, 40), p)
    ice.write_iceberg_eq_deletes(
        spark, spark.createDataFrame([(6,), (8,)], "k long"), p, ["k"]
    )
    ps = ice.position_scan(spark, p)
    ice.write_iceberg_pos_deletes(
        spark,
        ps.filter("k % 10 = 3").select(
            F.col("_file").alias("file_path"), F.col("_pos").alias("pos")
        ),
        p,
    )
    exp = [k for k in range(40) if k not in (6, 8) and k % 10 != 3]
    assert sorted(r["k"] for r in ice.read_iceberg(spark, p).collect()) == exp
    # a by-reference import would resurrect the deleted rows — the
    # import AUTO-materializes instead (same policy as Delta's)
    import glob

    from spype_spark import lakehouse as lake

    nt = str(tmp_path / "native")
    ice.import_iceberg(spark, p, nt)
    assert glob.glob(f"{nt}/data/**/*.parquet", recursive=True) != []
    assert sorted(
        r["k"] for r in lake.read_table(spark, nt).collect()
    ) == exp
    # export still refuses: a plain file list cannot express deletes
    with pytest.raises(ValueError, match="merge-on-read"):
        ice._live_files(p, ice._pick_snapshot(ice._current_metadata(p), None))


def test_iceberg_malformed_manifest_content_mismatch_is_loud(spark, tmp_path):
    """A manifest-list record claiming content=1 (deletes) over
    entries whose data_file is content=0 (data) is malformed — loud
    error, never silently duplicated rows."""
    p = str(tmp_path / "t")
    ice.write_iceberg(spark, _df(spark, 0, 10).select("k", "v"), p)
    meta = ice._current_metadata(p)
    snap = ice._pick_snapshot(meta, None)
    ml = ice._resolve_file(p, snap["manifest-list"])
    schema, manifests = read_avro(ml)
    fake = dict(manifests[0])
    fake["content"] = 1  # DELETE manifest over data entries
    fake["added_files_count"] = 1
    write_avro(ml, schema, manifests + [fake])
    with pytest.raises(ValueError, match="malformed"):
        ice.read_iceberg(spark, p)


def test_iceberg_unknown_content_kind_gate(spark, tmp_path):
    p = str(tmp_path / "t")
    ice.write_iceberg(spark, _df(spark, 0, 6).select("k", "v"), p)
    meta = ice._current_metadata(p)
    snap = ice._pick_snapshot(meta, None)
    ml = ice._resolve_file(p, snap["manifest-list"])
    _s, manifests = read_avro(ml)
    mf = ice._resolve_file(p, manifests[0]["manifest_path"])
    schema, entries = read_avro(mf)
    entries[0]["data_file"]["content"] = 3
    write_avro(mf, schema, entries)
    with pytest.raises(ValueError, match="content kind"):
        ice.read_iceberg(spark, p)


def _data_files(p):
    for root, _dirs, files in os.walk(os.path.join(p, "data")):
        for fn in files:
            if fn.endswith(".parquet"):
                yield os.path.join(root, fn)


def test_iceberg_non_parquet_gate(spark, tmp_path):
    p = str(tmp_path / "t")
    ice.write_iceberg(spark, _df(spark, 0, 6).select("k", "v"), p)
    meta = ice._current_metadata(p)
    snap = ice._pick_snapshot(meta, None)
    _s, manifests = read_avro(ice._resolve_file(p, snap["manifest-list"]))
    mpath = ice._resolve_file(p, manifests[0]["manifest_path"])
    schema, entries = read_avro(mpath)
    entries[0]["data_file"]["file_format"] = "ORC"
    write_avro(mpath, schema, entries)
    with pytest.raises(ValueError, match="format"):
        ice.read_iceberg(spark, p)


def test_iceberg_missing_data_file_is_loud(spark, tmp_path):
    p = str(tmp_path / "t")
    ice.write_iceberg(spark, _df(spark, 0, 6).select("k", "v"), p)
    meta = ice._current_metadata(p)
    snap = ice._pick_snapshot(meta, None)
    _s, manifests = read_avro(ice._resolve_file(p, snap["manifest-list"]))
    _s2, entries = read_avro(ice._resolve_file(p, manifests[0]["manifest_path"]))
    victim = ice._resolve_file(p, entries[0]["data_file"]["file_path"])
    os.unlink(victim)
    with pytest.raises(FileNotFoundError, match="missing data file"):
        ice.read_iceberg(spark, p)


def test_iceberg_not_a_table(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="not an Iceberg table"):
        ice.read_iceberg(spark, str(tmp_path / "nope"))


def test_iceberg_schema_evolution_null_fill(spark, tmp_path):
    """Files written before a column existed read as NULL under the
    current schema (Iceberg's schema-evolution read rule) — fabricate
    by editing the current metadata's schema."""
    p = str(tmp_path / "t")
    ice.write_iceberg(spark, _df(spark, 0, 8).select("k", "v"), p)
    md = os.path.join(p, "metadata")
    with open(os.path.join(md, "version-hint.text")) as f:
        n = int(f.read().strip())
    mp = os.path.join(md, f"v{n}.metadata.json")
    meta = json.load(open(mp))
    meta["schemas"][0]["fields"].append(
        {"id": 99, "name": "added_later", "required": False, "type": "string"}
    )
    json.dump(meta, open(mp, "w"))
    got = ice.read_iceberg(spark, p)
    assert "added_later" in got.columns
    assert got.where(F.col("added_later").isNull()).count() == 8


def test_sql_from_iceberg_statement(spark, tmp_path):
    """FROM ICEBERG '<path>' [SNAPSHOT AS OF n] resolves through
    read_iceberg in the SQL facade (parity with FROM DELTA)."""
    import spype_spark

    p = str(tmp_path / "t")
    s1 = ice.write_iceberg(spark, _df(spark, 0, 15).select("k", "v"), p)
    ice.write_iceberg(spark, _df(spark, 15, 20).select("k", "v"), p,
                      mode="append")
    n = spype_spark.sql(
        spark, f"SELECT count(*) AS n FROM ICEBERG '{p}'"
    ).collect()[0].n
    assert n == 20
    n1 = spype_spark.sql(
        spark,
        f"SELECT count(*) AS n FROM ICEBERG '{p}' SNAPSHOT AS OF {s1}",
    ).collect()[0].n
    assert n1 == 15


def test_import_iceberg_by_reference(spark, tmp_path):
    """Partitioned Iceberg tables import by reference (the identity
    model keeps partition columns in-file): zero copies, stats
    pruning live, a native MERGE COWs into the native dir while
    foreign files carry."""
    import glob

    from spype_spark import lakehouse as lake

    ipath, tpath = str(tmp_path / "ice"), str(tmp_path / "native")
    ice.write_iceberg(spark, _df(spark, 0, 40), ipath, partition_by=["p"])
    ice.write_iceberg(spark, _df(spark, 40, 50), ipath, mode="append")
    assert ice.import_iceberg(spark, ipath, tpath) == 0
    assert glob.glob(os.path.join(tpath, "data", "**", "*.parquet"),
                     recursive=True) == []
    got = lake.read_table(spark, tpath)
    assert _rows(got) == _rows(_df(spark, 0, 50))
    # footer stats imported -> range pruning works
    pruned = lake.scan_table(spark, tpath, where=("between", "k", 45, 49))
    assert pruned.count() == 5
    # native mutation: COW into native dir, carry foreign files
    lake.merge_upsert(
        spark, tpath,
        spark.createDataFrame([(0, 0, 999)], "k long, p int, v long"),
        keys=["k"],
    )
    assert lake.read_table(spark, tpath).where(
        F.col("k") == 0
    ).collect()[0].v == 999
    assert glob.glob(os.path.join(tpath, "data", "**", "*.parquet"),
                     recursive=True) != []


def test_import_iceberg_materialize_and_transform_gate(spark, tmp_path):
    from spype_spark import lakehouse as lake

    ipath = str(tmp_path / "ice2")
    ice.write_iceberg(spark, _df(spark, 0, 12), ipath, partition_by=["p"])
    tpath = str(tmp_path / "mat")
    ice.import_iceberg(spark, ipath, tpath, materialize=True)
    got = lake.read_table(spark, tpath)
    assert _rows(got) == _rows(_df(spark, 0, 12))
    assert lake.table_meta(tpath).get("partition_by") == ["p"]
    # a non-identity transform in the default spec gates by-reference
    import json as _json

    md = os.path.join(ipath, "metadata")
    with open(os.path.join(md, "version-hint.text")) as f:
        n = int(f.read().strip())
    mp = os.path.join(md, f"v{n}.metadata.json")
    meta = _json.load(open(mp))
    meta["partition-specs"][0]["fields"][0]["transform"] = "bucket[4]"
    _json.dump(meta, open(mp, "w"))
    with pytest.raises(ValueError, match="transform"):
        ice.import_iceberg(spark, ipath, str(tmp_path / "x"))


def test_read_iceberg_partition_filter_prunes_manifest_entries(spark, tmp_path):
    p = str(tmp_path / "t")
    ice.write_iceberg(spark, _df(spark, 0, 30), p, partition_by=["p"])
    got = ice.read_iceberg(spark, p, partition_filter={"p": 1})
    assert {r.p for r in got.select("p").distinct().collect()} == {1}
    all_files = {
        r[0] for r in ice.read_iceberg(spark, p)
        .select(F.input_file_name()).distinct().collect()
    }
    pruned_files = {
        r[0] for r in got.select(F.input_file_name()).distinct().collect()
    }
    assert 0 < len(pruned_files) < len(all_files)
    got2 = ice.read_iceberg(spark, p, partition_filter={"p": [0, 2]})
    assert {r.p for r in got2.select("p").distinct().collect()} == {0, 2}


# ---------------------------------------------------------------------------
# Avro property fuzz (hypothesis): random records round-trip exactly
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_FUZZ_SCHEMA = {
    "type": "record",
    "name": "fuzz",
    "fields": [
        {"name": "l", "type": "long"},
        {"name": "i", "type": "int"},
        {"name": "d", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "u", "type": ["null", "string"], "default": None},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "long"}},
    ],
}

_rec = st.fixed_dictionaries(
    {
        "l": st.integers(min_value=-(1 << 62), max_value=(1 << 62) - 1),
        "i": st.integers(min_value=-(1 << 31), max_value=(1 << 31) - 1),
        "d": st.floats(allow_nan=False, width=64),
        "s": st.text(max_size=40),
        "u": st.one_of(st.none(), st.text(max_size=10)),
        "arr": st.lists(
            st.integers(min_value=-(1 << 62), max_value=(1 << 62) - 1),
            max_size=8,
        ),
        "m": st.dictionaries(st.text(min_size=1, max_size=8),
                             st.integers(-(1 << 40), 1 << 40), max_size=5),
    }
)


@settings(max_examples=50, deadline=None)
@given(recs=st.lists(_rec, max_size=12), codec=st.sampled_from(["null", "deflate"]))
def test_avro_property_round_trip(tmp_path_factory, recs, codec):
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "f.avro")
        write_avro(p, _FUZZ_SCHEMA, recs, codec=codec)
        _s, got = read_avro(p)
        assert got == recs


def test_export_iceberg_dual_format_and_gates(spark, tmp_path):
    """export_iceberg mirrors a native table in place: zero copies,
    read_iceberg == read_table, re-export = overwrite snapshot with
    time travel to the earlier export; transform/rename gates loud."""
    from spype_spark import lakehouse as lake

    tpath = str(tmp_path / "dual")
    df = _df(spark, 0, 24)
    lake.write_table(df.filter("k < 16"), tpath, partition_by=["p"])
    s1 = ice.export_iceberg(spark, tpath)
    assert _rows(ice.read_iceberg(spark, tpath)) == _rows(
        lake.read_table(spark, tpath)
    )
    lake.append_table(spark, tpath, df.filter("k >= 16"))
    s2 = ice.export_iceberg(spark, tpath)
    assert s2 != s1
    assert _rows(ice.read_iceberg(spark, tpath)) == _rows(
        lake.read_table(spark, tpath)
    )
    assert ice.read_iceberg(spark, tpath, snapshot_id=s1).count() == 16
    # widened table exports WITHOUT a gate — Iceberg readers must
    # up-cast promoted primitives per spec
    wt = str(tmp_path / "widen")
    lake.write_table(
        spark.range(0, 6).select(F.col("id").cast("int").alias("k")), wt
    )
    lake.widen_types(spark, wt, {"k": "bigint"})
    ice.export_iceberg(spark, wt)
    got = ice.read_iceberg(spark, wt)
    assert got.schema["k"].dataType.simpleString() == "bigint"
    assert got.count() == 6
    # gates
    bt = str(tmp_path / "bucketed")
    lake.write_table(df, bt, partition_by=[("bucket", 4, "k")])
    with pytest.raises(ValueError, match="transform"):
        ice.export_iceberg(spark, bt)
    rt = str(tmp_path / "renamed")
    lake.write_table(df, rt)
    lake.rename_columns(spark, rt, {"v": "w"})
    with pytest.raises(ValueError, match="field-id"):
        ice.export_iceberg(spark, rt)


# ---------------------------------------------------------------------------
# field-id projection / rename — r13
# ---------------------------------------------------------------------------


def test_iceberg_rename_resolves_by_field_id(spark, tmp_path):
    """Files written before a rename keep the old physical name under
    the same field id; the read path must feed them into the NEW
    logical column (name-based matching would NULL them)."""
    p = str(tmp_path / "t")
    ice.write_iceberg(spark, _df(spark, 0, 20), p, partition_by=["p"])
    ice.rename_iceberg_columns(spark, p, {"v": "value"})
    got = ice.read_iceberg(spark, p)
    assert got.columns == ["k", "p", "value"]
    assert sorted((r["k"], r["value"]) for r in got.collect()) == [
        (k, k * 10) for k in range(20)
    ]
    # append under the new name -> two projection generations coexist
    ice.write_iceberg(
        spark,
        _df(spark, 20, 25).select("k", "p", F.col("v").alias("value")),
        p,
        mode="append",
    )
    got2 = ice.read_iceberg(spark, p)
    assert sorted((r["k"], r["value"]) for r in got2.collect()) == [
        (k, k * 10) for k in range(25)
    ]
    meta = ice._current_metadata(p)
    info = ice._snapshot_files(p, ice._pick_snapshot(meta, None))
    groups = ice._group_files_by_projection(
        [fp for fp, _s in info["data"]], ice._current_fields(meta)
    )
    assert len(groups) == 2  # old-name and new-name footers


def test_iceberg_rename_gates_and_eq_delete_rename(spark, tmp_path):
    p = str(tmp_path / "t")
    ice.write_iceberg(spark, _df(spark, 0, 30), p, partition_by=["p"])
    ice.write_iceberg_eq_deletes(
        spark, spark.createDataFrame([(3,), (8,)], "k long"), p, ["k"]
    )
    # renaming the EQ-DELETE column: the delete file carries the old
    # name and must still resolve by its field id
    ice.rename_iceberg_columns(spark, p, {"k": "key"})
    got = sorted(r["key"] for r in ice.read_iceberg(spark, p).collect())
    assert got == [k for k in range(30) if k not in (3, 8)]
    with pytest.raises(ValueError, match="unknown"):
        ice.rename_iceberg_columns(spark, p, {"nope": "x"})
    with pytest.raises(ValueError, match="already exist"):
        ice.rename_iceberg_columns(spark, p, {"v": "key"})
    with pytest.raises(ValueError, match="partition source"):
        ice.rename_iceberg_columns(spark, p, {"p": "bucket"})


def test_iceberg_name_mapping_for_idless_files(spark, tmp_path):
    """schema.name-mapping.default resolves ID-LESS (migrated) files:
    after a rename, a plain-parquet file carrying the OLD column name
    feeds the NEW logical column; without the mapping it reads NULL."""
    p = str(tmp_path / "t")
    ice.write_iceberg(spark, _df(spark, 0, 10).select("k", "v"), p)
    ice.rename_iceberg_columns(spark, p, {"v": "value"})
    hive = spark.range(100, 104).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    hd = str(tmp_path / "hive")
    hive.coalesce(1).write.parquet(hd)
    files = [
        os.path.join(hd, n) for n in os.listdir(hd) if n.endswith(".parquet")
    ]
    # WITHOUT the mapping: the id-less file's old-named column is NULL
    ice.add_iceberg_data_files(spark, p, files)
    nulls = (
        ice.read_iceberg(spark, p)
        .filter(F.col("value").isNull())
        .count()
    )
    assert nulls == 4
    # WITH the mapping: resolved
    ice.set_iceberg_name_mapping(spark, p, {"value": ["v"]})
    got = sorted(
        (r["k"], r["value"]) for r in ice.read_iceberg(spark, p).collect()
    )
    assert got == [(k, 10 * k) for k in list(range(10)) + [100, 101, 102, 103]]
    # properties survive later snapshots
    ice.write_iceberg(
        spark,
        _df(spark, 200, 202).select("k", F.col("v").alias("value")),
        p,
        mode="append",
    )
    assert "schema.name-mapping.default" in (
        ice._current_metadata(p).get("properties") or {}
    )
    with pytest.raises(ValueError, match="unknown"):
        ice.set_iceberg_name_mapping(spark, p, {"nope": ["x"]})


def test_iceberg_foreign_field_ids_survive_publishes(spark, tmp_path):
    """A table with NON-CONTIGUOUS field ids (post-drop gaps, the
    foreign-table shape) must keep them across delete/append
    publishes — positional renumbering would mis-project footers
    (review r13)."""
    p = str(tmp_path / "t")
    ice.write_iceberg(spark, _df(spark, 0, 15).select("k", "v"), p)
    # simulate a foreign history: remap ids 1,2 -> 1,7 in the current
    # schema (footers keep id 2 for v — map it via name-mapping)
    meta = ice._current_metadata(p)
    md = ice._meta_dir(p)
    for s in meta["schemas"]:
        for f in s["fields"]:
            if f["name"] == "v":
                f["id"] = 7
    meta["last-column-id"] = 7
    meta["properties"] = {
        "schema.name-mapping.default": json.dumps(
            [{"field-id": 1, "names": ["k"]}, {"field-id": 7, "names": ["v"]}]
        )
    }
    ver = ice._current_version(md) + 1
    with open(os.path.join(md, f"v{ver}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(md, "version-hint.text"), "w") as f:
        f.write(str(ver))
    # a delete publish must NOT renumber 7 back to 2
    ice.write_iceberg_eq_deletes(
        spark, spark.createDataFrame([(3,)], "k long"), p, ["k"]
    )
    ids = {f["name"]: f["id"] for f in ice._current_fields(
        ice._current_metadata(p)
    )}
    assert ids == {"k": 1, "v": 7}
    # an append stamps the TABLE's ids into the new footers
    ice.write_iceberg(
        spark, _df(spark, 100, 103).select("k", "v"), p, mode="append"
    )
    ids2 = {f["name"]: f["id"] for f in ice._current_fields(
        ice._current_metadata(p)
    )}
    assert ids2 == {"k": 1, "v": 7}
    got = sorted((r["k"], r["v"]) for r in ice.read_iceberg(spark, p).collect())
    assert got == [
        (k, 10 * k) for k in list(range(15)) + [100, 101, 102] if k != 3
    ]


def test_iceberg_changes_full_chain(spark, tmp_path):
    """Incremental read: appends as inserts, pos/eq delete snapshots
    as row-level deletes via the position-scan anti-join."""
    from spype_spark.iceberg_interop import (
        iceberg_changes,
        position_scan,
        write_iceberg,
        write_iceberg_eq_deletes,
        write_iceberg_pos_deletes,
    )

    p = str(tmp_path / "t")
    df = spark.range(0, 30).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    s0 = write_iceberg(spark, df, p)
    s1 = write_iceberg(
        spark,
        spark.range(30, 40).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        p,
        mode="append",
    )
    hits = (
        position_scan(spark, p)
        .filter(F.col("k") < 5)
        .select(F.col("_file").alias("file_path"), F.col("_pos").alias("pos"))
    )
    s2 = write_iceberg_pos_deletes(spark, hits, p)
    s3 = write_iceberg_eq_deletes(
        spark,
        spark.range(0, 40, 10).select(F.col("id").alias("k")),
        p,
        ["k"],
    )
    ch = iceberg_changes(spark, p)
    got = {
        (r["_snapshot_id"], r["_change_type"]): r["count"]
        for r in ch.groupBy("_snapshot_id", "_change_type").count().collect()
    }
    assert got[(s0, "insert")] == 30
    assert got[(s1, "insert")] == 10
    assert got[(s2, "delete")] == 5
    # eq delete of {0,10,20,30}: 0 already pos-deleted -> 3 rows
    assert got[(s3, "delete")] == 3
    d3 = sorted(
        r["k"] for r in ch.filter(F.col("_snapshot_id") == s3).collect()
    )
    assert d3 == [10, 20, 30]
    # exclusive-from window
    ch2 = iceberg_changes(spark, p, from_snapshot_id=s1)
    assert set(
        r["_snapshot_id"]
        for r in ch2.select("_snapshot_id").distinct().collect()
    ) == {s2, s3}
    # unknown snapshot id is loud
    with pytest.raises(ValueError, match="not in snapshot chain"):
        iceberg_changes(spark, p, from_snapshot_id=123)


def test_iceberg_changes_targeted_file_subset(spark, tmp_path):
    """The row-level diff layer must scan ONLY the data files the
    changed delete files can affect: a pos-delete referencing one of
    two data files plans a window read that never lists the other
    file (file_subset targeting, not post-hoc row filtering)."""
    from spype_spark.iceberg_interop import (
        iceberg_changes,
        position_scan,
        write_iceberg,
        write_iceberg_pos_deletes,
    )

    p = str(tmp_path / "t")
    df1 = spark.range(0, 20).coalesce(1).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    df2 = spark.range(20, 40).coalesce(1).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_iceberg(spark, df1, p)
    s1 = write_iceberg(spark, df2, p, mode="append")
    # delete rows living only in the FIRST file (k < 5)
    hits = (
        position_scan(spark, p)
        .filter(F.col("k") < 5)
        .select(F.col("_file").alias("file_path"), F.col("_pos").alias("pos"))
    )
    write_iceberg_pos_deletes(spark, hits, p)
    touched = {r["file_path"] for r in hits.collect()}
    assert len(touched) == 1
    ch = iceberg_changes(spark, p, from_snapshot_id=s1)
    rows = sorted(r["k"] for r in ch.collect())
    assert rows == [0, 1, 2, 3, 4]
    data_inputs = {
        f for f in ch.inputFiles()
        if "/data/" in f or f.rsplit("/", 1)[-1].startswith("part-")
    }
    # the untouched second data file must not be listed in the plan
    import re as _re

    norm = {_re.sub(r"^file:(//)?", "", f) for f in data_inputs}
    assert any(t in n for t in touched for n in norm)
    second_file_rows = {r["_file"] for r in (
        position_scan(spark, p).filter(F.col("k") >= 20)
        .select("_file").distinct().collect()
    )}
    assert all(
        not any(sf in n for n in norm) for sf in second_file_rows
    ), f"untargeted file leaked into the incremental plan: {norm}"


def test_position_scan_file_subset_restricts_listing(spark, tmp_path):
    """position_scan(file_subset=…) lists exactly the named files."""
    from spype_spark.iceberg_interop import position_scan, write_iceberg

    p = str(tmp_path / "t")
    write_iceberg(
        spark,
        spark.range(0, 10).coalesce(1).select(F.col("id").alias("k")),
        p,
    )
    write_iceberg(
        spark,
        spark.range(10, 20).coalesce(1).select(F.col("id").alias("k")),
        p,
        mode="append",
    )
    files = {
        r["_file"]
        for r in position_scan(spark, p).select("_file").distinct().collect()
    }
    assert len(files) == 2
    one = sorted(files)[0]
    expect = sorted(
        r["k"] for r in spark.read.parquet(one).collect()
    )
    sub = position_scan(spark, p, file_subset={one})
    assert sorted(r["k"] for r in sub.collect()) == expect
    assert {
        f.replace("file://", "").replace("file:", "")
        for f in sub.inputFiles()
    } == {one}
