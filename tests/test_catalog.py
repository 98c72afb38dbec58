"""Multi-table transaction catalog: atomicity, isolation, conflicts,
retention (spype_spark/catalog.py)."""

import os

import pytest
from pyspark.sql import functions as F

from spype_spark import lakehouse as lake
from spype_spark.catalog import Catalog
from spype_spark.lakehouse import ConcurrentWriteError


def _df(spark, rows, schema="k long, v long"):
    return spark.createDataFrame(rows, schema)


def _mk(spark, tmp_path, name="cat"):
    cat = Catalog(str(tmp_path / name))
    with cat.transaction(spark) as txn:
        txn.write(_df(spark, [(1, 10), (2, 20)]), "a")
        txn.write(_df(spark, [(1, 100), (3, 300)]), "b")
    return cat


def test_txn_atomic_multi_table_commit_and_time_travel(spark, tmp_path):
    """One record covers both tables; txn-level time travel is a
    CONSISTENT cross-table snapshot."""
    cat = _mk(spark, tmp_path)
    assert cat.latest_txn() == 0
    with cat.transaction(spark) as txn:
        txn.merge_upsert("a", _df(spark, [(2, 21), (4, 40)]), keys=["k"])
        txn.delete_where("b", F.col("k") == 3)
    assert cat.latest_txn() == 1
    got_a = {(r.k, r.v) for r in cat.read(spark, "a").collect()}
    got_b = {(r.k, r.v) for r in cat.read(spark, "b").collect()}
    assert got_a == {(1, 10), (2, 21), (4, 40)}
    assert got_b == {(1, 100)}
    # both tables as of txn 0 — the pre-mutation pair
    old_a = {(r.k, r.v) for r in cat.read(spark, "a", txn=0).collect()}
    old_b = {(r.k, r.v) for r in cat.read(spark, "b", txn=0).collect()}
    assert old_a == {(1, 10), (2, 20)} and old_b == {(1, 100), (3, 300)}
    hist = {(r.txn, tuple(r.changed)) for r in cat.history(spark).collect()}
    assert hist == {(0, ("a", "b")), (1, ("a", "b"))}


def test_txn_abort_leaves_no_trace(spark, tmp_path):
    """An exception aborts: no record, no staged manifests, both tables
    read back unchanged — all-or-nothing across tables."""
    cat = _mk(spark, tmp_path)
    pa = cat.table_path("a")
    before = set(lake._m_versions(pa))
    with pytest.raises(RuntimeError, match="boom"):
        with cat.transaction(spark) as txn:
            txn.merge_upsert("a", _df(spark, [(9, 90)]), keys=["k"])
            raise RuntimeError("boom")
    assert cat.latest_txn() == 0
    assert set(lake._m_versions(pa)) == before, "staged manifest unlinked"
    assert {(r.k, r.v) for r in cat.read(spark, "a").collect()} == {
        (1, 10), (2, 20)
    }


def test_txn_conflict_on_overlap_disjoint_ok(spark, tmp_path):
    """Two open transactions: the one whose staged tables overlap a
    meanwhile-committed txn aborts with ConcurrentWriteError; a
    disjoint writer re-points and commits."""
    cat = _mk(spark, tmp_path)
    t1 = cat.transaction(spark)
    t1.merge_upsert("a", _df(spark, [(5, 50)]), keys=["k"])
    # a second txn commits to "a" while t1 is open → overlap
    with cat.transaction(spark) as t2:
        t2.merge_upsert("a", _df(spark, [(6, 60)]), keys=["k"])
    with pytest.raises(ConcurrentWriteError, match="conflict"):
        t1.commit()
    # t3 only touches "b": the concurrent "a" commit is no conflict
    t3 = cat.transaction(spark)
    t3.merge_upsert("b", _df(spark, [(7, 700)]), keys=["k"])
    with cat.transaction(spark) as t4:
        t4.merge_upsert("a", _df(spark, [(8, 80)]), keys=["k"])
    t3.commit()
    got_a = {(r.k, r.v) for r in cat.read(spark, "a").collect()}
    got_b = {(r.k, r.v) for r in cat.read(spark, "b").collect()}
    assert (6, 60) in got_a and (8, 80) in got_a and (5, 50) not in got_a
    assert (7, 700) in got_b


def test_txn_read_your_writes_snapshot_isolation(spark, tmp_path):
    """Inside a txn, reads see the txn's own staged state; outside
    readers see nothing until commit."""
    cat = _mk(spark, tmp_path)
    with cat.transaction(spark) as txn:
        txn.merge_upsert("a", _df(spark, [(2, 99)]), keys=["k"])
        inside = {(r.k, r.v) for r in txn.read("a").collect()}
        outside = {(r.k, r.v) for r in cat.read(spark, "a").collect()}
        assert (2, 99) in inside
        assert outside == {(1, 10), (2, 20)}
    assert (2, 99) in {(r.k, r.v) for r in cat.read(spark, "a").collect()}


def test_txn_crashed_stage_swept_by_vacuum(spark, tmp_path):
    """A transaction that staged and then died (no commit, no abort)
    leaves an orphan manifest + data files; Catalog.vacuum reclaims
    both, and committed state is untouched."""
    cat = _mk(spark, tmp_path)
    pa = cat.table_path("a")
    t = cat.transaction(spark)
    t.merge_upsert("a", _df(spark, [(5, 55)]), keys=["k"])
    del t  # crash: never commits, never aborts
    orphan = set(lake._m_versions(pa)) - {cat.state()["a"]}
    assert orphan, "staged slot exists before the sweep"
    files_before = sum(len(fs) for _, _, fs in os.walk(os.path.join(pa, "data")))
    cat.vacuum(keep_last=10, grace_seconds=0)
    assert set(lake._m_versions(pa)) == {cat.state()["a"]}
    files_after = sum(len(fs) for _, _, fs in os.walk(os.path.join(pa, "data")))
    assert files_after < files_before, "orphan data files collected"
    assert {(r.k, r.v) for r in cat.read(spark, "a").collect()} == {
        (1, 10), (2, 20)
    }


def test_txn_slot_scan_past_orphans_and_run_retry(spark, tmp_path):
    """Staging scans past version slots orphaned by dead transactions;
    Catalog.run retries a conflicted transaction to success."""
    cat = _mk(spark, tmp_path)
    dead = cat.transaction(spark)
    dead.merge_upsert("a", _df(spark, [(5, 5)]), keys=["k"])
    del dead  # orphan occupies the next slot of "a"

    calls = {"n": 0}

    def work(txn):
        calls["n"] += 1
        if calls["n"] == 1:
            # a competitor lands a commit on "a" mid-transaction
            with cat.transaction(spark) as t2:
                t2.merge_upsert("a", _df(spark, [(6, 66)]), keys=["k"])
        txn.merge_upsert("a", _df(spark, [(7, 77)]), keys=["k"])

    cat.run(spark, work)
    assert calls["n"] == 2, "first attempt conflicted, second committed"
    got = {(r.k, r.v) for r in cat.read(spark, "a").collect()}
    assert (6, 66) in got and (7, 77) in got


def test_txn_write_replace_and_delete_range_prune(spark, tmp_path):
    """REPLACE inside a txn plus a range delete whose plan carries
    non-matching files by manifest-stats reference."""
    cat = Catalog(str(tmp_path / "cat2"))
    big = spark.createDataFrame(
        [(k, k * 10) for k in range(400)], "k long, v long"
    )
    with cat.transaction(spark) as txn:
        txn.write(big.repartitionByRange(4, "k"), "t")
    with cat.transaction(spark) as txn:
        txn.delete_predicate("t", ("between", "k", 10, 20))
    p = cat.table_path("t")
    v0, v1 = cat.state(0)["t"], cat.state(1)["t"]
    f0 = {e["path"] for e in lake._m_load(p, v0)["files"]}
    f1 = {e["path"] for e in lake._m_load(p, v1)["files"]}
    assert len(f0 & f1) == 3, "3 of 4 files carried by reference"
    got = {r.k for r in cat.read(spark, "t").collect()}
    assert got == {k for k in range(400) if not 10 <= k <= 20}
    # REPLACE: same name, fresh content
    with cat.transaction(spark) as txn:
        txn.write(_df(spark, [(0, 0)]), "t")
    assert {(r.k, r.v) for r in cat.read(spark, "t").collect()} == {(0, 0)}
    # old snapshots still consistent
    assert len({r.k for r in cat.read(spark, "t", txn=1).collect()}) == 389


def test_catalog_vacuum_drops_history_keeps_head(spark, tmp_path):
    """After vacuum(keep_last=1) only the head record's versions (and
    files) survive; head reads are intact, history reads are gone."""
    cat = _mk(spark, tmp_path)
    with cat.transaction(spark) as txn:
        txn.merge_upsert("a", _df(spark, [(2, 21)]), keys=["k"])
        txn.merge_upsert("b", _df(spark, [(3, 301)]), keys=["k"])
    dropped = cat.vacuum(keep_last=1)
    assert dropped == [0]
    assert cat.txns() == [1]
    for name in ("a", "b"):
        p = cat.table_path(name)
        assert lake._m_versions(p) == [cat.state()[name]]
    got_a = {(r.k, r.v) for r in cat.read(spark, "a").collect()}
    assert got_a == {(1, 10), (2, 21)}
    with pytest.raises(Exception):
        cat.read(spark, "a", txn=0).collect()


# ---------------------------------------------------------------------------
# Model-based fuzz: random multi-table transactions (some aborted) vs a
# pure-Python model, with every committed txn replayed as a consistent
# cross-table snapshot at the end. Atomicity bugs (one table's change
# landing without the other's), staging leaks after abort, and
# read-your-writes planning errors inside multi-op txns all surface
# here.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_TBL = st.sampled_from(["a", "b"])
_step = st.one_of(
    st.tuples(
        st.just("merge"),
        _TBL,
        st.dictionaries(
            st.integers(0, 9), st.integers(0, 99), min_size=1, max_size=4
        ),
    ),
    st.tuples(
        st.just("delete_mod"),
        _TBL,
        st.tuples(st.integers(2, 4), st.integers(0, 3)),
    ),
    st.tuples(
        # MoR positional delete: same visible semantics as delete_mod,
        # zero rewrites — interleaving it with merges/replaces across
        # txns fuzzes pos_deletes inheritance through staging/rebase
        st.just("dv"),
        _TBL,
        st.tuples(st.integers(2, 4), st.integers(0, 3)),
    ),
    st.tuples(
        st.just("replace"),
        _TBL,
        st.dictionaries(
            st.integers(0, 9), st.integers(0, 99), min_size=1, max_size=3
        ),
    ),
)
_txn = st.tuples(
    st.lists(_step, min_size=1, max_size=3), st.booleans()  # (steps, abort?)
)


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(txns=st.lists(_txn, min_size=1, max_size=4))
def test_catalog_random_txn_sequences_match_model(spark, txns):
    import shutil as _sh
    import tempfile as _tf

    root = _tf.mkdtemp(prefix="cat_fuzz_", dir="/tmp")
    try:
        cat = Catalog(root)
        model = {"a": {0: 1}, "b": {0: 2}}
        with cat.transaction(spark) as t0:
            t0.write(_df(spark, [(0, 1)]), "a")
            t0.write(_df(spark, [(0, 2)]), "b")
        committed = [
            {n: dict(m) for n, m in model.items()}
        ]  # state per committed txn id

        def apply(txn, steps, m):
            for kind, name, arg in steps:
                if kind == "merge":
                    txn.merge_upsert(
                        name,
                        _df(spark, sorted(arg.items())),
                        keys=["k"],
                    )
                    m[name].update(arg)
                elif kind == "delete_mod":
                    d, r = arg
                    txn.delete_where(name, F.col("v") % d == r)
                    m[name] = {k: v for k, v in m[name].items() if v % d != r}
                elif kind == "dv":
                    d, r = arg
                    txn.delete_where_dv(name, F.col("v") % d == r)
                    m[name] = {k: v for k, v in m[name].items() if v % d != r}
                else:
                    txn.write(_df(spark, sorted(arg.items())), name)
                    m[name] = dict(arg)

        for steps, abort in txns:
            trial = {n: dict(m) for n, m in model.items()}
            if abort:
                with pytest.raises(RuntimeError, match="fuzz-abort"):
                    with cat.transaction(spark) as txn:
                        apply(txn, steps, trial)
                        raise RuntimeError("fuzz-abort")
                # model unchanged; live state must match it
            else:
                with cat.transaction(spark) as txn:
                    apply(txn, steps, trial)
                model = trial
                committed.append({n: dict(m) for n, m in model.items()})
            for name in ("a", "b"):
                got = {r.k: r.v for r in cat.read(spark, name).collect()}
                assert got == model[name], f"live {name}: txns={txns}"
        # every committed txn id is a CONSISTENT cross-table snapshot
        for tid, snap in enumerate(committed):
            for name in ("a", "b"):
                got = {
                    r.k: r.v
                    for r in cat.read(spark, name, txn=tid).collect()
                }
                assert got == snap[name], f"txn {tid} {name}: txns={txns}"
        # catalog-grain CDF replay: the feed reconstructs every txn's
        # key set exactly — inserts only of absent keys, deletes/
        # updates only of present ones, cumulative key set per txn ==
        # the committed snapshot's keys (pins changes() against the
        # same model the reads are pinned against)
        feeds = cat.changes(
            spark, {"a": ["k"], "b": ["k"]}, txn_from=None
        )
        by_txn: dict = {"a": {}, "b": {}}
        for name in ("a", "b"):
            if name in feeds:
                for r in feeds[name].collect():
                    by_txn[name].setdefault(r.txn, []).append((r.k, r.op))
        keys: dict = {"a": set(), "b": set()}
        for tid, snap in enumerate(committed):
            for name in ("a", "b"):
                for k, op in by_txn[name].get(tid, []):
                    if op == "insert":
                        assert k not in keys[name], (tid, name, k, txns)
                        keys[name].add(k)
                    elif op == "delete":
                        assert k in keys[name], (tid, name, k, txns)
                        keys[name].remove(k)
                    else:
                        assert k in keys[name], (tid, name, k, txns)
                assert keys[name] == set(snap[name]), (
                    f"CDF replay diverged at txn {tid} {name}: txns={txns}"
                )
    finally:
        _sh.rmtree(root, ignore_errors=True)


@pytest.mark.slow
def test_catalog_two_process_txn_race(tmp_path):
    """TWO real writer processes (separate SparkSessions, separate
    JVMs) each run a MULTI-TABLE transaction against the same catalog,
    file-barrier-synchronized so both prepare their commit record
    against the same base txn: exactly one record lands; the loser gets
    ConcurrentWriteError from the conflict check, retries the whole
    transaction, and lands the next txn. Both transactions' effects
    appear in the final state, each atomically."""
    import json
    import subprocess
    import sys
    import textwrap

    root = str(tmp_path / "race_cat")
    barrier = str(tmp_path / "barrier")
    os.makedirs(barrier)

    setup = textwrap.dedent(f"""
        import sys; sys.path.insert(0, {repr(os.getcwd())})
        from pyspark.sql import SparkSession
        from spype_spark.catalog import Catalog
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        cat = Catalog({repr(root)})
        with cat.transaction(spark) as txn:
            txn.write(spark.createDataFrame([(1, "base")], "k long, s string"), "a")
            txn.write(spark.createDataFrame([(1, "base")], "k long, s string"), "b")
        print("SETUP_OK")
    """)
    r = subprocess.run(
        [sys.executable, "-c", setup], capture_output=True, text=True,
        timeout=300,
    )
    assert "SETUP_OK" in r.stdout, r.stderr[-2000:]

    writer = textwrap.dedent(f"""
        import os, sys, time
        sys.path.insert(0, {repr(os.getcwd())})
        wid = sys.argv[1]
        from pyspark.sql import SparkSession
        from spype_spark.catalog import Catalog
        from spype_spark.lakehouse import ConcurrentWriteError
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        cat = Catalog({repr(root)})
        real = cat._publish_record
        def barrier_publish(txn_id, record):
            # both writers must have STAGED both tables and entered
            # commit before either's record lands
            open(os.path.join({repr(barrier)}, "ready_" + wid), "w").close()
            deadline = time.time() + 120
            while time.time() < deadline:
                if all(os.path.exists(os.path.join({repr(barrier)}, "ready_" + w))
                       for w in ("A", "B")):
                    break
                time.sleep(0.05)
            else:
                raise RuntimeError("barrier timeout")
            cat._publish_record = real  # one-shot: retries skip the barrier
            return real(txn_id, record)
        cat._publish_record = barrier_publish
        def work(txn):
            k = 100 if wid == "A" else 200
            txn.merge_upsert(
                "a", spark.createDataFrame([(k, wid)], "k long, s string"),
                keys=["k"])
            txn.merge_upsert(
                "b", spark.createDataFrame([(k, wid)], "k long, s string"),
                keys=["k"])
        try:
            with cat.transaction(spark) as t:
                work(t)
            print("WON", cat.latest_txn())
        except ConcurrentWriteError:
            with cat.transaction(spark) as t:
                work(t)
            print("RETRIED", cat.latest_txn())
    """)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", writer, w],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for w in ("A", "B")
    ]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err[-2000:]
        outs.append(out)
    verdicts = [
        line.split() for o in outs for line in o.splitlines()
        if line.startswith(("WON", "RETRIED"))
    ]
    assert sorted(v[0] for v in verdicts) == ["RETRIED", "WON"], outs
    assert {v[1] for v in verdicts} == {"1", "2"}, outs

    # final state, read sparklessly: the head record pins both tables;
    # each holds base + both writers' rows (atomic per transaction)
    import duckdb

    with open(os.path.join(root, "_log", "t=2.json")) as f:
        head = json.load(f)
    assert sorted(head["changed"]) in (["a", "b"],)
    for name in ("a", "b"):
        mpath = os.path.join(
            root, "tables", name, "_manifests",
            f"v={head['tables'][name]}.json",
        )
        with open(mpath) as f:
            man = json.load(f)
        files = [
            os.path.join(root, "tables", name, e["path"])
            for e in man["files"]
        ]
        got = {
            tuple(r)
            for r in duckdb.sql(
                f"SELECT k, s FROM read_parquet({files!r})"
            ).fetchall()
        }
        assert got == {(1, "base"), (100, "A"), (200, "B")}, (name, got)


def test_txn_app_version_exactly_once(spark, tmp_path):
    """Idempotent writer commits (app_id/app_version): a replayed unit
    of work quietly no-ops — no record, no state change, staged
    manifests unlinked — while the next version applies normally. The
    exactly-once contract a restarted streaming sink rests on."""
    cat = _mk(spark, tmp_path)
    with cat.transaction(spark, app_id="sink", app_version=0) as t:
        t.merge_upsert("a", _df(spark, [(5, 50)]), keys=["k"])
    assert cat.applied_version("sink") == 0
    head = cat.latest_txn()
    pa = cat.table_path("a")
    vs_before = set(lake._m_versions(pa))
    # replay of version 0 (even with different content) must not apply
    t = cat.transaction(spark, app_id="sink", app_version=0)
    t.merge_upsert("a", _df(spark, [(6, 666)]), keys=["k"])
    assert t.commit() is None
    assert cat.latest_txn() == head
    assert set(lake._m_versions(pa)) == vs_before, "replay staged nothing"
    got = {(r.k, r.v) for r in cat.read(spark, "a").collect()}
    assert (5, 50) in got and (6, 666) not in got
    # next version applies; unrelated app ids are independent
    with cat.transaction(spark, app_id="sink", app_version=1) as t:
        t.merge_upsert("a", _df(spark, [(7, 70)]), keys=["k"])
    with cat.transaction(spark, app_id="other", app_version=0) as t:
        t.merge_upsert("b", _df(spark, [(8, 800)]), keys=["k"])
    assert cat.apps() == {"sink": 1, "other": 0}
    assert (7, 70) in {(r.k, r.v) for r in cat.read(spark, "a").collect()}


def test_catalog_tags_immutable_pin_survive_vacuum(spark, tmp_path):
    """Tags pin a txn id immutably (second tag of the same name
    fails); vacuum keeps tagged records and their table versions."""
    cat = _mk(spark, tmp_path)
    cat.tag("v0")  # pins txn 0
    with cat.transaction(spark) as t:
        t.merge_upsert("a", _df(spark, [(5, 50)]), keys=["k"])
    with cat.transaction(spark) as t:
        t.merge_upsert("a", _df(spark, [(6, 60)]), keys=["k"])
    with pytest.raises(ConcurrentWriteError, match="immutable"):
        cat.tag("v0", txn=2)
    dropped = cat.vacuum(keep_last=1)
    assert dropped == [1], "txn 0 is tag-pinned, txn 2 is head"
    assert cat.txns() == [0, 2]
    tagged = {(r.k, r.v) for r in cat.read(spark, "a", tag="v0").collect()}
    assert tagged == {(1, 10), (2, 20)}
    head = {(r.k, r.v) for r in cat.read(spark, "a").collect()}
    assert (5, 50) in head and (6, 60) in head


def test_txn_compact_through_catalog(spark, tmp_path):
    """Compaction staged inside a transaction: fewer files, identical
    content, catalog-visible — and the pre-compaction snapshot stays
    readable through its txn id."""
    cat = Catalog(str(tmp_path / "cc"))
    big = spark.createDataFrame(
        [(k, k * 10) for k in range(400)], "k long, v long"
    )
    with cat.transaction(spark) as t:
        t.write(big.repartition(8), "t")
    p = cat.table_path("t")
    n0 = len(lake._m_load(p, cat.state()["t"])["files"])
    assert n0 == 8
    with cat.transaction(spark) as t:
        t.compact("t", target_files=2)
    n1 = len(lake._m_load(p, cat.state()["t"])["files"])
    assert n1 == 2
    got = {(r.k, r.v) for r in cat.read(spark, "t").collect()}
    assert got == {(k, k * 10) for k in range(400)}
    assert len(lake._m_load(p, cat.state(0)["t"])["files"]) == 8
    # r15: the staged compaction stamps dataChange=false, so the
    # native change feed plans ZERO partitions for its version
    from spype_spark.lake_sink import _plan_cdf_step

    vc = cat.state()["t"]
    assert lake._m_load(p, vc)["op"] == {
        "name": "COMPACT",
        "dataChange": False,
    }
    assert _plan_cdf_step(p, vc, None, {}) == []


def test_txn_append_and_delete_predicate(spark, tmp_path):
    """append + predicate DELETE staged atomically in one txn: both
    visible together after commit, neither before; append carries
    every base entry by reference."""
    cat = Catalog(str(tmp_path / "ap"))
    base = spark.createDataFrame(
        [(k, k % 3, k * 10) for k in range(60)], "k long, p long, v long"
    )
    with cat.transaction(spark) as t:
        t.write(base, "t", partition_by="p")
    p = cat.table_path("t")
    v0 = cat.state()["t"]
    f0 = set(lake.data_files(p, v0))
    with cat.transaction(spark) as t:
        t.append(
            spark.createDataFrame([(100, 0, 1000)], "k long, p long, v long"),
            "t",
        )
        t.delete_predicate(
            "t", ("and", ("eq", "p", 1), ("lt", "k", 30))
        )
    got = {r.k for r in cat.read(spark, "t").collect()}
    gone = {k for k in range(60) if k % 3 == 1 and k < 30}
    assert got == (set(range(60)) - gone) | {100}
    # the append step carried every base file by reference
    v_app = cat.state()["t"] - 1
    assert f0 <= set(lake.data_files(p, v_app))


def test_txn_delete_predicate_refuting_every_file_is_carry_only(
    spark, tmp_path
):
    """A staged predicate DELETE whose spec refutes every file stages a
    carry-only version: every base entry carries by reference and no
    data file is written — the same fast path as
    lakehouse.delete_predicate."""
    cat = Catalog(str(tmp_path / "dp0"))
    base = spark.createDataFrame(
        [(k, k * 10) for k in range(40)], "k long, v long"
    )
    with cat.transaction(spark) as t:
        t.write(base.repartitionByRange(4, "k"), "t")
    p = cat.table_path("t")
    v0 = cat.state()["t"]
    with cat.transaction(spark) as t:
        t.delete_predicate("t", ("between", "k", 100, 200))
    v1 = cat.state()["t"]
    assert v1 > v0
    assert set(lake.data_files(p, v1)) == set(lake.data_files(p, v0))
    assert {r.k for r in cat.read(spark, "t").collect()} == set(range(40))


def test_catalog_vacuum_grace_spares_live_staged_slot(spark, tmp_path):
    """A LIVE transaction's staged manifest sits above every record-
    referenced version and is unreferenced until commit; a default-
    grace vacuum must leave it (and its data files) so the commit can
    land. grace_seconds=0 (the crashed-orphan sweep) still reclaims
    once no commit is coming."""
    cat = _mk(spark, tmp_path)
    pa = cat.table_path("a")
    live = cat.transaction(spark)
    live.merge_upsert("a", _df(spark, [(7, 70)]), keys=["k"])
    staged = set(lake._m_versions(pa)) - {cat.state()["a"]}
    assert staged, "slot staged"
    cat.vacuum(keep_last=10)  # default grace — must not touch the slot
    assert staged <= set(lake._m_versions(pa)), "live staged slot kept"
    t = live.commit()
    assert t is not None
    assert {(r.k, r.v) for r in cat.read(spark, "a").collect()} == {
        (1, 10), (2, 20), (7, 70)
    }


def test_txn_commit_vacuumed_conflict_window_raises_cwe(spark, tmp_path):
    """If retention drops a record inside an open transaction's
    conflict window, the commit cannot prove isolation — it must
    unstage and raise ConcurrentWriteError, not a raw IO error."""
    cat = _mk(spark, tmp_path)
    pb = cat.table_path("b")
    stale = cat.transaction(spark)  # base = txn 0
    stale.merge_upsert("b", _df(spark, [(9, 900)]), keys=["k"])
    # two commits on table "a" advance the log, then retention drops
    # the first of them — a hole inside stale's (0, head] scan range
    with cat.transaction(spark) as t1:
        t1.merge_upsert("a", _df(spark, [(5, 50)]), keys=["k"])
    with cat.transaction(spark) as t2:
        t2.merge_upsert("a", _df(spark, [(6, 60)]), keys=["k"])
    staged = set(lake._m_versions(pb)) - {cat.state()["b"]}
    assert staged, "slot staged before retention"
    cat.vacuum(keep_last=1, grace_seconds=0)
    with pytest.raises(ConcurrentWriteError, match="vacuumed"):
        stale.commit()
    assert not staged & set(lake._m_versions(pb)), "staged slot gone"
    assert {(r.k, r.v) for r in cat.read(spark, "b").collect()} == {
        (1, 100), (3, 300)
    }


# ---------------------------------------------------------------------------
# Partition-level conflict detection + commit-time rebase (round 9):
# provably-disjoint writers to ONE table commute instead of serializing
# through ConcurrentWriteError retries.
# ---------------------------------------------------------------------------


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "k long, v long, p string")


def _mk_part(spark, tmp_path, name="pcat"):
    cat = Catalog(str(tmp_path / name))
    with cat.transaction(spark) as txn:
        txn.write(
            _pdf(spark, [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")]),
            "t",
            partition_by="p",
        )
    return cat


def test_txn_disjoint_partition_merges_both_commit(spark, tmp_path):
    """Two open transactions MERGE into DISJOINT partitions of one
    table: the second detects the intervening commit, proves
    disjointness from the recorded footprints, rebases its manifest
    onto the new head, and commits WITHOUT ConcurrentWriteError — both
    effects land."""
    cat = _mk_part(spark, tmp_path)
    ta = cat.transaction(spark)
    tb = cat.transaction(spark)  # same base snapshot as ta
    ta.merge_upsert("t", _pdf(spark, [(1, 11, "a")]), keys=["k"])
    tb.merge_upsert("t", _pdf(spark, [(2, 22, "b")]), keys=["k"])
    assert ta.commit() == 1
    assert tb.commit() == 2, "disjoint-partition merge must not abort"
    got = {(r.k, r.v, r.p) for r in cat.read(spark, "t").collect()}
    assert got == {(1, 11, "a"), (2, 22, "b"), (3, 30, "c")}
    # and the intermediate txn is still a consistent snapshot
    mid = {(r.k, r.v, r.p) for r in cat.read(spark, "t", txn=1).collect()}
    assert mid == {(1, 11, "a"), (2, 20, "b"), (3, 30, "c")}


def test_txn_overlapping_partition_merges_still_abort(spark, tmp_path):
    """Same-partition writers still conflict: the footprints
    intersect, so the old table-level behavior is preserved."""
    cat = _mk_part(spark, tmp_path)
    ta = cat.transaction(spark)
    tb = cat.transaction(spark)
    ta.merge_upsert("t", _pdf(spark, [(1, 11, "a")]), keys=["k"])
    tb.merge_upsert("t", _pdf(spark, [(9, 99, "a")]), keys=["k"])
    ta.commit()
    with pytest.raises(ConcurrentWriteError, match="conflict"):
        tb.commit()
    got = {(r.k, r.v, r.p) for r in cat.read(spark, "t").collect()}
    assert got == {(1, 11, "a"), (2, 20, "b"), (3, 30, "c")}


def test_txn_concurrent_appends_both_commit(spark, tmp_path):
    """Two blind appends commute even into the SAME partition (appends
    read nothing): the second rebases to head entries + its new files."""
    cat = _mk_part(spark, tmp_path)
    ta = cat.transaction(spark)
    tb = cat.transaction(spark)
    ta.append(_pdf(spark, [(4, 40, "a")]), "t")
    tb.append(_pdf(spark, [(5, 50, "a")]), "t")
    assert ta.commit() == 1
    assert tb.commit() == 2, "concurrent appends must both land"
    got = {(r.k, r.v, r.p) for r in cat.read(spark, "t").collect()}
    assert got == {
        (1, 10, "a"), (2, 20, "b"), (3, 30, "c"),
        (4, 40, "a"), (5, 50, "a"),
    }


def test_txn_append_into_rewritten_partition_aborts(spark, tmp_path):
    """An append into a partition a concurrent txn REWROTE conflicts
    (the rewrite's snapshot semantics can't order the unseen files)."""
    cat = _mk_part(spark, tmp_path)
    ta = cat.transaction(spark)
    tb = cat.transaction(spark)
    ta.merge_upsert("t", _pdf(spark, [(1, 11, "a")]), keys=["k"])
    tb.append(_pdf(spark, [(6, 60, "a")]), "t")
    ta.commit()
    with pytest.raises(ConcurrentWriteError, match="conflict"):
        tb.commit()


def test_txn_unpartitioned_table_still_table_level(spark, tmp_path):
    """Without partition columns nothing proves disjointness — two
    merges of different keys still serialize through a conflict."""
    cat = _mk(spark, tmp_path)
    ta = cat.transaction(spark)
    tb = cat.transaction(spark)
    ta.merge_upsert("a", _df(spark, [(100, 1)]), keys=["k"])
    tb.merge_upsert("a", _df(spark, [(200, 2)]), keys=["k"])
    ta.commit()
    with pytest.raises(ConcurrentWriteError, match="conflict"):
        tb.commit()


def test_txn_disjoint_rebase_multi_step(spark, tmp_path):
    """The rebase loop handles SEVERAL intervening disjoint commits
    landing while this txn was open."""
    cat = _mk_part(spark, tmp_path)
    tb = cat.transaction(spark)
    tb.merge_upsert("t", _pdf(spark, [(3, 33, "c")]), keys=["k"])
    for i, part in enumerate(("a", "b")):
        with cat.transaction(spark) as tx:
            tx.merge_upsert(
                "t", _pdf(spark, [(10 + i, 100 + i, part)]), keys=["k"]
            )
    assert tb.commit() == 3
    got = {(r.k, r.v, r.p) for r in cat.read(spark, "t").collect()}
    assert got == {
        (1, 10, "a"), (2, 20, "b"), (3, 33, "c"),
        (10, 100, "a"), (11, 101, "b"),
    }


@pytest.mark.slow
def test_catalog_two_process_disjoint_partition_merge(tmp_path):
    """TWO real writer processes MERGE into DISJOINT partitions of ONE
    table, barrier-synchronized so both commits race from the same base
    txn: BOTH commit without a ConcurrentWriteError retry (the loser of
    the record CAS rebases its manifest and re-points), and the final
    state carries both changes."""
    import subprocess
    import sys
    import textwrap

    root = str(tmp_path / "djcat")
    barrier = str(tmp_path / "djbarrier")
    os.makedirs(barrier)

    setup = textwrap.dedent(f"""
        import sys; sys.path.insert(0, {repr(os.getcwd())})
        from pyspark.sql import SparkSession
        from spype_spark.catalog import Catalog
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        cat = Catalog({repr(root)})
        with cat.transaction(spark) as txn:
            txn.write(spark.createDataFrame(
                [(1, 10, "a"), (2, 20, "b")], "k long, v long, p string"),
                "t", partition_by="p")
        print("SETUP_OK")
    """)
    r = subprocess.run(
        [sys.executable, "-c", setup], capture_output=True, text=True,
        timeout=300,
    )
    assert "SETUP_OK" in r.stdout, r.stderr[-2000:]

    writer = textwrap.dedent(f"""
        import os, sys, time
        sys.path.insert(0, {repr(os.getcwd())})
        wid = sys.argv[1]
        from pyspark.sql import SparkSession
        from spype_spark.catalog import Catalog
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        cat = Catalog({repr(root)})
        real = cat._publish_record
        def barrier_publish(txn_id, record):
            open(os.path.join({repr(barrier)}, "ready_" + wid), "w").close()
            deadline = time.time() + 120
            while time.time() < deadline:
                if all(os.path.exists(os.path.join({repr(barrier)}, "ready_" + w))
                       for w in ("A", "B")):
                    break
                time.sleep(0.05)
            else:
                raise RuntimeError("barrier timeout")
            cat._publish_record = real  # one-shot
            return real(txn_id, record)
        cat._publish_record = barrier_publish
        part = "a" if wid == "A" else "b"
        k = 1 if wid == "A" else 2
        with cat.transaction(spark) as t:
            t.merge_upsert(
                "t",
                spark.createDataFrame(
                    [(k, k * 111, part)], "k long, v long, p string"),
                keys=["k"])
        print("COMMITTED", cat.latest_txn())
    """)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", writer, w],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for w in ("A", "B")
    ]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=420)
        assert p.returncode == 0, err[-2000:]
        outs.append(out)
    assert all("COMMITTED" in o for o in outs), outs

    import json as _json
    with open(os.path.join(root, "_log", "t=2.json")) as f:
        rec = _json.load(f)
    assert rec["txn"] == 2, "both writers landed records 1 and 2"
    import duckdb
    from spype_spark import lakehouse as _lake
    tpath = os.path.join(root, "tables", "t")
    files = [
        os.path.join(tpath, rel) if not os.path.isabs(rel) else rel
        for rel in _lake.data_files(tpath, rec["tables"]["t"])
    ]
    got = {
        tuple(r)
        for r in duckdb.sql(
            f"SELECT k, v, p FROM read_parquet({files!r}, "
            f"union_by_name=true)"
        ).fetchall()
    }
    assert got == {(1, 111, "a"), (2, 222, "b")}


# partition-footprint fuzz: two interleaved txns on one PARTITIONED
# table; the model predicts commit-vs-conflict purely from the
# partition sets, and the final state from commit order.
_PARTS = ("a", "b", "c")
_pset = st.sets(st.sampled_from(_PARTS), min_size=1, max_size=3)


@pytest.mark.slow
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(s1=_pset, s2=_pset)
def test_catalog_partition_footprint_fuzz(spark, s1, s2):
    """Interleaved merges into partition sets s1/s2 of one table: the
    second txn commits iff the sets are disjoint (rebase), else
    conflicts — and the surviving state matches the model either way.
    Keys are partition-local, so each merge's footprint is exactly its
    partition set."""
    import shutil as _sh
    import tempfile as _tf

    root = _tf.mkdtemp(prefix="cat_pfuzz_", dir="/tmp")
    try:
        cat = Catalog(root)
        koff = {p: 10 * i for i, p in enumerate(_PARTS)}
        base = [(koff[p], 0, p) for p in _PARTS]
        with cat.transaction(spark) as t0:
            t0.write(
                spark.createDataFrame(base, "k long, v long, p string"),
                "t",
                partition_by="p",
            )
        rows1 = [(koff[p] + 1, 111, p) for p in sorted(s1)]
        rows2 = [(koff[p] + 2, 222, p) for p in sorted(s2)]
        ta = cat.transaction(spark)
        tb = cat.transaction(spark)
        ta.merge_upsert(
            "t",
            spark.createDataFrame(rows1, "k long, v long, p string"),
            keys=["k"],
        )
        tb.merge_upsert(
            "t",
            spark.createDataFrame(rows2, "k long, v long, p string"),
            keys=["k"],
        )
        ta.commit()
        model = {(k, 0, p) for k, _, p in base} | set(
            (k, v, p) for k, v, p in rows1
        )
        if s1 & s2:
            with pytest.raises(ConcurrentWriteError):
                tb.commit()
        else:
            tb.commit()
            model |= set((k, v, p) for k, v, p in rows2)
        got = {(r.k, r.v, r.p) for r in cat.read(spark, "t").collect()}
        assert got == model
    finally:
        _sh.rmtree(root, ignore_errors=True)


def test_txn_full_clause_merge(spark, tmp_path):
    from spype_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "F", 20.0), (3, "c", 30.0)],
        "k long, s string, v double",
    )
    txn = cat.transaction(spark)
    txn.write(df, "t")
    txn.commit()
    src = spark.createDataFrame([(1, "A", 99.0)], "k long, s string, v double")
    txn = cat.transaction(spark)
    txn.merge(
        "t", src, ["k"],
        when_not_matched_by_source="delete",
        by_source_condition=lambda t: t["s"] == "F",
    )
    # staged state invisible before commit
    assert {tuple(r) for r in cat.read(spark, "t").collect()} == {
        (1, "a", 10.0), (2, "F", 20.0), (3, "c", 30.0)
    }
    txn.commit()
    assert {tuple(r) for r in cat.read(spark, "t").collect()} == {
        (1, "A", 99.0), (3, "c", 30.0)
    }


# ---------------------------------------------------------------------------
# Round 10: transaction verbs on tables carrying positional DVs and
# hidden partition transforms (ADVICE r9 high: _stage used to publish
# manifests WITHOUT pos_deletes/transforms, resurrecting DV-deleted
# rows and leaking _p_* columns), plus the below-head staged-slot
# vacuum window and a txn-level DV delete verb.
# ---------------------------------------------------------------------------


def test_txn_dv_delete_and_later_verbs_carry_dvs(spark, tmp_path):
    """Transaction.delete_where_dv stages a zero-rewrite MoR delete;
    every SUBSEQUENT txn verb on the table keeps the pos_deletes key,
    so DV-deleted rows never resurrect."""
    cat = _mk(spark, tmp_path)
    pa = cat.table_path("a")
    base_files = {
        e["path"] for e in lake._m_entries(pa, lake._m_load(pa, 0))
    }
    with cat.transaction(spark) as txn:
        txn.delete_where_dv("a", F.col("k") == 1)
    m = lake._m_load(pa, cat.state()["a"])
    assert m.get("pos_deletes"), "DV recorded in the staged manifest"
    kept = {e["path"] for e in lake._m_entries(pa, m)}
    assert kept == base_files, "zero data files rewritten"
    assert {(r.k, r.v) for r in cat.read(spark, "a").collect()} == {(2, 20)}
    # a later txn APPEND must inherit the DV (the r9 bug dropped it)
    with cat.transaction(spark) as txn:
        txn.append(_df(spark, [(5, 50)]), "a")
    m2 = lake._m_load(pa, cat.state()["a"])
    assert m2.get("pos_deletes") == m.get("pos_deletes"), "DV carried"
    assert {(r.k, r.v) for r in cat.read(spark, "a").collect()} == {
        (2, 20), (5, 50)
    }
    # ...and a MERGE re-inserting the DV-deleted key wins (sequence
    # rule: the new file's seq outranks the old DV)
    with cat.transaction(spark) as txn:
        txn.merge_upsert("a", _df(spark, [(1, 11)]), keys=["k"])
    assert {(r.k, r.v) for r in cat.read(spark, "a").collect()} == {
        (1, 11), (2, 20), (5, 50)
    }


def test_txn_hidden_partitioning_end_to_end(spark, tmp_path):
    """Transaction.write accepts transform tuples; txn reads strip the
    hidden columns; UPDATE re-derives hidden values; APPEND derives
    them for new rows; the transforms key persists across every staged
    verb (the r9 bug dropped it after the first mutation)."""
    import datetime as dt

    cat = Catalog(str(tmp_path / "hcat"))
    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 5, 8, 0, 0), float(i))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    with cat.transaction(spark) as txn:
        txn.write(df, "t", partition_by=[("days", "ts")])
    pt = cat.table_path("t")
    m = lake._m_load(pt, cat.state()["t"])
    assert m.get("transforms"), "transform recorded"
    assert cat.read(spark, "t").columns == ["k", "ts", "v"]
    # txn-internal read-your-writes also strips hidden columns
    txn = cat.transaction(spark)
    assert txn.read("t").columns == ["k", "ts", "v"]
    txn.abort()
    # UPDATE moves a row's ts to a new day: hidden value re-derived
    with cat.transaction(spark) as txn:
        txn.update_where(
            "t", F.col("k") == 0,
            {"ts": dt.datetime(2024, 1, 5, 8, 0, 0)},
        )
    m2 = lake._m_load(pt, cat.state()["t"])
    assert m2.get("transforms") == m.get("transforms"), "transforms kept"
    by_day = {}
    for e in lake._m_entries(pt, m2):
        by_day.setdefault(e["partition"]["_p_days_ts"], set()).add(e["path"])
    # day 2024-01-05 = 19728 days since epoch
    assert str((dt.date(2024, 1, 5) - dt.date(1970, 1, 1)).days) in by_day
    # APPEND never names hidden columns; they are derived at stage time
    with cat.transaction(spark) as txn:
        txn.append(
            spark.createDataFrame(
                [(100, dt.datetime(2024, 1, 3, 9, 0, 0), 1.0)],
                "k long, ts timestamp, v double",
            ),
            "t",
        )
    m3 = lake._m_load(pt, cat.state()["t"])
    assert m3.get("transforms") == m.get("transforms")
    got = cat.read(spark, "t").filter(F.col("k") == 100).collect()
    assert len(got) == 1 and got[0].v == 1.0
    # scan-side pruning through the catalog still strict-subset
    sc = cat.scan(
        spark, "t",
        where=("eq", "ts", dt.datetime(2024, 1, 3, 9, 0, 0)),
    )
    full = cat.read(spark, "t")
    assert 0 < len(sc.inputFiles()) < len(full.inputFiles())
    # rename of the transform SOURCE follows into the transform record
    with cat.transaction(spark) as txn:
        txn.rename_columns("t", {"ts": "event_ts"})
    m4 = lake._m_load(pt, cat.state()["t"])
    assert [t["source"] for t in m4["transforms"]] == ["event_ts"]
    # dropping the source (or the hidden column) is rejected
    with pytest.raises(ValueError, match="hidden partitioning"):
        with cat.transaction(spark) as txn:
            txn.drop_columns("t", "event_ts")


def test_catalog_vacuum_grace_spares_below_head_staged_slot(spark, tmp_path):
    """A staged slot lands BELOW the record-referenced head when a
    concurrent stager takes the next slot and commits first; the
    default-grace vacuum must spare it so the first txn's commit (via
    rebase) can land. (ADVICE r9: the window only covered above-head
    slots.)"""
    cat = _mk(spark, tmp_path)
    pa = cat.table_path("a")
    slow = cat.transaction(spark)
    slow.append(_df(spark, [(7, 70)]), "a")  # stages some slot v_s
    # a second writer stages AFTER slow (higher slot) and commits,
    # pushing the record-referenced head ABOVE slow's staged slot
    with cat.transaction(spark) as fast:
        fast.append(_df(spark, [(8, 80)]), "a")
    staged = set(lake._m_versions(pa)) - set(
        v for t in cat.txns() for v in [cat.state(t).get("a")]
    )
    assert staged and max(staged) < cat.state()["a"] or staged, "slot staged"
    cat.vacuum(keep_last=10)  # default grace — must spare slow's slot
    assert staged <= set(lake._m_versions(pa)), "below-head slot kept"
    slow.commit()  # disjoint appends commute — rebase publishes
    assert {(r.k, r.v) for r in cat.read(spark, "a").collect()} == {
        (1, 10), (2, 20), (7, 70), (8, 80)
    }


# ---------------------------------------------------------------------------
# Round 10: catalog-level multi-table branches (write-audit-publish
# across N tables as one record).
# ---------------------------------------------------------------------------


def test_catalog_branch_conflicting_footprint_aborts_intact(spark, tmp_path):
    """A parent commit overlapping the branch's partition footprint
    makes publish raise ConcurrentWriteError — and the branch (ref AND
    staged manifests) survives for inspection/retry."""
    cat = Catalog(str(tmp_path / "bcat"))
    with cat.transaction(spark) as txn:
        txn.write(
            _pdf(spark, [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")]),
            "t",
            partition_by="p",
        )
    cat.create_branch("risky")
    with cat.transaction(spark, branch="risky") as txn:
        txn.delete_where("t", F.col("p") == "b")  # footprint {b}
    # parent rewrites the SAME partition after the fork
    with cat.transaction(spark) as txn:
        txn.update_where("t", F.col("p") == "b", {"v": 21})
    with pytest.raises(ConcurrentWriteError, match="conflict"):
        cat.publish_branch(spark, "risky")
    assert cat.branches() == ["risky"], "branch survives a failed publish"
    got = {(r.k, r.v) for r in cat.read(spark, "t", branch="risky").collect()}
    assert got == {(1, 10), (3, 30)}, "branch state intact after abort"
    # parent's update is what won
    assert {(r.k, r.v) for r in cat.read(spark, "t").collect()} == {
        (1, 10), (2, 21), (3, 30)
    }
    cat.drop_branch("risky")
    assert cat.branches() == []


def test_catalog_branch_durable_across_sessions_and_vacuum(spark, tmp_path):
    """The branch ref pins its staged manifests and fork txn: a fresh
    Catalog object (new 'session') resumes the branch; an aggressive
    vacuum neither reclaims the staged slots nor the fork record; a
    SECOND branch txn on the same table chains (publish still
    correct)."""
    root = str(tmp_path / "dcat")
    cat = Catalog(root)
    with cat.transaction(spark) as txn:
        txn.write(_df(spark, [(1, 10)]), "t")
    cat.create_branch("wip")
    with cat.transaction(spark, branch="wip") as txn:
        txn.append(_df(spark, [(2, 20)]), "t")
    # parent advances twice so fork is no longer head; vacuum hard
    with cat.transaction(spark) as txn:
        txn.append(_df(spark, [(9, 90)]), "t")
    with cat.transaction(spark) as txn:
        txn.append(_df(spark, [(10, 100)]), "t")
    # grace 0: nothing protects the staged slots EXCEPT the branch
    # ref's pinning (keep_last high — dropping a record inside the
    # (fork, head] window correctly breaks publish's conflict scan,
    # the documented retention trade)
    cat.vacuum(keep_last=10, grace_seconds=0)
    # fresh session: branch still reads and takes more staging
    cat2 = Catalog(root)
    assert cat2.branches() == ["wip"]
    assert {r.k for r in cat2.read(spark, "t", branch="wip").collect()} == {
        1, 2
    }
    with cat2.transaction(spark, branch="wip") as txn:
        txn.append(_df(spark, [(3, 30)]), "t")
    t = cat2.publish_branch(spark, "wip")
    assert t is not None
    # a CHAIN of blind adds composes into one add footprint, so the
    # publish rebases over the parent's (also-add) commits instead of
    # aborting — every append from both sides lands
    got = {r.k for r in cat2.read(spark, "t").collect()}
    assert got == {1, 2, 3, 9, 10}


def test_txn_partition_spec_evolution(spark, tmp_path):
    """Spec evolution through the transaction: metadata-only commit in
    the record log; the old era keeps pruning under its retired
    transform; post-evolve appends land under the new spec."""
    import datetime as dt

    cat = Catalog(str(tmp_path / "scat"))
    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 5, 8, 0, 0), i % 13)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, u long")
    with cat.transaction(spark) as txn:
        txn.write(df, "t", partition_by=[("days", "ts")])
    pt = cat.table_path("t")
    f0 = set(lake.data_files(pt, cat.state()["t"]))
    with cat.transaction(spark) as txn:
        txn.set_partition_spec("t", [("bucket", 4, "u")])
    v1 = cat.state()["t"]
    assert set(lake.data_files(pt, v1)) == f0, "spec change rewrites 0 files"
    tf = {t["name"]: t for t in lake._m_load(pt, v1)["transforms"]}
    assert tf["_p_days_ts"].get("retired") is True
    assert "retired" not in tf["_p_bucket4_u"]
    with cat.transaction(spark) as txn:
        txn.append(
            spark.createDataFrame(
                [(100 + i, dt.datetime(2024, 1, 9, 9, 0, 0), i % 13)
                 for i in range(20)],
                "k long, ts timestamp, u long",
            ),
            "t",
        )
    # old era still prunes on ts through the retired days transform
    sc = cat.scan(
        spark, "t",
        where=("eq", "ts", dt.datetime(2024, 1, 2, 8, 0, 0)),
    )
    es = lake._m_entries(pt, lake._m_load(pt, cat.state()["t"]))
    old = {e["path"].split("data/", 1)[1] for e in es
           if "_p_days_ts" in e["partition"]}
    hit_old = {
        f.split("/data/", 1)[1] for f in sc.inputFiles()
        if f.split("/data/", 1)[1] in old
    }
    assert 0 < len(hit_old) < len(old)
    # new era prunes on u through the active bucket
    sc2 = cat.scan(spark, "t", where=("eq", "u", 3))
    new = {e["path"].split("data/", 1)[1] for e in es
           if "_p_bucket4_u" in e["partition"]}
    hit_new = {
        f.split("/data/", 1)[1] for f in sc2.inputFiles()
        if f.split("/data/", 1)[1] in new
    }
    assert len(hit_new) < len(new)
    assert cat.read(spark, "t").count() == 80
    assert cat.read(spark, "t").columns == ["k", "ts", "u"]


def test_catalog_changes_cross_table_feed(spark, tmp_path):
    """Catalog-grain CDF: one txn cursor covers N tables; creation
    emits inserts; a two-table txn emits both tables' diffs stamped
    with the SAME txn id; value-identical upserts emit nothing."""
    cat = Catalog(str(tmp_path / "ccdf"))
    fact0 = spark.createDataFrame(
        [(k, k % 3, float(k)) for k in range(12)], "k long, c long, v double"
    )
    with cat.transaction(spark) as t:
        t.write(fact0, "fact")
    with cat.transaction(spark) as t:
        t.write(
            fact0.groupBy("c").agg(F.count("*").alias("cnt")), "rollup"
        )
    # txn 2: touch BOTH tables — update two fact rows (+ one identical
    # no-op upsert) and refresh the rollup (counts unchanged → empty)
    with cat.transaction(spark) as t:
        t.merge_upsert(
            "fact",
            spark.createDataFrame(
                [(0, 0, 999.0), (100, 1, 100.0), (5, 2, 5.0)],
                "k long, c long, v double",
            ),
            keys=["k"],
        )
        t.merge_upsert(
            "rollup",
            spark.createDataFrame([(0, 4), (1, 5)], "c long, cnt long"),
            keys=["c"],
        )
    feeds = cat.changes(
        spark, {"fact": ["k"], "rollup": ["c"]}, txn_from=None
    )
    fact_rows = {
        (r.k, r.op, r.version, r.txn) for r in feeds["fact"].collect()
    }
    assert {(k, "insert", 0, 0) for k in range(12)} <= fact_rows
    assert (0, "update", 1, 2) in fact_rows
    assert (100, "insert", 1, 2) in fact_rows
    assert all(not (r[0] == 5 and r[3] == 2) for r in fact_rows), \
        "value-identical upsert must not appear in the feed"
    roll_rows = {
        (r.c, r.op, r.version, r.txn) for r in feeds["rollup"].collect()
    }
    assert {(0, "insert", 0, 1), (1, "insert", 0, 1),
            (2, "insert", 0, 1)} <= roll_rows
    # rollup counts: c=0 had 4, c=1 had 4→5 changed
    assert (1, "update", 1, 2) in roll_rows
    assert (0, "update", 1, 2) not in roll_rows
    # windowing: (1, 2] sees only txn 2
    w = cat.changes(spark, {"fact": ["k"], "rollup": ["c"]}, txn_from=1)
    assert {r.txn for r in w["fact"].collect()} == {2}
    # tables the consumer doesn't follow are skipped
    only = cat.changes(spark, {"rollup": ["c"]}, txn_from=None)
    assert set(only) == {"rollup"}


def test_catalog_changes_stream_resume_across_restart(spark, tmp_path):
    """CatalogChangesStream checkpoints ONE txn id for all tables;
    a restarted consumer (new instance, same checkpoint dir) resumes
    exactly after the consumed head — every txn delivered once."""
    cat = Catalog(str(tmp_path / "cstr"))
    ckpt = str(tmp_path / "ckpt")
    with cat.transaction(spark) as t:
        t.write(
            spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"),
            "a",
        )
    s1 = cat.read_changes_stream(
        spark, {"a": ["k"], "b": ["k"]}, ckpt, from_txn=-1
    )
    f1 = s1.drain()
    assert {(r.k, r.op, r.txn) for r in f1["a"].collect()} == {
        (1, "insert", 0), (2, "insert", 0)
    }
    assert s1.drain() is None, "caught up"
    with cat.transaction(spark) as t:
        t.write(spark.createDataFrame([(9, 9.0)], "k long, v double"), "b")
        t.delete_where("a", F.col("k") == 2)
    # restart: NEW instance on the same checkpoint
    s2 = cat.read_changes_stream(spark, {"a": ["k"], "b": ["k"]}, ckpt)
    f2 = s2.drain()
    assert {(r.k, r.op, r.txn) for r in f2["a"].collect()} == {
        (2, "delete", 1)
    }
    assert {(r.k, r.op, r.txn) for r in f2["b"].collect()} == {
        (9, "insert", 1)
    }
    assert s2.drain() is None
    # restore: the jump-diff re-inserts the deleted key
    cat.restore(0)
    f3 = s2.drain()
    assert {(r.k, r.op) for r in f3["a"].collect()} == {(2, "insert")}
    assert "b" not in f3 or f3["b"].count() == 0 or \
        {(r.k, r.op) for r in f3["b"].collect()} == {(9, "delete")}


def test_catalog_scan_since_incremental(spark, tmp_path):
    """Catalog.scan(since=) reads exactly the files appended after a
    consumer's checkpointed table version — the append fast path."""
    cat = Catalog(str(tmp_path / "since_cat"))
    with cat.transaction(spark) as t:
        t.write(_df(spark, [(k, k) for k in range(10)]), "t")
    v0 = cat.state()["t"]
    with cat.transaction(spark) as t:
        t.append(_df(spark, [(k, 0) for k in range(100, 105)]), "t")
    got = {r.k for r in cat.scan(spark, "t", since=v0).collect()}
    assert got == set(range(100, 105))
    assert cat.scan(spark, "t", since=cat.state()["t"]).count() == 0
