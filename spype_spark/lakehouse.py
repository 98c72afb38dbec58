"""Minimal versioned-Parquet table format — lakehouse semantics
(MERGE/upsert, DELETE, time travel, compaction, history) without
Delta/Iceberg jars (absent from this container; ROADMAP "No lakehouse
table format").

Every table is a MANIFEST table: each version is a single JSON
manifest listing its data files BY REFERENCE::

    <table>/_manifests/v=N.json        the commit point (put-if-absent)
    <table>/data/<commit-uuid>/*.parquet   immutable data files

A mutation writes only its NEW files (under a fresh commit uuid — an
unreferenced write is invisible, so the data write needs no atomicity
at all), then publishes by creating ``v=N.json`` with a put-if-absent
primitive. Locally that primitive is ``os.link(tmp, final)`` of a fully
fsync'd temp file (atomic, fails on EEXIST); on S3/GCS it is the same
single-object conditional PUT (``If-None-Match: *`` /
``x-goog-if-generation-match: 0``) — no directory rename, no hardlink
of data files, nothing POSIX-only on the data path. Concurrency is
optimistic, like Delta's log-append / Iceberg's catalog swap: each
mutation captures the table's latest version as its base and commits
only to ``base+1``; a lost publish raises :class:`ConcurrentWriteError`
and the caller re-reads and retries. Copy-on-write carry-over is a
manifest ENTRY copy: untouched files appear in the new manifest under
their existing paths, byte-for-byte shared by reference exactly as
Delta's log and Iceberg's manifests share unchanged files. Each entry
carries its partition tuple and per-column min/max footer stats, so
mutation planning (partition-level AND file-level pruning) is pure
manifest metadata — zero object reads at plan time, the property that
makes a 100 TB MERGE plan in milliseconds. Every pruning layer falls
back to the next-coarser rewrite whenever it can't prove safety
(null/path-special partition values, missing or non-numeric stats) —
correctness over cleverness. Partition columns stay IN the data files
(Iceberg's model: identity-partition columns are ordinary columns; the
Hive-style dirs under each commit uuid are write plumbing only), so a
snapshot read is ``spark.read.schema(s).parquet(*files)`` with no
partition-discovery dependence. The per-version schema rides in the
manifest. A directory without ``_manifests/`` is not a table: every
verb on it raises ``FileNotFoundError``.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spype_spark.manifest_log import (  # noqa: F401  (historical aliases)
    _MANIFEST_RE,
    m_manifest as _m_manifest,
    m_part_key as _m_part_key,
    m_slab_summary as _m_slab_summary,
    m_write_parts as _m_write_parts,
    _PHYS_KEY,
    _PART_INLINE_MAX,
    _SLAB_MAX_GROUPS,
    ConcurrentWriteError,
    col_map as _col_map,
    m_entries as _m_entries,
    m_file_stats as _m_file_stats,
    m_load as _m_load,
    m_path as _m_path,
    m_publish as _m_publish,
    m_versions as _m_versions,
    phys as _phys,
)
from spype_spark.bloom import (
    bloom_all_miss as _bloom_all_miss,
    bloom_build as _bloom_build,
    bloom_might_contain as _bloom_might_contain,
)

# Retention grace window for the path-refcount GC (see _m_gc_files):
# an unreferenced file younger than this many seconds is presumed to
# belong to an in-flight commit and survives the sweep. Ten minutes
# bounds any realistic commit's write duration in this repo's usage;
# real deployments tune it the way Delta tunes its retention period.
DEFAULT_GC_GRACE_SECONDS = 600.0


class ConstraintViolation(ValueError):
    """A mutation tried to write rows for which a table CHECK
    constraint evaluates FALSE (SQL semantics: TRUE and UNKNOWN/NULL
    both pass). The commit is rejected BEFORE any manifest publish;
    the table is untouched."""


def versions(path: str) -> list[int]:
    """All committed versions, ascending: one per published
    ``_manifests/v=N.json`` (complete by construction — put-if-absent
    of a fully written file)."""
    return _m_versions(path)


def latest_version(path: str) -> int:
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions under {path}")
    return vs[-1]


def commit_timestamps(path: str) -> list[tuple[int, float]]:
    """``(version, commit_ts)`` pairs, ascending, for every committed
    version. The timestamp is the commit OBJECT's modification time —
    the version's manifest json — which is exactly the public design
    Delta documents for ``TIMESTAMP AS OF`` (log-file modification
    times): the commit object is written once and never rewritten, so
    its mtime IS the commit instant, with no extra field to keep
    consistent. Like Delta, timestamps are clamped monotonic
    non-decreasing across versions (a clock step backwards between two
    commits must not make a LATER version resolve to an EARLIER
    timestamp)."""
    out: list[tuple[int, float]] = []
    hi = float("-inf")
    for v in versions(path):
        try:
            ts = os.path.getmtime(_m_path(path, v))
        except OSError:
            continue  # vacuumed between the listing and the stat
        hi = max(hi, ts)
        out.append((v, hi))
    return out


def version_at(path: str, timestamp: float) -> int:
    """Resolve a wall-clock instant to the version current AT that
    instant: the newest version whose (monotonic-clamped) commit time
    is ``<= timestamp``. Raises ``ValueError`` before the first commit
    — same contract as Delta's ``TIMESTAMP AS OF`` on a too-early
    timestamp."""
    best = None
    for v, ts in commit_timestamps(path):
        if ts <= timestamp:
            best = v
    if best is None:
        raise ValueError(
            f"no version of {path} existed at timestamp {timestamp}"
        )
    return best


def _meta_path(path: str) -> str:
    return os.path.join(path, "_table.json")


def table_meta(path: str) -> dict:
    """Table-level metadata (currently: ``partition_by``, normalized to
    a list of column names). Written once at :func:`write_table`;
    static for the table's lifetime."""
    p = _meta_path(path)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        meta = json.load(f)
    pb = meta.get("partition_by")
    if isinstance(pb, str):
        meta["partition_by"] = [pb]
    return meta


_EPOCH = "1970-01-01"


def _norm_partition_spec(partition_by) -> tuple[list[str] | None, list[dict]]:
    """Parse a partition spec that may mix identity column names with
    Iceberg-style TRANSFORM tuples (hidden partitioning):

    - ``("days", col)`` — days since epoch of a date/timestamp column
    - ``("hours", col)`` — hours since epoch
    - ``("truncate", w, col)`` — ``v - (v mod w)`` (Iceberg's numeric
      truncate; ``mod`` is the non-negative pmod, so negatives bin
      correctly)
    - ``("bucket", n, col)`` — ``pmod(xxhash64(v), n)``

    Returns ``(pcols, transforms)``: the physical partition column
    list (identity names + generated hidden names, in spec order) and
    the transform records to persist. Hidden names are
    ``_p_<transform><param>_<source>`` — derived at commit time,
    stripped from every public read."""
    if partition_by is None:
        return None, []
    if isinstance(partition_by, (str, tuple)):
        partition_by = [partition_by]
    pcols: list[str] = []
    transforms: list[dict] = []
    for p in partition_by:
        if isinstance(p, str):
            pcols.append(p)
            continue
        if not isinstance(p, tuple) or not p:
            raise ValueError(f"bad partition spec entry {p!r}")
        kind = p[0]
        if kind in ("days", "hours"):
            if len(p) != 2:
                raise ValueError(f"{kind} transform takes (kind, col): {p!r}")
            src, param = p[1], None
            name = f"_p_{kind}_{src}"
        elif kind in ("truncate", "bucket"):
            if len(p) != 3 or not isinstance(p[1], int) or p[1] <= 0:
                raise ValueError(
                    f"{kind} transform takes (kind, positive_int, col): {p!r}"
                )
            param, src = p[1], p[2]
            short = "trunc" if kind == "truncate" else "bucket"
            name = f"_p_{short}{param}_{src}"
        else:
            raise ValueError(f"unknown partition transform {kind!r}")
        pcols.append(name)
        transforms.append(
            {"name": name, "transform": kind, "source": src, "param": param}
        )
    return pcols, transforms


def _transform_expr(t: dict, c: "F.Column | None" = None) -> "F.Column":
    """The Spark Column computing transform ``t`` from its source (or
    from an explicit column ``c`` — the probe path evaluates literals
    through the SAME expression the write side used)."""
    if c is None:
        c = F.col(t["source"])
    kind = t["transform"]
    if kind == "days":
        return F.datediff(F.to_date(c), F.to_date(F.lit(_EPOCH)))
    if kind == "hours":
        # unix seconds fit double exactly (< 2**53), so the division
        # floor is exact
        return F.floor(F.unix_timestamp(c) / F.lit(3600)).cast("long")
    if kind == "truncate":
        if t.get("srctype") == "string":
            # Iceberg's string truncate: the w-char prefix — monotonic
            # in lexicographic order, so range predicates prune
            return F.substring(c, 1, t["param"])
        return (c - F.pmod(c, F.lit(t["param"]))).cast("long")
    if kind == "bucket":
        src_t = t.get("srctype")
        if src_t:
            c = c.cast(src_t)
        return F.pmod(F.xxhash64(c), F.lit(t["param"])).cast("int")
    raise ValueError(f"unknown partition transform {kind!r}")


def _apply_transforms(
    df: DataFrame, transforms: list[dict] | None, force: bool = False
) -> DataFrame:
    """Derive the hidden partition columns on a frame about to commit.
    ``force=True`` recomputes ones already present — the commit-side
    invariant that keeps a mutated source column (e.g. an UPDATE on a
    timestamp) from leaving a stale hidden value behind. RETIRED
    transforms (a dropped partition spec, :func:`set_partition_spec`)
    are never ADDED to new rows — their era is over — but a rewrite
    frame that still carries one is recomputed like any other, so its
    row values stay true."""
    for t in transforms or []:
        if t.get("retired") and t["name"] not in df.columns:
            continue
        if t["source"] not in df.columns:
            raise ValueError(
                f"frame lacks partition-transform source column "
                f"{t['source']!r}"
            )
        if t["name"] in df.columns:
            if not force:
                continue
            df = df.drop(t["name"])
        df = df.withColumn(t["name"], _transform_expr(t))
    return df


def _transform_value(t: dict, v, spark: SparkSession | None = None):
    """Scan-time evaluation of transform ``t`` on a predicate literal,
    used to prune manifest entries by hidden partition value.

    ``days``/``hours``/``bucket`` evaluate the literal THROUGH Spark
    with the very expression the write side used (:func:`
    _transform_expr`): to_date/unix_timestamp follow
    ``spark.sql.session.timeZone``, so a naive python-UTC evaluation
    would compute a DIFFERENT hidden value than the one recorded
    whenever the session isn't UTC — wrongly pruning live files.
    One 1-row job per literal (metadata-sized; bucket additionally
    casts to the RECORDED source type — Spark hashes by physical
    type). ``truncate`` is timezone-free and evaluates in Python.
    Returns None when the value can't be transformed (caller keeps
    the file — conservative)."""
    kind = t["transform"]
    if kind == "truncate":
        try:
            if t.get("srctype") == "string":
                return v[: t["param"]] if isinstance(v, str) else None
            if not isinstance(v, int):
                return None
            return v - (v % t["param"])
        except (ValueError, TypeError, OverflowError):
            return None
    if kind not in ("days", "hours", "bucket") or spark is None:
        return None
    try:
        # metadata-sized collect: one transformed literal
        row = spark.range(1).select(
            _transform_expr(t, F.lit(v)).alias("x")
        ).first()
        return row["x"]
    except Exception:
        return None  # unevaluable literal — caller keeps the file


_MONOTONIC_TRANSFORMS = ("days", "hours", "truncate")


def _transform_prune_entries(
    spark: SparkSession,
    entries: list[dict],
    transforms: list[dict],
    partitions: dict | None,
    ranges: dict | None,
    where,
) -> list[dict]:
    """Hidden-partition file pruning: translate user predicates on
    TRANSFORM SOURCE columns into constraints on the recorded hidden
    partition values — the reader never names (or sees) the hidden
    column, which is the whole point of Iceberg-style hidden
    partitioning. Equality/IN prunes under every transform; ranges
    prune under the monotonic ones (days/hours/truncate map a value
    range to a hidden-value range); bucket prunes only eq/IN. OR nests
    are left alone (pruning only what provably cannot match); the
    residual row filter keeps semantics exact either way."""
    # gather (source_col -> [(op, payload)]) from the three knobs;
    # only top-level AND conjuncts of `where` participate
    by_src: dict[str, list] = {}

    def _add(col, op, payload):
        by_src.setdefault(col, []).append((op, payload))

    for c, vals in (partitions or {}).items():
        vlist = vals if isinstance(vals, (list, tuple, set)) else [vals]
        _add(c, "in", list(vlist))
    for c, (lo, hi) in (ranges or {}).items():
        _add(c, "between", (lo, hi))

    def _walk(p):
        if p is None:
            return
        op = p[0]
        if op == "and":
            for q in p[1:]:
                _walk(q)
            return
        if op == "or":
            return  # conservative: no transform pruning through OR
        if op == "eq":
            _add(p[1], "in", [p[2]])
        elif op == "in":
            _add(p[1], "in", list(p[2]))
        elif op in ("lt", "le"):
            _add(p[1], "le", p[2])
        elif op in ("gt", "ge"):
            _add(p[1], "ge", p[2])
        elif op == "between":
            _add(p[1], "between", (p[2], p[3]))

    _walk(where)
    for t in transforms:
        for op, payload in by_src.get(t["source"], []):
            mono = t["transform"] in _MONOTONIC_TRANSFORMS
            allowed: set | None = None
            lo = hi = None
            if op == "in":
                tv = [_transform_value(t, v, spark) for v in payload]
                if any(x is None for x in tv):
                    continue
                allowed = set(tv)
            elif op == "between" and mono:
                lo = _transform_value(t, payload[0], spark)
                hi = _transform_value(t, payload[1], spark)
                if lo is None or hi is None:
                    continue
            elif op == "le" and mono:
                hi = _transform_value(t, payload, spark)
                if hi is None:
                    continue
            elif op == "ge" and mono:
                lo = _transform_value(t, payload, spark)
                if lo is None:
                    continue
            else:
                continue
            # string transforms (string truncate) compare recorded
            # values lexicographically (Python str order == Spark UTF8
            # binary order); numeric ones compare as ints. A recorded
            # value that fails to parse — or, for strings, one outside
            # the SAFE charset (Hive-escaped directory spelling differs
            # from the raw value) — is conservatively kept.
            str_mode = any(
                isinstance(x, str)
                for x in ((allowed or set()) | {lo, hi})
                if x is not None
            )
            kept = []
            for e in entries:
                pv = e.get("partition", {}).get(t["name"])
                if pv is None:
                    kept.append(e)  # no recorded value — keep
                    continue
                if str_mode:
                    if not _SAFE_PART_VAL.match(pv):
                        kept.append(e)
                        continue
                    pvc = pv
                else:
                    try:
                        pvc = int(pv)
                    except ValueError:
                        kept.append(e)
                        continue
                if allowed is not None:
                    if pvc in allowed:
                        kept.append(e)
                elif (lo is None or pvc >= lo) and (hi is None or pvc <= hi):
                    kept.append(e)
            entries = kept
    return entries


def _stamp_transforms(df: DataFrame, transforms: list[dict]) -> None:
    """Validate transform sources against ``df`` and stamp the recorded
    source type in place — shared by :func:`write_table` and the
    catalog transaction's CREATE/REPLACE."""
    for t in transforms:
        if t["source"] not in df.columns:
            raise ValueError(
                f"partition-transform source column {t['source']!r} "
                "is not in the frame"
            )
        if t["transform"] in ("bucket", "truncate"):
            # bucket: Spark hashes by physical type, so scan-time
            # literal probes must cast to it first. truncate: the
            # recorded type picks prefix (string) vs numeric binning.
            t["srctype"] = df.schema[t["source"]].dataType.simpleString()
        if t["transform"] == "truncate" and t["srctype"] not in (
            "string", "tinyint", "smallint", "int", "bigint"
        ):
            raise ValueError(
                f"truncate transform needs an integer or string source; "
                f"{t['source']!r} is {t['srctype']}"
            )


def write_table(
    df: DataFrame,
    path: str,
    partition_by=None,
    bloom_keys=None,
) -> int:
    """Create a table at ``path`` as version 0 (errors if it exists).

    ``partition_by`` (a column name or a LIST of names — e.g.
    ``["ship_date", "shard"]``, the date+shard layout SCALE.md assumes
    at 100 TB) enables PARTITION-LEVEL copy-on-write for all subsequent
    mutations: MERGE/DELETE rewrite only the leaf partitions their
    keys/predicate touch and carry the rest by entry reference (see
    :func:`merge_upsert`). Partition values should be simple scalars
    (string without path-special characters, int) — the
    touched-partition matcher compares their canonical string forms
    against the recorded partition tuples; a null partition value falls
    back to a full-snapshot rewrite rather than guessing Hive's
    default-partition encoding.

    ``bloom_keys`` (a column name or list) opts the table into per-file
    BLOOM FILTERS on those columns — the prune material for hash-shaped
    keys whose [min, max] never refutes anything (see
    :mod:`spype_spark.bloom`). Every commit that writes data files
    stamps each new entry's filter; MERGE and the predicate planners
    consult them the same three-valued way as min/max stats (miss =
    proof of absence). String and integral columns only — float
    equality is not a join discipline.
    """
    if isinstance(bloom_keys, str):
        bloom_keys = [bloom_keys]
    if bloom_keys:
        by_name = {f.name: f.dataType.typeName() for f in df.schema.fields}
        bad = [
            c
            for c in bloom_keys
            if by_name.get(c)
            not in ("string", "integer", "long", "short", "byte")
        ]
        if bad:
            raise ValueError(
                f"bloom_keys {sorted(bad)} are missing or not "
                f"string/integral columns (Bloom key material)"
            )
    pcols, transforms = _norm_partition_spec(partition_by)
    _stamp_transforms(df, transforms)
    if versions(path):
        raise FileExistsError(f"table already exists at {path}")
    os.makedirs(path, exist_ok=True)
    meta = {"partition_by": pcols, "protocol": "manifest"}
    if transforms:
        meta["transforms"] = transforms
    with open(_meta_path(path), "w") as f:
        json.dump(meta, f)
    return _m_commit(
        df, path, 0, pcols, [], base=None, transforms=transforms or None,
        op={"name": "WRITE", "dataChange": True},
        bloom_keys=list(bloom_keys) if bloom_keys else None,
    )


_SAFE_PART_VAL = re.compile(r"^[A-Za-z0-9._-]+$")


def _part_key(p: dict | None) -> str:
    """Canonical JSON serialization of one file entry's partition tuple
    — the unit of partition-granular conflict footprints (shared with
    :mod:`spype_spark.catalog`). Unpartitioned tables serialize to
    ``'[]'`` for every file, which degrades partition-level conflict
    tests to table-level ones there (correct: without partitions,
    nothing proves two rewrites disjoint)."""
    return json.dumps(sorted((p or {}).items()))


def _norm_part_val(s: str):
    """Type-insensitive normalization of a partition value string, used
    to DETECT ambiguity ('1' vs '001', '1' vs '1.0', 'True' vs 'true'):
    two spellings that normalize equal but differ textually force the
    planner to a full rewrite rather than guessing."""
    ls = s.lower()
    if ls in ("true", "false"):
        return ("b", ls)
    try:
        return ("n", float(s))
    except ValueError:
        return ("s", s)


# ---------------------------------------------------------------------------
# Manifest commits: object-store-portable, put-if-absent publish.
# ---------------------------------------------------------------------------

#: Shadow-column prefix for the partitioned write: partition columns
#: are DUPLICATED under this prefix and the writer partitions by the
#: shadows, so the real columns stay in the file content (Iceberg's
#: identity-partition model) while the shadow dirs give the per-file
#: partition tuple the manifest records.
_SHADOW = "__pv_"


def _is_manifest_table(path: str) -> bool:
    """Whether a table exists at ``path`` (it has a manifest dir)."""
    return os.path.isdir(os.path.join(path, "_manifests"))


def _slab_maybe(s: dict, partitions, ranges, nulls, maybe, since) -> bool:
    """Three-valued slab refutation from a :func:`_m_slab_summary`:
    False = NO entry in the slab can survive the scan's pruning knobs
    (skip decoding it), True = some entry may. Mirrors the per-entry
    pruning in :func:`scan_table` leaf for leaf; every summary field is
    an envelope/sum over the slab's entries, so refuting the envelope
    refutes every member. Missing summary fields always keep."""
    for c, vals in (partitions or {}).items():
        rec = (s.get("partition") or {}).get(c)
        if rec is None:
            continue  # mixed across the slab / not recorded — keep
        vlist = vals if isinstance(vals, (list, tuple, set)) else [vals]
        svals = set()
        usable = True
        for val in vlist:
            sv = str(val)
            if val is None or not _SAFE_PART_VAL.match(sv):
                usable = False
                break
            svals.add(sv)
        if not usable:
            continue
        if rec not in svals and _norm_part_val(rec) not in {
            _norm_part_val(x) for x in svals
        }:
            return False
    for c, (lo, hi) in (ranges or {}).items():
        if lo is None or hi is None:
            continue
        st = (s.get("stats") or {}).get(c)
        if st is None:
            continue
        try:
            if st[1] < lo or st[0] > hi:
                return False
        except TypeError:
            continue  # incomparable bounds — keep
    for c, want_null in (nulls or {}).items():
        nc = (s.get("nulls") or {}).get(c)
        if nc is None:
            continue
        if want_null:
            if nc == 0:
                return False  # zero NULLs across the whole slab
        elif s.get("rows") is not None and nc >= s["rows"]:
            return False  # every row in the slab is NULL on c
    if maybe is not None:
        pseudo = {
            "partition": s.get("partition") or {},
            "stats": s.get("stats") or {},
            "nulls": s.get("nulls") or {},
        }
        if s.get("rows") is not None:
            pseudo["rows"] = s["rows"]
        if not maybe(pseudo):
            return False
    if since is not None:
        sq = s.get("seq")
        if sq is not None and sq[1] <= since:
            return False  # every entry's commit seq is at/below the cursor
    return True


def _m_scan_entries(
    path: str,
    m: dict,
    partitions,
    ranges,
    nulls,
    maybe,
    since,
    spark: "SparkSession | None" = None,
    where=None,
) -> list[dict]:
    """Entry load for :func:`scan_table` with SLAB-GRANULAR pruning:
    part slabs whose pointer summary (:func:`_m_slab_summary`) refutes
    every scan knob are skipped without being opened or JSON-decoded,
    so planning cost is O(surviving slabs' entries + total slab count)
    instead of O(total entries) — the difference between ~10 s and
    ~ms of driver time at 10⁵-10⁶ files when a scan touches one
    partition. Strictly a superset of the per-entry pruning that
    follows (summaries are envelopes), so results are identical to
    decoding everything. Hidden-partition tables prune slab-wise too:
    summaries record the hidden transform columns like any partition
    column (single-valued per slab), so the SAME
    :func:`_transform_prune_entries` translation runs once over
    one pseudo-entry per slab (needs ``spark`` for the transform
    probes and the raw ``where`` spec). Manifests written before
    summaries existed (no ``part_summaries``) decode every slab, as
    before."""
    if "files" in m:
        return m["files"]
    summaries = m.get("part_summaries") or {}
    keep: list[str] = []
    pseudos: list[dict] = []
    for name in m["parts"]:
        s = summaries.get(name)
        if s is None:
            keep.append(name)
            continue
        if not _slab_maybe(s, partitions, ranges, nulls, maybe, since):
            continue
        keep.append(name)
        pseudos.append({"__slab": name, "partition": s.get("partition") or {}})
    tf = m.get("transforms")
    if tf and spark is not None and pseudos:
        surv = {
            p["__slab"]
            for p in _transform_prune_entries(
                spark, pseudos, tf, partitions, ranges, where
            )
        }
        keep = [n for n in keep if n not in summaries or n in surv]
    out: list[dict] = []
    for name in keep:
        with open(os.path.join(path, "_manifests", name)) as f:
            out.extend(json.load(f))
    return out


# ---------------------------------------------------------------------------
# Column mapping (Delta column-mapping "name mode", re-derived for this
# manifest protocol): every schema field has a PHYSICAL name — the
# column name actually written in parquet files — frozen at the moment
# the field first appears. RENAME changes only the LOGICAL name in the
# manifest schema (the physical name rides in field metadata under
# _PHYS_KEY), and DROP retires the physical name so a later re-add of
# the same logical name gets a FRESH physical name and cannot resurrect
# old file data. Readers open files with the physical schema and
# project to logical names; writers project logical→physical before
# the parquet write. Both are identity (and skipped) for tables that
# never renamed/dropped. All OTHER manifest metadata — entry partition
# dicts, per-file stats/null counts, partition_by — is kept keyed by
# CURRENT LOGICAL names (rename commits rekey it), so the pruning,
# COW-planning, and conflict-footprint algebra above needs no mapping
# awareness at all.



def _assign_physical(
    schema_json: dict, base_schema_json: dict | None, retired: list[str]
) -> tuple[dict, dict[str, str]]:
    """Stamp physical names onto a WRITE's schema: fields present in
    the base schema inherit their frozen physical name; NEW fields get
    their own name unless it collides with a retired physical name or
    another live field's physical name (a re-add after drop, or an add
    shadowing a rename source), in which case they get a fresh
    uuid-suffixed physical name. Returns (schema_json_with_mapping,
    {logical: physical})."""
    bmap = _col_map(base_schema_json) if base_schema_json else {}
    used = set(bmap.values()) | set(retired)
    fields, cmap = [], {}
    for f in schema_json["fields"]:
        name = f["name"]
        meta = {
            k: v
            for k, v in (f.get("metadata") or {}).items()
            if k != _PHYS_KEY
        }
        if name in bmap:
            phys = bmap[name]
        elif name in used:
            phys = f"{name}_{uuid.uuid4().hex[:8]}"
        else:
            phys = name
        used.add(phys)
        if phys != name:
            meta[_PHYS_KEY] = phys
        fields.append({**f, "metadata": meta})
        cmap[name] = phys
    return {**schema_json, "fields": fields}, cmap


def _m_prepare_write(
    df: DataFrame,
    pcols: list[str] | None,
    base_schema_json: dict | None,
    retired: list[str],
) -> tuple[DataFrame, list[str] | None, dict, dict[str, str]]:
    """WRITE-side column mapping: project ``df`` to physical column
    names (identity → returned untouched) and return
    ``(physical_df, physical_pcols, schema_json_with_mapping,
    {physical: logical})`` — the inverse map rekeys the produced
    entries' partition/stats metadata back to logical names via
    :func:`_m_localize_entries`."""
    schema_json, cmap = _assign_physical(
        json.loads(df.schema.json()), base_schema_json, retired
    )
    if base_schema_json:
        # one batch must never NARROW the recorded schema's
        # nullability: an append whose projection happens to be
        # non-nullable (a literal column, a post-join key) says
        # nothing about the carried files — and a spuriously narrowed
        # schema breaks strict-equality consumers (branch rebase,
        # txn rebase) for no semantic reason. Widening (nullable data
        # into a non-null column) keeps the df's nullable=True.
        base_null = {
            f["name"]: f.get("nullable", True)
            for f in base_schema_json["fields"]
        }
        for f in schema_json["fields"]:
            if base_null.get(f["name"]) and not f.get("nullable", True):
                f["nullable"] = True
    inv = {p: l for l, p in cmap.items()}
    if all(l == p for l, p in cmap.items()):
        return df, pcols, schema_json, inv
    pdf = df.select(*[F.col(l).alias(p) for l, p in cmap.items()])
    ppcols = [cmap[c] for c in pcols] if pcols else pcols
    return pdf, ppcols, schema_json, inv


def _m_attach_blooms(
    path: str,
    entries: list[dict],
    phys_keys: list[str],
    inline_only: bool = False,
) -> None:
    """Stamp each freshly written entry with per-key Bloom filters
    (see :mod:`spype_spark.bloom`), in place. Reads ONLY the key
    columns of only the NEW files — O(new data × key width) at commit
    time, the same cost class as Delta's Bloom index build; at
    cluster scale the executors report these with the write results
    (the Iceberg writer-stats model), identical content. Partition
    columns travel as directory names, not file columns — a bloom key
    that is also a partition column is skipped (partition pruning
    already decides it exactly)."""
    import base64
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    from spype_spark.bloom import BLOOM_INLINE_MAX_BITS

    def _one(e: dict) -> None:
        fp = os.path.join(path, e["path"])
        pf = pq.ParquetFile(fp)
        have = set(pf.schema_arrow.names)
        want = [k for k in phys_keys if k in have]
        if not want:
            return
        tab = pf.read(columns=want)
        blooms = {}
        for k in want:
            bf = _bloom_build(tab.column(k).to_pylist())
            if bf is None:
                continue
            if bf["m"] > BLOOM_INLINE_MAX_BITS and not inline_only:
                # big filter → SIDECAR next to its data file (the
                # Delta-Bloom-index/DV convention: non-parquet bytes
                # die with their commit dir at GC time); the entry
                # keeps only the parameters + the table-relative ref
                stem = os.path.basename(fp).rsplit(".parquet", 1)[0]
                side = os.path.join(
                    os.path.dirname(fp), f"{stem}.{k}.bloom"
                )
                with open(side, "wb") as f:
                    f.write(base64.b64decode(bf.pop("b")))
                bf["ref"] = os.path.relpath(side, path).replace(
                    os.sep, "/"
                )
            blooms[k] = bf
        if blooms:
            e["bloom"] = blooms

    # per-file work is independent; the parquet column reads release
    # the GIL, so a small thread pool overlaps I/O with the hashing
    # (r15 opt — the loop was serial driver time per new file)
    if len(entries) > 1:
        with ThreadPoolExecutor(
            max_workers=min(8, len(entries))
        ) as pool:
            list(pool.map(_one, entries))
    else:
        for e in entries:
            _one(e)


@functools.lru_cache(maxsize=256)
def _bloom_sidecar_bits(abs_path: str) -> bytes:
    """Sidecar bitset bytes, LRU-cached by absolute path — sidecars
    are immutable once written (new commits write new files), so the
    cache can never serve stale bits."""
    with open(abs_path, "rb") as f:
        return f.read()


def _bloom_bits_for(bf: dict, root: str | None) -> bytes | None:
    """Resolve a filter's bitset: inline ``b`` decodes directly; a
    sidecar ``ref`` reads through the LRU (absolute refs are the
    shallow-clone cross-root share, exactly as entry paths). None =
    unresolvable here (no root, or the sidecar vanished) — the probe
    helpers then return no verdict, never a refutation."""
    if "b" in bf:
        import base64

        return base64.b64decode(bf["b"])
    ref = bf.get("ref")
    if ref is None:
        return None
    ap = ref if os.path.isabs(ref) else (
        os.path.join(root, ref) if root else None
    )
    if ap is None:
        return None
    try:
        return _bloom_sidecar_bits(os.path.abspath(ap))
    except OSError:
        return None


def _m_localize_entries(entries: list[dict], inv: dict[str, str]) -> None:
    """Rekey freshly written entries' partition/stats/nulls/bloom
    dicts from physical to logical column names, in place — the
    invariant that keeps every metadata consumer mapping-free."""
    if all(p == l for p, l in inv.items()):
        return
    for e in entries:
        for k in ("partition", "stats", "nulls", "bloom"):
            if k in e:
                e[k] = {inv.get(c, c): v for c, v in e[k].items()}


def _m_open_files(
    spark: SparkSession,
    root: str,
    rel_paths: list[str],
    schema_json: dict,
    with_pos: bool = False,
) -> DataFrame:
    """READ-side column mapping: open manifest-listed leaf files with
    the snapshot schema. Identity mapping reads with the logical
    schema directly (the universal fast path); a renamed table reads
    with the PHYSICAL schema and projects to logical names. Files
    missing a physical column (pre-evolution carries, or carries
    predating a drop+re-add whose fresh physical name they lack) read
    it as NULL — exactly Delta/Iceberg schema-on-read.

    ``with_pos=True`` appends ``__fname`` (the file's COMMIT-RELATIVE
    path — everything after ``/data/``, i.e. ``<commit-uuid>/<partition
    dirs>/<part file>``: unique by the commit uuid even though
    ``partitionBy`` reuses part-file basenames across partition dirs,
    and invariant under table moves, clones, and branches because it
    never names the table root) and ``__pos`` (the row's index WITHIN
    its file, Spark's ``_metadata.row_index``) — the row identity
    positional deletion vectors anchor to."""
    from pyspark.sql.types import StructType

    cmap = _col_map(schema_json)
    paths = [os.path.join(root, p) for p in rel_paths]

    def _pos_cols(df):
        if not with_pos:
            return df
        return df.withColumns(
            {
                "__fname": F.regexp_extract(
                    F.col("_metadata.file_path"), "/data/(.*)$", 1
                ),
                "__pos": F.col("_metadata.row_index"),
            }
        )

    if all(l == p for l, p in cmap.items()):
        return _pos_cols(
            spark.read.schema(StructType.fromJson(schema_json)).parquet(
                *paths
            )
        )
    pj = {
        **schema_json,
        "fields": [
            {**f, "name": _phys(f), "metadata": {}}
            for f in schema_json["fields"]
        ],
    }
    df = _pos_cols(spark.read.schema(StructType.fromJson(pj)).parquet(*paths))
    keep = [F.col(_phys(f)).alias(f["name"]) for f in schema_json["fields"]]
    if with_pos:
        keep += [F.col("__fname"), F.col("__pos")]
    return df.select(*keep)


def _m_write_files(
    df: DataFrame, path: str, pcols: list[str] | None
) -> tuple[str, list[dict]]:
    """Write ``df``'s rows as new immutable data files under a fresh
    commit-uuid directory and return (datadir, manifest entries).
    Unreferenced until a manifest names them, so this write needs no
    atomicity; a failed commit leaves only an orphan dir for vacuum."""
    uid = uuid.uuid4().hex
    datadir = os.path.join(path, "data", uid)
    w = df
    if pcols:
        clash = [c for c in df.columns if c.startswith(_SHADOW)]
        if clash:
            raise ValueError(
                f"column names {clash} collide with the reserved "
                f"{_SHADOW!r} partition-shadow prefix"
            )
        for c in pcols:
            w = w.withColumn(_SHADOW + c, F.col(c))
        w.write.partitionBy(*[_SHADOW + c for c in pcols]).parquet(datadir)
    else:
        w.write.parquet(datadir)
    found: list[tuple[str, dict]] = []
    for root, _dirs, files in os.walk(datadir):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(root, fn)
            part = {}
            if pcols:
                for seg in os.path.relpath(root, datadir).split(os.sep):
                    if seg.startswith(_SHADOW) and "=" in seg:
                        k, v = seg.split("=", 1)
                        part[k[len(_SHADOW):]] = v
            found.append((fp, part))
    # footer-stat reads are independent metadata I/O (pyarrow releases
    # the GIL) — overlap them instead of one driver round-trip per
    # file (r15 opt); at cluster scale the same numbers come back
    # with executor write results, as before
    if len(found) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(found))) as pool:
            stats = list(pool.map(lambda t: _m_file_stats(t[0]), found))
    else:
        stats = [_m_file_stats(fp) for fp, _ in found]
    entries = [
        {
            "path": os.path.relpath(fp, path).replace(os.sep, "/"),
            "partition": part,
            **st,
        }
        for (fp, part), st in zip(found, stats)
    ]
    entries.sort(key=lambda e: e["path"])
    return datadir, entries


def _m_commit(
    df: DataFrame | None,
    path: str,
    version: int,
    pcols: list[str] | None,
    carry_entries: list[dict],
    base: int | None,
    schema_json: dict | None = None,
    deletes: list[dict] | None = None,
    retired: list[str] | None = None,
    constraints: dict | None = None,
    transforms: list[dict] | None = None,
    pos_deletes: list[dict] | None = None,
    op: dict | None = None,
    bloom_keys: list[str] | None = None,
) -> int:
    """Commit one manifest version: write ``df``'s rows as new files
    (``df=None`` → carry-only commit), assemble carried + new entries,
    publish put-if-absent. New entries are stamped with ``seq`` = this
    version (the ordering equality-deletes apply by); carried entries
    keep theirs. ``deletes`` is the FULL cumulative equality-delete
    list to record (omit/empty → none). ``op`` stamps the commit's
    operation name + dataChange flag into the manifest (see
    :func:`manifest_log.m_manifest`) — ``dataChange=False`` commits
    (compaction, z-order) are skipped by the change feed at PLAN
    time. On a lost race or a vacuumed base the new data dir is
    removed and :class:`ConcurrentWriteError` raised — the table is
    untouched either way."""
    base_schema = None
    if base is not None:
        # the base manifest carries the column mapping new files must
        # inherit, plus the retired-physical-name set and CHECK
        # constraints that flow forward; a vacuumed base surfaces here
        # as the standard retry signal
        try:
            bm = _m_load(path, base)
        except FileNotFoundError:
            raise ConcurrentWriteError(
                f"base version {base} of {path} was vacuumed while this "
                f"mutation was committing (stale base); re-read and retry"
            )
        base_schema = bm.get("schema")
        if retired is None:
            retired = bm.get("retired", [])
        if constraints is None:
            constraints = bm.get("constraints")
        if transforms is None:
            transforms = bm.get("transforms")
        if pos_deletes is None:
            # positional DVs ride forward by default: a rewrite commit
            # replaces only its TOUCHED files (new seq - old DVs miss
            # them), while carried files still need theirs; compact
            # and restore override explicitly
            pos_deletes = bm.get("pos_deletes")
        if bloom_keys is None:
            # the Bloom opt-in is a table-lifetime property: flow it
            # forward like constraints so every mutation's new files
            # get stamped (rename/drop pass the rekeyed list)
            bloom_keys = bm.get("bloom_keys")
    datadir, entries = (None, [])
    if df is None and schema_json is None:
        # carry-only commit (e.g. a DELETE every file refuted): the
        # snapshot schema is unchanged — inherit the base's
        schema_json = base_schema
    if df is not None:
        _enforce_constraints(df, constraints)
        if transforms:
            # (re)derive the hidden partition columns: force recompute
            # so a mutated source value (UPDATE on a timestamp) can
            # never leave a stale hidden value — the commit-side
            # invariant hidden partitioning rests on
            df = _apply_transforms(df, transforms, force=True)
        pdf, ppcols, schema_json, inv = _m_prepare_write(
            df, pcols, base_schema, retired or []
        )
        datadir, entries = _m_write_files(pdf, path, ppcols)
        if bloom_keys:
            # entries are keyed PHYSICALLY until localization below —
            # probe the files under the physical names, then the
            # rekey renames the bloom dict with stats/nulls
            cmap = {l: p for p, l in inv.items()}
            _m_attach_blooms(
                path, entries, [cmap.get(c, c) for c in bloom_keys]
            )
        _m_localize_entries(entries, inv)
        for e in entries:
            e["seq"] = version
    manifest = _m_manifest(
        path,
        version,
        base,
        schema_json,
        pcols,
        carry_entries + entries,
        deletes=deletes,
        retired=retired,
        constraints=constraints,
        transforms=transforms,
        pos_deletes=pos_deletes,
        op=op,
        bloom_keys=bloom_keys,
    )
    # Stale-base guard: if retention collected our base manifest while
    # we were writing, the carried entries may reference files the GC
    # is about to (or did) delete — surface the standard stale-base
    # signal instead of publishing dangling references. The residual
    # window between this check and the GC's reference listing is the
    # retention-grace-period trade every real format documents
    # (Delta's VACUUM RETAIN 0 breaks in-flight writers identically).
    if base is not None and not os.path.exists(_m_path(path, base)):
        if datadir:
            shutil.rmtree(datadir, ignore_errors=True)
        raise ConcurrentWriteError(
            f"base version {base} of {path} was vacuumed while this "
            f"mutation was committing (stale base); re-read and retry"
        )
    try:
        _m_publish(path, version, manifest)
    except ConcurrentWriteError:
        if datadir:
            shutil.rmtree(datadir, ignore_errors=True)
        raise
    # Post-publish existence check: a grace-less GC (vacuum with
    # grace_seconds=0) racing this commit may have collected the new
    # files between their write and the publish. Detect it, withdraw
    # the manifest we just won (nothing can have based on it except in
    # the microsecond listing window — the documented residual of
    # RETAIN-0 retention), and surface the standard retry signal
    # instead of leaving a head that references deleted files. The
    # default-grace path never gets here: young files survive the
    # sweep.
    gone = [
        e["path"]
        for e in entries
        if not os.path.exists(os.path.join(path, e["path"]))
    ]
    if gone:
        try:
            os.unlink(_m_path(path, version))
        except FileNotFoundError:
            pass
        if datadir:
            shutil.rmtree(datadir, ignore_errors=True)
        raise ConcurrentWriteError(
            f"a concurrent grace-less vacuum collected {len(gone)} "
            f"just-written data file(s) of {path} before version "
            f"{version} published (first: {gone[0]}); retry the "
            f"mutation"
        )
    return version


def _m_read(spark: SparkSession, path: str, version: int) -> DataFrame:
    m = _m_load(path, version)
    return _m_apply_deletes(spark, path, _m_entries(path, m), m)


def _m_apply_deletes(
    spark: SparkSession, path: str, entries: list[dict], m: dict
) -> DataFrame:
    """DataFrame over ``entries`` with the manifest's equality-delete
    files applied by the SEQUENCE rule: a delete (seq = the version
    that recorded it) filters only data entries with a SMALLER seq.
    That is what lets a MERGE re-insert a previously deleted key
    without the old tombstone swallowing the new row — rewritten and
    inserted files get the new commit's seq, so no earlier delete can
    touch them (Iceberg's sequence-number semantics).

    Execution shape: entries group by their seq (≤ one group per
    commit since the last compaction); each group anti-joins the
    BROADCAST key files whose seq exceeds it. No shuffle — the scan
    plan stays a union of filtered file reads.

    Explicit leaf-file reads throughout: no partition discovery
    (partition columns are IN the files), explicit schema (absent
    columns — pre-evolution carried files — read as NULL, which is
    exactly Delta/Iceberg schema-on-read evolution)."""
    from pyspark.sql.types import StructType

    if not entries:
        return spark.createDataFrame([], StructType.fromJson(m["schema"]))
    dels = m.get("deletes", [])
    pdels = m.get("pos_deletes", [])
    cols = [f["name"] for f in m["schema"]["fields"]]

    def _read(paths, with_pos=False):
        return _m_open_files(spark, path, paths, m["schema"], with_pos)

    if not dels and not pdels:
        return _read([e["path"] for e in entries])
    groups: dict[int, list[str]] = {}
    for e in entries:
        groups.setdefault(e.get("seq", 0), []).append(e["path"])
    out = None
    for s in sorted(groups):
        # positional DVs first: they anchor to (file basename, row
        # index), so the filter must see the metadata columns before
        # any other operator; same sequence rule as equality deletes
        # (a DV only targets files from OLDER commits)
        pd_here = [d for d in pdels if d["seq"] > s]
        if pd_here:
            df = _read(groups[s], with_pos=True)
            dv = spark.read.parquet(
                *[os.path.join(path, d["path"]) for d in pd_here]
            ).select(
                F.col("fname").alias("__fname"), F.col("pos").alias("__pos")
            )
            df = df.join(
                F.broadcast(dv), ["__fname", "__pos"], "left_anti"
            ).select(*cols)
        else:
            df = _read(groups[s])
        for d in dels:
            if d["seq"] > s:
                kdf = spark.read.parquet(
                    os.path.join(path, d["path"])
                ).select(*d["keys"])
                df = df.join(F.broadcast(kdf), d["keys"], "left_anti")
        out = df if out is None else out.unionByName(df)
    return out


def _m_entry_key(entry: dict, pcols: list[str]) -> tuple:
    return tuple(entry["partition"].get(c) for c in pcols)


def _m_touched_strs(touched_vals: set) -> set[tuple] | None:
    """Canonical string tuples for the touched partition values — or
    None when any value can't round-trip through a ``col=value``
    directory segment (null / path-special), forcing the full rewrite:
    a mismatched spelling would silently CARRY a partition that should
    have been rewritten."""
    out = set()
    for vt in touched_vals:
        parts = []
        for v in vt:
            sv = str(v)
            if v is None or not _SAFE_PART_VAL.match(sv):
                return None
            parts.append(sv)
        out.add(tuple(parts))
    return out


def _m_stats_split(
    entries: list[dict], key: str, umin, umax
) -> tuple[list[dict], list[dict]] | None:
    """FILE-level pruning from MANIFEST stats alone (zero object reads):
    split entries into (carry, rewrite) — an entry whose recorded
    [min, max] on ``key`` cannot intersect [umin, umax] provably holds
    no affected row. None when the bounds are unusable (missing, or not
    comparable to the numeric stats); entries without stats on ``key``
    conservatively rewrite."""
    if umin is None or umax is None:
        return None
    carry: list[dict] = []
    rewrite: list[dict] = []
    try:
        for e in entries:
            st = e.get("stats", {}).get(key)
            if st is not None and (st[1] < umin or st[0] > umax):
                carry.append(e)
            else:
                rewrite.append(e)
    except TypeError:
        return None
    return carry, rewrite


def _m_stats_split_keys(
    entries: list[dict], ranges: dict
) -> tuple[list[dict], list[dict]] | None:
    """COMPOUND-KEY file pruning from manifest stats (r15): a merge
    match equates ALL key columns, so a file provably holds no
    matched row when ANY key's recorded [min, max] misses the update
    set's range for that key — the conjunction of per-key range
    refutations. ``ranges`` maps key → (lo, hi) of the update set;
    keys with NULL bounds or non-comparable stats (string footer
    truncation) simply cannot refute, they never force a rewrite on
    their own. None when no key has usable bounds."""
    usable = {
        k: (lo, hi)
        for k, (lo, hi) in ranges.items()
        if lo is not None and hi is not None
    }
    if not usable:
        return None
    carry: list[dict] = []
    rewrite: list[dict] = []
    for e in entries:
        stats = e.get("stats") or {}
        refuted = False
        for k, (lo, hi) in usable.items():
            st = stats.get(k)
            try:
                if st is not None and (st[1] < lo or st[0] > hi):
                    refuted = True
                    break
            except TypeError:
                continue  # incomparable stats on this key: no verdict
        (carry if refuted else rewrite).append(e)
    return carry, rewrite


# Above this many distinct update-set values per key, the merge
# planner stops probing Blooms: the collect would no longer be
# metadata-sized, and a batch that large is a bulk rewrite, not a
# point update (the same cliff as IN_SUBQUERY_MAX_KEYS for DPP).
BLOOM_PROBE_MAX_KEYS = 10_000


def _m_bloom_probe_values(
    updates: DataFrame, keys: list[str], bloom_cols
) -> dict:
    """Distinct update-set values for each merge key the table keeps
    Bloom filters on — the probe material for :func:`_m_bloom_split`.
    A key whose distinct count exceeds :data:`BLOOM_PROBE_MAX_KEYS`
    is silently skipped (its collect would be data-sized); returns {}
    when nothing is probeable, and the caller skips the pass."""
    out = {}
    for k in keys:
        if not bloom_cols or k not in bloom_cols:
            continue
        rows = (
            updates.select(k)
            .distinct()
            # metadata-sized collect: distinct update-batch keys,
            # hard bounded by BLOOM_PROBE_MAX_KEYS (the cap IS the
            # contract — a bigger batch is a bulk rewrite, pass skips)
            .limit(BLOOM_PROBE_MAX_KEYS + 1)
            .collect()
        )
        if len(rows) > BLOOM_PROBE_MAX_KEYS:
            continue
        out[k] = [r[0] for r in rows]
    return out


def _m_bloom_split(
    entries: list[dict], values_by_col: dict, root: str | None = None
) -> tuple[list[dict], list[dict]]:
    """Bloom file refutation for a MERGE (see :mod:`spype_spark.bloom`):
    a file provably holds no matched row when, for ANY merge key with
    a recorded filter, NONE of the update set's values for that key
    might be in the file (a match equates all keys; Bloom misses are
    proofs of absence). This is the prune that works where
    :func:`_m_stats_split_keys` cannot — hash-shaped keys whose
    per-file [min, max] all span the keyspace. Entries without a
    filter on any probed key conservatively rewrite."""
    carry: list[dict] = []
    rewrite: list[dict] = []
    for e in entries:
        blooms = e.get("bloom") or {}
        refuted = False
        for k, vals in values_by_col.items():
            bf = blooms.get(k)
            if bf is not None and _bloom_all_miss(
                bf, vals, _bloom_bits_for(bf, root)
            ):
                refuted = True
                break
        (carry if refuted else rewrite).append(e)
    return carry, rewrite


def _m_update_key_ranges(updates: DataFrame, keys: list[str]) -> dict:
    """One aggregation: the update set's [min, max] per merge key —
    the metadata-sized driver row compound-key pruning refutes files
    against."""
    aggs = []
    for i, k in enumerate(keys):
        aggs.append(F.min(F.col(k)).alias(f"__lo_{i}"))
        aggs.append(F.max(F.col(k)).alias(f"__hi_{i}"))
    row = updates.agg(*aggs).first()
    return {
        k: (row[f"__lo_{i}"], row[f"__hi_{i}"])
        for i, k in enumerate(keys)
    }


def _m_merge_prune_material(
    updates: DataFrame, keys: list[str], bloom_cols
) -> tuple[dict, dict]:
    """The merge planner's prune inputs — per-key [min, max] ranges
    AND Bloom probe value sets — from as few Spark jobs as possible
    (r15 opt: previously one agg job for ranges plus one collect per
    Bloom key). A key whose distinct values were collected for the
    Bloom probe derives its range from that collect in Python (UTF-8
    byte order equals code-point order, so Python min/max on str
    agrees with Spark's binary string ordering; Bloom material is
    string/integral only); the range aggregation job then runs only
    for the remaining keys — zero extra jobs for an all-Bloom-keyed
    merge."""
    bvals = _m_bloom_probe_values(updates, keys, bloom_cols)
    ranges: dict = {}
    uncovered = [k for k in keys if k not in bvals]
    if uncovered:
        ranges.update(_m_update_key_ranges(updates, uncovered))
    for k, vals in bvals.items():
        nn = [v for v in vals if v is not None]
        ranges[k] = (min(nn), max(nn)) if nn else (None, None)
    return ranges, bvals


# --- predicate algebra over manifest stats ---------------------------------
#
# A tiny explicit predicate spec — nested tuples — that BOTH sides can
# consume: `_pred_column` compiles it to a Catalyst Column (the exact
# row-level residual), `_pred_maybe` evaluates it three-valued against
# one manifest entry's metadata (partition tuple, [min,max] stats, null
# counts) to decide "may this file contain a matching row?". That is
# the general form of every pruning rule above (partition = eq leaf,
# range = between leaf, nulls = isnull leaf) plus the two combinators
# real predicates need: AND prunes when ANY conjunct proves empty, OR
# prunes only when ALL disjuncts do. Leaves without usable metadata
# evaluate "maybe" — correctness over cleverness, as everywhere else.
#
# Spec grammar:
#   ("and", p, ...) | ("or", p, ...)
#   ("eq", col, v) | ("in", col, [v, ...])
#   ("lt"|"le"|"gt"|"ge", col, v) | ("between", col, lo, hi)
#   ("isnull", col) | ("notnull", col)
#   ("in_subquery", col, dim_df)   -- runtime leaf, see _pred_resolve


# Dynamic-pruning key sets above this cardinality stop being
# "metadata-sized"; past it the caller should express the semi-join
# relationally instead of through file pruning (the same cliff where
# Spark's own DPP falls back to a plain join).
IN_SUBQUERY_MAX_KEYS = 100_000


def _pred_resolve(pred):
    """Resolve RUNTIME leaves of a predicate spec before compilation:
    each ``("in_subquery", col, dim_df)`` evaluates its dimension-side
    DataFrame once — a metadata-sized collect of its distinct keys —
    and rewrites to a plain ``("in", col, keys)`` leaf, which the
    existing three-valued file refutation and the exact Column residual
    then consume unchanged. This is dynamic partition pruning at the
    manifest layer (Spark's DPP model): the dim query runs first, its
    key set prunes the fact scan's FILE LIST, and the residual keeps
    row-level semantics exact. NULL keys are dropped from the list —
    ``col IN (subquery)`` can only ever MATCH on non-null equality, so
    under a filter the rewrite is semantics-preserving. A key set
    beyond :data:`IN_SUBQUERY_MAX_KEYS` raises: at that size the
    pruning stopped being metadata-bounded and a relational semi-join
    is the right plan."""
    op = pred[0]
    if op in ("and", "or"):
        return (op, *[_pred_resolve(p) for p in pred[1:]])
    if op == "in_subquery":
        col, dim = pred[1], pred[2]
        if len(dim.columns) != 1:
            raise ValueError(
                f"in_subquery dimension frame must have exactly one "
                f"column, got {dim.columns}"
            )
        # metadata-sized collect: the dim side's distinct key set,
        # bounded by IN_SUBQUERY_MAX_KEYS, never by the fact table
        rows = dim.distinct().limit(IN_SUBQUERY_MAX_KEYS + 1).collect()
        if len(rows) > IN_SUBQUERY_MAX_KEYS:
            raise ValueError(
                f"in_subquery key set exceeds {IN_SUBQUERY_MAX_KEYS} "
                f"distinct values; use a relational semi-join instead"
            )
        vals = sorted(r[0] for r in rows if r[0] is not None)
        return ("in", col, vals)
    return pred


def _pred_column(pred) -> "F.Column":
    """Compile a predicate spec to the equivalent Catalyst Column —
    the row-exact residual applied after file pruning."""
    op = pred[0]
    if op in ("and", "or"):
        cols = [_pred_column(p) for p in pred[1:]]
        out = cols[0]
        for c in cols[1:]:
            out = (out & c) if op == "and" else (out | c)
        return out
    col = F.col(pred[1])
    if op == "eq":
        return col == F.lit(pred[2])
    if op == "in":
        return col.isin(list(pred[2]))
    if op == "lt":
        return col < F.lit(pred[2])
    if op == "le":
        return col <= F.lit(pred[2])
    if op == "gt":
        return col > F.lit(pred[2])
    if op == "ge":
        return col >= F.lit(pred[2])
    if op == "between":
        return col.between(F.lit(pred[2]), F.lit(pred[3]))
    if op == "isnull":
        return col.isNull()
    if op == "notnull":
        return col.isNotNull()
    raise ValueError(f"unknown predicate op {op!r}")


def _pred_cols(pred) -> set[str]:
    """Column names a predicate spec references."""
    op = pred[0]
    if op in ("and", "or"):
        out = set()
        for p in pred[1:]:
            out |= _pred_cols(p)
        return out
    return {pred[1]}


def _pred_rename(pred, renames: dict):
    """Rekey a predicate spec's column references (rename support;
    specs stored in manifests are JSON lists, so output is lists)."""
    op = pred[0]
    if op in ("and", "or"):
        return [op, *[_pred_rename(p, renames) for p in pred[1:]]]
    return [op, renames.get(pred[1], pred[1]), *pred[2:]]


def _enforce_constraints(df: DataFrame, constraints: dict | None) -> None:
    """Reject rows for which any CHECK constraint evaluates FALSE —
    SQL CHECK semantics (TRUE and UNKNOWN both satisfy). One Spark
    job over the rows being written, only when the table HAS
    constraints — the same per-commit cost Delta pays for its CHECK
    and NOT NULL invariants. Runs BEFORE any file is written."""
    if not constraints:
        return
    viol = None
    for spec in constraints.values():
        v = ~F.coalesce(_pred_column(spec), F.lit(True))
        viol = v if viol is None else (viol | v)
    if df.filter(viol).limit(1).count() == 0:
        return
    broken = [
        name
        for name, spec in constraints.items()
        if df.filter(~F.coalesce(_pred_column(spec), F.lit(True)))
        .limit(1)
        .count()
        > 0
    ]
    raise ConstraintViolation(
        f"rows violate CHECK constraint(s) {sorted(broken)}; "
        f"no data was written"
    )


def _pred_compile(pred, pcols: list[str] | None, root: str | None = None):
    """Compile a predicate spec ONCE into a closure over entries —
    semantics identical to :func:`_pred_maybe` (which delegates here),
    but the tuple walk, partition-value canonicalization, and leaf
    dispatch happen at compile time instead of per entry: measured
    9.8 s → 4.4 s for a 7-leaf predicate over 10⁶ entries (the rest
    is per-entry dict access — inherent in Python; the next lever is
    evaluating partition-decidable conjuncts once per part-slab GROUP
    instead of per file, which drops the inner loop to the surviving
    groups)."""
    op = pred[0]
    if op in ("and", "or"):
        subs = [_pred_compile(p, pcols, root) for p in pred[1:]]
        if op == "and":
            return lambda e: all(s(e) for s in subs)
        return lambda e: any(s(e) for s in subs)
    col = pred[1]
    if op == "isnull":
        def _isnull(e):
            nc = e.get("nulls", {}).get(col)
            return True if nc is None else nc > 0
        return _isnull
    if op == "notnull":
        def _notnull(e):
            nc = e.get("nulls", {}).get(col)
            rows = e.get("rows")
            return True if nc is None or rows is None else nc < rows
        return _notnull
    # comparison leaves: precompute the partition canonicalization
    part_leaf = bool(op in ("eq", "in") and pcols and col in pcols)
    part_svals = None
    part_norms = None
    if part_leaf:
        vals = pred[2] if op == "in" else [pred[2]]
        svals = set()
        usable = True
        for v in vals:
            sv = str(v)
            if v is None or not _SAFE_PART_VAL.match(sv):
                usable = False
                break
            svals.add(sv)
        if usable:
            part_svals = svals
            part_norms = {_norm_part_val(s) for s in svals}

    def _leaf(e):
        nulls = e.get("nulls", {})
        rows = e.get("rows")
        if nulls.get(col) is not None and rows is not None \
                and nulls[col] == rows:
            return False
        if part_leaf:
            rec = e["partition"].get(col)
            if rec is not None:
                if part_svals is None:
                    return True  # can't canonicalize — keep
                if rec in part_svals:
                    return True
                return _norm_part_val(rec) in part_norms
        if op in ("eq", "in"):
            # Bloom refutation for equality leaves — identical rule
            # to _pred_maybe_uncompiled (differential-tested)
            bf = e.get("bloom", {}).get(col)
            if bf is not None:
                vals = pred[2] if op == "in" else [pred[2]]
                if _bloom_all_miss(bf, vals, _bloom_bits_for(bf, root)):
                    return False
        st = e.get("stats", {}).get(col)
        if st is None:
            return True
        lo, hi = st
        try:
            if op == "eq":
                return lo <= pred[2] <= hi
            if op == "in":
                return any(lo <= v <= hi for v in pred[2])
            if op == "lt":
                return lo < pred[2]
            if op == "le":
                return lo <= pred[2]
            if op == "gt":
                return hi > pred[2]
            if op == "ge":
                return hi >= pred[2]
            if op == "between":
                return not (hi < pred[2] or lo > pred[3])
        except TypeError:
            return True  # incomparable literal vs recorded stats — keep
        raise ValueError(f"unknown predicate op {op!r}")

    if op not in ("eq", "in", "lt", "le", "gt", "ge", "between"):
        raise ValueError(f"unknown predicate op {op!r}")
    return _leaf


def _pred_maybe(
    entry: dict, pred, pcols: list[str] | None, root: str | None = None
) -> bool:
    """Three-valued predicate evaluation against ONE manifest entry's
    metadata: False = the file provably holds no matching row (prune
    it), True = it may (keep it). Sound by construction: every leaf
    returns True unless the recorded metadata REFUTES it. One-shot
    convenience over :func:`_pred_compile` — loops over many entries
    should compile once. ``root`` resolves sidecar-backed Bloom
    filters (without it they give no verdict)."""
    return _pred_compile(pred, pcols, root)(entry)


def _pred_maybe_uncompiled(entry: dict, pred, pcols, root=None) -> bool:
    """Reference implementation retained for the differential test
    (tests/test_lakehouse.py::test_pred_compile_matches_reference)."""
    op = pred[0]
    if op == "and":
        return all(
            _pred_maybe_uncompiled(entry, p, pcols, root)
            for p in pred[1:]
        )
    if op == "or":
        return any(
            _pred_maybe_uncompiled(entry, p, pcols, root)
            for p in pred[1:]
        )
    col = pred[1]
    nulls = entry.get("nulls", {})
    rows = entry.get("rows")
    if op == "isnull":
        nc = nulls.get(col)
        return True if nc is None else nc > 0
    if op == "notnull":
        nc = nulls.get(col)
        return True if nc is None or rows is None else nc < rows
    # comparison leaves can never match a NULL, so a file that is
    # all-NULL on the column is prunable even without min/max stats
    if nulls.get(col) is not None and rows is not None \
            and nulls[col] == rows:
        return False
    if op in ("eq", "in") and pcols and col in pcols:
        rec = entry["partition"].get(col)
        if rec is not None:
            vals = pred[2] if op == "in" else [pred[2]]
            svals = set()
            for v in vals:
                sv = str(v)
                if v is None or not _SAFE_PART_VAL.match(sv):
                    return True  # can't canonicalize — keep
                svals.add(sv)
            if rec in svals:
                return True
            # '1' vs '001'-style spelling ambiguity → keep (same
            # discipline as the COW planners)
            recn = _norm_part_val(rec)
            return any(_norm_part_val(s) == recn for s in svals)
    # Bloom refutation for equality leaves (see spype_spark.bloom):
    # a membership MISS is a proof of absence — the prune material
    # for hash-shaped keys whose [min, max] spans the keyspace. A
    # hit falls through to the range test (both must keep the file).
    if op in ("eq", "in"):
        bf = entry.get("bloom", {}).get(col)
        if bf is not None:
            vals = pred[2] if op == "in" else [pred[2]]
            # NULL literals never MATCH an equality, so the verdict
            # rests on the non-null values alone (bloom_all_miss
            # skips NULLs and demands at least one real probe)
            if _bloom_all_miss(bf, vals, _bloom_bits_for(bf, root)):
                return False
    st = entry.get("stats", {}).get(col)
    if st is None:
        return True
    lo, hi = st
    try:
        if op == "eq":
            return lo <= pred[2] <= hi
        if op == "in":
            return any(lo <= v <= hi for v in pred[2])
        if op == "lt":
            return lo < pred[2]
        if op == "le":
            return lo <= pred[2]
        if op == "gt":
            return hi > pred[2]
        if op == "ge":
            return hi >= pred[2]
        if op == "between":
            return not (hi < pred[2] or lo > pred[3])
    except TypeError:
        return True  # incomparable literal vs recorded stats — keep
    raise ValueError(f"unknown predicate op {op!r}")


def _m_cow_entries(
    entries: list[dict], pcols: list[str], touched_vals: set
) -> tuple[list[dict], list[dict]] | None:
    """Partition-level COW plan from the manifest: split the base
    entries into (carry, touched) by partition tuple — or None when a
    touched value can't round-trip / normalizes ambiguously against a
    differently spelled recorded tuple ('1' vs '001', '1' vs '1.0',
    'True' vs 'true'): the string match can no longer prove which
    files hold the rows, so nothing carries (full rewrite)."""
    tstrs = _m_touched_strs(touched_vals)
    if tstrs is None:
        return None
    entry_keys = {_m_entry_key(e, pcols) for e in entries}
    # entries that don't RECORD a partition value for some pcol (files
    # written under an earlier partition spec) can never match a
    # touched tuple — and carrying them is sound: had any matched row
    # lived in such a file, the touched set would have read that
    # file's hidden value as NULL and _m_touched_strs already forced
    # the full rewrite
    norm = {
        tuple(_norm_part_val(s) for s in k): k
        for k in entry_keys
        if None not in k
    }
    for t in tstrs:
        if t in entry_keys:
            continue
        if norm.get(tuple(_norm_part_val(s) for s in t)) is not None:
            return None  # '1' vs '001'-style spelling clash
    carry = [e for e in entries if _m_entry_key(e, pcols) not in tstrs]
    touched = [e for e in entries if _m_entry_key(e, pcols) in tstrs]
    return carry, touched


def _m_merge_plan(
    spark: SparkSession,
    path: str,
    base: int,
    updates: DataFrame,
    keys: list[str],
    evolve_schema: bool = False,
    match_condition=None,
    clauses: dict | None = None,
) -> tuple[DataFrame, list[dict], list[str] | None]:
    """Plan a manifest MERGE against an EXPLICIT base version — the
    shared engine behind :func:`merge_upsert` (base = table latest)
    and :class:`spype_spark.catalog.Transaction` (base = the version
    the catalog's snapshot resolves, which may be older than the
    table directory's newest slot). Returns
    ``(merged_df, carry_entries, pcols)`` for the caller to commit."""
    m = _m_load(path, base)
    pcols = m.get("partition_by")
    # tgt is built LAZILY (r15 opt): the pruned paths below replace it
    # with the rewrite-entry subset, so constructing the full-table
    # DataFrame up front paid one multi-file open (a driver listing
    # RPC, or a listing job past the discovery threshold) for nothing
    tgt: DataFrame | None = None
    carry: list[dict] | None = None
    tf = m.get("transforms")
    if tf:
        # hidden partitioning: derive the hidden columns on the update
        # set so the touched-partition matcher (and the merged frame's
        # schema) see them; a source lacking the transform's source
        # column (keys-only clause merge) just skips pruning below
        try:
            updates = _apply_transforms(updates, tf)
        except ValueError:
            pass
    # a NOT MATCHED BY SOURCE clause must examine EVERY target row, so
    # no file can be carried — skip pruning entirely (see merge());
    # clause merges whose source lacks the partition columns (legal for
    # delete-only merges) also fall back to the full rewrite
    prunable = pcols and not evolve_schema
    if clauses is not None:
        prunable = (
            prunable
            and clauses["when_not_matched_by_source"] is None
            and all(c in updates.columns for c in pcols)
        )
    if prunable:
        missing = [c for c in pcols if c not in updates.columns]
        if missing:
            raise ValueError(
                f"updates must carry partition column(s) {missing}"
            )
        tgt = _m_read(spark, path, base)
        # metadata-sized collect: distinct partition values of the
        # update set ∪ partitions holding matched keys (an update may
        # move a row across partitions — both sides rewrite)
        touched = {
            tuple(r) for r in updates.select(*pcols).distinct().collect()
        } | {
            tuple(r)
            # metadata-sized collect: partitions holding matched keys
            for r in tgt.join(updates.select(*keys), keys, "left_semi")
            .select(*pcols)
            .distinct()
            .collect()
        }
        plan = _m_cow_entries(_m_entries(path, m), pcols, touched)
        if plan is not None:
            carry, touched_entries = plan
            rewrite_entries = touched_entries
            # file-level refinement INSIDE touched partitions:
            # compound keys prune on the conjunction of per-key
            # ranges (ANY key's range refuting a file refutes the
            # match — r15, was single-key only); ranges and Bloom
            # probe values come from one fused job set (r15 opt)
            ranges, bvals = _m_merge_prune_material(
                updates, keys, m.get("bloom_keys")
            )
            split = _m_stats_split_keys(touched_entries, ranges)
            if split is not None:
                links, rewrite_entries = split
                carry = carry + links
            # Bloom refinement on whatever ranges couldn't refute —
            # the live prune for hash-shaped keys (r15)
            if bvals:
                links, rewrite_entries = _m_bloom_split(
                    rewrite_entries, bvals, root=path
                )
                carry = carry + links
            tgt = _m_apply_deletes(spark, path, rewrite_entries, m)
    elif (
        not pcols
        and not evolve_schema
        and (
            clauses is None
            or clauses["when_not_matched_by_source"] is None
        )
    ):
        # UNPARTITIONED stats pruning (round 14; compound keys r15):
        # files whose recorded [min, max] on ANY merge key cannot
        # intersect the update set's range for that key provably hold
        # no matched row (a match equates ALL keys) — carry them by
        # entry reference instead of rewriting the whole table. On a
        # range-clustered (or z-ordered) layout a key-local MERGE
        # rewrites only the covering files, the same O(touched) cost
        # class the partitioned path gets from its partition tuples;
        # hash-distributed layouts degrade gracefully to the full
        # rewrite (every file's range intersects). Conditional
        # WHEN MATCHED merges prune identically — the condition only
        # narrows which matched rows update, never widens the matched
        # file set. evolve_schema forces the full rewrite (carried
        # files would lack the new columns) and a NOT MATCHED BY
        # SOURCE clause must see every target row — both keep the old
        # path.
        entries_all = _m_entries(path, m)
        ranges, bvals = _m_merge_prune_material(
            updates, keys, m.get("bloom_keys")
        )
        split = _m_stats_split_keys(entries_all, ranges)
        carry0, rewrite_entries = (
            split if split is not None else ([], entries_all)
        )
        # Bloom refinement (r15): runs even when ranges refuted
        # NOTHING — on a hash-distributed key layout every file's
        # [min, max] intersects and stats pruning is structurally
        # blind; the per-file filters are the only possible prune
        if bvals:
            links, rewrite_entries = _m_bloom_split(
                rewrite_entries, bvals, root=path
            )
            carry0 = carry0 + links
        if carry0:
            carry = carry0
            tgt = _m_apply_deletes(spark, path, rewrite_entries, m)
    if tgt is None:
        tgt = _m_read(spark, path, base)
    if clauses is not None:
        merged = _merged_frame_full(tgt, updates, keys, **clauses)
    else:
        merged = _merged_frame(
            tgt, updates, keys, evolve_schema, match_condition
        )
    return merged, carry or [], pcols, m.get("deletes", [])


def _m_delete_plan(
    spark: SparkSession, path: str, base: int, cond
) -> tuple[DataFrame, list[dict], list[str] | None]:
    """Plan a manifest DELETE WHERE against an explicit base version
    (see :func:`_m_merge_plan` for why the split exists)."""
    m = _m_load(path, base)
    pcols = m.get("partition_by")
    tgt = _m_read(spark, path, base)
    hit = F.coalesce(cond, F.lit(False))
    keep = ~hit
    if pcols:
        touched = {
            tuple(r)
            # metadata-sized collect: partitions containing deleted rows
            for r in tgt.filter(hit).select(*pcols).distinct().collect()
        }
        plan = _m_cow_entries(_m_entries(path, m), pcols, touched)
        if plan is not None:
            carry, touched_entries = plan
            if not touched_entries:
                # no partition holds a deleted row: carry-only commit,
                # no write job (r15 opt)
                return None, carry, pcols, m.get("deletes", [])
            rew = _m_apply_deletes(
                spark, path, touched_entries, m
            ).filter(keep)
            return rew, carry, pcols, m.get("deletes", [])
    return tgt.filter(keep), [], pcols, m.get("deletes", [])


def _m_range_plan(
    spark: SparkSession, path: str, base: int, col: str, lo, hi
) -> tuple[DataFrame, list[dict], list[str] | None]:
    """Plan a manifest range DELETE against an explicit base version
    (see :func:`_m_merge_plan` for why the split exists). Falls back
    to the general predicate plan when stats are unusable."""
    m = _m_load(path, base)
    pcols = m.get("partition_by")
    between = F.col(col).between(F.lit(lo), F.lit(hi))
    split = _m_stats_split(_m_entries(path, m), col, lo, hi)
    if split is None:
        return _m_delete_plan(spark, path, base, between)
    carry, rewrite_entries = split
    if not rewrite_entries:
        # every file's range refutes the interval: carry-only commit,
        # no write job (r15 opt)
        return None, carry, pcols, m.get("deletes", [])
    keep = ~F.coalesce(between, F.lit(False))
    rew = _m_apply_deletes(spark, path, rewrite_entries, m).filter(
        keep
    )
    return rew, carry, pcols, m.get("deletes", [])


def _m_vacuum(
    path: str, keep_last: int, grace_seconds: float = None
) -> list[int]:
    """Retention: unlink the dropped version manifests, then
    garbage-collect data files no SURVIVING manifest references —
    reference counting by PATH (the object-store notion), not by
    inode. The reference listing re-reads the manifest directory
    after the drops, so a version committed concurrently with the
    vacuum keeps its files."""
    vs = _m_versions(path)
    drop = vs[:-keep_last]
    for v in drop:
        try:
            os.unlink(_m_path(path, v))
        except FileNotFoundError:
            pass
    _m_gc_files(path, grace_seconds=grace_seconds)
    return drop


def _is_branch_root(path: str) -> bool:
    return os.path.basename(
        os.path.dirname(os.path.abspath(path))
    ) == "_branches"


def _branch_dirs(path: str) -> list[str]:
    """Every directory under ``<path>/_branches`` that looks like a
    branch root (has manifests OR a ref record) — deliberately wider
    than :func:`list_branches` so GC still sees half-dropped or
    half-created branches."""
    bdir = os.path.join(path, "_branches")
    if not os.path.isdir(bdir):
        return []
    out = []
    for n in sorted(os.listdir(bdir)):
        b = os.path.join(bdir, n)
        if os.path.isdir(b):
            out.append(b)
    return out


def _clone_roots(path: str) -> list[str]:
    """Manifest roots of every REGISTERED shallow clone of ``path``
    that still exists on disk (see :func:`clone_table`): their
    manifests reference this table's data files by absolute path, so
    this table's GC must refcount them. A clone directory the user
    deleted is skipped (and its stale marker removed — markers are
    advisory refcount hints, not state)."""
    cdir = os.path.join(path, "_clones")
    if not os.path.isdir(cdir):
        return []
    out = []
    for n in sorted(os.listdir(cdir)):
        mp = os.path.join(cdir, n)
        if not n.endswith(".json"):
            continue
        try:
            with open(mp) as f:
                dst = json.load(f)["path"]
        except (OSError, ValueError, KeyError):
            continue
        if _is_manifest_table(dst):
            out.append(os.path.abspath(dst))
        else:
            try:
                os.unlink(mp)  # dropped clone — retire the marker
            except FileNotFoundError:
                pass
    return out


def _gc_ref_roots(path: str) -> list[str]:
    """Every manifest root whose live manifests can reference data
    files reachable from ``path``'s GC walk: the owning table, all its
    branches, its registered shallow clones (and THEIR branches), and —
    when ``path`` IS a branch — the parent table and sibling branches
    (a PUBLISHED branch's files are referenced from the parent's
    manifests, so a branch-local vacuum must not collect them)."""
    root = os.path.abspath(path)
    if _is_branch_root(root):
        root = os.path.dirname(os.path.dirname(root))
    # clones are followed TRANSITIVELY (clone-of-clone repaths the
    # grandparent's files absolutely, so a grandclone pins them without
    # being registered in the grandparent) — BFS with a seen-set; a
    # clone OF A BRANCH registers under <branch>/_clones, so branch
    # dirs expand their clone registries too
    out, queue, seen = [], [root], set()
    while queue:
        r = queue.pop()
        if r in seen:
            continue
        seen.add(r)
        out.append(r)
        queue.extend(_clone_roots(r))
        for b in _branch_dirs(r):
            out.append(b)
            queue.extend(_clone_roots(b))
    return out


def _m_gc_files(path: str, grace_seconds: float = None) -> None:
    """Garbage-collect data files AND manifest part slabs referenced by
    NO surviving manifest of a manifest table (path-refcount GC, shared
    by table vacuum and :meth:`spype_spark.catalog.Catalog.vacuum`).
    Reference counting is by ABSOLUTE path across the whole branch
    family (table + branches): a file survives while any live manifest
    anywhere in the family names it — which is what keeps parent data
    alive under forked branches and branch data alive after a publish.

    ``grace_seconds`` (default :data:`DEFAULT_GC_GRACE_SECONDS`) is the
    retention grace window the Delta/Iceberg model requires: a file
    younger than the window is SKIPPED even when unreferenced, because
    "unreferenced" cannot be distinguished from "written by an
    in-flight commit whose manifest is not yet published" — collecting
    it would let that commit publish a manifest naming deleted files, a
    silently corrupted head. ``grace_seconds=0`` restores immediate
    reclamation (Delta's ``VACUUM RETAIN 0``): single-writer callers
    may use it safely; under concurrent writers it reintroduces the
    documented race, narrowed (not closed) by the commit-side
    post-publish existence check in :func:`_m_commit`."""
    if grace_seconds is None:
        grace_seconds = DEFAULT_GC_GRACE_SECONDS
    young_floor = time.time() - grace_seconds
    referenced: set[str] = set()
    for r in _gc_ref_roots(path):
        for v in _m_versions(r):
            try:
                m = _m_load(r, v)
            except FileNotFoundError:
                continue
            for e in _m_entries(r, m):
                referenced.add(os.path.abspath(os.path.join(r, e["path"])))
            for d in m.get("deletes", []) + m.get("pos_deletes", []):
                referenced.add(os.path.abspath(os.path.join(r, d["path"])))
    ref_parts: set[str] = set()
    for v in _m_versions(path):
        try:
            ref_parts |= set(_m_load(path, v).get("parts", []))
        except FileNotFoundError:
            continue
    def _old_enough(fp: str) -> bool:
        try:
            return os.path.getmtime(fp) <= young_floor
        except OSError:
            return False  # vanished under us — nothing to collect

    mdir = os.path.join(path, "_manifests")
    if os.path.isdir(mdir):
        for n in os.listdir(mdir):
            slab = os.path.join(mdir, n)
            if (
                n.startswith("part-")
                and n not in ref_parts
                and _old_enough(slab)
            ):
                try:
                    os.unlink(slab)
                except FileNotFoundError:
                    pass
    walk_roots = [os.path.abspath(path)]
    if not _is_branch_root(path):
        walk_roots += [os.path.abspath(b) for b in _branch_dirs(path)]
    for wroot in walk_roots:
        datadir = os.path.join(wroot, "data")
        if not os.path.isdir(datadir):
            continue
        for root, _dirs, files in os.walk(datadir, topdown=False):
            for fn in files:
                fp = os.path.abspath(os.path.join(root, fn))
                if (
                    fn.endswith(".parquet")
                    and fp not in referenced
                    and _old_enough(fp)
                ):
                    os.unlink(fp)
            remaining = os.listdir(root)
            # a commit dir whose every data file was collected keeps
            # only write-plumbing markers (_SUCCESS) — drop it whole
            if all(not n.endswith(".parquet") for n in remaining) and not any(
                os.path.isdir(os.path.join(root, n)) for n in remaining
            ):
                if root != datadir:
                    shutil.rmtree(root, ignore_errors=True)


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp: float | None = None,
) -> DataFrame:
    """Read a snapshot; ``version=None`` → latest, else time travel.
    ``timestamp`` is timestamp-based time travel (Delta's ``TIMESTAMP
    AS OF``): the snapshot current at that wall-clock instant, resolved
    via :func:`version_at` from commit-object modification times;
    mutually exclusive with ``version``.

    The read uses the version's manifest schema as the explicit source
    schema: partition-discovery type inference is bypassed, so
    partition values keep their declared types (string '001' stays
    '001' instead of becoming int 1, booleans stay boolean)."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at(path, timestamp)
    v = latest_version(path) if version is None else version
    df = _m_read(spark, path, v)
    tf = _m_load(path, v).get("transforms")
    if tf:  # hidden partition columns never reach a reader
        df = df.drop(*[t["name"] for t in tf])
    return df


def scan_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    partitions: dict | None = None,
    ranges: dict | None = None,
    nulls: dict | None = None,
    where=None,
    since: int | None = None,
) -> DataFrame:
    """Manifest-pruned snapshot scan — the READER-side counterpart of
    the mutation planner's metadata pruning, and the way a 100 TB scan
    should start: the file list is cut down from manifest metadata
    alone (zero object listings, zero footer reads), then Spark reads
    only the surviving files with the matching row filter applied on
    top (pruning is file-granular; the residual filter keeps row-level
    semantics exact, so the result ALWAYS equals
    ``read_table(...).filter(...)``).

    ``partitions``: ``{col: value_or_list}`` — keep only files whose
    recorded partition tuple matches (canonical-string compare, the
    same discipline as the COW planner; unsafe values disable pruning
    for that column rather than guess). ``ranges``: ``{col: (lo, hi)}``
    — keep only files whose manifest [min, max] can intersect
    [lo, hi]; files without stats on the column are conservatively
    kept. ``nulls``: ``{col: True_or_False}`` — ``True`` means the
    predicate ``col IS NULL`` (keep only files whose recorded null
    count is nonzero), ``False`` means ``col IS NOT NULL`` (keep only
    files with a null count below their row count); files without a
    recorded null count are conservatively kept. ``where``: a
    PREDICATE SPEC (see the predicate-algebra grammar above
    :func:`_pred_column`) — arbitrary AND/OR nests of comparisons,
    IN, BETWEEN and IS [NOT] NULL leaves, pruned three-valued against
    each file's metadata (AND prunes when any conjunct refutes, OR
    only when all disjuncts do) with the compiled Column as the exact
    residual. An ``("in_subquery", col, dim_df)`` leaf runs the
    dimension query FIRST and prunes the fact file list by its
    distinct key set — manifest-layer dynamic partition pruning (see
    :func:`_pred_resolve`). ``since``: INCREMENTAL scan — keep only files whose
    commit sequence exceeds that version, i.e. files added after a
    consumer's checkpoint: for an append-only table this reads exactly
    the new rows at O(new files) cost (Iceberg's incremental append
    scan; the manifest-metadata dual of :func:`changes`, which handles
    updates/deletes too by diffing snapshots). A REWRITTEN file's rows
    all carry the rewriting commit's seq, so a consumer of a table
    that also merges/deletes should use :func:`changes` instead —
    ``since`` is the appends fast path. All knobs compose as a
    conjunction."""
    v = latest_version(path) if version is None else version
    if where is not None:
        where = _pred_resolve(where)  # runtime (subquery) leaves → IN

    def _residual(df: DataFrame) -> DataFrame:
        for c, vals in (partitions or {}).items():
            vlist = vals if isinstance(vals, (list, tuple, set)) else [vals]
            df = df.filter(F.col(c).isin(list(vlist)))
        for c, (lo, hi) in (ranges or {}).items():
            df = df.filter(F.col(c).between(F.lit(lo), F.lit(hi)))
        for c, want_null in (nulls or {}).items():
            df = df.filter(
                F.col(c).isNull() if want_null else F.col(c).isNotNull()
            )
        if where is not None:
            df = df.filter(_pred_column(where))
        return df

    m = _m_load(path, v)
    maybe = (
        _pred_compile(where, m.get("partition_by"), root=path)
        if where is not None
        else None
    )
    # slab-granular pruning first: refuted part slabs are never opened
    entries = _m_scan_entries(
        path, m, partitions, ranges, nulls, maybe, since,
        spark=spark, where=where,
    )
    for c, vals in (partitions or {}).items():
        vlist = vals if isinstance(vals, (list, tuple, set)) else [vals]
        svals = set()
        usable = True
        for val in vlist:
            sv = str(val)
            if val is None or not _SAFE_PART_VAL.match(sv):
                usable = False  # can't canonicalize — keep all files
                break
            svals.add(sv)
        if usable:
            # Same ambiguity fallback as the eq/in leaf in
            # _pred_compile: a recorded '001' must survive a request
            # for 1, because the residual isin([1]) matches it after
            # Spark's implicit cast — exact-string-only pruning here
            # would break the scan_table ≡ read_table().filter()
            # guarantee.
            norms = {_norm_part_val(s) for s in svals}
            entries = [
                e
                for e in entries
                if e["partition"].get(c) is None  # not a partition col
                or e["partition"][c] in svals
                or _norm_part_val(e["partition"][c]) in norms
            ]
    for c, (lo, hi) in (ranges or {}).items():
        split = _m_stats_split(entries, c, lo, hi)
        if split is not None:
            _skippable, entries = split
    for c, want_null in (nulls or {}).items():
        kept = []
        for e in entries:
            nc = e.get("nulls", {}).get(c)
            if nc is None:  # pre-null-stats manifest — keep
                kept.append(e)
            elif want_null:
                if nc > 0:
                    kept.append(e)
            elif nc < e["rows"]:
                kept.append(e)
        entries = kept
    if maybe is not None:
        entries = [e for e in entries if maybe(e)]
    tf = m.get("transforms")
    if tf:
        # hidden-partition pruning: user predicates on the transform
        # SOURCE columns cut the file list via recorded hidden values
        entries = _transform_prune_entries(
            spark, entries, tf, partitions, ranges, where
        )
    if since is not None:
        entries = [e for e in entries if e.get("seq", 0) > since]
    out = _m_apply_deletes(spark, path, entries, m)
    if tf:
        out = out.drop(*[t["name"] for t in tf])
    return _residual(out)


# Type transitions schema evolution may take, old → new: the safe
# widenings whose Parquet up-cast is exact (Delta 3.x's type-widening
# set minus the lossy long→double). Carried pre-widen data files are
# then readable through the WIDENED snapshot schema — Spark 4's
# vectorized Parquet reader up-casts INT32→long, FLOAT→double, etc. at
# scan time (verified in tests/test_lakehouse.py) — so a widen is a
# pure metadata commit: zero files rewritten.
_WIDEN_OK = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("tinyint", "double"),
    ("smallint", "int"), ("smallint", "bigint"), ("smallint", "double"),
    ("int", "bigint"), ("int", "double"),
    ("float", "double"),
}


def _check_widen(old_schema, new_schema) -> None:
    """Reject schema evolution whose common-column type transitions are
    not SAFE WIDENINGS (see :data:`_WIDEN_OK`): a narrowing or lossy
    transition would make carried old files unreadable (Parquet's
    up-cast only goes wider) or silently lose precision."""
    old_t = {f.name: f.dataType.simpleString() for f in old_schema.fields}
    for f in new_schema.fields:
        o = old_t.get(f.name)
        n = f.dataType.simpleString()
        if o is None or o == n or (o, n) in _WIDEN_OK:
            continue
        raise ValueError(
            f"illegal type change for column {f.name!r}: {o} -> {n}; "
            f"schema evolution only widens (int->long, float->double, "
            f"...) — narrowing or lossy transitions would break reads "
            f"of carried data files"
        )


def widen_types(spark: SparkSession, path: str, types: dict) -> int:
    """ALTER TABLE ... TYPE as a PURE METADATA commit (Delta 3.x type
    widening): publish a new manifest whose schema carries the widened
    column types and whose file list is the base's entries BY
    REFERENCE — zero data files read or rewritten. Readers of the new
    snapshot get the widened types because Spark's Parquet scan
    up-casts the carried files' narrower physical types at read time;
    time travel to pre-widen versions still uses their own recorded
    schema. Only the exact transitions in :data:`_WIDEN_OK` are legal
    (``{"col": "bigint", ...}``; aliases ``long``/``short`` accepted);
    anything else — unknown column, narrowing, lossy — raises
    ``ValueError``. Returns the new version."""
    # StructType JSON names vs DDL/simpleString names for the atomic
    # types widening can involve
    json_to_simple = {
        "integer": "int", "long": "bigint", "short": "smallint",
        "byte": "tinyint", "float": "float", "double": "double",
    }
    simple_to_json = {v: k for k, v in json_to_simple.items()}
    alias = {"long": "bigint", "short": "smallint", "byte": "tinyint",
             "integer": "int"}
    base = latest_version(path)
    m = _m_load(path, base)
    # widening a BUCKET transform's source would split the table
    # across two hash domains (xxhash64 hashes by physical type):
    # pre-widen files' recorded buckets came from the narrow type,
    # post-widen writes would hash the wide one, and scan-time probes
    # could then wrongly prune files — reject instead of corrupting
    bucket_srcs = {
        t["source"]
        for t in m.get("transforms") or []
        if t["transform"] == "bucket"
    } & set(types)
    if bucket_srcs:
        raise ValueError(
            f"{sorted(bucket_srcs)} are bucket-transform sources; "
            "widening would change their hash domain (repartition the "
            "table instead)"
        )
    fields = {f["name"]: f for f in m["schema"]["fields"]}
    unknown = [c for c in types if c not in fields]
    if unknown:
        raise ValueError(f"widen of unknown column(s) {sorted(unknown)}")
    new_fields = []
    for f in m["schema"]["fields"]:
        if f["name"] in types:
            old_s = json_to_simple.get(f["type"], f["type"])
            new_s = alias.get(types[f["name"]], types[f["name"]])
            if old_s != new_s and (old_s, new_s) not in _WIDEN_OK:
                raise ValueError(
                    f"illegal type change for column {f['name']!r}: "
                    f"{old_s} -> {new_s}; only safe widenings allowed"
                )
            if new_s not in simple_to_json:
                raise ValueError(f"unsupported widen target {new_s!r}")
            new_fields.append({**f, "type": simple_to_json[new_s]})
        else:
            new_fields.append(f)
    schema_json = {**m["schema"], "fields": new_fields}
    return _m_commit(
        None,
        path,
        base + 1,
        m.get("partition_by"),
        _m_entries(path, m),
        base=base,
        schema_json=schema_json,
        deletes=m.get("deletes", []),
        op={"name": "WIDEN_TYPES", "dataChange": False},
    )


def set_partition_spec(spark: SparkSession, path: str, partition_by) -> int:
    """PARTITION SPEC EVOLUTION as a PURE METADATA commit (Iceberg's
    partition evolution): the table's ACTIVE spec changes for all
    future writes; every existing file carries by reference and keeps
    pruning under the spec IT WAS WRITTEN WITH. Zero data read or
    rewritten — the first time a table outgrows daily partitioning,
    switching to hourly (or adding a bucket) must not cost a 100 TB
    rewrite.

    Mechanics: the old spec's transform records stay in the manifest
    flagged ``retired`` — scan-time predicate translation
    (:func:`_transform_prune_entries`) prunes each entry by whatever
    hidden values it RECORDS, so old-era files prune under the retired
    transforms and new-era files under the active ones; an entry never
    names a transform it wasn't written under and is conservatively
    kept there. New hidden columns join the schema immediately
    (schema-on-read NULL for old files — which also poisons the COW
    planners' touched-partition sets with NULLs, correctly forcing
    mixed-era mutations to the full-rewrite path; the rewrite then
    re-derives everything under the ACTIVE spec, Iceberg's own
    migration behavior). Re-activating a retired transform (same
    kind/param/source) simply un-retires it. Identity partition
    columns must exist in the schema; ``truncate`` sources must be
    integer/string (checked against the RECORDED schema type). Returns
    the new version."""
    base = latest_version(path)
    m = _m_load(path, base)
    pcols, new_tf, schema_json = _spec_plan(m, partition_by)
    return _m_commit(
        None,
        path,
        base + 1,
        pcols,
        _m_entries(path, m),
        base=base,
        schema_json=schema_json,
        deletes=m.get("deletes", []),
        transforms=new_tf or [],
        op={"name": "SET_PARTITION_SPEC", "dataChange": False},
    )


def _spec_plan(
    m: dict, partition_by
) -> tuple[list[str] | None, list[dict], dict]:
    """Plan a partition-spec change against manifest ``m`` — the
    shared engine behind :func:`set_partition_spec` and the catalog
    transaction's staged spec evolution. Returns ``(pcols,
    transforms_with_retired, schema_json)``."""
    pcols, tfs = _norm_partition_spec(partition_by)
    json_to_simple = {
        "integer": "int", "long": "bigint", "short": "smallint",
        "byte": "tinyint",
    }
    ftypes = {
        f["name"]: (
            json_to_simple.get(f["type"], f["type"])
            if isinstance(f["type"], str)
            else None  # complex type — not transform material
        )
        for f in m["schema"]["fields"]
    }
    old_tf = m.get("transforms") or []
    old_hidden = {t["name"] for t in old_tf}
    for c in pcols or []:
        if c not in ftypes and c not in {t["name"] for t in tfs}:
            raise ValueError(f"partition column {c!r} is not in the schema")
    for t in tfs:
        if t["source"] not in ftypes:
            raise ValueError(
                f"partition-transform source column {t['source']!r} "
                "is not in the schema"
            )
        if t["transform"] in ("bucket", "truncate"):
            t["srctype"] = ftypes[t["source"]]
        if t["transform"] == "truncate" and t["srctype"] not in (
            "string", "tinyint", "smallint", "int", "bigint"
        ):
            raise ValueError(
                f"truncate transform needs an integer or string source; "
                f"{t['source']!r} is {t['srctype']}"
            )
        if t["name"] in ftypes and t["name"] not in old_hidden:
            raise ValueError(
                f"hidden column name {t['name']!r} collides with an "
                "existing schema column"
            )
    active = {t["name"] for t in tfs}
    retired = [
        {**t, "retired": True}
        for t in old_tf
        if t["name"] not in active
    ]
    new_tf = tfs + retired
    # schema swap: retired hidden FIELDS leave the schema (pruning
    # works from entry metadata, not the schema; the old files'
    # physical columns simply stop being projected — schema-on-read),
    # new hidden columns join it now (NULL for old-era files, which
    # also poisons the COW planners' touched sets with NULLs and
    # correctly forces mixed-era mutations to the full-rewrite path)
    out_type = {"days": "integer", "hours": "long", "bucket": "integer"}
    retired_names = {t["name"] for t in retired}
    new_fields = [
        f for f in m["schema"]["fields"] if f["name"] not in retired_names
    ]
    for t in tfs:
        if t["name"] in ftypes:
            continue
        ftype = out_type.get(
            t["transform"],
            "string" if t.get("srctype") == "string" else "long",
        )
        new_fields.append(
            {
                "name": t["name"],
                "type": ftype,
                "nullable": True,
                "metadata": {},
            }
        )
    return pcols, new_tf, {**m["schema"], "fields": new_fields}


def _no_pending_deletes(m: dict, verb: str) -> None:
    if m.get("deletes"):
        raise ValueError(
            f"{verb} with pending equality-delete files is not "
            f"supported (their key files carry column names "
            f"physically); run compact() first to materialize them"
        )


def rename_columns(spark: SparkSession, path: str, renames: dict) -> int:
    """ALTER TABLE ... RENAME COLUMN as a PURE METADATA commit (Delta
    column-mapping name mode): the manifest schema's LOGICAL names
    change; each renamed field keeps its frozen PHYSICAL name in field
    metadata, so zero data files are read or rewritten and carried
    files keep serving through the mapping. Partition columns rename
    too — ``partition_by`` and every entry's partition/stats/nulls
    keys are rekeyed in the same commit (metadata-only; the
    ``col=value`` directory names in file paths are immutable physical
    artifacts the manifest never consults). Renames are applied
    SIMULTANEOUSLY (``{"a": "b", "b": "a"}`` swaps). Time travel to
    pre-rename versions serves their own recorded names. Rejected:
    unknown columns, a post-rename name collision, pending
    equality-delete files (compact first). Returns the new version."""
    base = latest_version(path)
    m = _m_load(path, base)
    tf = m.get("transforms") or []
    hidden = {t["name"] for t in tf} & set(renames)
    if hidden:
        raise ValueError(
            f"{sorted(hidden)} are hidden partition-transform columns; "
            "rename their SOURCE column instead (the transform follows)"
        )
    # a renamed transform source follows the rename — the hidden
    # column (and its immutable directory names) keep their names
    new_tf = [
        {**t, "source": renames.get(t["source"], t["source"])} for t in tf
    ]
    schema_json, new_pcols, entries, retired, cons, bkeys = _rename_plan(
        path, m, renames
    )
    return _m_commit(
        None,
        path,
        base + 1,
        new_pcols,
        entries,
        base=base,
        schema_json=schema_json,
        retired=retired,
        constraints=cons if cons is not None else {},
        transforms=new_tf,
        op={"name": "RENAME_COLUMNS", "dataChange": False},
        bloom_keys=bkeys,
    )


def _rename_plan(
    path: str, m: dict, renames: dict
) -> tuple[dict, list[str] | None, list[dict], list[str], dict | None]:
    """Plan a column rename against manifest ``m`` — the shared engine
    behind :func:`rename_columns` and the catalog transaction's staged
    rename. Returns ``(schema_json, partition_by, rekeyed_entries,
    retired, rekeyed_constraints, rekeyed_bloom_keys)``."""
    _no_pending_deletes(m, "rename_columns")
    names = [f["name"] for f in m["schema"]["fields"]]
    unknown = [c for c in renames if c not in names]
    if unknown:
        raise ValueError(f"rename of unknown column(s) {sorted(unknown)}")
    new_names = [renames.get(n, n) for n in names]
    if len(set(new_names)) != len(new_names):
        dupes = sorted({n for n in new_names if new_names.count(n) > 1})
        raise ValueError(f"rename would collide on column(s) {dupes}")
    new_fields = []
    for f in m["schema"]["fields"]:
        if f["name"] in renames:
            meta = {
                k: v
                for k, v in (f.get("metadata") or {}).items()
                if k != _PHYS_KEY
            }
            new = renames[f["name"]]
            if _phys(f) != new:
                meta[_PHYS_KEY] = _phys(f)  # physical name is frozen
            new_fields.append({**f, "name": new, "metadata": meta})
        else:
            new_fields.append(f)
    pcols = m.get("partition_by")
    new_pcols = [renames.get(c, c) for c in pcols] if pcols else pcols
    entries = [
        {
            **e,
            **{
                k: {renames.get(c, c): v for c, v in e[k].items()}
                for k in ("partition", "stats", "nulls", "bloom")
                if k in e
            },
        }
        for e in _m_entries(path, m)
    ]
    cons = m.get("constraints")
    if cons:
        cons = {n: _pred_rename(s, renames) for n, s in cons.items()}
    bkeys = m.get("bloom_keys")
    if bkeys:
        bkeys = [renames.get(c, c) for c in bkeys]
    return (
        {**m["schema"], "fields": new_fields},
        new_pcols,
        entries,
        m.get("retired", []),
        cons,
        bkeys,
    )


def drop_columns(spark: SparkSession, path: str, cols) -> int:
    """ALTER TABLE ... DROP COLUMN as a PURE METADATA commit: the
    fields leave the manifest schema and their PHYSICAL names join the
    manifest's RETIRED set, so a later re-add of the same logical name
    is assigned a fresh physical name and the old file data can never
    resurrect (the reason Delta requires column mapping for DROP).
    Zero data files touched — carried files still hold the bytes
    (time travel to pre-drop versions still serves them); the current
    snapshot simply stops projecting them. Entry stats/null counts for
    the dropped columns are stripped in the same commit so a future
    re-added namesake can never be pruned against stale bounds.
    Rejected: unknown columns, partition columns, dropping every
    column, pending equality-delete files. Returns the new version."""
    base = latest_version(path)
    m = _m_load(path, base)
    tf = m.get("transforms") or []
    if isinstance(cols, str):
        cols = [cols]
    bad = ({t["name"] for t in tf} | {t["source"] for t in tf}) & set(cols)
    if bad:
        raise ValueError(
            f"{sorted(bad)} back the table's hidden partitioning "
            "(transform source or hidden column); repartition the "
            "table to drop them"
        )
    schema_json, pcols, entries, retired, cons, bkeys = _drop_plan(
        path, m, cols
    )
    return _m_commit(
        None,
        path,
        base + 1,
        pcols,
        entries,
        base=base,
        schema_json=schema_json,
        retired=retired,
        constraints=cons if cons is not None else {},
        op={"name": "DROP_COLUMNS", "dataChange": False},
        bloom_keys=bkeys if bkeys is not None else [],
    )


def _drop_plan(
    path: str, m: dict, cols
) -> tuple[dict, list[str] | None, list[dict], list[str], dict | None]:
    """Plan a column drop against manifest ``m`` — shared by
    :func:`drop_columns` and the catalog transaction's staged drop.
    Returns ``(schema_json, partition_by, stripped_entries, retired,
    constraints, bloom_keys)`` — dropped columns leave the Bloom
    opt-in list too. Dropping a column a CHECK constraint references
    is rejected (drop the constraint first)."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    _no_pending_deletes(m, "drop_columns")
    for cname, spec in (m.get("constraints") or {}).items():
        hit = _pred_cols(spec) & set(cols)
        if hit:
            raise ValueError(
                f"cannot drop column(s) {sorted(hit)}: referenced by "
                f"CHECK constraint {cname!r}; drop_constraint first"
            )
    fields = m["schema"]["fields"]
    names = [f["name"] for f in fields]
    unknown = [c for c in cols if c not in names]
    if unknown:
        raise ValueError(f"drop of unknown column(s) {sorted(unknown)}")
    pcols = m.get("partition_by") or []
    part_hit = [c for c in cols if c in pcols]
    if part_hit:
        raise ValueError(
            f"cannot drop partition column(s) {sorted(part_hit)}"
        )
    if len(cols) >= len(fields):
        raise ValueError("cannot drop every column of a table")
    dropped = set(cols)
    retired = list(m.get("retired", [])) + [
        _phys(f) for f in fields if f["name"] in dropped
    ]
    entries = [
        {
            **e,
            **{
                k: {c: v for c, v in e[k].items() if c not in dropped}
                for k in ("stats", "nulls", "bloom")
                if k in e
            },
        }
        for e in _m_entries(path, m)
    ]
    bkeys = m.get("bloom_keys")
    if bkeys:
        bkeys = [c for c in bkeys if c not in dropped]
    return (
        {
            **m["schema"],
            "fields": [f for f in fields if f["name"] not in dropped],
        },
        m.get("partition_by"),
        entries,
        retired,
        m.get("constraints"),
        bkeys,
    )


def add_constraint(
    spark: SparkSession, path: str, name: str, pred
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT ... CHECK (Delta's CHECK
    invariant model): ``pred`` is a PREDICATE SPEC in the same algebra
    as :func:`scan_table`/:func:`delete_predicate` (AND/OR nests of
    comparisons, IN, BETWEEN, IS [NOT] NULL — ``("notnull", col)``
    alone gives the NOT NULL invariant). The EXISTING table must
    already satisfy it (validated with one scan — rows where the
    predicate is FALSE; UNKNOWN passes, SQL CHECK semantics), then
    the spec rides in the manifest and EVERY subsequent write path —
    merge, append, update, compact, catalog transactions — enforces
    it on the rows being written before any file lands, failing the
    mutation with :class:`ConstraintViolation` and touching nothing.
    Per-commit cost is one extra job over the WRITTEN rows only (zero
    when a table has no constraints) — the same trade Delta documents
    for CHECK constraints. Metadata-only commit. Returns the new
    version."""
    def _no_subquery(p):
        if p[0] in ("and", "or"):
            for q in p[1:]:
                _no_subquery(q)
        elif p[0] == "in_subquery":
            raise ValueError(
                "in_subquery leaves are not allowed in constraints "
                "(not serializable to the manifest)"
            )
    _no_subquery(pred)
    base = latest_version(path)
    m = _m_load(path, base)
    cons = dict(m.get("constraints") or {})
    if name in cons:
        raise ValueError(f"constraint {name!r} already exists")
    missing = _pred_cols(pred) - {
        f["name"] for f in m["schema"]["fields"]
    }
    if missing:
        raise ValueError(
            f"constraint references unknown column(s) {sorted(missing)}"
        )
    bad = (
        _m_read(spark, path, base)
        .filter(~F.coalesce(_pred_column(pred), F.lit(True)))
        .limit(1)
        .count()
    )
    if bad:
        raise ConstraintViolation(
            f"existing rows violate {name!r}; constraint not added"
        )
    cons[name] = json.loads(json.dumps(pred))  # tuples -> JSON lists
    return _m_commit(
        None,
        path,
        base + 1,
        m.get("partition_by"),
        _m_entries(path, m),
        base=base,
        schema_json=m["schema"],
        deletes=m.get("deletes", []),
        constraints=cons,
        op={"name": "ADD_CONSTRAINT", "dataChange": False},
    )


def drop_constraint(spark: SparkSession, path: str, name: str) -> int:
    """ALTER TABLE ... DROP CONSTRAINT: metadata-only commit removing
    the named CHECK constraint. Returns the new version."""
    base = latest_version(path)
    m = _m_load(path, base)
    cons = dict(m.get("constraints") or {})
    if name not in cons:
        raise ValueError(f"no constraint {name!r} on {path}")
    del cons[name]
    return _m_commit(
        None,
        path,
        base + 1,
        m.get("partition_by"),
        _m_entries(path, m),
        base=base,
        schema_json=m["schema"],
        deletes=m.get("deletes", []),
        constraints=cons,
        op={"name": "DROP_CONSTRAINT", "dataChange": False},
    )


def table_constraints(path: str) -> dict:
    """The table's CHECK constraints, ``{name: predicate spec}``."""
    return dict(
        _m_load(path, latest_version(path)).get("constraints") or {}
    )


def set_bloom_keys(spark: SparkSession, path: str, keys) -> int:
    """ALTER TABLE ... SET BLOOM KEYS: (re)index an EXISTING table
    with per-file Bloom filters (see :mod:`spype_spark.bloom`) — the
    backfill Delta's Bloom index supports and a create-time-only
    opt-in wouldn't. One commit: every CURRENT entry is stamped with
    a filter over its values of ``keys`` (reading only the key
    columns of the live files — O(live data × key width), the same
    cost class as building any secondary index; at cluster scale the
    read fans out with the files), ``bloom_keys`` is recorded so
    every FUTURE data-writing commit keeps stamping, and the change
    feed skips the commit at plan time (``dataChange=False`` — the
    live row set is untouched). ``keys=[]`` DROPS the index: filters
    leave the entries and the opt-in clears. Entries referencing
    files outside this table's root (shallow-clone shares) keep
    their filters INLINE rather than writing sidecars into a foreign
    table's directories. Returns the new version."""
    if isinstance(keys, str):
        keys = [keys]
    keys = list(keys)
    base = latest_version(path)
    m = _m_load(path, base)
    fields = {f["name"]: f for f in m["schema"]["fields"]}
    pcols = m.get("partition_by") or []
    _OKT = ("string", "long", "integer", "short", "byte")
    for c in keys:
        f = fields.get(c)
        if f is None or (
            f["type"] if isinstance(f["type"], str) else None
        ) not in _OKT:
            raise ValueError(
                f"bloom key {c!r} is missing or not a string/integral "
                f"column (Bloom key material)"
            )
        if c in pcols:
            raise ValueError(
                f"bloom key {c!r} is a partition column — partition "
                f"pruning already decides it exactly"
            )
    entries = [dict(e) for e in _m_entries(path, m)]
    for e in entries:
        e.pop("bloom", None)
    if keys:
        phys = {c: _phys(fields[c]) for c in keys}
        inv = {p: l for l, p in phys.items()}
        local = [
            e
            for e in entries
            if e.get("rows") and not os.path.isabs(e["path"])
        ]
        foreign = [
            e
            for e in entries
            if e.get("rows") and os.path.isabs(e["path"])
        ]
        _m_attach_blooms(path, local, [phys[c] for c in keys])
        _m_attach_blooms(
            path, foreign, [phys[c] for c in keys], inline_only=True
        )
        for e in entries:
            if "bloom" in e:
                e["bloom"] = {
                    inv.get(c, c): bf for c, bf in e["bloom"].items()
                }
    return _m_commit(
        None,
        path,
        base + 1,
        m.get("partition_by"),
        entries,
        base=base,
        schema_json=m["schema"],
        deletes=m.get("deletes", []),
        op={
            "name": "SET_BLOOM_KEYS" if keys else "DROP_BLOOM_KEYS",
            "dataChange": False,
        },
        bloom_keys=keys,
    )


def table_bloom_keys(path: str) -> list[str]:
    """The table's Bloom-indexed columns (empty when not opted in)."""
    return list(
        _m_load(path, latest_version(path)).get("bloom_keys") or []
    )


def _merged_frame(
    tgt: DataFrame,
    updates: DataFrame,
    keys: list[str],
    evolve_schema: bool,
    match_condition,
) -> DataFrame:
    """The protocol-independent relational core of MERGE: given the
    (possibly COW-pruned) target rows and the update set, produce the
    merged rows. See :func:`merge_upsert` for the semantics."""
    if evolve_schema:
        out = updates.unionByName(
            tgt.join(updates.select(*keys), keys, "left_anti"),
            allowMissingColumns=True,
        )
        # union coercion picked each column's common type; gate it to
        # the safe widenings before it becomes the snapshot schema
        _check_widen(tgt.schema, out.schema)
        return out
    extra = set(updates.columns) - set(tgt.columns)
    if extra:
        raise ValueError(
            f"updates carry columns not in the table schema {sorted(extra)}; "
            "pass evolve_schema=True to add them"
        )
    if match_condition is None:
        out = updates.select(*tgt.columns).unionByName(
            tgt.join(updates, keys, "left_anti")
        )
        _check_widen(tgt.schema, out.schema)  # same gate: no lossy coercion
        return out
    cols = tgt.columns
    u = updates.select(
        *keys,
        F.struct(*[F.col(c) for c in cols]).alias("__u"),
    )
    t = tgt.select(
        *keys,
        F.struct(*[F.col(c) for c in cols]).alias("__t"),
    )
    both = t.join(u, keys, "full_outer")
    winner = (
        F.when(F.col("__t").isNull(), F.col("__u"))  # insert
        .when(F.col("__u").isNull(), F.col("__t"))  # carry-over
        .when(match_condition(F.col("__u"), F.col("__t")), F.col("__u"))
        .otherwise(F.col("__t"))
    )
    out = both.select(winner.alias("__w")).select(
        *[F.col("__w")[c].alias(c) for c in cols]
    )
    _check_widen(tgt.schema, out.schema)
    return out


def _merged_frame_full(
    tgt: DataFrame,
    src: DataFrame,
    keys: list[str],
    when_matched: str | None,
    matched_condition,
    when_not_matched: str | None,
    when_not_matched_by_source,
    by_source_condition,
    not_matched_condition=None,
) -> DataFrame:
    """The relational core of full-clause MERGE (Delta's complete
    clause set). One full-outer struct join on the keys classifies
    every row as matched / source-only / target-only, then per-class
    CASE expressions pick the surviving row:

    - matched: ``when_matched`` = ``"update"`` (source row wins where
      ``matched_condition`` holds, else target survives), ``"delete"``
      (row dropped where the condition holds), or ``None`` (target
      survives untouched);
    - source-only: ``when_not_matched="insert"`` inserts (gated per
      row by ``not_matched_condition(src_struct)`` when given —
      Delta's ``whenNotMatchedInsertAll(condition=…)``), ``None``
      ignores;
    - target-only (NOT MATCHED BY SOURCE): ``None`` keeps,
      ``"delete"`` drops where ``by_source_condition`` holds, or a
      dict of assignments updates those rows in place.

    Conditions evaluate UNKNOWN→no-action (``coalesce(cond, false)``),
    SQL MERGE semantics. NULL join keys never match, so such target
    rows flow through the NOT MATCHED BY SOURCE clause — also SQL.

    A target row matched by MULTIPLE source rows raises at runtime
    (SQL MERGE's cardinality violation, Delta's "multiple source rows
    matched" error): the full-outer join would otherwise emit the
    matched target once per source row — silent duplication. The
    check is a count over a window on the join keys, which reuses the
    join's own key partitioning (no extra shuffle). Source-ONLY
    duplicate keys stay legal: SQL inserts one row per source row."""
    cols = tgt.columns
    extra = set(src.columns) - set(cols)
    if extra:
        raise ValueError(
            f"source carries columns not in the table schema "
            f"{sorted(extra)}; full-clause merge does not evolve schema"
        )
    missing = [c for c in cols if c not in src.columns]
    if missing and (when_matched == "update" or when_not_matched == "insert"):
        raise ValueError(
            f"source must carry every table column for update/insert "
            f"clauses; missing {missing}"
        )
    t = tgt.select(
        *keys, F.struct(*[F.col(c) for c in cols]).alias("__t")
    )
    # pad source columns a keys-only delete merge doesn't carry with
    # typed NULLs so both structs are the same full-width type
    u = src.select(
        *keys,
        F.lit(1).alias("__m"),
        F.struct(
            *[
                (
                    F.col(c)
                    if c in src.columns
                    else F.lit(None).cast(tgt.schema[c].dataType)
                ).alias(c)
                for c in cols
            ]
        ).alias("__u"),
    )
    both = t.join(u, keys, "full_outer")
    src_only = F.col("__t").isNull()
    tgt_only = F.col("__m").isNull()
    m_cond = (
        F.coalesce(matched_condition(F.col("__u"), F.col("__t")), F.lit(False))
        if matched_condition is not None
        else F.lit(True)
    )
    bs_cond = (
        F.coalesce(by_source_condition(F.col("__t")), F.lit(False))
        if by_source_condition is not None
        else F.lit(True)
    )
    nm_cond = (
        F.coalesce(not_matched_condition(F.col("__u")), F.lit(False))
        if not_matched_condition is not None
        else F.lit(True)
    )
    keep = (
        F.when(src_only, F.lit(when_not_matched == "insert") & nm_cond)
        .when(
            tgt_only,
            ~bs_cond if when_not_matched_by_source == "delete" else F.lit(True),
        )
        .otherwise(~m_cond if when_matched == "delete" else F.lit(True))
    )
    if when_matched == "update":
        matched_row = F.when(m_cond, F.col("__u")).otherwise(F.col("__t"))
    else:
        matched_row = F.col("__t")
    if isinstance(when_not_matched_by_source, dict):
        bad = set(when_not_matched_by_source) - set(cols)
        if bad:
            raise ValueError(f"assignments target unknown columns {sorted(bad)}")

        def _assigned_col(c):
            if c not in when_not_matched_by_source:
                return F.col("__t")[c].alias(c)
            a = when_not_matched_by_source[c]
            expr = a(F.col("__t")) if callable(a) else F.lit(a)
            return expr.cast(tgt.schema[c].dataType).alias(c)

        assigned = F.struct(*[_assigned_col(c) for c in cols])
        tgt_only_row = F.when(bs_cond, assigned).otherwise(F.col("__t"))
    else:
        tgt_only_row = F.col("__t")
    row = (
        F.when(src_only, F.col("__u"))
        .when(tgt_only, tgt_only_row)
        .otherwise(matched_row)
    )
    from pyspark.sql.window import Window

    matched = ~src_only & ~tgt_only
    both = both.withColumn(
        "__nm",
        F.sum(matched.cast("int")).over(
            Window.partitionBy(*[F.col(k) for k in keys])
        ),
    )
    dup_guard = F.assert_true(
        ~(matched & (F.col("__nm") > F.lit(1))),
        "full-clause MERGE: a target row matched multiple source rows "
        "(cardinality violation); deduplicate the source on the merge "
        "keys",
    )
    out = both.where(keep & dup_guard.isNull()).select(
        *[row[c].alias(c) for c in cols]
    )
    _check_widen(tgt.schema, out.schema)
    return out


def _validate_merge_clauses(
    when_matched,
    matched_condition,
    when_not_matched,
    when_not_matched_by_source,
    by_source_condition,
    not_matched_condition=None,
) -> None:
    if when_matched not in ("update", "delete", None):
        raise ValueError(f"when_matched must be update/delete/None, "
                         f"got {when_matched!r}")
    if when_not_matched not in ("insert", None):
        raise ValueError(f"when_not_matched must be insert/None, "
                         f"got {when_not_matched!r}")
    bs = when_not_matched_by_source
    if bs is not None and bs != "delete" and not isinstance(bs, dict):
        raise ValueError(
            "when_not_matched_by_source must be None, 'delete', or an "
            "assignments dict"
        )
    if matched_condition is not None and when_matched is None:
        raise ValueError("matched_condition needs a when_matched clause")
    if by_source_condition is not None and bs is None:
        raise ValueError(
            "by_source_condition needs a when_not_matched_by_source clause"
        )
    if not_matched_condition is not None and when_not_matched is None:
        raise ValueError(
            "not_matched_condition needs a when_not_matched clause"
        )
    if when_matched is None and when_not_matched is None and bs is None:
        raise ValueError("merge with no clauses is a no-op; pass one")


def merge(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    when_matched: str | None = "update",
    matched_condition=None,
    when_not_matched: str | None = "insert",
    when_not_matched_by_source=None,
    by_source_condition=None,
    not_matched_condition=None,
) -> int:
    """Full-clause MERGE (Delta's complete surface —
    ``whenMatchedUpdateAll/Delete``, ``whenNotMatchedInsertAll``,
    ``whenNotMatchedBySourceDelete/Update``; see
    :func:`_merged_frame_full` for exact semantics). The default
    clauses are exactly :func:`merge_upsert` and delegate to it (same
    COW pruning fast path). Returns the new version number.

    Clause arguments:

    - ``when_matched``: ``"update"`` | ``"delete"`` | ``None``;
      ``matched_condition(src_struct, tgt_struct) -> Column`` gates it
      per row (UNKNOWN → target survives).
    - ``when_not_matched``: ``"insert"`` | ``None``;
      ``not_matched_condition(src_struct) -> Column`` gates the insert
      per row (Delta's conditional ``whenNotMatchedInsertAll``;
      UNKNOWN → not inserted). A delete-only merge may pass a source
      carrying just the key columns.
    - ``when_not_matched_by_source``: ``None`` | ``"delete"`` | a dict
      ``{col: value-or-callable(tgt_struct)->Column}`` updating
      target rows no source key matches;
      ``by_source_condition(tgt_struct) -> Column`` gates it.

    Scale note: without a by-source clause, the manifest COW planner
    prunes exactly as :func:`merge_upsert` (untouched partitions carry
    by reference; single-key merges stats-split files). WITH a
    by-source clause every target row must be examined by definition,
    so every file rewrites — the same full-table cost Delta pays for
    ``whenNotMatchedBySource``; partition-restrict the TARGET first
    (filter into a staging table, or run per-partition merges) when
    that matters at 100 TB."""
    _validate_merge_clauses(
        when_matched,
        matched_condition,
        when_not_matched,
        when_not_matched_by_source,
        by_source_condition,
        not_matched_condition,
    )
    if (
        when_matched == "update"
        and when_not_matched == "insert"
        and when_not_matched_by_source is None
        and not_matched_condition is None
    ):
        return merge_upsert(
            spark, path, source, keys, match_condition=matched_condition
        )
    clauses = {
        "when_matched": when_matched,
        "matched_condition": matched_condition,
        "when_not_matched": when_not_matched,
        "when_not_matched_by_source": when_not_matched_by_source,
        "by_source_condition": by_source_condition,
        "not_matched_condition": not_matched_condition,
    }
    base = latest_version(path)
    merged, carry, pcols, dels = _m_merge_plan(
        spark, path, base, source, keys, clauses=clauses
    )
    return _m_commit(
        merged, path, base + 1, pcols, carry, base=base, deletes=dels,
        op={"name": "MERGE", "dataChange": True},
    )


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    evolve_schema: bool = False,
    match_condition=None,
) -> int:
    """MERGE: update-wins on key match, insert otherwise. Returns the
    new version number.

    The relational core is one anti-join: new snapshot =
    ``updates ∪ (target ⟕̸ updates on keys)``. Matched target rows are
    replaced by their update row, unmatched updates are inserts,
    untouched target rows carry over — exactly Delta's
    ``whenMatchedUpdateAll + whenNotMatchedInsertAll``.

    ``match_condition`` is Delta's ``whenMatchedUpdate(condition=…)``
    (SQL ``MERGE … WHEN MATCHED AND <cond> THEN UPDATE``): a function
    ``(upd_struct, tgt_struct) -> Column`` deciding, per matched key,
    whether the update replaces the target row (else the target row
    survives). The CDC staple — e.g. out-of-order event streams merge
    with "newer timestamp wins" so replayed or shuffled batches
    converge to the same table. Implemented as one full-outer struct
    join; NULL/absent condition falls back to unconditional
    update-wins. ``updates`` must be key-unique (pre-reduce upstream,
    as the CDC job does per batch) — duplicate update keys fan out,
    the same situation SQL MERGE defines as a multiple-match error.

    ``evolve_schema=True`` is Delta's mergeSchema: columns present only
    in ``updates`` are ADDED to the table (carried-over target rows get
    NULL), columns only in the target persist (update rows get NULL).
    Off by default: silent widening is how typo'd column names corrupt
    a table. (Mutually exclusive with ``match_condition``.)

    Copy-on-write planning is manifest metadata only: on a partitioned
    table, partition tuples select the touched entries (where updates
    LAND ∪ where matched target keys LIVE — an update may move a row
    across partitions); on a single merge key, manifest min/max stats
    shrink them further to the possibly-matching files. Every other
    entry carries into the new manifest by reference — no data read,
    no copy.
    """
    if evolve_schema and match_condition is not None:
        raise ValueError("match_condition with evolve_schema is unsupported")
    base = latest_version(path)
    merged, carry, pcols, dels = _m_merge_plan(
        spark, path, base, updates, keys, evolve_schema, match_condition
    )
    return _m_commit(
        merged, path, base + 1, pcols, carry, base=base, deletes=dels,
        op={"name": "MERGE", "dataChange": True},
    )


def delete_where(spark: SparkSession, path: str, cond) -> int:
    """DELETE rows matching ``cond``; NULL-evaluating rows are KEPT
    (they do not match the delete predicate — SQL DELETE semantics).
    Returns the new version number.

    On a partitioned table only partitions that actually contain
    matching rows are rewritten (the rest carry by entry reference)."""
    base = latest_version(path)
    rew, carry, pcols, dels = _m_delete_plan(spark, path, base, cond)
    return _m_commit(
        rew, path, base + 1, pcols, carry, base=base, deletes=dels,
        op={"name": "DELETE", "dataChange": True},
    )


def append_table(spark: SparkSession, path: str, df: DataFrame) -> int:
    """Blind APPEND: commit ``df``'s rows as new files with EVERY base
    entry carried by reference — zero reads of existing data, zero
    rewrites, one manifest publish. The high-frequency ingest verb:
    where MERGE must read the touched partitions to reconcile keys, an
    append's cost is O(new rows) regardless of table size, which is
    what a 100 TB table's minute-cadence landing job needs. No key
    reconciliation is performed (duplicates land as duplicates — use
    :func:`merge_upsert` when upsert semantics are wanted). The
    appended entries get this commit's ``seq``, so
    ``scan_table(since=...)`` reads exactly the files added after a
    checkpoint version. Schema must match the table's (same columns;
    use MERGE with ``evolve_schema`` to widen)."""
    base = latest_version(path)
    m = _m_load(path, base)
    pcols = m.get("partition_by")
    tf = m.get("transforms")
    if tf:  # appenders never name hidden columns; derive them
        df = _apply_transforms(df, tf)
    cols = [f["name"] for f in m["schema"]["fields"]]
    if set(df.columns) != set(cols):
        raise ValueError(
            f"append schema {sorted(df.columns)} != table schema "
            f"{sorted(cols)}; use merge_upsert(evolve_schema=True)"
        )
    return _m_commit(
        df.select(*cols),
        path,
        base + 1,
        pcols,
        _m_entries(path, m),
        base=base,
        deletes=m.get("deletes", []),
        op={"name": "APPEND", "dataChange": True},
    )


def delete_predicate(spark: SparkSession, path: str, pred) -> int:
    """DELETE rows matching a PREDICATE SPEC (the algebra documented at
    :func:`_pred_column`) with GENERAL file pruning: files whose
    manifest metadata three-valued-refutes the predicate — through any
    AND/OR nest of comparisons, IN, BETWEEN and IS [NOT] NULL leaves —
    carry into the new version BY REFERENCE; only possibly-matching
    files are read back, row-filtered by the compiled residual, and
    rewritten. This is the provable general form of
    :func:`delete_range` (whose interval shape is the single-leaf
    case): a retention sweep like ``(ts < cutoff) OR (status = 'tmp'
    AND ts BETWEEN a AND b)`` touches exactly the files its disjuncts
    can reach, O(matching files) not O(table), which is the whole game
    at 100 TB. Sound fallback everywhere: leaves without usable stats
    keep their files. NULL-evaluating rows are KEPT (SQL DELETE
    semantics). Returns the new version."""
    pred = _pred_resolve(pred)
    cond = _pred_column(pred)
    base = latest_version(path)
    m = _m_load(path, base)
    pcols = m.get("partition_by")
    entries = _m_entries(path, m)
    maybe = _pred_compile(pred, pcols, root=path)
    carry = [e for e in entries if not maybe(e)]
    rewrite = [e for e in entries if maybe(e)]
    # every file refuted → a provable no-op on the data: commit the
    # carried entries WITHOUT a write job (r15 opt — the empty-frame
    # write was a full Spark job + task files for zero rows)
    if not rewrite:
        rew = None
    else:
        keep = ~F.coalesce(cond, F.lit(False))
        rew = _m_apply_deletes(spark, path, rewrite, m).filter(keep)
    return _m_commit(
        rew, path, base + 1, pcols, carry, base=base,
        deletes=m.get("deletes", []),
        op={"name": "DELETE", "dataChange": True},
    )


def _updated_frame(df: DataFrame, cond, assignments: dict) -> DataFrame:
    """Rows matching ``cond`` get ``assignments`` applied; the rest
    pass through. All right-hand sides see the PRE-update values
    (simultaneous assignment, SQL UPDATE semantics — a single select,
    not chained withColumn). NULL-evaluating predicates don't match."""
    from pyspark.sql import Column

    unknown = [c for c in assignments if c not in df.columns]
    if unknown:
        raise ValueError(f"UPDATE of unknown column(s) {unknown}")
    hit = F.coalesce(cond, F.lit(False))
    repl = {
        c: F.when(hit, e if isinstance(e, Column) else F.lit(e)).otherwise(
            F.col(c)
        )
        for c, e in assignments.items()
    }
    return df.select(
        *[repl[c].alias(c) if c in repl else F.col(c) for c in df.columns]
    )


def update_where(
    spark: SparkSession, path: str, cond, assignments: dict
) -> int:
    """SQL ``UPDATE … SET … WHERE`` via copy-on-write: rows matching
    ``cond`` get ``assignments`` (column → Column expression or
    literal; right-hand sides see pre-update values) and everything
    else carries over — on a partitioned table only partitions holding
    matched rows rewrite and the rest carry by entry reference, the
    same COW planning as :func:`delete_where`. An assignment MAY write
    a partition column; the updated rows simply land in their new
    partition's files while the sources rewrite. Returns the new
    version."""
    base = latest_version(path)
    rew, carry, pcols, dels = _m_update_plan(
        spark, path, base, cond, assignments
    )
    return _m_commit(
        rew, path, base + 1, pcols, carry, base=base, deletes=dels,
        op={"name": "UPDATE", "dataChange": True},
    )


def _m_update_plan(
    spark: SparkSession, path: str, base: int, cond, assignments: dict
) -> tuple[DataFrame, list[dict], list[str] | None, list[dict]]:
    """Plan a manifest UPDATE against an explicit base version (see
    :func:`_m_merge_plan` for why plans take a base)."""
    m = _m_load(path, base)
    pcols = m.get("partition_by")
    tgt = _m_read(spark, path, base)
    hit = F.coalesce(cond, F.lit(False))
    dels = m.get("deletes", [])
    if pcols:
        touched = {
            tuple(r)
            # metadata-sized collect: partitions containing matched rows
            for r in tgt.filter(hit).select(*pcols).distinct().collect()
        }
        plan = _m_cow_entries(_m_entries(path, m), pcols, touched)
        if plan is not None:
            carry, touched_entries = plan
            rew = _updated_frame(
                _m_apply_deletes(spark, path, touched_entries, m),
                cond,
                assignments,
            )
            return rew, carry, pcols, dels
    return _updated_frame(tgt, cond, assignments), [], pcols, dels


def delete_keys(spark: SparkSession, path: str, keys_df: DataFrame) -> int:
    """MERGE-ON-READ equality DELETE: remove every row whose key tuple
    appears in ``keys_df`` (its column set IS the key) by recording a
    small delete file — Delta's deletion vectors / Iceberg's equality
    deletes re-expressed in this manifest protocol.

    No data file is read or rewritten: the commit writes ONE parquet
    of distinct key tuples, carries every data entry untouched, and
    appends a delete record ``{path, keys, seq}`` to the manifest.
    Mutation cost is O(deleted keys) — at 100 TB a GDPR-style
    scattered-key purge costs kilobytes where copy-on-write
    :func:`delete_where` would rewrite every file that holds one
    matched row. Readers apply deletes by SEQUENCE: a delete filters
    only data files from OLDER commits, so a later MERGE re-inserting
    a deleted key is not swallowed by the old tombstone. Read overhead
    is one broadcast anti-join per pending delete file;
    :func:`compact` materializes and clears them (the read/write
    trade every merge-on-read format documents). NULL-keyed rows are
    never matched (SQL anti-join semantics).
    """
    key_cols = list(keys_df.columns)
    kd = keys_df.dropDuplicates()
    base = latest_version(path)
    m = _m_load(path, base)
    uid = uuid.uuid4().hex
    ddir = os.path.join(path, "data", uid)
    kd.coalesce(1).write.parquet(ddir)
    new_dels = []
    for root, _dirs, files in os.walk(ddir):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(root, fn)
            new_dels.append(
                {
                    "path": os.path.relpath(fp, path).replace(os.sep, "/"),
                    "keys": key_cols,
                    "rows": _m_file_stats(fp)["rows"],
                    "seq": base + 1,
                }
            )
    deletes = m.get("deletes", []) + sorted(
        new_dels, key=lambda d: d["path"]
    )
    return _m_commit(
        None,
        path,
        base + 1,
        m.get("partition_by"),
        _m_entries(path, m),
        base=base,
        schema_json=m["schema"],
        deletes=deletes,
        op={"name": "DELETE", "dataChange": True},
    )


def delete_where_dv(spark: SparkSession, path: str, cond) -> int:
    """MERGE-ON-READ positional DELETE (Delta's deletion vectors,
    re-derived for the manifest protocol): mark the rows matching
    ``cond`` by (file basename, row index) in a small DV parquet —
    ZERO data files rewritten, every entry carried by reference, one
    manifest publish. Where :func:`delete_keys` needs the rows' KEYS
    up front, this takes an arbitrary predicate: the commit reads the
    table once to find matching positions (O(scan), but writes only
    O(matched rows)), which at 100 TB turns a scattered predicate
    purge from a full rewrite into a kilobyte sidecar. NULL-evaluating
    rows are KEPT (SQL DELETE semantics — only TRUE rows are marked).

    Row identity is Spark's ``_metadata.row_index`` within each
    immutable file, keyed by the file's COMMIT-RELATIVE path (unique
    by commit uuid — partitionBy reuses part basenames across
    partition dirs — and invariant under table moves, clones, and
    branches because it never names the table root). Readers apply DVs by
    the same SEQUENCE rule as equality deletes: a DV only filters data
    files from OLDER commits, so later rewrites/inserts are never
    swallowed. Read overhead is one broadcast anti-join while DVs are
    pending; :func:`compact` materializes and clears them. DVs compose
    with equality deletes, column mapping, and hidden partitioning
    (the DV is column-agnostic). Returns the new version."""
    base = latest_version(path)
    m, entries, pos_deletes, ddir = _m_dv_plan(spark, path, base, cond)
    try:
        return _m_commit(
            None,
            path,
            base + 1,
            m.get("partition_by"),
            entries,
            base=base,
            schema_json=m.get("schema"),
            deletes=m.get("deletes", []),
            pos_deletes=pos_deletes,
            op={"name": "DELETE", "dataChange": True},
        )
    except ConcurrentWriteError:
        shutil.rmtree(ddir, ignore_errors=True)
        raise


def _m_dv_plan(
    spark: SparkSession, path: str, base: int, cond
) -> tuple[dict, list[dict], list[dict], str]:
    """Plan a positional MoR delete of rows matching ``cond`` at
    version ``base`` — the shared engine behind
    :func:`delete_where_dv` and the catalog transaction's staged DV
    delete. Writes the DV sidecar and returns ``(manifest,
    carry_entries, cumulative_pos_deletes, dv_datadir)``; the caller
    commits (and removes ``dv_datadir`` on a lost race). New DV
    records are stamped ``seq = base + 1`` — valid whatever slot the
    commit lands on: it exceeds every carried entry's seq (all ≤
    base) and no future commit stamps at or below it."""
    m = _m_load(path, base)
    entries = _m_entries(path, m)
    # positions must be found on the CURRENT snapshot (existing
    # equality deletes / DVs applied — re-marking an already-deleted
    # row would be harmless but wasteful)
    live = _m_apply_deletes_pos(spark, path, entries, m)
    matches = live.filter(cond).select(
        F.col("__fname").alias("fname"), F.col("__pos").alias("pos")
    )
    uid = uuid.uuid4().hex
    ddir = os.path.join(path, "data", uid)
    matches.coalesce(1).write.parquet(ddir)
    new_pds = []
    for root, _dirs, files in os.walk(ddir):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(root, fn)
            new_pds.append(
                {
                    "path": os.path.relpath(fp, path).replace(os.sep, "/"),
                    "rows": _m_file_stats(fp)["rows"],
                    "seq": base + 1,
                }
            )
    pos_deletes = m.get("pos_deletes", []) + sorted(
        new_pds, key=lambda d: d["path"]
    )
    return m, entries, pos_deletes, ddir


def _m_apply_deletes_pos(
    spark: SparkSession, path: str, entries: list[dict], m: dict
) -> DataFrame:
    """:func:`_m_apply_deletes` variant that KEEPS the ``__fname`` /
    ``__pos`` row-identity columns — the input a positional-DV writer
    needs. Same sequence rules."""
    from pyspark.sql.types import StructType

    if not entries:
        schema = StructType.fromJson(m["schema"])
        return (
            spark.createDataFrame([], schema)
            .withColumn("__fname", F.lit(None).cast("string"))
            .withColumn("__pos", F.lit(None).cast("long"))
        )
    dels = m.get("deletes", [])
    pdels = m.get("pos_deletes", [])
    groups: dict[int, list[str]] = {}
    for e in entries:
        groups.setdefault(e.get("seq", 0), []).append(e["path"])
    out = None
    for s in sorted(groups):
        df = _m_open_files(spark, path, groups[s], m["schema"], with_pos=True)
        pd_here = [d for d in pdels if d["seq"] > s]
        if pd_here:
            dv = spark.read.parquet(
                *[os.path.join(path, d["path"]) for d in pd_here]
            ).select(
                F.col("fname").alias("__fname"), F.col("pos").alias("__pos")
            )
            df = df.join(F.broadcast(dv), ["__fname", "__pos"], "left_anti")
        for d in dels:
            if d["seq"] > s:
                kdf = spark.read.parquet(
                    os.path.join(path, d["path"])
                ).select(*d["keys"])
                df = df.join(F.broadcast(kdf), d["keys"], "left_anti")
        out = df if out is None else out.unionByName(df)
    return out


def delete_range(
    spark: SparkSession, path: str, col: str, lo, hi
) -> int:
    """DELETE WHERE ``col BETWEEN lo AND hi`` with FILE-level manifest
    pruning: the manifest entries' min/max stats on ``col`` prove which
    data files contain no row in the deleted interval — those carry by
    reference untouched (across ALL partitions), and only the
    intersecting files are read back and rewritten with the keep
    filter. No parquet footer is read at plan time. The explicit
    interval form is the single-leaf case of :func:`delete_predicate`;
    range deletes (retention windows, backfill corrections) are the
    shape stats refute best. Falls back to the :func:`delete_where`
    plan whenever stats are unusable. Result is row-identical to
    ``delete_where(col BETWEEN lo AND hi)`` (NULL ``col`` rows are
    kept, SQL DELETE semantics — a NULL never matches BETWEEN)."""
    base = latest_version(path)
    rew, carry, pcols, dels = _m_range_plan(spark, path, base, col, lo, hi)
    return _m_commit(
        rew, path, base + 1, pcols, carry, base=base, deletes=dels,
        op={"name": "DELETE", "dataChange": True},
    )


def compact(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    zorder_code=None,
    min_file_bytes: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite the latest snapshot into ``target_files`` files (small-file
    compaction). Content-identical by construction; returns the new
    version.

    ``zorder_code`` (a Column, e.g. :func:`spype_spark.layout.morton2`
    over the query dimensions) switches the rewrite from hash
    repartitioning to Z-order range-clustering — Delta's ``OPTIMIZE
    ZORDER BY``: same one-shuffle cost, but the produced files carry
    tight min/max stats on every clustered dimension, so subsequent
    scans prune files on any of them (see tests/test_layout.py for the
    measured skipping win).

    ``min_file_bytes`` switches to SELECTIVE bin-packing (Delta/Iceberg
    ``OPTIMIZE``): only files SMALLER than the threshold are read and
    rewritten into ~``target_file_bytes`` outputs; every other entry
    carries by manifest reference, untouched. O(small files), not
    O(table) — at 100 TB, compacting a table because 2 % of its files
    are small must not cost a full rewrite. See :func:`_compact_small`.
    (Z-order stays a deliberate full rewrite — global clustering can't
    carry anything — so combining the two knobs is rejected.)
    """
    from spype_spark.layout import zorder_repartition

    if min_file_bytes is not None:
        if zorder_code is not None:
            raise ValueError(
                "ZORDER is a global re-clustering (full rewrite by "
                "design); min_file_bytes selective compaction cannot "
                "combine with it"
            )
        return _compact_small(spark, path, min_file_bytes, target_file_bytes)
    base = latest_version(path)
    tgt = read_table(spark, path, version=base)
    if zorder_code is not None:
        out = zorder_repartition(tgt, zorder_code, target_files)
    else:
        out = tgt.repartition(target_files)
    # a partitioned table keeps its layout (target_files becomes
    # files-per-partition rather than a global count)
    m = _m_load(path, base)
    # the rewrite materializes equality deletes AND positional DVs
    # (read_table applied them) — clear both
    return _m_commit(
        out, path, base + 1, m.get("partition_by"), [], base=base,
        pos_deletes=[],
        op={
            "name": "ZORDER" if zorder_code is not None else "COMPACT",
            "dataChange": False,
        },
    )


def _compact_small_plan(
    spark: SparkSession,
    path: str,
    base: int,
    min_file_bytes: int,
    target_file_bytes: int,
) -> tuple[dict, list[dict], DataFrame | None]:
    """Selective-compaction planning against an explicit ``base`` —
    shared by :func:`_compact_small` and the catalog transaction's
    staged OPTIMIZE. Returns ``(manifest, carry_entries, packed_df)``;
    ``packed_df`` is None when fewer than two files fall under the
    threshold (the no-op case)."""
    import math

    m = _m_load(path, base)
    entries = _m_entries(path, m)

    def _ebytes(e: dict) -> int | None:
        if "bytes" in e:
            return e["bytes"]
        try:
            return os.path.getsize(os.path.join(path, e["path"]))
        except OSError:
            return None  # unknown size — treat as large, carry

    small = []
    carry = []
    small_bytes = 0
    for e in entries:
        b = _ebytes(e)
        if b is not None and b < min_file_bytes:
            small.append(e)
            small_bytes += b
        else:
            carry.append(e)
    if len(small) < 2:
        return m, entries, None
    nfiles = max(1, math.ceil(small_bytes / target_file_bytes))
    rew = _m_apply_deletes(spark, path, small, m)
    pcols = m.get("partition_by")
    out = rew.repartition(nfiles, *pcols) if pcols else rew.repartition(nfiles)
    return m, carry, out


def _compact_small(
    spark: SparkSession,
    path: str,
    min_file_bytes: int,
    target_file_bytes: int,
) -> int:
    """Selective small-file compaction — the OPTIMIZE bin-packing
    kernel. Planning is manifest arithmetic: partition the entry list
    by recorded file size (entries written before the ``bytes`` key
    existed fall back to one ``stat()`` each — driver-side metadata,
    never data); files at or above the threshold CARRY by reference
    with their manifest entries byte-identical. The small files are
    read with the snapshot's pending equality deletes and DVs applied
    (rewritten rows materialize them; the new files' seq outranks
    every older delete, so nothing re-applies) and bin-packed to
    ``ceil(small_bytes / target_file_bytes)`` outputs — partitioned
    tables pack WITHIN partitions (hash-repartition on the partition
    columns), so the layout is preserved and each partition's shards
    merge. Delete files stay in the manifest: carried entries still
    need them. Fewer than two small files is a metadata no-op that
    returns the current version without committing.

    Scale note: cost is O(bytes-under-threshold) + one manifest
    publish. The carried set is never opened, listed, or hashed."""
    base = latest_version(path)
    m, carry, out = _compact_small_plan(
        spark, path, base, min_file_bytes, target_file_bytes
    )
    if out is None:
        return base  # nothing to pack — no-op, no commit
    return _m_commit(
        out,
        path,
        base + 1,
        m.get("partition_by"),
        carry,
        base=base,
        deletes=m.get("deletes", []),
        op={"name": "OPTIMIZE", "dataChange": False},
    )


def restore_table(spark: SparkSession, path: str, version: int) -> int:
    """RESTORE the table to an earlier committed ``version`` as a NEW
    commit (Delta's ``RESTORE TABLE … TO VERSION AS OF``): the head
    moves forward, history is preserved (time travel to the undone
    versions still works until retention drops them), and the restore
    itself is pure metadata — the new manifest lists the restored
    version's files BY REFERENCE, rewriting nothing. At 100 TB that is
    the whole point: undoing a bad ingest on a petabyte table is one
    conditional PUT. Schema, partition spec, pending equality-deletes,
    and CHECK constraints all roll back to the restored version's;
    retired physical column names are the UNION of both versions'
    (monotonic — a physical name once used is never reassigned, so a
    post-restore re-add can never resurrect bytes written under either
    history). Returns the new version number.

    Restoring to a vacuumed version raises ``ValueError`` (its files
    may be gone — the retention trade); restoring to the current head
    is a no-op commit that still advances the version, matching Delta
    (RESTORE always lands a commit, so the audit trail records the
    intent)."""
    head = latest_version(path)
    try:
        m = _m_load(path, version)
    except FileNotFoundError:
        raise ValueError(
            f"version {version} of {path} was vacuumed or never "
            "committed; cannot restore"
        )
    head_m = _m_load(path, head)
    retired = sorted(
        set(m.get("retired", [])) | set(head_m.get("retired", []))
    )
    return _m_commit(
        None,
        path,
        head + 1,
        m.get("partition_by"),
        _m_entries(path, m),
        base=head,
        schema_json=m.get("schema"),
        deletes=m.get("deletes", []),
        retired=retired,
        # {} / [] (not None) when the restored version had no
        # constraints/transforms: None would INHERIT the head's inside
        # _m_commit, but restore semantics say these roll back too
        constraints=m.get("constraints") or {},
        transforms=m.get("transforms") or [],
        pos_deletes=m.get("pos_deletes") or [],
        op={"name": "RESTORE", "dataChange": True},
    )


def table_diff(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    keys: list[str],
) -> DataFrame:
    """Change-data-feed between two committed versions: one row per
    changed key with ``op`` ∈ {insert, update, delete}.

    Delta's ``table_changes`` equivalent, derived from the snapshot
    pair instead of a change log: full-outer join the two snapshots on
    the keys and classify — key only in ``v_to`` → insert, only in
    ``v_from`` → delete, in both with any non-key column differing →
    update (unchanged rows emit nothing). Struct equality does the
    whole-row compare in one codegen'd expression. At 100 TB the same
    call runs over partition-filtered reads of the two snapshots.
    """
    a = read_table(spark, path, version=v_from)
    b = read_table(spark, path, version=v_to)
    cols = a.columns
    if set(cols) != set(b.columns):
        raise ValueError(
            f"schema changed between v{v_from} and v{v_to}; diff needs the "
            "common-column projection chosen explicitly"
        )
    fa = a.select(*keys, F.struct(*[F.col(c) for c in cols]).alias("__a"))
    fb = b.select(*keys, F.struct(*[F.col(c) for c in cols]).alias("__b"))
    both = fa.join(fb, keys, "full_outer")
    op = (
        F.when(F.col("__a").isNull(), F.lit("insert"))
        .when(F.col("__b").isNull(), F.lit("delete"))
        .when(F.col("__a") != F.col("__b"), F.lit("update"))
    )
    return (
        both.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(*keys, "op")
    )


def data_files(path: str, version: int) -> list[str]:
    """Parquet data files of one committed version: table-relative
    paths straight from the manifest (the file list IS the version)."""
    return sorted(
        e["path"] for e in _m_entries(path, _m_load(path, version))
    )


def vacuum(
    path: str, keep_last: int = 1, grace_seconds: float = None
) -> list[int]:
    """Drop all but the newest ``keep_last`` committed versions;
    returns the removed version numbers. ``grace_seconds`` (default
    :data:`DEFAULT_GC_GRACE_SECONDS`) is the GC retention grace window
    — unreferenced data files younger than it survive the sweep so an
    in-flight commit's unpublished files are never collected (see
    :func:`_m_gc_files`); pass ``0`` for immediate reclamation when no
    concurrent writer can exist.

    Safe against copy-on-write carries: the dropped manifests are
    unlinked, then data files no surviving manifest references are
    garbage-collected — reference counting by PATH, which is what an
    object store can express (see :func:`_m_vacuum`). Time travel to a
    vacuumed version subsequently raises (the retention trade every
    real format makes); latest-version reads are unaffected. A writer
    whose BASE version gets vacuumed mid-commit lost the optimistic
    race already (retention only drops superseded versions, so its
    ``base+1`` slot is taken) and surfaces as
    :class:`ConcurrentWriteError` from the publish — stale base, retry
    — not as corruption; aggressive ``keep_last=1`` retention under
    concurrent writers simply forces those retries, the same trade
    Delta's ``VACUUM RETAIN 0`` makes.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    return _m_vacuum(path, keep_last, grace_seconds=grace_seconds)


def history(spark: SparkSession, path: str) -> DataFrame:
    """Table history as a DataFrame: (version, n_files, op) — ``op``
    is the commit's operation stamp (r15; Delta's DESCRIBE HISTORY
    operation column): WRITE / APPEND / MERGE / DELETE / UPDATE /
    COMPACT / … , NULL for pre-r15 commits."""
    rows = []
    for v in versions(path):
        m = _m_load(path, v)
        op = (m.get("op") or {}).get("name")
        rows.append((v, len(_m_entries(path, m)), op))
    return spark.createDataFrame(
        rows, "version int, n_files int, op string"
    )


def changes(
    spark: SparkSession,
    path: str,
    keys: list[str],
    v_from: int | None = None,
    v_to: int | None = None,
) -> DataFrame:
    """CHANGE DATA FEED over a version range: one row per key change
    per version step — Delta's ``table_changes(from, to)`` derived
    from the snapshot chain. For each step v→v+1 in (``v_from``,
    ``v_to``] the step's :func:`table_diff` rows are emitted with a
    ``version`` column (the version that introduced the change), so a
    downstream consumer can replay the table's evolution or resume
    incrementally from its last-seen version — the batch-incremental
    consumption pattern a streaming reader of the table checkpoints
    by. Defaults: the full committed range. Steps whose schema changed
    are diffed on the common projection of ``keys`` plus shared
    columns only when schemas match; a schema-evolution step raises
    (choose the projection explicitly via :func:`table_diff`)."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions under {path}")
    lo = vs[0] if v_from is None else v_from
    hi = vs[-1] if v_to is None else v_to
    span = [v for v in vs if lo <= v <= hi]
    if len(span) < 2:
        raise ValueError(f"need at least two versions in [{lo}, {hi}]")
    out = None
    for a, b in zip(span, span[1:]):
        step = table_diff(spark, path, a, b, keys).withColumn(
            "version", F.lit(b).cast("long")
        )
        out = step if out is None else out.unionByName(step)
    return out


class ChangesStream:
    """Incremental (streaming) consumption of the change data feed —
    the Delta streaming-source model over :func:`changes`: each
    :meth:`drain` emits exactly the feed for the versions committed
    since the last drain and durably checkpoints the consumed head, so
    a restarted consumer resumes where it left off and every version
    step is delivered exactly once across restarts.

    ``from_version=None`` starts at the CURRENT head (only new changes
    — Delta's default for a new stream); pass an explicit version to
    replay history from there. The checkpoint is one JSON offset file
    updated by atomic replace after each batch — the single-consumer
    ownership model every streaming checkpoint directory assumes.

    Exactly-once delivery composes the standard way: pass ``process``
    to :meth:`drain` and the offset commits only AFTER the callback
    returns (at-least-once for arbitrary sinks; exactly-once when the
    callback writes through an idempotent/transactional sink such as
    :class:`spype_spark.catalog.Catalog` app-versioned transactions —
    the same contract as foreachBatch + txnAppId). At 100 TB each
    drain costs O(changed keys) — snapshot diffs over manifest-pruned
    reads — and the consumer state is one integer."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        checkpoint_dir: str,
        from_version: int | None = None,
    ):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.checkpoint_dir = checkpoint_dir
        os.makedirs(checkpoint_dir, exist_ok=True)
        self._offset_path = os.path.join(checkpoint_dir, "offset.json")
        if not os.path.exists(self._offset_path):
            start = (
                latest_version(path) if from_version is None else from_version
            )
            if start not in versions(path):
                raise FileNotFoundError(
                    f"starting version {start} is not committed under "
                    f"{path}"
                )
            self._commit_offset(start)

    def consumed_version(self) -> int:
        with open(self._offset_path) as f:
            return json.load(f)["version"]

    def _commit_offset(self, v: int) -> None:
        tmp = self._offset_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"version": v, "table": self.path}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._offset_path)

    def drain(self, process=None) -> DataFrame | None:
        """One microbatch: the change feed for every version committed
        since the checkpoint, or ``None`` when the consumer is caught
        up. With ``process``, the callback runs on the feed BEFORE the
        offset commits (retry-safe); without it, the feed is
        materialized (``localCheckpoint``) before the offset commits,
        so the returned frame survives later table mutations."""
        last = self.consumed_version()
        head = latest_version(self.path)
        if head <= last:
            return None
        if last not in versions(self.path):
            raise FileNotFoundError(
                f"checkpointed version {last} of {self.path} was "
                f"vacuumed; the stream cannot resume without a gap — "
                f"restart from an explicit from_version"
            )
        feed = changes(
            self.spark, self.path, self.keys, v_from=last, v_to=head
        )
        if process is not None:
            process(feed)
            self._commit_offset(head)
            return feed
        feed = feed.localCheckpoint()
        self._commit_offset(head)
        return feed


def read_changes_stream(
    spark: SparkSession,
    path: str,
    keys: list[str],
    checkpoint_dir: str,
    from_version: int | None = None,
) -> ChangesStream:
    """Open (or resume) an incremental CDF consumer — see
    :class:`ChangesStream`."""
    return ChangesStream(spark, path, keys, checkpoint_dir, from_version)


# ---------------------------------------------------------------------------
# Branch refs + write-audit-publish
#
# A branch is a FULL manifest-table root under <table>/_branches/<name>/
# whose fork manifest references the parent's data files by ABSOLUTE
# path — Iceberg's model exactly: manifests carry full file URIs, which
# is what lets several metadata roots share one set of immutable data
# files with zero copies. Because a branch root IS a manifest table,
# every verb in this module (read_table, scan_table, merge_upsert,
# delete_where, update_where, delete_keys, delete_range, compact,
# table_diff, changes, history, vacuum) works on it unchanged; branch
# mutations write their new data under the branch's own data/ dir and
# publish put-if-absent in the branch's own manifest chain, completely
# invisible to readers of the parent (the standard
# unreferenced-is-invisible argument).
#
# The write-audit-publish flow this enables — the way risky mutations
# should land at 100 TB:
#     b = create_branch(path, "etl-42")         # metadata-only fork
#     merge_upsert(spark, b, updates, keys)     # write (invisible)
#     read_table(spark, b) ... audit queries    # audit
#     publish_branch(path, "etl-42")            # one conditional PUT
# Publish is a SQUASH fast-forward: one new parent version whose
# manifest is the branch head's entry list re-pathed into the parent's
# namespace — no data is read, copied, or moved, and the single
# put-if-absent makes the publish atomic: a concurrent parent commit
# wins the slot and the publish fails whole with ConcurrentWriteError
# (non-fast-forward; re-branch from the new head and replay).
#
# GC stays safe across the family because reference counting is by
# absolute path over table + all branches (see _m_gc_files): parent
# data stays pinned while any branch references it, branch data stays
# pinned after publish while any parent manifest references it.
# Trade-off (same as Iceberg's absolute URIs): a table with live
# branches, or one that has absorbed a publish, is not relocatable by
# directory move.


def branch_path(path: str, name: str) -> str:
    """Filesystem root of branch ``name`` — a full manifest-table path
    accepted by every verb in this module."""
    return os.path.join(path, "_branches", name)


def list_branches(path: str) -> list[str]:
    """Names of the table's branches, sorted."""
    bdir = os.path.join(path, "_branches")
    if not os.path.isdir(bdir):
        return []
    return sorted(
        n
        for n in os.listdir(bdir)
        if os.path.exists(os.path.join(bdir, n, "_branch.json"))
    )


def _branch_fork(path: str, name: str) -> int:
    bp = os.path.join(branch_path(path, name), "_branch.json")
    if not os.path.exists(bp):
        raise FileNotFoundError(f"no branch {name!r} under {path}")
    with open(bp) as f:
        return json.load(f)["fork"]


def _m_repath(p: str, src_root: str, dst_root: str) -> str:
    """Re-express a manifest entry path rooted at ``src_root`` for a
    manifest rooted at ``dst_root``: relative when the file lies under
    ``dst_root`` (keeps parent manifests tidy and GC-walkable),
    absolute otherwise (the cross-root share)."""
    ap = p if os.path.isabs(p) else os.path.abspath(os.path.join(src_root, p))
    rp = os.path.relpath(ap, os.path.abspath(dst_root))
    return ap if rp.startswith("..") else rp.replace(os.sep, "/")


def _m_repath_manifest(m: dict, src_root: str, dst_root: str) -> tuple[
    list[dict], list[dict]
]:
    """(entries, deletes) of manifest ``m`` with every file path
    re-expressed for ``dst_root`` (stats/partition/seq preserved);
    sidecar-backed Bloom refs repath with their data files."""

    def _re(e: dict) -> dict:
        out = {**e, "path": _m_repath(e["path"], src_root, dst_root)}
        if "bloom" in e:
            out["bloom"] = {
                c: (
                    {
                        **bf,
                        "ref": _m_repath(bf["ref"], src_root, dst_root),
                    }
                    if "ref" in bf
                    else bf
                )
                for c, bf in e["bloom"].items()
            }
        return out

    entries = [_re(e) for e in _m_entries(src_root, m)]
    dels = [
        {**d, "path": _m_repath(d["path"], src_root, dst_root)}
        for d in m.get("deletes", [])
    ]
    return entries, dels


def _m_repath_pos(m: dict, src_root: str, dst_root: str) -> list[dict]:
    """Positional-DV records of ``m`` repathed for ``dst_root``. The
    DV file CONTENT is commit-relative-path-keyed (move/clone/branch
    invariant),
    so only the DV file's own path needs re-expression."""
    return [
        {**d, "path": _m_repath(d["path"], src_root, dst_root)}
        for d in m.get("pos_deletes", [])
    ]


def create_branch(
    path: str, name: str, at_version: int | None = None
) -> str:
    """Fork a branch from the table's ``at_version`` (default: head)
    and return the branch root path. Metadata-only: the branch's v=0
    manifest lists the fork snapshot's files by reference (absolute
    paths into the parent); no data is copied. Branching a branch is
    rejected (fork from the table instead)."""
    if _is_branch_root(path):
        raise ValueError(
            f"{path} is itself a branch; fork a new branch from the table"
        )
    if not _SAFE_PART_VAL.match(name):
        raise ValueError(f"branch name {name!r} has path-special characters")
    fork = latest_version(path) if at_version is None else at_version
    m = _m_load(path, fork)  # raises if the version isn't committed
    broot = branch_path(path, name)
    if os.path.exists(os.path.join(broot, "_branch.json")):
        raise ValueError(f"branch {name!r} already exists under {path}")
    entries, dels = _m_repath_manifest(m, path, broot)
    manifest = _m_manifest(
        broot,
        0,
        None,
        m["schema"],
        m.get("partition_by"),
        entries,
        deletes=dels or None,
        retired=m.get("retired"),
        constraints=m.get("constraints"),
        bloom_keys=m.get("bloom_keys"),
        transforms=m.get("transforms"),
        pos_deletes=_m_repath_pos(m, path, broot) or None,
        op={"name": "CREATE_BRANCH", "dataChange": True},
    )
    manifest["fork"] = fork
    _m_publish(broot, 0, manifest)
    # the ref record lands AFTER the manifest: a crash in between
    # leaves an unlisted branch dir (invisible — list_branches requires
    # _branch.json, and its manifest only references parent files, so
    # nothing dangles); drop_branch(name) clears the remnant.
    meta = os.path.join(broot, "_branch.json")
    with open(meta, "w") as f:
        json.dump({"name": name, "fork": fork}, f)
        f.flush()
        os.fsync(f.fileno())
    return broot


def publish_branch(path: str, name: str) -> int:
    """Fast-forward the table to the branch head — the PUBLISH step of
    write-audit-publish. SQUASH semantics: one new table version whose
    manifest is the branch head's file list re-pathed into the table's
    namespace; zero data reads or copies, one put-if-absent commit.
    Returns the new table version. The branch remains after publish
    (drop it explicitly); its data files are now pinned by the table
    manifest, so :func:`drop_branch`'s GC will keep them.

    When the parent ADVANCED since the fork (continuous ingest under
    WAP), the publish REBASES instead of failing: the branch's net
    change (entries it added/removed vs its fork image) is re-applied
    onto the new parent head under the same partition-footprint
    conflict rules as the transaction catalog — keep the head's
    entries outside the branch's footprint, the branch's entries
    inside it. Still zero data reads, still one put-if-absent. The
    rebase raises :class:`ConcurrentWriteError` when disjointness
    cannot be proven: intersecting partition footprints, a schema or
    partitioning change on either side, equality-delete files anywhere
    in the triangle (delete sequence numbers don't translate across
    namespaces), or a vacuumed fork manifest."""
    fork = _branch_fork(path, name)
    broot = branch_path(path, name)
    while True:
        head = latest_version(path)
        bm = _m_load(broot, latest_version(broot))
        if head == fork:
            entries, dels = _m_repath_manifest(bm, broot, path)
            if not dels and not bm.get("pos_deletes"):
                # restamp branch-ADDED entries (absent from the fork
                # image) to the parent version being published, so
                # incremental consumers (scan_table(since=fork)) see
                # them — branch-local seqs (1, 2, …) would land below
                # `since`. Fork-carried entries keep their parent seq.
                # Skipped when any delete files ride along: their seqs
                # are branch-local too and the entry/delete ordering
                # must stay internally consistent.
                try:
                    fork_files = set(
                        _abs_entry_map(path, _m_load(path, fork))
                    )
                except FileNotFoundError:
                    fork_files = None  # fork vacuumed — keep seqs
                if fork_files is not None:
                    for e in entries:
                        ap = (
                            e["path"]
                            if os.path.isabs(e["path"])
                            else os.path.abspath(
                                os.path.join(path, e["path"])
                            )
                        )
                        if ap not in fork_files:
                            e["seq"] = fork + 1
            manifest = _m_manifest(
                path,
                fork + 1,
                fork,
                bm["schema"],
                bm.get("partition_by"),
                entries,
                deletes=dels or None,
                retired=bm.get("retired"),
                constraints=bm.get("constraints"),
                bloom_keys=bm.get("bloom_keys"),
                transforms=bm.get("transforms"),
                pos_deletes=_m_repath_pos(bm, broot, path) or None,
                op={"name": "PUBLISH_BRANCH", "dataChange": True},
            )
            try:
                _m_publish(path, fork + 1, manifest)
            except ConcurrentWriteError:
                continue  # parent advanced mid-publish — rebase path
            return fork + 1
        v = _publish_rebase(path, name, broot, fork, head, bm)
        if v is not None:
            return v  # else: slot race — loop and re-plan


def _abs_entry_map(root: str, m: dict) -> dict[str, dict]:
    """``{absolute file path: entry}`` for a manifest — the canonical
    form for cross-namespace (parent vs branch) entry comparison."""
    out = {}
    for e in _m_entries(root, m):
        p = e["path"]
        ap = p if os.path.isabs(p) else os.path.abspath(
            os.path.join(root, p)
        )
        out[ap] = e
    return out


def _publish_rebase(
    path: str, name: str, broot: str, fork: int, head: int, bm: dict
) -> int | None:
    """Non-fast-forward branch publish: re-apply the branch's net
    change onto parent version ``head`` (see :func:`publish_branch`).
    Returns the new version, ``None`` on a lost slot race (caller
    re-plans), raises :class:`ConcurrentWriteError` on a real
    conflict."""
    try:
        fork_m = _m_load(path, fork)
    except FileNotFoundError:
        raise ConcurrentWriteError(
            f"branch {name!r} forked at version {fork} of {path}, which "
            f"retention has since collected; re-branch and replay"
        )
    head_m = _m_load(path, head)
    if (
        bm["schema"] != fork_m["schema"]
        or head_m["schema"] != fork_m["schema"]
        or bm.get("partition_by") != fork_m.get("partition_by")
        or head_m.get("partition_by") != fork_m.get("partition_by")
    ):
        raise ConcurrentWriteError(
            f"cannot rebase-publish branch {name!r}: schema or "
            f"partitioning diverged between fork, parent head, and "
            f"branch head; re-branch from the head and replay"
        )
    if any(
        mm.get("deletes") or mm.get("pos_deletes")
        for mm in (bm, fork_m, head_m)
    ):
        raise ConcurrentWriteError(
            f"cannot rebase-publish branch {name!r}: pending delete "
            f"files present (delete sequence numbers don't translate "
            f"across namespaces); compact first or re-branch and replay"
        )
    fork_abs = _abs_entry_map(path, fork_m)
    head_abs = _abs_entry_map(path, head_m)
    branch_abs = _abs_entry_map(broot, bm)
    branch_delta = set(fork_abs) ^ set(branch_abs)
    parent_delta = set(fork_abs) ^ set(head_abs)
    foot = lambda delta, *maps: {  # noqa: E731 — partition footprint
        _part_key(m[p].get("partition"))
        for p in delta
        for m in maps
        if p in m
    }
    bfoot = foot(branch_delta, fork_abs, branch_abs)
    pfoot = foot(parent_delta, fork_abs, head_abs)
    if bfoot & pfoot:
        raise ConcurrentWriteError(
            f"branch {name!r} and {path} both changed partition(s) "
            f"{sorted(bfoot & pfoot)} since the fork at version {fork}; "
            f"re-branch from the head and replay"
        )
    entries = [
        {**e, "path": _m_repath(ap, path, path)}
        for ap, e in head_abs.items()
        if _part_key(e.get("partition")) not in bfoot
    ] + [
        # branch-ADDED files (absent from the fork image) are new to
        # the parent at head+1 — restamp their seq so incremental
        # consumers (scan_table(since=head)) see them (safe: this
        # path rejects every kind of pending delete file)
        {
            **e,
            "path": _m_repath(ap, broot, path),
            **({"seq": head + 1} if ap not in fork_abs else {}),
        }
        for ap, e in branch_abs.items()
        if _part_key(e.get("partition")) in bfoot
    ]
    manifest = _m_manifest(
        path,
        head + 1,
        head,
        bm["schema"],
        bm.get("partition_by"),
        entries,
        retired=bm.get("retired"),
        constraints=bm.get("constraints"),
        bloom_keys=bm.get("bloom_keys"),
        transforms=bm.get("transforms"),
        op={"name": "PUBLISH_BRANCH", "dataChange": True},
    )
    try:
        _m_publish(path, head + 1, manifest)
    except ConcurrentWriteError:
        return None  # parent advanced again — caller re-plans
    return head + 1


def drop_branch(
    path: str, name: str, grace_seconds: float = None
) -> None:
    """Delete a branch's metadata and garbage-collect its data files —
    EXCEPT any the table (or another branch) still references, e.g.
    after a publish (absolute-path refcounting, see
    :func:`_m_gc_files`). The eager GC honors the same retention grace
    window as vacuum — the family walk covers the PARENT's data dirs
    too, so an ungraced sweep could collect a concurrent parent
    commit's unpublished files; pass ``grace_seconds=0`` only when no
    other writer can be in flight anywhere in the branch family."""
    broot = branch_path(path, name)
    if not os.path.isdir(broot):
        return
    shutil.rmtree(os.path.join(broot, "_manifests"), ignore_errors=True)
    try:
        os.unlink(os.path.join(broot, "_branch.json"))
    except FileNotFoundError:
        pass
    # refs gone → the family GC (run from the PARENT so every branch
    # data dir is walked) collects whatever only this branch pinned
    _m_gc_files(path, grace_seconds=grace_seconds)
    for root, _dirs, _files in os.walk(broot, topdown=False):
        if not os.listdir(root):
            os.rmdir(root)


def clone_table(path: str, dst: str) -> int:
    """SHALLOW CLONE (Delta's ``CREATE TABLE … SHALLOW CLONE src``):
    create an independent table at ``dst`` whose v=0 manifest lists the
    source head's files BY REFERENCE (absolute paths into the source) —
    zero data copied, metadata-only, O(manifest) regardless of table
    size. The clone then evolves independently: mutations on either
    side are invisible to the other (new files land under each table's
    own root; copy-on-write never mutates a shared file in place).

    The clone is REGISTERED in ``<src>/_clones/`` so the source's GC
    refcounts the clone's manifests before collecting anything
    (:func:`_clone_roots`): vacuuming the source keeps every shared
    file some live clone manifest still names — the resurrection-proof
    refcount Delta's shallow clones famously DON'T have (vacuuming a
    Delta source breaks its shallow clones; docs say "don't"). Deleting
    the clone directory is how you drop a clone — its stale marker is
    retired on the source's next GC pass. Returns the clone's version
    number (always 0)."""
    dst = os.path.abspath(dst)
    src = os.path.abspath(path)
    if os.path.exists(dst) and os.listdir(dst):
        raise FileExistsError(f"clone destination {dst} is not empty")
    if dst == src or dst.startswith(src + os.sep) or src.startswith(
        dst + os.sep
    ):
        raise ValueError("clone destination must not nest with the source")
    head = latest_version(src)
    m = _m_load(src, head)
    entries, dels = _m_repath_manifest(m, src, dst)
    manifest = _m_manifest(
        dst,
        0,
        None,
        m["schema"],
        m.get("partition_by"),
        entries,
        deletes=dels or None,
        retired=m.get("retired"),
        constraints=m.get("constraints"),
        bloom_keys=m.get("bloom_keys"),
        transforms=m.get("transforms"),
        pos_deletes=_m_repath_pos(m, src, dst) or None,
        op={"name": "CLONE", "dataChange": True},
    )
    manifest["cloned_from"] = {"path": src, "version": head}
    os.makedirs(dst, exist_ok=True)
    _m_publish(dst, 0, manifest)
    # marker AFTER the manifest: a crash in between leaves a readable
    # clone that a source vacuum may later break — the user re-clones;
    # the reverse order could leave a marker pinning nothing
    cdir = os.path.join(src, "_clones")
    os.makedirs(cdir, exist_ok=True)
    marker = os.path.join(cdir, f"{uuid.uuid4().hex}.json")
    with open(marker, "w") as f:
        json.dump({"path": dst}, f)
        f.flush()
        os.fsync(f.fileno())
    return 0
