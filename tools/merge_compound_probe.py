"""Compound-key MERGE pruning probe (round 15, VERDICT-r14 item 5).

Round 14's file-level stats pruning refuted files on a SINGLE merge
key only; multi-key upserts on unpartitioned tables rewrote everything
even when the leading key's range could refute most files. Round 15
prunes on the CONJUNCTION of per-key ranges — a match equates ALL
keys, so ANY key's [min,max] missing the update set's range refutes
the file. The planner expresses it as the predicate spec
`("and", ("between", k, lo, hi), …)` (`lakehouse._m_key_range_pred`),
compiled by the same `_pred_compile` that prunes scans and deletes.

Fixture: 1M rows / 8 files range-clustered on the LEADING key k1 (k2
is a short cycle — every file covers its full range, so only k1 can
refute), 1 000-key clustered 2-key update. Comparator: the same merge
into a hash-distributed layout (every file's k1 range intersects —
graceful degradation to the full rewrite). Records carried files,
rewritten rows, and merge wall for both.

Usage: python tools/merge_compound_probe.py [n_rows]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from spype_spark import lakehouse as lake  # noqa: E402
from spype_spark.session import get_spark  # noqa: E402


def run(spark, tmp: str, n: int, layout: str) -> dict:
    path = os.path.join(tmp, f"t_{layout}")
    df = spark.range(n).select(
        F.col("id").alias("k1"),
        (F.col("id") % 13).alias("k2"),
        (F.col("id") * 10).alias("v"),
    )
    shaped = (
        df.repartitionByRange(8, "k1")
        if layout == "range"
        else df.repartition(8)
    )
    lake.write_table(shaped, path)
    n_files = len(lake._m_entries(path, lake._m_load(path, 0)))
    upd = spark.range(1000).select(
        F.col("id").alias("k1"),
        (F.col("id") % 13).alias("k2"),
        F.lit(-1).alias("v"),
    )
    t0 = time.perf_counter()
    lake.merge_upsert(spark, path, upd, ["k1", "k2"])
    wall_ms = (time.perf_counter() - t0) * 1000
    m1 = lake._m_load(path, 1)
    entries = lake._m_entries(path, m1)
    carried = [e for e in entries if e.get("seq", 0) == 0]
    rewritten_rows = sum(
        e.get("rows", 0) for e in entries if e.get("seq", 0) == 1
    )
    got = lake.read_table(spark, path).count()
    assert got == n, f"row count drifted: {got}"
    return {
        "layout": layout,
        "rows": n,
        "files": n_files,
        "carried": len(carried),
        "rewritten_rows": rewritten_rows,
        "merge_wall_ms": round(wall_ms),
    }


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    spark = get_spark("merge-compound-probe")
    tmp = tempfile.mkdtemp(prefix="merge_compound_")
    try:
        run(spark, tmp, 50_000, "warmup")  # codegen/session warm-up
        for layout in ("range", "hash"):
            rec = run(spark, tmp, n, layout)
            print(json.dumps(rec), flush=True)
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
