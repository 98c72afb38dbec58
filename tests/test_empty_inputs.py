"""Contracts over degenerate inputs the corpus never produces: each
test derives a zero-row table with the corpus schema in ``tmp_path``
and checks the contract answers what its oracle would."""

from spype_spark.queries import REGISTRY


def _empty_like(spark, sf_dir, tmp_path, name):
    src = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    spark.createDataFrame([], src.schema).write.parquet(
        str(tmp_path / f"{name}.parquet")
    )


def test_approx_distinct_on_empty_lineitem(spark, sf_dir, tmp_path):
    """Zero rows: exact counts are 0 (not NULL) and the error bound
    holds (TRUE, not NULL, and no DIVIDE_BY_ZERO under ANSI)."""
    _empty_like(spark, sf_dir, tmp_path, "lineitem")
    got = REGISTRY["q_agg_approx_distinct"].fn(spark, str(tmp_path))
    assert [tuple(r) for r in got.collect()] == [(0, True, 0, True)]
