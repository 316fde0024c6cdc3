"""Differential test: every registered query vs its DuckDB oracle —
the same comparison the driver's correctness gate performs."""

from __future__ import annotations

import pytest

from data_pipelines_cu_spark.queries import all_queries

from .util import assert_matches_oracle

QUERIES = all_queries()


# The heaviest replay (the SemDeDup composite, whose recursive-CTE
# oracle alone takes ~10 s) goes to tier 2 (see pytest.ini): the default
# run keeps every other replay, including the quantized/IVF ANN twins;
# tier 2 still runs at round close.
_TIER2_REPLAYS = {
    "semantic_dup_clusters",
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.tier2)
        if n in _TIER2_REPLAYS
        else n
        for n in sorted(QUERIES)
    ],
)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    q = QUERIES[name]
    df = q.fn(spark, sf_dir)
    assert df.columns, f"{name} returned no columns"
    if q.oracle is None:
        assert df.count() >= 0
        return
    assert_matches_oracle(df, duck, q.oracle)
