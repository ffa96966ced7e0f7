"""QuerySpec compiler: sort sentinels, pagination, projection,
aggregation quirks (avg-of-empty=0, composite group key, having
pre-filter) — reference quirks listed in SURVEY.md §7."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from memory_engine_spark.operators.aggregates import Aggregation, aggregate, group_count
from memory_engine_spark.operators.filters import FilterCondition
from memory_engine_spark.operators.sorting import (
    SortCriteria, apply_sort, collect_page, slice_rows,
)
from memory_engine_spark.plans.compiler import (
    clamp_depth, clamp_similarity_threshold, compile_query,
)
from memory_engine_spark.plans.query_spec import QuerySpec


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        Row(id=1, grp="a", val=10.0, name="m"),
        Row(id=2, grp="a", val=20.0, name=None),
        Row(id=3, grp="b", val=30.0, name="k"),
        Row(id=4, grp=None, val=None, name="z"),
    ]
    return spark.createDataFrame(rows)


def test_sort_null_sentinels(spark, df):
    # ascending: nulls first (reference "" sentinel); descending: nulls last
    asc = [r["name"] for r in apply_sort(df, [SortCriteria("name")]).collect()]
    assert asc == [None, "k", "m", "z"]
    desc = [r["name"] for r in apply_sort(df, [SortCriteria("name", False)]).collect()]
    assert desc == ["z", "m", "k", None]


def test_pagination(df):
    page = collect_page(df, lambda d: slice_rows(d.orderBy("id"), 1, 2), 1, 2)
    assert [r["id"] for r in page.rows] == [2, 3]
    assert page.total_count == 4 and page.has_more and page.next_offset == 3


def test_avg_of_empty_is_zero(spark, df):
    out = aggregate(df.filter("id > 99"), [Aggregation("avg", "val", "a")]).collect()
    assert out[0]["a"] == 0.0  # query_language.py:673


def test_group_count_composite_key(df):
    rows = {r["group_key"]: r["group_count"]
            for r in group_count(df, ["grp", "name"]).collect()}
    assert rows["a|m"] == 1
    assert rows["a|null"] == 1       # null → "null" (filter_processor.py:595-600)
    assert rows["null|z"] == 1


def test_having_is_prefilter(df):
    # having applied BEFORE aggregation (filter_processor.py:474-479)
    out = aggregate(df, [Aggregation("sum", "val", "s")], group_by=["grp"],
                    having=[FilterCondition("val", "gt", 15.0)]).collect()
    by_grp = {r["grp"]: r["s"] for r in out}
    assert by_grp == {"a": 20.0, "b": 30.0}  # val=10 pre-filtered out


def test_full_compile(df):
    spec = (QuerySpec("t")
            .filter("val", "gte", 10.0)
            .sort("val", ascending=False)
            .page(1, 2)
            .select("id", "val"))
    out = compile_query(df, spec)
    assert [r["id"] for r in out.collect()] == [2, 1]
    assert out.columns == ["id", "val"]


def test_validation():
    spec = QuerySpec("t").filter("bad_field", "eq", 1)
    with pytest.raises(ValueError):
        spec.validate(["id", "val"])
    QuerySpec("t").filter("id", "eq", 1).validate(["id"])


def test_optimizer_clamps():
    # query_optimizer.py:235-247
    assert clamp_similarity_threshold(0.95) == 0.85
    assert clamp_similarity_threshold(0.3) == 0.6
    assert clamp_similarity_threshold(0.7) == 0.7
    assert clamp_depth(5, None) == 3
    assert clamp_depth(5, 10) == 5
    assert clamp_depth(2, None) == 2
