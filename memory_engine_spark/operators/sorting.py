"""Multi-key sort + offset pagination.

Reference: /root/reference/memory_core/orchestrator/query_language.py:590-626
(sorts with null sentinels, offset/limit slice) and
/root/reference/memory_core/query/query_engine.py:449-471 (pagination with
total_count / has_more / next_offset).

Null-sentinel parity: the reference substitutes ``""`` for nulls ascending
and ``"zzz"`` descending — i.e. nulls sort FIRST ascending and (for typical
lowercase strings) LAST descending. Spark's ``asc_nulls_first`` /
``desc_nulls_last`` reproduce that ordering declaratively without mutating
values.

Pagination at scale: ``offset+limit`` over a global sort is a single
TakeOrderedAndProject when offset+limit is small (Catalyst does this for
``df.orderBy(...).offset(o).limit(n)``). ``collect_page`` collects that
page and counts the rows entering the sort with an Observation on the
same job, so total_count costs no second pass over the input (the
reference len()s the full result list); it falls back to a count job
whenever the executed plan could have skipped or repeated rows.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, Row
from pyspark.sql import functions as F


@dataclass
class SortCriteria:
    """query_types.py:59-67."""

    field: str
    ascending: bool = True


@dataclass
class Page:
    df: DataFrame
    total_count: int
    offset: int
    limit: int | None
    rows: list[Row]

    @property
    def has_more(self) -> bool:
        return self.limit is not None and self.offset + self.limit < self.total_count

    @property
    def next_offset(self) -> int | None:
        return self.offset + self.limit if self.has_more else None


def sort_columns(sorts: Sequence[SortCriteria]) -> list[Column]:
    cols = []
    for s in sorts:
        c = F.col(s.field)
        cols.append(c.asc_nulls_first() if s.ascending else c.desc_nulls_last())
    return cols


def apply_sort(df: DataFrame, sorts: Sequence[SortCriteria]) -> DataFrame:
    return df.orderBy(*sort_columns(sorts)) if sorts else df


def slice_rows(df: DataFrame, offset: int = 0, limit: int | None = None) -> DataFrame:
    """Rows [offset, offset+limit) of ``df``; no limit means to the end."""
    if offset:
        df = df.offset(offset)
    if limit is not None:
        df = df.limit(limit)
    return df


def _root_operator(df: DataFrame) -> str:
    """Class name of the executed plan's root, under the adaptive
    wrappers (AdaptiveSparkPlanExec and its final ResultQueryStageExec)."""
    plan = df._jdf.queryExecution().executedPlan()
    while True:
        name = plan.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()
        elif name == "ResultQueryStageExec":
            plan = plan.plan()
        else:
            return name


def collect_page(df: DataFrame, arrange: Callable[[DataFrame], DataFrame],
                 offset: int = 0, limit: int | None = None) -> Page:
    """Collect the page ``arrange(df)`` — ``df`` sorted, sliced to
    [offset, offset+limit) and projected — with total_count = the rows
    of ``df``, in one job where the plan allows.

    With a limit, an Observation counts the rows entering the sort. The
    count is trusted only when the executed root is TakeOrderedAndProject,
    whose one result stage reads every input row exactly once. Otherwise
    the count may be wrong, so a ``df.count()`` job gives the total:
    Catalyst drops a limit that cannot cut (``spark.range(1000)`` at
    offset 995), and the global sort left behind samples its input in a
    second pass; a limit of 0 or a statically empty page prunes the
    observed node; an unsorted limit stops reading early.

    Without a limit the page is every row from ``offset`` on, so the
    total is ``offset + len(rows)``, unless the page is empty past row 0.
    """
    if limit is None:
        page = arrange(df)
        rows = page.collect()
        total = offset + len(rows) if rows or not offset else df.count()
        return Page(page, total, offset, limit, rows)
    obs = Observation()
    page = arrange(df.observe(obs, F.count(F.lit(1)).alias("n")))
    rows = page.collect()
    # Observation.get blocks until an action on ``page`` has completed,
    # so it is read only after the collect above returned.
    total = (obs.get.get("n")
             if _root_operator(page) == "TakeOrderedAndProjectExec" else None)
    return Page(page, df.count() if total is None else total, offset, limit, rows)
