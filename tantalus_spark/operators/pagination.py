"""Stable pagination (SURVEY.md §2.5 O4, §7 hard part 8).

The reference pins ``order_by('id')`` before paging (api/views.py:62) and
slices with DRF page-number pagination (api/views.py:33-50, page_size=10,
``no_pagination`` escape hatch). Spark has no implicit row order, so the
total ordering is mandatory here, not optional.

One Spark action per page: the page is collected from
``orderBy(...).offset(...).limit(...)``, and the total is an observed
``count`` attached below the sort. The top-K sort consumes every matched
row, so the observed count is exact and the filter plan runs once, with
nothing cached. When Spark runs the page as some other plan, the count is
not trusted and a second action counts the matches."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Row
from pyspark.sql import functions as F

DEFAULT_PAGE_SIZE = 10  # api/views.py:35


class PageRows(list):
    """The collected rows of one page. ``collect()`` returns the page
    itself, so code written against a DataFrame page still works without
    running the plan again."""

    def collect(self) -> list[Row]:
        return self


@dataclass
class Page:
    rows: PageRows
    total: int
    page: int
    page_size: int

    @property
    def num_pages(self) -> int:
        return max(1, -(-self.total // self.page_size))


def paginate(
    df: DataFrame,
    order_by: list[str] | None = None,
    page: int = 1,
    page_size: int = DEFAULT_PAGE_SIZE,
    no_pagination: bool = False,
) -> Page:
    """Deterministically ordered page + total count, from one action.

    ``offset``/``limit`` push into the plan: with a sort, Spark runs a
    TakeOrderedAndProject for small offsets instead of a global sort — the
    same work a LIMIT-pushdown database does.
    """
    order_by = order_by or ["id"]
    cols = [F.col(c[1:]).desc() if c.startswith("-") else F.col(c)
            for c in order_by]
    if no_pagination:
        rows = PageRows(df.orderBy(*cols).collect())
        return Page(rows, len(rows), 1, max(len(rows), 1))
    if page < 1:
        raise ValueError("page numbers are 1-based")
    seen = Observation()
    # TakeOrderedAndProject keeps only the first offset+limit rows of each
    # partition when its input already arrives sorted by the sort keys
    # (e.g. out of a sort-merge join on id), and the observed count would
    # then miss rows. The trailing monotonically_increasing_id key is
    # computed above the observation, so no input can be sorted by it; it
    # also breaks ties of a non-unique order_by in scan order.
    ordered = (df.observe(seen, F.count(F.lit(1)).alias("n"))
               .orderBy(*cols, F.monotonically_increasing_id())
               .offset((page - 1) * page_size).limit(page_size))
    rows = PageRows(ordered.collect())
    total = seen.get["n"] if _ran_as_one_top_k(ordered) else df.count()
    return Page(rows, total, page, page_size)


def _ran_as_one_top_k(ordered: DataFrame) -> bool:
    """Whether the collect ran as one TakeOrderedAndProject, the only plan
    that reads every observed row exactly once. Adaptive execution may
    re-plan it from runtime row counts: it drops a limit the result cannot
    exceed and sorts globally, and the range partitioner's sampling pass
    then runs the observed scan a second time. Catalyst may also prune the
    observed plan of a page it proves empty. Either way, count instead."""
    plan = ordered._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    if plan.nodeName() == "ResultQueryStage":
        plan = plan.plan()
    return plan.nodeName() == "TakeOrderedAndProject"
