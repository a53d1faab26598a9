"""Top-k rows per group: the one window the per-query top-k operators rank
with (kNN, batched ANN, the embedding self-join), and the deterministic
caps (bucket and posting-list truncation, newest crawl per url).

A `row_number() <= k` filter over a window partitioned by the group plans
as a partial WindowGroupLimit before the window's exchange (Spark 3.5+),
so at most partitions x groups x k rows are shuffled, not every input row.
The filter must be a bound on the rank itself: `rank - 1 < k` plans no
group limit, so this module is the only place the filter is written.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_RN = "_topk_rn"


def check_k(api: str, k: int) -> None:
    """Raise before any job when a guaranteed-k API is asked for k < 1
    rows, which it would otherwise answer with an empty frame."""
    if k < 1:
        raise ValueError(f"{api}: k must be >= 1, got {k}")


def top_k(
    df: DataFrame,
    k: int,
    by: str | list[str],
    order: list[str | Column],
    rank: str | None = None,
) -> DataFrame:
    """The first k rows of each `by` group under `order`.

    The last term of `order` must be unique within a group: it breaks
    every tie, so the rows kept do not depend on partitioning. With `rank`
    named, the result keeps a 1..k rank column of that name; otherwise it
    keeps exactly df's columns."""
    by = [by] if isinstance(by, str) else by
    rn = rank or _RN
    w = Window.partitionBy(*by).orderBy(*order)
    out = df.withColumn(rn, F.row_number().over(w)).where(F.col(rn) <= k)
    return out if rank else out.drop(rn)
