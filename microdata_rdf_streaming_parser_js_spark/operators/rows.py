"""The one Arrow crossing for per-row Python kernels.

A kernel is a pure function of one input row's values that returns an
iterable of output tuples (zero, one or many rows per input row). Every
operator whose Python work is such a kernel runs it through
:func:`map_rows`, so the batch conversion between Arrow and Python is
written, and can be tuned, in one place.

Scale notes (100 TB corpus):
- ``mapInPandas`` (iterator-of-batches) is used instead of a scalar
  pandas_udf so each Python worker compiles regexes/parser tables once
  per task, not per batch, and so output rows (tens per page) stream
  out batch-by-batch without materializing a whole partition.
- The kernel runs embarrassingly parallel: no shuffle is introduced
  here. Upstream repartition by hash(url) (sources/pages.read_pages)
  evens out crawl-order skew in page sizes.
- Only ``in_cols`` are selected before the crossing, so Catalyst
  prunes every other column out of the source scan.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql import DataFrame
    from pyspark.sql import types as T

Kernel = Callable[..., Iterable[tuple]]


def rows_fn(
    kernel: Kernel, in_cols: list[str], out_cols: list[str]
) -> Callable[[Iterator["pd.DataFrame"]], Iterator["pd.DataFrame"]]:
    """The ``mapInPandas`` function: ``kernel(*row)`` for each row of
    ``in_cols``, one output frame (columns ``out_cols``) per batch."""

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = [
                out
                for row in zip(*(pdf[c] for c in in_cols))
                for out in kernel(*row)
            ]
            yield pd.DataFrame(rows, columns=out_cols)

    return fn


def map_rows(
    df: "DataFrame", in_cols: list[str], kernel: Kernel, schema: "T.StructType"
) -> "DataFrame":
    """``df`` pruned to ``in_cols`` -> ``kernel`` rows typed by ``schema``."""
    return df.select(*in_cols).mapInPandas(
        rows_fn(kernel, in_cols, schema.fieldNames()), schema=schema
    )
