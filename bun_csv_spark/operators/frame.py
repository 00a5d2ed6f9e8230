"""TurboFrame — the reference DataFrame op layer re-expressed on Spark.

The reference materializes everything eagerly in a JS array and chains
eager operators (reference: src/ts/dataframe.ts:58-343). Here the same API
is thin, LAZY sugar over pyspark DataFrames: Catalyst fuses the chain,
pushes filters/projections into the scan, and picks join strategies.

Semantics parity notes (SURVEY.md §2.2-2.6):

- ``filter`` accepts either a Column or the CLI expression-language string
  (compiled by plans.expr — never eval'd).
- ``join`` supports inner/left/right/full/cross with the TS merge rule:
  on column-name collisions the RIGHT side wins for matched rows, while
  unmatched rows keep their own side's value (dataframe.ts:157-207 builds
  ``{...left, ...right}``). ``cross`` is declared-but-broken in the
  reference (degenerates to inner, dataframe.ts:17 vs 157-207); we
  implement the documented intent as a real cartesian product.
- ``sort`` is type-aware like the Zig comparator (dataframe.zig:879-902):
  numeric columns compare as doubles, everything else lexicographically.
- ``group_by(...).aggregate({out: (col, fn)})`` applies the exact aggregate
  semantics table from operators.aggregates.
- ``first/last/at`` follow file order when the frame carries a row-index
  column (ROW_IDX, added by sources.csv_reader or with_row_index()).

Scale note: none of these helpers ever collect to the driver; they only
compose logical plan nodes. Join sizing (broadcast vs shuffle) is left to
Catalyst/AQE; callers can pass ``broadcast=True`` to force the hint for
known-small dimensions.
"""

from __future__ import annotations

from typing import Any, Iterable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bun_csv_spark.operators.aggregates import agg_column
from bun_csv_spark.plans.expr import compile_filter

ROW_IDX = "__row_idx"

_NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)

JOIN_TYPES = {"inner", "left", "right", "full", "cross"}


def with_row_index(df: DataFrame, name: str = ROW_IDX) -> DataFrame:
    """Attach a deterministic 0-based file-order row index.

    The reference exposes 0-based ``row.index`` in file order
    (reference: src/ts/row.ts:88-89). Spark has no implicit row identity;
    this delegates to ``operators.util.with_file_order_index`` — a pure
    DataFrame-API index (monotonically_increasing_id + a tiny
    per-partition count aggregation whose offsets enter the plan as one
    constant; no ``.rdd``, no Python hop, no join). One extra stats job;
    at 100 TB prefer carrying a natural key instead when one exists.
    """
    from bun_csv_spark.operators.util import with_file_order_index

    return with_file_order_index(df, name)


class TurboFrame:
    """Lazy DataFrame wrapper with the reference operator surface."""

    def __init__(self, df: DataFrame):
        self.df = df

    # -- projections / filters ------------------------------------------------

    def select(self, *cols: str) -> "TurboFrame":
        return TurboFrame(self.df.select(*cols))

    def filter(self, predicate: str | Column) -> "TurboFrame":
        cond = compile_filter(predicate) if isinstance(predicate, str) else predicate
        return TurboFrame(self.df.filter(cond))

    def map(self, exprs: Mapping[str, Column]) -> "TurboFrame":
        """Reference df.map((row) => newRow) for the declarative case:
        a mapping of output column -> expression (dataframe.ts:117-119)."""
        return TurboFrame(self.df.withColumns(dict(exprs)))

    # -- sorts / limits --------------------------------------------------------

    def sort(self, column: str, descending: bool = False) -> "TurboFrame":
        dtype = self.df.schema[column].dataType
        key = F.col(column)
        if not isinstance(dtype, _NUMERIC_TYPES):
            # Type-aware compare (dataframe.zig:879-902): numeric-looking
            # strings sort as numbers; unparseable sorts first like the
            # reference's parse-failure -> less-than rule.
            as_num = key.try_cast("double")
            key = F.when(as_num.isNotNull(), as_num)
            order = [key.desc() if descending else key.asc_nulls_first(),
                     F.col(column).desc() if descending else F.col(column).asc()]
        else:
            order = [key.desc() if descending else key.asc()]
        return TurboFrame(self.df.orderBy(*order))

    def first(self, n: int = 1) -> list:
        return self.df.limit(n).collect()

    def last(self, n: int = 1) -> list:
        return self.df.tail(n)

    def at(self, index: int):
        if ROW_IDX in self.df.columns:
            rows = self.df.filter(F.col(ROW_IDX) == index).collect()
            return rows[0] if rows else None
        rows = self.df.limit(index + 1).tail(1)
        return rows[0] if rows else None

    def limit(self, n: int) -> "TurboFrame":
        return TurboFrame(self.df.limit(n))

    def count(self) -> int:
        return self.df.count()

    # -- joins -----------------------------------------------------------------

    def join(
        self,
        other: "TurboFrame | DataFrame",
        on: str | Mapping[str, str] | None = None,
        how: str = "inner",
        broadcast: bool = False,
    ) -> "TurboFrame":
        """Equi-join with the TS collision rule (right wins when matched).

        ``on`` is a single key name or ``{"left": lcol, "right": rcol}``
        (dataframe.ts:157-207). ``how="cross"`` ignores ``on``.
        """
        if how not in JOIN_TYPES:
            raise ValueError(f"join type {how!r} not in {sorted(JOIN_TYPES)}")
        right = other.df if isinstance(other, TurboFrame) else other
        left = self.df
        if broadcast:
            right = F.broadcast(right)

        if how == "cross":
            # right wins name collisions unconditionally (every row "matches")
            rset = set(right.columns)
            keep_left = [c for c in left.columns if c not in rset]
            joined = left.crossJoin(right)
            return TurboFrame(
                joined.select(
                    *[left[c].alias(c) for c in keep_left],
                    *[right[c].alias(c) for c in right.columns],
                )
            )

        if on is None:
            raise ValueError("equi-join needs an `on` key")
        lkey, rkey = (on, on) if isinstance(on, str) else (on["left"], on["right"])

        marker = "__matched"
        right_m = right.withColumn(marker, F.lit(True))
        joined = left.join(right_m, left[lkey] == right_m[rkey], how)
        matched = F.coalesce(right_m[marker], F.lit(False))

        rcols = [c for c in right.columns]
        rset = set(rcols)
        lset = set(left.columns)
        out: list[Column] = []
        for c in left.columns:
            if c in rset:
                # collision: right value for matched rows, left's otherwise
                # ({...left, ...right} merge, dataframe.ts:189)
                out.append(F.when(matched, right_m[c]).otherwise(left[c]).alias(c))
            else:
                out.append(left[c].alias(c))
        for c in rcols:
            if c not in lset:
                out.append(right_m[c].alias(c))
        return TurboFrame(joined.select(*out))

    # -- aggregation -----------------------------------------------------------

    def group_by(self, *cols: str) -> "TurboGroupedFrame":
        return TurboGroupedFrame(self.df, list(cols))

    def aggregate_all(self, specs: Mapping[str, tuple[str, str]]) -> "TurboFrame":
        """Ungrouped whole-column aggregates (dataframe.zig:344-464)."""
        order = F.col(ROW_IDX) if ROW_IDX in self.df.columns else None
        aggs = [
            agg_column(fn, col, order).alias(out) for out, (col, fn) in specs.items()
        ]
        return TurboFrame(self.df.agg(*aggs))

    # -- diagnostics ------------------------------------------------------------

    def lint(self, **kwargs) -> list:
        """Scale-antipattern findings for this frame's physical plan
        (``plans.lint.lint_plan``; nothing executes). Same surface the
        ``bcsv lint`` CLI command exposes — kwargs pass through
        (``fact_tables=``, ``dim_tables=``, ``fanout_budget=``)."""
        from bun_csv_spark.plans.lint import lint_plan

        return lint_plan(self.df, **kwargs)

    # -- consumption ------------------------------------------------------------

    def to_array(self) -> list[dict[str, Any]]:
        return [row.asDict() for row in self.df.collect()]

    def __iter__(self) -> Iterable:
        return self.df.toLocalIterator()


class TurboGroupedFrame:
    """Grouped frame: ``aggregate({out_name: (col, fn)})`` per SURVEY §2.4."""

    def __init__(self, df: DataFrame, keys: list[str]):
        self.df = df
        self.keys = keys

    def aggregate(
        self,
        specs: Mapping[str, tuple],
        order_col: str | None = None,
    ) -> TurboFrame:
        """specs: {out_name: (col, fn)} with fn a name from AGG_FNS, or
        {out_name: (col, callable, return_type)} for a custom aggregate —
        the reference's ``(values[]) => unknown`` hook (dataframe.ts:43,
        281-283). The callable receives the group's values in encounter
        order; it runs as a Python UDF over an ordered collect_list, so
        reserve it for bounded groups (built-in fns stay JVM-side)."""
        order = order_col or (ROW_IDX if ROW_IDX in self.df.columns else None)
        order_c = F.col(order) if order else None
        aggs = []
        for out, spec in specs.items():
            if len(spec) == 3 and callable(spec[1]):
                col, fn, rtype = spec
                if order_c is None:
                    raise ValueError(
                        "custom aggregates need an order column (encounter order)"
                    )
                ordered_vals = F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(order_c.alias("o"), F.col(col).alias("v")))
                    ),
                    lambda p: p["v"],
                )
                udf = F.udf(lambda vals: fn(list(vals) if vals else []), rtype)
                aggs.append(udf(ordered_vals).alias(out))
            else:
                col, fn = spec
                aggs.append(agg_column(fn, col, order_c).alias(out))
        return TurboFrame(self.df.groupBy(*self.keys).agg(*aggs))
