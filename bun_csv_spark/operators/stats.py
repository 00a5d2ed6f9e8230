"""Column statistics — the reference `stats` CLI command on Spark.

Per-column: count, nullCount, exact uniqueCount, min/max/mean for numeric
columns, lexicographic min/max for strings, plus the reference's type
inference (reference: src/cli/commands/stats.ts:17-113):

- all non-null values numeric        -> "number"
- <=10 uniques and >100 rows         -> "categorical"
- else                               -> "string"

Plan shape: one lazy plan over a long (column index, value) form, so its
size does not grow with the column count. The scan explodes each row into
one narrow record per column; a first groupBy on (column, value) collapses
the records to distinct values (fixed-width buffers, so a hash aggregate
with a map-side combine); a second groupBy on the column folds the
distinct values into the stats. One scan, two small shuffles (the second
carries at most one partial row per column per task), and no Spark job
runs until the caller acts on the result. The exact unique count is the
number of first-level groups — no ``countDistinct``, so no ``Expand``
copying every row once per distinct aggregate — and the numeric-string
regex runs once per distinct value, not per row.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bun_csv_spark.functions.coercion import NUMBER_RE

_NUM_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)
# types whose string cast can map two distinct values to one string
# (array/struct/map elements may contain the separators, binary decodes
# with replacement, a local timestamp repeats in a DST fold); these carry
# a second, injective grouping key
_LOSSY_STRING_TYPES = (
    T.ArrayType,
    T.StructType,
    T.MapType,
    T.BinaryType,
    T.TimestampType,
)
_JSON_MICROS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def column_stats(
    df: DataFrame, columns: list[str] | None = None, approximate: bool = False
) -> DataFrame:
    """One row per column, in ``columns`` order: (column, count,
    null_count, unique_count, min_num, max_num, mean_num, min_str,
    max_str, inferred_type). Lazy: building it launches no job.

    Value semantics: ``unique_count`` counts distinct non-null values as
    ``countDistinct`` does (NaN equals NaN, -0.0 equals 0.0; for floats
    nested inside arrays/structs -0.0 and 0.0 count apart); numeric stats
    use the value itself for numeric types and the strings matching
    ``NUMBER_RE`` otherwise; an empty input gives count 0 for every
    column. ``approximate`` is kept for callers: the distinct count is a
    by-product of the first grouping, exact at no extra cost, so both
    settings return it exactly."""
    cols = list(columns or df.columns)
    null_str, null_double = F.lit(None).cast("string"), F.lit(None).cast("double")
    slots = []
    for i, c in enumerate(cols):
        col, dtype = F.col(c), df.schema[c].dataType
        slots.append(
            F.struct(
                F.lit(i).alias("i"),
                col.cast("string").alias("v"),
                (
                    F.to_json(F.struct(col), _JSON_MICROS)
                    if isinstance(dtype, _LOSSY_STRING_TYPES)
                    else null_str
                ).alias("u"),
                (col.cast("double") if isinstance(dtype, _NUM_TYPES) else null_double).alias("x"),
                F.lit(1).alias("w"),
            )
        )
    long = df.select(F.inline(F.array(*slots)))
    # one weight-0 row per column, so an empty input still reports them all
    sentinels = df.sparkSession.range(0, len(cols), 1, 1).select(
        F.col("id").cast("int").alias("i"),
        null_str.alias("v"),
        null_str.alias("u"),
        null_double.alias("x"),
        F.lit(0).alias("w"),
    )
    values = (
        long.unionByName(sentinels)
        .groupBy("i", "v", "u")
        .agg(F.sum("w").alias("n"), F.min("x").alias("x"))
    )

    v, n, x = F.col("v"), F.col("n"), F.col("x")
    # numeric view of a distinct value: the value itself for numeric
    # types, else the string when it looks like a number
    num = F.coalesce(x, F.when(v.rlike(NUMBER_RE), v.cast("double")))
    # -0.0 and 0.0 are distinct strings but one value to countDistinct
    both_zeros = F.bool_or((v == "-0.0") & x.isNotNull()) & F.bool_or(
        (v == "0.0") & x.isNotNull()
    )
    stats = values.groupBy("i").agg(
        F.sum(n).alias("count"),
        F.sum(F.when(v.isNull(), n)).alias("null_count"),
        (F.count(v) - both_zeros.cast("long")).alias("unique_count"),
        F.min(num).alias("min_num"),
        F.max(num).alias("max_num"),
        (F.sum(num * n) / F.sum(F.when(num.isNotNull(), n))).alias("mean_num"),
        F.min(v).alias("min_str"),
        F.max(v).alias("max_str"),
        F.sum(F.when(~v.rlike(NUMBER_RE), n).otherwise(0)).alias("__nonnum"),
    )
    inferred = (
        F.when(
            (F.col("count") > F.col("null_count")) & (F.col("__nonnum") == 0),
            "number",
        )
        .when((F.col("unique_count") <= 10) & (F.col("count") > 100), "categorical")
        .otherwise("string")
    )
    names = F.array(*[F.lit(c) for c in cols])
    return (
        stats.coalesce(1)
        .sortWithinPartitions("i")
        .select(
            F.element_at(names, F.col("i") + 1).alias("column"),
            "count",
            "null_count",
            "unique_count",
            "min_num",
            "max_num",
            "mean_num",
            "min_str",
            "max_str",
            inferred.alias("inferred_type"),
        )
    )


def validate_rules(
    df: DataFrame,
    rules: "dict[str, object]",
) -> DataFrame:
    """Data-quality gate: evaluate named boolean rules over a table and
    report per-rule pass/violation counts — the publish-blocking
    expectations check (completeness, ranges, referential sanity) a
    production pipeline runs before a table goes live.

    ``rules`` maps rule name -> Column predicate (NULL counts as a
    violation, matching expectation-framework semantics — an unknown is
    not a pass). ALL rules evaluate in ONE wide aggregate over a single
    scan: the per-rule counters are conditional sums, so the cost is one
    pass regardless of rule count, map-side combined, no shuffle beyond
    the 1-row reduce. Returns (rule, n_rows, n_violations,
    violation_rate rounded 6dp) — one row per rule via a stack of the
    wide aggregate, still bounded by the rule count.

    Rule names are interpolated into a ``stack`` selectExpr, so they are
    restricted to safe identifiers ([A-Za-z0-9_.-]) and the dict must be
    non-empty — both rejected up front with a clear error rather than a
    malformed-SQL failure downstream."""
    if not rules:
        raise ValueError("validate_rules: rules dict must be non-empty")
    for name in rules:
        if not re.fullmatch(r"[A-Za-z0-9_.\-]+", name):
            raise ValueError(
                f"validate_rules: rule name {name!r} is not a safe identifier "
                "(allowed: letters, digits, underscore, dot, dash)"
            )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, pred in rules.items():
        aggs.append(
            F.sum(
                F.when(F.coalesce(pred, F.lit(False)), 0).otherwise(1)
            ).alias(f"__v_{name}")
        )
    wide = df.agg(*aggs)
    pairs = ", ".join(f"'{name}', `__v_{name}`" for name in rules)
    return wide.selectExpr(
        f"stack({len(rules)}, {pairs}) as (rule, n_violations)", "__n as n_rows"
    ).select(
        "rule",
        F.col("n_rows").cast("long"),
        F.col("n_violations").cast("long"),
        F.round(F.col("n_violations") / F.col("n_rows"), 6).alias("violation_rate"),
    )
