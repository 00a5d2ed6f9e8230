"""Small plan-shaping utilities."""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_file_order_index(
    df: DataFrame,
    name: str = "__row_idx",
    split: tuple[str, ...] = (),
    keep: Column | None = None,
) -> DataFrame:
    """Attach a deterministic 0-based file-order row index, pure DataFrame
    API, with one stats job at build time.

    ``monotonically_increasing_id`` (mid) is ``partition << 33`` plus the
    row's position in its task, so a row's index is its mid plus a
    constant per split. One aggregation grouped by (partition, *split)
    returns each split's row count and mid range, and the driver turns
    them into cumulative offsets. Splits order by the ``split`` columns,
    then by partition; pass the file source's ``_metadata.file_path`` and
    ``_metadata.file_block_start`` so that multi-file directories index in
    (path, offset) order even when Spark packs several small files into
    one partition out of name order. With no ``split`` each partition is
    one split in partition order, which is ``zipWithIndex``'s order.

    The offsets enter the plan as one constant: a JSON array, indexed by
    partition, of ``{split key: offset}`` maps, parsed once by constant
    folding. There is no join, no ``createDataFrame`` and no shuffle; a
    row looks up only the splits of its own partition. The plan holds
    O(splits) constants, like the start offsets ``zipWithIndex`` ships.

    ``keep``: a predicate over ``df``. When given, only the rows where it
    holds are returned, and ``__rank`` numbers them 0-based in file order
    among the kept rows. The same stats job counts the kept rows of each
    split, and a second mid taken after the filter gives the position
    within the partition's kept rows.

    Deterministic whenever the upstream plan is (file scans are). Raises
    when mid is not contiguous within a split.
    """
    key = (
        F.concat_ws("\x00", *[F.col(c).cast("string") for c in split])
        if split
        else F.lit("")
    )
    base = df.select("*", key.alias("__split"), F.monotonically_increasing_id().alias("__mid"))
    stats = (
        base.groupBy(F.shiftright("__mid", 33).alias("pid"), "__split", *split)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("__mid").alias("lo"),
            F.max("__mid").alias("hi"),
            F.count_if(F.lit(True) if keep is None else keep).alias("k"),
        )
        .collect()
    )
    stats.sort(key=lambda r: (*(r[c] for c in split), r["pid"]))
    n_parts = 1 + max((r["pid"] for r in stats), default=-1)
    shift: list[dict] = [{} for _ in range(n_parts)]
    kshift: list[dict] = [{} for _ in range(n_parts)]
    rows = kept = 0
    for r in stats:
        if r["hi"] - r["lo"] + 1 != r["n"]:
            raise RuntimeError(
                f"monotonically_increasing_id is not contiguous within split "
                f"{r['__split']!r}; cannot build a file-order index"
            )
        pid, s = r["pid"], r["__split"]
        shift[pid][s] = rows - r["lo"]
        kshift[pid][s] = kept - (pid << 33)
        rows += r["n"]
        kept += r["k"]
    # the second mid also counts the kept rows of the splits its partition
    # ran earlier (in mid order)
    ran = [0] * n_parts
    for r in sorted(stats, key=lambda r: r["lo"]):
        kshift[r["pid"]][r["__split"]] -= ran[r["pid"]]
        ran[r["pid"]] += r["k"]

    def offset(table: list[dict]) -> Column:
        parsed = F.from_json(F.lit(json.dumps(table)), "array<map<string,bigint>>")
        return F.get(parsed, F.spark_partition_id())[F.col("__split")]

    out = base.withColumn(name, F.col("__mid") + offset(shift))
    if keep is not None:
        out = out.filter(keep).withColumn(
            "__rank", F.monotonically_increasing_id() + offset(kshift)
        )
    return out.drop("__split", "__mid", *split)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum sampling (training-data mixture control: downsample
    overrepresented sources/languages, keep rare ones whole).

    ``sampleBy`` is a filter pushed into the scan — no shuffle, no
    collect; deterministic for a fixed seed and input partitioning."""
    return df.sampleBy(strata_col, fractions, seed)


def stratified_sample_hash(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    id_col: str,
    denom: int = 10_000,
) -> DataFrame:
    """Deterministic, engine-portable stratified sampling: keep a row iff
    ``md5(id) mod denom < fraction * denom`` for its stratum.

    Unlike ``sampleBy`` (seeded RNG whose draw order depends on
    partitioning) the keep/drop decision is a pure function of the row —
    identical across engines, runs, and cluster layouts, which is what a
    reproducible training-data mixture needs. Still a plain filter
    expression: no shuffle, no UDF, pushes into the scan. Strata missing
    from ``fractions`` are dropped (map lookup yields NULL)."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
        % denom
    )
    cutoffs = F.create_map(
        *[
            F.lit(x)
            for stratum, frac in fractions.items()
            for x in (stratum, int(round(frac * denom)))
        ]
    )
    return df.filter(bucket < cutoffs[F.col(strata_col)])


def ensure_parallelism(
    df: DataFrame,
    small_bytes: int = 128 * 1024 * 1024,
    key: str | None = None,
) -> DataFrame:
    """Repartition ONLY when the scan is too small to split (one small
    parquet file = one row group = one task locally), so CPU-bound stages
    that follow still use the whole cluster.

    Decided from file metadata alone (``inputFiles`` + ``getsize`` — no
    job, no RDD conversion). Inputs above ``small_bytes`` already split at
    ``maxPartitionBytes``, so at real scale this is a no-op and costs no
    shuffle.

    Only worth calling when the downstream per-row work is HEAVY (regex
    batteries, shingling, decoding): for cheap columnar aggregates the
    exchange costs more than single-task compute on a <128 MB input
    (r18 A/B at sf0.1, noop-forced best-of-5: tpch_q1 0.51 s unpartitioned
    vs 1.40 s through repartition(32)) — those call sites should read the
    scan directly.

    ``key``: a near-unique column to hash-partition on. A keyed
    repartition skips the keyless round-robin's local sort of every row
    (sortBeforeRepartition, SPARK-23207 — paid so retried tasks reproduce
    their row assignment; a hash partitioning is deterministic per row and
    needs no such sort) and measured ~20% cheaper end-to-end on the
    text-feature pipelines (0.77 vs 0.94 s). Needs many more distinct
    values than partitions to spread evenly — pass a doc/row id, never a
    low-cardinality attribute."""
    total = _local_input_bytes(df)
    if total is None:
        return df
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if total < small_bytes and parallelism > 4:
        if key is not None:
            return df.repartition(parallelism, F.col(key))
        return df.repartition(parallelism)
    return df


def _local_input_bytes(df: DataFrame) -> int | None:
    """Sum the on-disk bytes of ``df``'s input files, or ``None`` when the
    size cannot be known from the driver.

    Sizing is only possible when EVERY path is a local ``file:`` URI: for a
    remote scheme (s3://, hdfs://, ...) ``getsize`` cannot see the bytes,
    and silently skipping those paths would leave the total at 0 — "small"
    — and let ``ensure_parallelism`` full-shuffle an arbitrarily large
    remote scan. Unknown scheme, no input files, or any stat error ⇒
    ``None`` ⇒ the caller leaves the plan alone."""
    try:
        files = df.inputFiles()
        if not files or not all(f.startswith("file:") for f in files):
            return None
        return sum(os.path.getsize(f.removeprefix("file:")) for f in files)
    except Exception:  # noqa: BLE001 — non-file sources: leave the plan alone
        return None


def hash_split(
    df,
    id_col: str,
    weights: dict[str, float],
    salt: str = "split",
):
    """Deterministic train/val/test assignment: split = the bucket an
    md5-derived uniform of (salt, id) falls into, with cumulative-weight
    boundaries. Engine-portable and rerun-stable — the same row always
    lands in the same split, across Spark versions and engines (unlike
    randomSplit, which reshuffles with partition layout). Map-only; adds
    a ``split`` column."""
    from pyspark.sql import functions as F

    total = sum(weights.values())
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / float(1 << 60)
    )
    expr = None
    cum = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        cum += w / total
        cond = u < cum
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)
