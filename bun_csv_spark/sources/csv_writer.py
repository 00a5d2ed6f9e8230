"""CSV writer / unparse / convert — the reference output surface.

Reference: src/ts/writer.ts:41-202 (buffered writer, quote styles, line
endings, formula escaping), src/ts/unparse.ts:58-137 (in-memory serialize),
src/cli/commands/convert.ts:20-107 (csv/tsv/json/jsonl).

Spark mapping: quote-minimal and quote-all write natively
(``df.write.csv``); quote-nonnumeric has no native option, so the line is
assembled as an expression pipeline and written through the text sink —
still distributed, still codegen'd, just explicit quoting logic. The
header rides on the first line of each partition, so every part file
starts with it, as the native writer's files do.
"""

from __future__ import annotations

import csv
import io
import os
from typing import Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# cells starting with these become formula-injection vectors in spreadsheet
# apps; the reference prefixes a "'" (unparse.ts:147-165, writer.ts:150-172)
FORMULA_RE = r"^[=+\-@\t\r]"

_NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def escape_formulae_expr(col: Column | str, pattern: str = FORMULA_RE) -> Column:
    """Prefix ``'`` to cells matching the formula pattern."""
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    return F.when(s.rlike(pattern), F.concat(F.lit("'"), s)).otherwise(s)


def _quote_expr(col: Column, quote: str) -> Column:
    """Quote + double embedded quotes (RFC-4180)."""
    doubled = F.regexp_replace(col, quote, quote + quote)
    return F.concat(F.lit(quote), doubled, F.lit(quote))


def csv_line_expr(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    delimiter: str = ",",
    quote: str = '"',
    quote_style: str = "minimal",
    escape_formulae: bool = False,
) -> Column:
    """Build one CSV-serialized line per row as a Column expression.

    quote_style: "minimal" (only when needed), "all", "nonnumeric"."""
    cols = list(columns or df.columns)
    parts: list[Column] = []
    for name in cols:
        c = F.col(name).cast("string")
        if escape_formulae:
            c = escape_formulae_expr(c)
        needs = c.contains(delimiter) | c.contains(quote) | c.rlike("[\r\n]")
        is_numeric = isinstance(df.schema[name].dataType, _NUMERIC_TYPES)
        if quote_style == "all":
            q = _quote_expr(c, quote)
        elif quote_style == "nonnumeric" and not is_numeric:
            q = _quote_expr(c, quote)
        else:
            q = F.when(needs, _quote_expr(c, quote)).otherwise(c)
        parts.append(F.coalesce(q, F.lit("")))
    return F.concat_ws(delimiter, *parts)


def write_csv(
    df: DataFrame,
    path: str,
    delimiter: str = ",",
    quote: str = '"',
    quote_style: str = "minimal",
    newline: str = "\n",
    header: bool = True,
    escape_formulae: bool = False,
    mode: str = "overwrite",
) -> None:
    """Distributed CSV write with the reference quote styles.

    minimal/all ride the native writer (splittable, no Python);
    nonnumeric/escape_formulae assemble lines explicitly. Either way every
    non-empty part file starts with the header line and an empty frame
    leaves a header-only file, so ``read_csv`` reads the directory back."""
    if quote_style in ("minimal", "all") and not escape_formulae:
        (
            df.write.mode(mode)
            .option("sep", delimiter)
            .option("quote", quote)
            .option("escape", quote)
            .option("header", str(header).lower())
            .option("lineSep", newline)
            .option("quoteAll", str(quote_style == "all").lower())
            .option("emptyValue", "")
            .csv(path)
        )
        return
    line = csv_line_expr(
        df,
        delimiter=delimiter,
        quote=quote,
        quote_style=quote_style,
        escape_formulae=escape_formulae,
    )
    if header:
        hdr = delimiter.join(df.columns) + newline
        # the id's low 33 bits are the row's position in its partition, so
        # this prefixes the header to the first line of every part file
        first_in_part = F.monotonically_increasing_id() % (1 << 33) == 0
        line = F.when(first_in_part, F.concat(F.lit(hdr), line)).otherwise(line)
    df.select(line.alias("value")).write.mode(mode).option("lineSep", newline).text(path)
    if header:
        _fill_empty_parts(df.sparkSession, path, hdr)


def _fill_empty_parts(spark, path: str, text: str) -> None:
    """Write ``text`` into every empty part file under ``path``.

    The text sink always writes partition 0's file, empty when that
    partition has no rows (an empty frame, or an empty first split); the
    native CSV writer puts the header there instead. A driver-side
    listing through the session's Hadoop filesystem, no Spark job."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    for status in fs.listStatus(jpath):
        if status.getLen() == 0 and status.getPath().getName().startswith("part-"):
            out = fs.create(status.getPath(), True)
            try:
                out.write(bytearray(text.encode("utf-8")))
            finally:
                out.close()


def append_csv_file(
    df: DataFrame,
    path: str,
    delimiter: str = ",",
    quote: str = '"',
    quote_style: str = "minimal",
    newline: str = "\n",
) -> None:
    """Append rows to an existing SINGLE local CSV file — the reference
    writer's ``append`` flag (writer.ts:41-202 opens the target with the
    append mode and never rewrites the header).

    Spark's own ``mode("append")`` appends part files to a DIRECTORY,
    which is the right call at scale; this shim exists for the
    single-file toolkit use case. Rows serialize distributed
    (``csv_line_expr`` through the text sink — JVM-side, codegen'd, no
    rows ever cross into Python); the driver then byte-concatenates the
    part files onto the target in partition order (the same order
    ``collect`` would yield), so its memory use is a fixed copy buffer
    regardless of batch size. Writes no header (the target file already
    has one).

    The staged directory must be DRIVER-VISIBLE: the target is a single
    local file, so the concat step is inherently driver-side. The write
    pins the ``file://`` scheme so executors land parts on the driver's
    local filesystem even when ``fs.defaultFS`` points elsewhere, and the
    concat raises if the committed directory shows no part files for a
    non-empty batch (e.g. executors on other hosts in a real cluster —
    where this single-file shim does not apply and ``write_csv``'s
    directory sink is the right call) rather than silently appending
    nothing."""
    import glob
    import shutil
    import tempfile

    from pyspark.sql import Observation

    line = csv_line_expr(
        df, delimiter=delimiter, quote=quote, quote_style=quote_style
    )
    staged = tempfile.mkdtemp(prefix="bun_csv_append_")
    try:
        out = os.path.join(staged, "parts")
        # the row count comes from the WRITE JOB ITSELF (Observation
        # metric), never from re-evaluating the source plan: a
        # non-deterministic df (rand/sampling) would make a second
        # evaluation disagree with the batch actually written, and the
        # old probe (df.limit(1).count()) also cost an extra job on
        # every empty-batch append
        obs = Observation()
        df.select(line.alias("value")).observe(
            obs, F.count(F.lit(1)).alias("n")
        ).write.mode("overwrite").option(
            "lineSep", newline
        ).text("file://" + os.path.abspath(out))
        n_written = int(obs.get["n"])
        parts = sorted(glob.glob(os.path.join(out, "part-*")))
        if not parts and not os.path.exists(os.path.join(out, "_SUCCESS")):
            raise RuntimeError(
                f"append_csv_file: staged write produced no driver-visible "
                f"output under {out} — the executors' filesystem is not "
                f"shared with the driver; use write_csv's directory sink "
                f"for cluster appends"
            )
        if not parts and n_written > 0:
            raise RuntimeError(
                f"append_csv_file: staged write committed {n_written} rows "
                f"under {out} but no part files are visible to the driver; "
                f"refusing a silent zero-row append"
            )
        with open(path, "ab") as fh:
            for part in parts:
                with open(part, "rb") as src:
                    shutil.copyfileobj(src, fh)
    finally:
        shutil.rmtree(staged, ignore_errors=True)


def unparse(
    data: Iterable[Mapping] | Iterable[Sequence] | DataFrame,
    columns: Sequence[str] | None = None,
    delimiter: str = ",",
    quote: str = '"',
    quote_style: str = "minimal",
    newline: str = "\r\n",
    header: bool = True,
    escape_formulae: bool = False,
) -> str:
    """In-memory serialization to a CSV string (unparse.ts:58-137).

    Accepts array-of-dicts, array-of-sequences, or a (small!) DataFrame.
    Driver-side by design — mirror of the reference's in-memory API; use
    write_csv for datasets."""
    if isinstance(data, DataFrame):
        rows = [r.asDict() for r in data.collect()]
        columns = columns or data.columns
        data = rows
    data = list(data)
    if data and isinstance(data[0], Mapping):
        if columns is None:
            # union of keys across records, first-seen order (nested.ts:100-118)
            columns = list(dict.fromkeys(k for row in data for k in row))
        records = [[row.get(c) for c in columns] for row in data]
    else:
        records = [list(row) for row in data]
        if columns is None:
            columns = []

    quoting = {
        "minimal": csv.QUOTE_MINIMAL,
        "all": csv.QUOTE_ALL,
        "nonnumeric": csv.QUOTE_NONNUMERIC,
    }[quote_style]
    buf = io.StringIO()
    writer = csv.writer(
        buf, delimiter=delimiter, quotechar=quote, quoting=quoting,
        lineterminator=newline, doublequote=True,
    )

    def prep(v):
        if v is None:
            return ""
        s = v if isinstance(v, str) else v
        if escape_formulae and isinstance(s, str) and s and s[0] in "=+-@\t\r":
            return "'" + s
        return s

    if header and columns:
        writer.writerow(columns)
    for rec in records:
        writer.writerow([prep(v) for v in rec])
    return buf.getvalue()


def convert(df: DataFrame, to: str, path: str, mode: str = "overwrite") -> None:
    """CSV/TSV/JSON/JSONL conversion sink (convert.ts:20-107)."""
    to = to.lower()
    if to == "csv":
        write_csv(df, path, mode=mode)
    elif to == "tsv":
        write_csv(df, path, delimiter="\t", mode=mode)
    elif to in ("json", "jsonl", "ndjson"):
        # both emit newline-delimited JSON objects (the reference's "json"
        # wraps in an array — driver-side renderers handle that; the
        # distributed sink is always JSONL)
        df.write.mode(mode).json(path)
    else:
        raise ValueError(f"unknown convert target {to!r}")


def read_jsonl(
    spark,
    path: str,
    schema=None,
    multiline: bool = False,
) -> DataFrame:
    """Newline-delimited JSON source — the read half of the reference's
    csv↔json/jsonl conversion cycle (convert.ts:20-107 writes it; this
    reads it back distributed).

    An explicit ``schema`` skips Spark's sampling pass over the files
    (one full extra scan on every action otherwise — same lesson as the
    CSV reader's pre-probed header schema). ``multiline=True`` reads a
    whole-file JSON array (the reference's "json" shape) instead of
    one-object-per-line; array files are NOT splittable, so keep the
    JSONL shape for anything large."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if multiline:
        return reader.option("multiLine", "true").json(path)
    return reader.json(path)
