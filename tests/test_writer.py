"""Writer / unparse / convert (writer.ts:41-202, unparse.ts:58-201)."""

import glob

import pytest
from pyspark.sql import functions as F

from bun_csv_spark.sources.csv_writer import (
    csv_line_expr,
    escape_formulae_expr,
    unparse,
    write_csv,
)


def read_out(path: str) -> str:
    parts = sorted(glob.glob(f"{path}/part-*"))
    return "".join(open(p).read() for p in parts)


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [(1, "plain", 1.5), (2, 'has "quote"', 2.0), (3, "has,comma", 3.0)],
        "id int, s string, v double",
    )


def test_write_minimal(spark, df, tmp_path):
    out = str(tmp_path / "min")
    write_csv(df, out)
    text = read_out(out)
    assert '"has ""quote"""' in text
    assert '"has,comma"' in text
    assert "plain" in text and '"plain"' not in text


def test_write_quote_all(spark, df, tmp_path):
    out = str(tmp_path / "all")
    write_csv(df, out, quote_style="all")
    text = read_out(out)
    assert '"plain"' in text


def test_write_nonnumeric(spark, df, tmp_path):
    out = str(tmp_path / "nonnum")
    write_csv(df, out, quote_style="nonnumeric")
    text = read_out(out)
    assert '"plain"' in text  # strings quoted
    lines = [l for l in text.splitlines() if l and not l.startswith("id")]
    assert any(l.endswith("1.5") for l in lines)  # numerics unquoted


def test_formula_escape_expr(spark):
    df = spark.createDataFrame(
        [("=SUM(A1)",), ("+1",), ("-2",), ("@cmd",), ("safe",)], "v string"
    )
    out = [r.e for r in df.select(escape_formulae_expr("v").alias("e")).collect()]
    assert out == ["'=SUM(A1)", "'+1", "'-2", "'@cmd", "safe"]


def test_csv_line_expr_roundtrip(spark, df):
    lines = sorted(
        r.line for r in df.select(csv_line_expr(df).alias("line")).collect()
    )
    assert '2,"has ""quote""",2.0' in lines


def test_unparse_array_of_dicts():
    text = unparse(
        [{"a": 1, "b": "x"}, {"a": 2, "b": "y,z"}], newline="\n"
    )
    assert text == 'a,b\n1,x\n2,"y,z"\n'


def test_unparse_union_of_keys():
    text = unparse([{"a": 1}, {"b": 2}], newline="\n")
    assert text.splitlines()[0] == "a,b"
    assert text.splitlines()[1] == "1,"


def test_unparse_formula_escape():
    text = unparse([{"a": "=evil()"}], newline="\n", escape_formulae=True)
    assert "'=evil()" in text


def test_unparse_dataframe(spark, df):
    text = unparse(df.orderBy("id"), newline="\n")
    assert text.splitlines()[0] == "id,s,v"
    assert len(text.splitlines()) == 4


def test_append_csv_file(spark, tmp_path):
    from bun_csv_spark.sources.csv_writer import append_csv_file

    p = tmp_path / "target.csv"
    p.write_text("a,b\n1,x\n")
    df = spark.createDataFrame([("2", "y"), ("3", 'q"z')], "a string, b string")
    append_csv_file(df.orderBy("a"), str(p))
    text = p.read_text()
    assert text.startswith("a,b\n1,x\n")  # existing content untouched
    assert "2,y\n" in text and '3,"q""z"\n' in text  # quoting applied
    assert text.count("a,b") == 1  # header not repeated


def test_append_csv_file_multipartition_order(spark, tmp_path):
    # the distributed append must preserve frame order across part files
    # (partition order == collect order) and round-trip non-ASCII bytes
    from bun_csv_spark.sources.csv_writer import append_csv_file

    p = tmp_path / "target.csv"
    p.write_text("a,b\n")
    rows = [(str(i), f"v√{i}") for i in range(200)]
    df = (
        spark.createDataFrame(rows, "a string, b string")
        .orderBy(F.col("a").cast("int"))
        .repartitionByRange(8, F.col("a").cast("int"))
        .sortWithinPartitions(F.col("a").cast("int"))
    )
    append_csv_file(df, str(p))
    lines = p.read_text(encoding="utf-8").splitlines()[1:]
    assert [ln.split(",")[0] for ln in lines] == [str(i) for i in range(200)]
    assert lines[7] == "7,v√7"


# --- expression-path writer: every part file carries the header ----------

_TRICKY = [
    (1, 'say "hi"', 1.5),
    (2, "a,b", None),
    (3, "two\nlines", 2.0),
    (4, "=SUM(A1)", 0.0),
    (5, None, 4.25),
    (6, "", 6.0),
]


@pytest.mark.parametrize("partitions", [1, 3])
@pytest.mark.parametrize("escape", [False, True])
def test_write_nonnumeric_reads_back(spark, tmp_path, partitions, escape):
    from bun_csv_spark.sources.csv_reader import CSVOptions, read_csv

    df = spark.createDataFrame(_TRICKY, "id int, s string, v double").repartition(
        partitions, "id"
    )
    out = str(tmp_path / "nn")
    write_csv(df, out, quote_style="nonnumeric", escape_formulae=escape)
    parts = sorted(glob.glob(f"{out}/part-*"))
    assert parts and all(open(p).readline() == "id,s,v\n" for p in parts)
    back = read_csv(spark, out, CSVOptions(multiline=True))
    assert back.columns == ["id", "s", "v"]
    got = sorted((int(r.id), r.s, r.v) for r in back.collect())
    want = sorted(
        (i, "'" + s if escape and s and s[0] == "=" else s, None if v is None else str(v))
        for i, s, v in _TRICKY
    )
    assert got == want


def test_write_nonnumeric_empty_first_partition(spark, tmp_path):
    from bun_csv_spark.sources.csv_reader import CSVOptions, read_csv

    df = spark.createDataFrame(_TRICKY, "id int, s string, v double").repartition(
        4, "id"
    )
    # keep one partition's rows only, so partition 0 writes an empty file
    keep = df.withColumn("p", F.spark_partition_id()).filter("p = 3").drop("p")
    n = keep.count()
    out = str(tmp_path / "nn")
    write_csv(keep, out, quote_style="nonnumeric")
    parts = sorted(glob.glob(f"{out}/part-*"))
    assert all(open(p).readline() == "id,s,v\n" for p in parts)
    assert read_csv(spark, out, CSVOptions(multiline=True)).count() == n


def test_write_nonnumeric_empty_frame_is_header_only(spark, tmp_path):
    from bun_csv_spark.sources.csv_reader import read_csv

    df = spark.createDataFrame(_TRICKY, "id int, s string, v double").limit(0)
    out = str(tmp_path / "nn")
    write_csv(df, out, quote_style="nonnumeric")
    assert read_out(out) == "id,s,v\n"
    back = read_csv(spark, out)
    assert back.columns == ["id", "s", "v"] and back.count() == 0
