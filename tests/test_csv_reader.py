"""CSV reader option-surface tests — the reference's per-option unit files
re-expressed (reference: test/unit/*.test.ts; SURVEY §5.1-5.2)."""

import pytest

from bun_csv_spark.sources.csv_reader import (
    CSVOptions,
    CSVReadError,
    dedupe_headers,
    detect_delimiter,
    read_csv,
    read_csv_with_errors,
)


def rows_as_dicts(df):
    return [r.asDict() for r in df.collect()]


# -- null semantics (reference row.ts:300-321; SURVEY §1.3) -------------------


def test_unquoted_empty_is_null_quoted_empty_is_string(spark, write_csv_file):
    path = write_csv_file('a,b,c\n1,,x\n2,"",y\n')
    out = rows_as_dicts(read_csv(spark, path).orderBy("a"))
    assert out[0]["b"] is None  # unquoted empty -> SQL NULL
    assert out[1]["b"] == ""  # quoted empty -> empty string


def test_null_semantics_exact_path(spark, write_csv_file):
    path = write_csv_file('a,b,c\n1,,x\n2,"",y\n')
    df, errors = read_csv_with_errors(
        spark, path, CSVOptions(with_row_index=True)
    )
    out = rows_as_dicts(df.orderBy("a"))
    assert out[0]["b"] is None
    assert out[1]["b"] == ""
    assert errors.count() == 0


def test_quote_unescape(spark, write_csv_file):
    path = write_csv_file('a,b\n1,"say ""hi"", ok"\n')
    out = rows_as_dicts(read_csv(spark, path))
    assert out[0]["b"] == 'say "hi", ok'
    out2 = rows_as_dicts(read_csv(spark, path, CSVOptions(with_row_index=True)))
    assert out2[0]["b"] == 'say "hi", ok'


# -- headers ------------------------------------------------------------------


def test_duplicate_header_rename():
    assert dedupe_headers(["a", "b", "a", "a"]) == ["a", "b", "a_1", "a_2"]


def test_duplicate_header_error():
    with pytest.raises(CSVReadError):
        dedupe_headers(["a", "a"], mode="error")


def test_transform_header(spark, write_csv_file):
    path = write_csv_file("First Name,Last Name\nada,lovelace\n")
    opts = CSVOptions(transform_header=lambda h, i: h.lower().replace(" ", "_"))
    df = read_csv(spark, path, opts)
    assert df.columns == ["first_name", "last_name"]


def test_no_header_positional_names(spark, write_csv_file):
    path = write_csv_file("1,2,3\n4,5,6\n")
    df = read_csv(spark, path, CSVOptions(has_header=False))
    assert df.columns == ["col0", "col1", "col2"]
    assert df.count() == 2


# -- row-level options --------------------------------------------------------


def test_comments_skip(spark, write_csv_file):
    path = write_csv_file("a,b\n# note\n1,2\n#x\n3,4\n")
    df = read_csv(spark, path, CSVOptions(comments="#"))
    assert sorted(r.a for r in df.collect()) == ["1", "3"]


def test_preview_limit(spark, write_csv_file):
    path = write_csv_file("a\n" + "\n".join(str(i) for i in range(100)) + "\n")
    assert read_csv(spark, path, CSVOptions(preview=7)).count() == 7


def test_skip_first_n_lines(spark, write_csv_file):
    path = write_csv_file("junk line\nmore junk\na,b\n1,2\n")
    df = read_csv(spark, path, CSVOptions(skip_first_n_lines=2))
    assert df.columns[:2] == ["a", "b"]
    assert rows_as_dicts(df)[0]["a"] == "1"


def test_from_to_line(spark, write_csv_file):
    # fromLine/toLine are 1-based FILE lines with the header as line 1
    # (parser.ts:1504-1513) — fromLine=3 starts at the 2nd DATA record.
    # Values are distinct from record numbers so an off-by-one can't hide.
    path = write_csv_file("a\n" + "\n".join(f"v{i}" for i in range(1, 11)) + "\n")
    df = read_csv(spark, path, CSVOptions(from_line=3, to_line=5))
    assert sorted(r.a for r in df.collect()) == ["v2", "v3", "v4"]


def test_from_to_line_no_header(spark, write_csv_file):
    # without a header, file line N is data record N
    path = write_csv_file("\n".join(f"v{i}" for i in range(1, 11)) + "\n")
    df = read_csv(
        spark, path, CSVOptions(has_header=False, from_line=3, to_line=5)
    )
    assert sorted(r.col0 for r in df.collect()) == ["v3", "v4", "v5"]


def test_preview_composes_with_from_line(spark, write_csv_file):
    path = write_csv_file("a\n" + "\n".join(f"v{i}" for i in range(1, 11)) + "\n")
    df = read_csv(spark, path, CSVOptions(from_line=3, preview=2))
    assert sorted(r.a for r in df.collect()) == ["v2", "v3"]


def test_before_first_chunk_file_source(spark, write_csv_file):
    # beforeFirstChunk applies to file-path inputs too (parser.ts:203-209,
    # 350-361; reference phase4-features.test.ts): the raw text is
    # rewritten before parsing begins, on both physical paths.
    path = write_csv_file("GARBAGE PROLOGUE\na,b\n1,2\n3,4\n")
    opts = CSVOptions(
        before_first_chunk=lambda text: text.split("\n", 1)[1]
    )
    df = read_csv(spark, path, opts)
    assert df.columns == ["a", "b"]
    assert sorted(r.a for r in df.collect()) == ["1", "3"]
    # exact path (row index forces it) sees the rewritten text as well
    df2 = read_csv(
        spark,
        path,
        CSVOptions(
            before_first_chunk=lambda text: text.split("\n", 1)[1],
            with_row_index=True,
        ),
    )
    assert sorted(r.b for r in df2.collect()) == ["2", "4"]


def test_before_first_chunk_non_utf8(spark, tmp_path):
    """beforeFirstChunk on a cp1252 source: the hook sees DECODED text and
    the rewritten temp file re-reads as UTF-8 (round-2 ADVICE regression —
    the original code re-decoded the rewritten UTF-8 file with the source
    codec, producing mojibake)."""
    p = tmp_path / "bfc1252.csv"
    p.write_bytes("junk\nname,phrase\nno1,café “ok”\n".encode("cp1252"))
    opts = CSVOptions(before_first_chunk=lambda t: t.split("\n", 1)[1])
    rows = read_csv(spark, str(p), opts).collect()
    assert rows[0].phrase == "café “ok”"


def test_skip_empty_rows_greedy(spark, write_csv_file):
    path = write_csv_file("a,b\n1,2\n   \n\n3,4\n")
    df = read_csv(spark, path, CSVOptions(skip_empty_rows="greedy", with_row_index=True))
    assert sorted(r.a for r in df.collect()) == ["1", "3"]


def test_skip_empty_rows_greedy_tab_only_line(spark, write_csv_file):
    # a tab-only line is blank to JS trim; the driver header probe and the
    # distributed filter must agree on it. Pre-header whitespace-only lines
    # are exact-path-only (Spark's native reader picks its own header line)
    path = write_csv_file("\t\na,b\n1,2\n\t\t\n3,4\n")
    df = read_csv(spark, path, CSVOptions(skip_empty_rows="greedy", with_row_index=True))
    assert ["a", "b"] == [c for c in df.columns if c in ("a", "b")]
    assert sorted(r.a for r in df.collect()) == ["1", "3"]
    # native path: tab-only DATA line drops under greedy
    path2 = write_csv_file("a,b\n1,2\n\t\t\n3,4\n")
    df_native = read_csv(spark, path2, CSVOptions(skip_empty_rows="greedy"))
    assert df_native.columns == ["a", "b"]
    assert sorted(r.a for r in df_native.collect()) == ["1", "3"]


def test_trim(spark, write_csv_file):
    path = write_csv_file("a,b\n  x  , y\n")
    out = rows_as_dicts(read_csv(spark, path, CSVOptions(trim=True)))
    assert out[0]["a"] == "x" and out[0]["b"] == "y"
    out_l = rows_as_dicts(read_csv(spark, path, CSVOptions(trim="left")))
    assert out_l[0]["a"] == "x  "


def test_skip_records_with_empty_values(spark, write_csv_file):
    path = write_csv_file("a,b\n1,2\n,\n3,\n")
    df = read_csv(spark, path, CSVOptions(skip_records_with_empty_values=False))
    assert df.count() == 3
    df2 = read_csv(spark, path, CSVOptions(skip_records_with_empty_values=True))
    assert df2.count() == 2  # the all-empty row drops; partial stays


# -- field-count errors / extra fields (errors.ts:6-53, row.ts:508-523) -------


def test_too_few_and_too_many_fields(spark, write_csv_file):
    path = write_csv_file("a,b,c\n1,2,3\n4,5\n6,7,8,9,10\n")
    df, errors = read_csv_with_errors(spark, path, CSVOptions(with_row_index=True))
    errs = {r.code for r in errors.collect()}
    assert errs == {"TooFewFields", "TooManyFields"}
    out = {r.a: r.asDict() for r in df.collect()}
    assert out["4"]["c"] is None  # short row padded with null
    assert out["6"]["__parsed_extra"] == ["9", "10"]  # overflow collected


def test_relax_column_count(spark, write_csv_file):
    path = write_csv_file("a,b,c\n1,2,3\n4,5\n6,7,8,9\n")
    _, errors = read_csv_with_errors(
        spark, path, CSVOptions(relax_column_count=True, with_row_index=True)
    )
    assert errors.count() == 0
    _, errors_less = read_csv_with_errors(
        spark, path, CSVOptions(relax_column_count_less=True, with_row_index=True)
    )
    assert {r.code for r in errors_less.collect()} == {"TooManyFields"}


def test_skip_records_with_error(spark, write_csv_file):
    path = write_csv_file("a,b,c\n1,2,3\n4,5\n6,7,8,9\n")
    df, _ = read_csv_with_errors(
        spark, path, CSVOptions(skip_records_with_error=True, with_row_index=True)
    )
    assert [r.a for r in df.collect()] == ["1"]


def test_max_record_size(spark, write_csv_file):
    path = write_csv_file("a,b\n1,2\n3," + "x" * 100 + "\n")
    df, errors = read_csv_with_errors(
        spark, path, CSVOptions(max_record_size=50, with_row_index=True)
    )
    assert [r.code for r in errors.collect()] == ["MaxRecordSize"]
    assert [r.a for r in df.collect()] == ["1"]  # oversized row never yields


# -- row index ----------------------------------------------------------------


def test_row_index_is_file_order(spark, write_csv_file):
    path = write_csv_file("a\n" + "\n".join(f"v{i}" for i in range(20)) + "\n")
    df = read_csv(spark, path, CSVOptions(with_row_index=True))
    got = [(r["__row_idx"], r.a) for r in df.orderBy("__row_idx").collect()]
    assert got == [(i + 1, f"v{i}") for i in range(20)]  # header is line 0


# -- delimiter detection (detect.zig:32-144) ----------------------------------


def test_detect_delimiter():
    assert detect_delimiter("a,b,c\n1,2,3\n4,5,6")[0] == ","
    assert detect_delimiter("a\tb\tc\n1\t2\t3")[0] == "\t"
    assert detect_delimiter("a|b|c\n1|2|3\n4|5|6")[0] == "|"
    assert detect_delimiter("a;b\n1;2")[0] == ";"
    # quoted delimiters don't fool the scorer
    assert detect_delimiter('a,b\n"1;2",3\n"4;5",6')[0] == ","


def test_auto_delimiter_read(spark, write_csv_file):
    path = write_csv_file("a|b\n1|2\n3|4\n", name="pipes.csv")
    df = read_csv(spark, path, CSVOptions(delimiter="auto"))
    assert df.columns == ["a", "b"]
    assert sorted(r.a for r in df.collect()) == ["1", "3"]


# -- dynamic typing (per-column; SURVEY §7.3.3 divergence) --------------------


def test_dynamic_typing_per_column(spark, write_csv_file):
    path = write_csv_file("n,s,b\n1,x,true\n2.5,y,false\n-3e2,z,TRUE\n")
    df = read_csv(spark, path, CSVOptions(dynamic_typing=True))
    types = dict(df.dtypes)
    assert types["n"] == "double"
    assert types["s"] == "string"
    assert types["b"] == "boolean"
    assert {r.n for r in df.collect()} == {1.0, 2.5, -300.0}


def test_dynamic_typing_per_column_config(spark, write_csv_file):
    # dynamicTyping accepts a column list or predicate (parser.ts:94)
    path = write_csv_file("a,b,c\n1,2,3\n4,5,6\n")
    df = read_csv(spark, path, CSVOptions(dynamic_typing=["a"]))
    types = dict(df.dtypes)
    assert types["a"] == "double" and types["b"] == "string"
    df2 = read_csv(spark, path, CSVOptions(dynamic_typing=lambda name: name != "c"))
    types2 = dict(df2.dtypes)
    assert types2 == {"a": "double", "b": "double", "c": "string"}


def test_unclosed_quote_is_lenient(spark, write_csv_file):
    # an unterminated quoted field consumes to end-of-line (lenient, like
    # the reference scanner) rather than erroring
    path = write_csv_file('a,b\n1,"unclosed\n2,ok\n')
    df, errors = read_csv_with_errors(spark, path, CSVOptions(with_row_index=True))
    vals = {r.a: r.b for r in df.collect()}
    assert vals["1"] == "unclosed"
    assert vals["2"] == "ok"
    errs = [(e.code, e.type) for e in errors.collect()]
    assert errs == [("QuoteNotClosed", "Quotes")]


def test_reader_meta(spark, write_csv_file):
    from bun_csv_spark.sources.csv_reader import reader_meta

    path = write_csv_file("x|y|z\n1|2|3\n4|5|6\n", name="meta.csv")
    meta = reader_meta(spark, path, CSVOptions(delimiter="auto"))
    assert meta["delimiter"] == "|"
    assert meta["fields"] == ["x", "y", "z"]
    assert meta["aborted"] is False and meta["truncated"] is False
    meta2 = reader_meta(spark, path, CSVOptions(delimiter="|", preview=1))
    assert meta2["truncated"] is True


def test_gzip_input(spark, tmp_path):
    # compressed CSV reads transparently (extension beyond the reference,
    # which only mmaps plain files)
    import gzip

    p = tmp_path / "z.csv.gz"
    with gzip.open(p, "wt") as f:
        f.write("a,b\n1,x\n2,y\n")
    df = read_csv(spark, str(p))
    assert sorted(r.a for r in df.collect()) == ["1", "2"]


def test_multiline_quoted_newline(spark, write_csv_file):
    path = write_csv_file('a,b\n1,"line1\nline2"\n2,plain\n')
    df = read_csv(spark, path, CSVOptions(multiline=True))
    vals = {r.a: r.b for r in df.collect()}
    assert vals["1"] == "line1\nline2"
    assert vals["2"] == "plain"


# -- exact path: split-level line numbering -----------------------------------


def test_tokenize_multichar_delimiter():
    from bun_csv_spark.sources.csv_reader import _tokenize_line

    assert _tokenize_line("a::b::c", "::", '"')[0] == ["a", "b", "c"]
    assert _tokenize_line('"x::y"::::z', "::", '"')[0] == ["x::y", None, "z"]


def test_auto_delimiter_ignores_comment_lines(spark, write_csv_file):
    # a leading comment with a comma plus "; " inside quoted fields made
    # the sniffer pick ";" and read the header as one column
    body = [
        "# exported ledger, comments start with #",
        "id,name,city,comment,score,tag",
    ]
    for i in range(1, 11):
        note = "long " + "ß" * 40 if i == 7 else "card, wire; ok"
        if i == 4:
            body.append(f"# note {i} — ignored")
        else:
            body.append(f'{i},"Ada ""Xu"" {i}","Kraków","{note}",{i * 7},"t"')
    path = write_csv_file("\n".join(body) + "\n", name="ledger.csv")
    opts = CSVOptions(delimiter="auto", comments="#", with_row_index=True)
    df, _ = read_csv_with_errors(spark, path, opts)
    assert df.columns[1:7] == ["id", "name", "city", "comment", "score", "tag"]
    assert [r.id for r in df.orderBy("__row_idx").collect()][-2:] == ["9", "10"]
    assert detect_delimiter("\n".join(body))[0] == ";"  # what the comments did

    from bun_csv_spark.sources.csv_reader import reader_meta

    assert reader_meta(spark, path, opts)["delimiter"] == ","


def test_header_probe_breaks_lines_like_the_text_source(spark, write_csv_file):
    # \x0c and \u2028 are not line breaks for Spark's text source, so the
    # driver-side header probe must not count them as ones either
    path = write_csv_file("skip\x0cme\u2028too\na,b\n1,2\n")
    data, errors = read_csv_with_errors(spark, path, CSVOptions(skip_first_n_lines=1))
    assert data.columns[:2] == ["a", "b"]
    assert [(r.a, r.b) for r in data.collect()] == [("1", "2")]
    assert errors.count() == 0


def test_exact_path_probes_header_through_spark_when_not_local(spark, tmp_path):
    # gzip input has no driver-side head chunk: the header and the rank of
    # the first record come from one top-1 job on the indexed frame
    import gzip

    p = tmp_path / "ragged.csv.gz"
    with gzip.open(p, "wt") as f:
        f.write("junk\n# c\n\na,b\n1,x\n# d\n2\n3,z\n4,w\n")
    opts = CSVOptions(skip_first_n_lines=1, comments="#", from_line=3, with_row_index=True)
    data, errors = read_csv_with_errors(spark, str(p), opts)
    assert [(r["__row_idx"], r.a, r.b) for r in data.orderBy("__row_idx").collect()] == [
        (6, "2", None), (7, "3", "z"), (8, "4", "w")
    ]
    assert [(r.row, r.code) for r in errors.collect()] == [(0, "TooFewFields")]


def _packed_dir(tmp_path):
    """12 small files of growing size: Spark packs their splits into
    partitions by size, not by name."""
    d = tmp_path / "parts"
    d.mkdir()
    expect = []
    for k in range(12):
        rows = [f"{k}-{j},{j}" for j in range(3 + k)]
        (d / f"f{k:02d}.csv").write_text(("id,v\n" if k == 0 else "") + "\n".join(rows) + "\n")
        expect += rows
    return str(d), expect


def test_packed_directory_indexes_in_name_order(spark, tmp_path, capsys):
    from bun_csv_spark.cli.main import main

    path, expect = _packed_dir(tmp_path)
    assert spark.read.text(path).rdd.getNumPartitions() < 12  # files share partitions
    df = read_csv(spark, path, CSVOptions(with_row_index=True))
    assert df.columns[1:3] == ["id", "v"]
    got = [(r["__row_idx"], f"{r.id},{r.v}") for r in df.orderBy("__row_idx").collect()]
    assert got == [(i + 1, row) for i, row in enumerate(expect)]

    assert main(["-f", "csv", "tail", "-n", "2", path], spark=spark) == 0
    assert capsys.readouterr().out.splitlines()[1:] == ["11-12,12,", "11-13,13,"]


def test_exact_reread_after_rewrite_sees_new_rows(spark, write_csv_file):
    # same line count and lengths: only the values change between reads
    opts = CSVOptions(with_row_index=True, comments="#")
    path = write_csv_file("# c\na,b\n" + "".join(f"x{i},1\n" for i in range(5)))
    data, errors = read_csv_with_errors(spark, path, opts)
    assert [r.a for r in data.orderBy("__row_idx").collect()] == [f"x{i}" for i in range(5)]
    assert errors.count() == 0
    write_csv_file("# c\na,b\n" + "".join(f"y{i},2\n" for i in range(5)))
    data, _ = read_csv_with_errors(spark, path, opts)
    assert [(r.a, r.b) for r in data.orderBy("__row_idx").collect()] == [
        (f"y{i}", "2") for i in range(5)
    ]


def test_exact_plan_has_no_window_and_one_build_job(spark, write_csv_file, monkeypatch):
    path = write_csv_file(
        "# c\na,b\n" + "".join(f"{i},{i}\n" if i % 3 else f"{i}\n" for i in range(30))
    )
    opts = CSVOptions(comments="#", from_line=3, to_line=20, with_row_index=True)
    # run the parse unmaterialized so its whole plan stays visible
    frame_cls = type(spark.range(1))
    monkeypatch.setattr(frame_cls, "localCheckpoint", lambda self, eager=True: self)
    sc = spark.sparkContext
    sc.setJobGroup("exact-build", "exact path build")
    try:
        data, errors = read_csv_with_errors(spark, path, opts)
    finally:
        sc.setJobGroup("", "")
    # the one stats aggregation: its shuffle-map job and its result job
    assert len(sc.statusTracker().getJobIdsForGroup("exact-build")) == 2
    for frame in (data, errors):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        for node in ("Window", "Join", "ExistingRDD", "LocalTableScan"):
            assert node not in plan, (node, plan)
    assert [r.row for r in errors.orderBy("row").collect()] == [2, 5, 8, 11, 14, 17]
    assert data.count() == 18


@pytest.mark.parametrize("delim", [",", "|", "\t", "::"])
def test_native_and_exact_paths_agree_on_fuzz_rows(spark, tmp_path, delim):
    import csv
    import io

    from bun_csv_spark.testing import fuzz_csv

    records = [
        r
        for r in csv.reader(io.StringIO(fuzz_csv(rows=80, seed=3)))
        if not any("\n" in v for v in r)  # single-line records only
    ]

    def field(v):
        if any(c in v for c in (delim, '"')):
            return '"' + v.replace('"', '""') + '"'
        return v

    p = tmp_path / "fuzz.csv"
    p.write_text("".join(delim.join(map(field, r)) + "\n" for r in records))
    native = read_csv(spark, str(p), CSVOptions(delimiter=delim))
    exact = read_csv(spark, str(p), CSVOptions(delimiter=delim, with_row_index=True))
    assert native.columns == ["id", "payload", "note"]
    exact_rows = [
        tuple(r[c] for c in native.columns) for r in exact.orderBy("__row_idx").collect()
    ]
    native_rows = sorted((tuple(r) for r in native.collect()), key=lambda r: int(r[0]))
    assert exact_rows == native_rows == [tuple(r) for r in records[1:]]
