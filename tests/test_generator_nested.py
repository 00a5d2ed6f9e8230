"""Seeded generator (LCG parity), nested helpers, reader hooks, encoding."""

import pytest
from pyspark.sql import functions as F

from bun_csv_spark.functions.nested import (
    flatten,
    flatten_objects,
    flatten_struct_columns,
    nest_columns,
    unflatten,
)
from bun_csv_spark.sources.csv_reader import (
    CSVOptions,
    detect_encoding,
    read_csv,
)
from bun_csv_spark.testing import SeededRandom, fuzz_csv, generate_csv


def test_lcg_exact_sequence():
    # the reference LCG runs in JS float64: seed*1103515245 rounds away
    # low bits once the product exceeds 2^53, BEFORE & 0x7fffffff. These
    # values are the verified JS sequence for seed 42 (node: 1250496027,
    # 1116302080, 1964818176) — exact integer math would give 1116302264
    # at the second draw.
    rng = SeededRandom(42)
    seeds = []
    for _ in range(3):
        rng.next()
        seeds.append(rng.seed)
    assert seeds == [1250496027, 1116302080, 1964818176]
    # first draw is below 2^53 so it equals the exact-math value too
    assert seeds[0] == (42 * 1103515245 + 12345) & 0x7FFFFFFF


def test_generate_csv_deterministic():
    a = generate_csv(5, ["id:integer", "name:name", "city:city", "ok:boolean"], seed=7)
    b = generate_csv(5, ["id:integer", "name:name", "city:city", "ok:boolean"], seed=7)
    assert a == b
    lines = a.strip().splitlines()
    assert lines[0] == "id,name,city,ok"
    assert len(lines) == 6
    first = lines[1].split(",")
    assert first[0].isdigit()
    assert first[3] in ("true", "false")


def test_generated_csv_parses(spark, tmp_path):
    p = tmp_path / "gen.csv"
    p.write_text(generate_csv(50, ["id:integer", "sal:float", "d:date", "e:email"], seed=3))
    df = read_csv(spark, str(p), CSVOptions(dynamic_typing=True))
    assert df.count() == 50
    assert dict(df.dtypes)["id"] == "double"


def test_fuzz_csv_roundtrip(spark, tmp_path):
    p = tmp_path / "fuzz.csv"
    p.write_text(fuzz_csv(rows=60, include_huge_fields=False, seed=11))
    df = read_csv(spark, str(p), CSVOptions(multiline=True))
    assert df.count() == 60
    payloads = [r.payload for r in df.collect()]
    assert any('say "hi" now' == v for v in payloads)  # quotes unescaped
    assert any("\n" in (v or "") for v in payloads)  # embedded newline survives


def test_flatten_unflatten_dicts():
    nested = {"user": {"name": "Alice", "addr": {"city": "NYC"}}, "n": 1}
    flat = flatten(nested)
    assert flat == {"user.name": "Alice", "user.addr.city": "NYC", "n": 1}
    assert unflatten(flat) == nested


def test_flatten_objects_union_of_keys():
    headers, rows = flatten_objects([{"a": {"b": 1}}, {"c": 2}])
    assert headers == ["a.b", "c"]
    assert rows == [[1, None], [None, 2]]


def test_struct_flatten_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, ("Alice", ("NYC",)))],
        "id int, user struct<name:string, addr:struct<city:string>>",
    )
    flat = flatten_struct_columns(df)
    assert flat.columns == ["id", "user.name", "user.addr.city"]
    row = flat.collect()[0]
    assert row["user.addr.city"] == "NYC"
    nested = nest_columns(flat)
    assert nested.schema["user"].dataType.fieldNames() == ["name", "addr"]
    assert nested.collect()[0].user.addr.city == "NYC"


def test_reader_transform_hook(spark, write_csv_file):
    path = write_csv_file("a,b\nx,1\ny,2\n")
    opts = CSVOptions(transform=lambda c, name: F.upper(c) if name == "a" else c)
    vals = {r.a for r in read_csv(spark, path, opts).collect()}
    assert vals == {"X", "Y"}


def test_reader_on_record_hook(spark, write_csv_file):
    path = write_csv_file("a,b\n1,keep\n2,drop\n3,keep\n")
    opts = CSVOptions(on_record=lambda df: df.filter(F.col("b") == "keep"))
    assert read_csv(spark, path, opts).count() == 2


_CUT = ("x" * 1023 + "ó" + "Kraków\n" * 50).encode("utf-8")  # "ó" spans bytes 1023-1024


@pytest.mark.parametrize(
    "data,expected",
    [
        (b"\xef\xbb\xbfabc", "utf-8-sig"),
        (b"\xff\xfea\x00b\x00", "utf-16-le"),
        (b"\xfe\xff\x00a\x00b", "utf-16-be"),
        # BOM-less UTF-16: >1/3 NULs, byte order from the first pair
        # (iconv.zig:166-176)
        (b"a\x00b\x00c\x00d\x00", "utf-16-le"),
        (b"\x00a\x00b\x00c\x00d", "utf-16-be"),
        (b"plain ascii text", "utf-8"),
        ("héllo wörld".encode("utf-8"), "utf-8"),
        # invalid-UTF-8 high bytes -> windows-1252, the reference's
        # fallback (iconv.zig:179-185) — cp1252, not latin-1
        ("héllo".encode("latin-1") * 10, "cp1252"),
        ("curly “quote”".encode("cp1252"), "cp1252"),
        (b"", None),
        # a two-byte character cut by the 1 KB window is still UTF-8 (else
        # "Kraków" would be transcoded to "KrakÃ³w") ...
        pytest.param(_CUT, "utf-8", id="utf8-cut-by-window"),
        # ... unless the input ends there: then it is invalid UTF-8
        pytest.param(_CUT[:1024], "cp1252", id="utf8-truncated-input"),
    ],
)
def test_detect_encoding(data, expected):
    assert detect_encoding(data) == expected


def test_non_utf8_file_transcode_roundtrip(spark, tmp_path):
    """BOM-less cp1252 and shift_jis files read byte-correctly: the
    resolver detects (or honors) the codec and transcodes driver-side
    before the distributed parse (iconv.zig whole-buffer parity)."""
    p1 = tmp_path / "cp1252.csv"
    p1.write_bytes("name,phrase\nno1,caf\xe9 “deluxe”\n".encode("cp1252"))
    rows = read_csv(spark, str(p1)).collect()  # encoding defaults to auto
    assert rows[0].phrase == "caf\xe9 “deluxe”"

    p2 = tmp_path / "sjis.csv"
    p2.write_bytes("name,phrase\nno1,日本語のテキスト\n".encode("shift_jis"))
    rows = read_csv(spark, str(p2), CSVOptions(encoding="shift_jis")).collect()
    assert rows[0].phrase == "日本語のテキスト"

    # BOM-less UTF-16LE auto-detects via the NUL-ratio heuristic
    p3 = tmp_path / "u16.csv"
    p3.write_bytes("a,b\nx,ünïcode\n".encode("utf-16-le"))
    rows = read_csv(spark, str(p3)).collect()
    assert rows[0].b == "ünïcode"


def test_bom_stripped_on_transcode(spark, tmp_path):
    """BOM'd UTF-16/32 round-trips: the decode codec consumes the BOM, so
    U+FEFF never leaks into the first header cell (the reference strips
    bom_len before transcoding — parser.zig:135-137, iconv.zig BOM)."""
    for name, codec, bom in [
        ("u16le", "utf-16-le", b"\xff\xfe"),
        ("u16be", "utf-16-be", b"\xfe\xff"),
        ("u32le", "utf-32-le", b"\xff\xfe\x00\x00"),
        ("u32be", "utf-32-be", b"\x00\x00\xfe\xff"),
    ]:
        p = tmp_path / f"{name}.csv"
        p.write_bytes(bom + "a,b\n1,ünïcode\n".encode(codec))
        df = read_csv(spark, str(p))
        assert df.columns == ["a", "b"], name
        assert df.collect()[0].b == "ünïcode", name


def test_explicit_encoding_bypasses_bom_detection(spark, tmp_path):
    """An explicitly configured non-UTF-8 encoding skips BOM/content
    detection (parser.zig:133-141 detects only on the default): a cp1252
    file legitimately starting with 0xFF 0xFE ('ÿþ') stays cp1252."""
    p = tmp_path / "yth.csv"
    p.write_bytes("ÿþ,b\nx,café\n".encode("cp1252"))
    df = read_csv(spark, str(p), CSVOptions(encoding="cp1252"))
    assert df.columns == ["ÿþ", "b"]
    assert df.collect()[0].b == "café"


def test_greedy_skip_unicode_whitespace(spark, write_csv_file):
    """skipEmptyRows='greedy' blanks rows whose cells are Unicode
    whitespace (NBSP, ZWNBSP) — JS String.trim parity; Java's bare \\s
    regex is ASCII-only and would keep them (round-3 ADVICE)."""
    path = write_csv_file("a,b\n1,x\n\u00a0,\u00a0\u00a0\n\ufeff,\t\n2,y\n")
    df = read_csv(spark, path, CSVOptions(skip_empty_rows="greedy"))
    assert [r.a for r in df.collect()] == ["1", "2"]
