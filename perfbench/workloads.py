"""The workloads: one pass each, and the checks of its outputs.

A workload is a sequence of *parts*; each part has a seeded generator
(``gen.py``), a pass function and a check. A pass is a closed loop of ops,
one at a time, on one Spark session. Each op is a call into a public
``bun_csv_spark`` function, timed by the ``Recorder``; the pass hands back
what each op returned, and the check compares it with the generator's
expected answers after the pass, outside the timed region.

Why these workloads (each stresses different layers, so a change to one
layer should move one workload and leave the others flat):

- ``csv_analytics``: the reference's own workload (native reader,
  ``TurboFrame`` operators, read-only CLI commands) followed by a typed
  ETL part: ``functions.coercion`` inference at build time, both writer
  paths (native and expression-built) and ``unparse``. Every native
  reader and writer change lands here, and a change that speeds reads but
  slows writes shows in the same pass.
- ``csv_validate``: dirty CSV on the exact line-level path, whose
  tokenizer runs in Python (``mapInPandas``); the native reader does
  almost nothing here.
- ``neardup_text``: MinHash candidates, Myers edit-distance verification
  and connected components (``operators.dedup``, ``functions.editdist``);
  no CSV code runs.
"""

from __future__ import annotations

import contextlib
import csv
import io
import json
import os
import random
import shutil

import gen

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def cli(argv: list[str], spark) -> tuple[int, str]:
    """Run one CLI command in-process; returns (exit code, stdout)."""
    from bun_csv_spark.cli.main import main

    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        code = main(argv, spark=spark)
    return code, out.getvalue()


def _json_rows(text: str) -> list[dict]:
    """The JSON array a ``-f json`` CLI command prints."""
    return json.loads(text[text.index("["):text.rindex("]") + 1])


def _close(a: float, b: float, rel: float = 1e-9) -> bool:
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files a Spark write left in ``path``."""
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    return sum(os.path.getsize(os.path.join(path, f)) for f in parts), len(parts)


# ---------------------------------------------------------------------------
# analytics part (csv_analytics)
# ---------------------------------------------------------------------------


def pass_analytics(spark, rec, inputs: dict, work: str) -> dict:
    from pyspark.sql import functions as F

    from bun_csv_spark.operators.frame import TurboFrame
    from bun_csv_spark.sources.csv_reader import read_csv

    emp = inputs["employees"]
    out = {}
    with rec.op("csv_reader.native.build"):
        df = read_csv(spark, emp)
    with rec.op("csv_reader.native.scan"):
        # a crc32 sum per column touches every field, so column pruning
        # cannot skip any parse work
        aggs = [F.sum(F.crc32(F.col(c).cast("binary"))).alias(c) for c in df.columns]
        row = df.agg(F.count(F.lit(1)).alias("__n"), *aggs).first()
        out["scan"] = {"rows": row["__n"], "crc": [row[c] for c in df.columns]}
    tf = TurboFrame(df)
    with rec.op("frame.groupby"):
        out["groups"] = tf.filter(f"salary > {gen.SALARY_MIN:.0f}").group_by(
            "department").aggregate({
                "n": ("id", "count"), "total": ("salary", "sum"),
                "mean": ("salary", "mean")}).to_array()
    with rec.op("frame.topk"):
        out["topk"] = tf.sort("salary", descending=True).limit(gen.TOPK).select(
            "id").to_array()
    with rec.op("frame.join"):
        with rec.op("csv_reader.native.build"):
            dept = read_csv(spark, inputs["departments"])
        out["floors"] = tf.join(TurboFrame(dept), on="department").group_by(
            "floor").aggregate({"n": ("id", "count")}).to_array()
    with rec.op("cli.count"):
        out["cli.count"] = cli(["count", emp], spark)
    with rec.op("cli.head"):
        out["cli.head"] = cli(["-f", "json", "head", "-n", "20", emp], spark)
    with rec.op("cli.stats"):
        out["cli.stats"] = cli(["-f", "json", "stats", inputs["extract"]], spark)
    return out


def check_analytics(out: dict, expect: dict, seed: int) -> dict[str, bool]:
    ok = {}
    ok["scan"] = out["scan"] == {"rows": expect["rows"], "crc": expect["crc"]}
    groups = {r["department"]: [r["n"], r["total"], r["mean"]] for r in out["groups"]}
    ok["groups"] = groups.keys() == expect["groups"].keys() and all(
        groups[g][0] == e[0] and _close(groups[g][1], e[1]) and _close(groups[g][2], e[2])
        for g, e in expect["groups"].items())
    ok["topk"] = [r["id"] for r in out["topk"]] == expect["topk"]
    ok["floors"] = {r["floor"]: r["n"] for r in out["floors"]} == expect["floors"]
    code, text = out["cli.count"]
    ok["cli.count"] = code == 0 and text.split()[:1] == [str(expect["rows"])]
    code, text = out["cli.head"]
    head = _json_rows(text) if code == 0 else []
    ok["cli.head"] = len(head) == 20 and all(list(r) == gen.EMP_COLS for r in head)
    code, text = out["cli.stats"]
    stats = _json_rows(text) if code == 0 else []
    ok["cli.stats"] = [r["column"] for r in stats] == gen.EMP_COLS and all(
        r["count"] == expect["stats_rows"] for r in stats)
    return ok


# ---------------------------------------------------------------------------
# etl part (csv_analytics)
# ---------------------------------------------------------------------------


def pass_etl(spark, rec, inputs: dict, work: str) -> dict:
    from pyspark.sql import functions as F

    from bun_csv_spark.functions.coercion import parse_currency, parse_number, parse_percent
    from bun_csv_spark.operators.frame import TurboFrame
    from bun_csv_spark.sources.csv_reader import CSVOptions, read_csv
    from bun_csv_spark.sources.csv_writer import unparse, write_csv

    out = {}
    with rec.op("csv_reader.typed.build"):
        df = read_csv(spark, inputs["ledger"], CSVOptions(dynamic_typing=True, trim=True))
    with rec.op("frame.map"):
        net = (parse_currency("amount") * (1.0 - parse_percent("rate"))
               + parse_number("balance"))
        tf = TurboFrame(df).map({"net": net}).filter(
            F.col("active") & (F.col("qty") > gen.QTY_MIN))
    out_min, out_nn = os.path.join(work, "out_minimal"), os.path.join(work, "out_nonnumeric")
    with rec.op("csv_writer.native"):
        write_csv(tf.df, out_min, quote_style="minimal")
    with rec.op("csv_writer.expr"):
        write_csv(tf.df, out_nn, quote_style="nonnumeric", escape_formulae=True)
    with rec.op("csv_writer.unparse"):
        out["unparse"] = unparse(inputs["sample"], columns=gen.ETL_COLS, newline="\n")
    with rec.op("csv_reader.native.build"):
        back_min = read_csv(spark, out_min)
    with rec.op("csv_reader.native.exec"):
        row = back_min.agg(F.count(F.lit(1)), F.sum(F.col("id").cast("double")),
                           F.sum(F.col("net").cast("double"))).first()
        out["minimal"] = list(row)
    out["nonnumeric"] = out_nn
    out["written"] = [_dir_bytes(out_min), _dir_bytes(out_nn)]
    return out


def _nonnumeric_rows(path: str) -> list[int]:
    """[data rows, notes escaped with a leading '] of the quote-nonnumeric
    output, read as the concatenation of its part files in name order.
    (``read_csv`` cannot read this directory back: the header row is a part
    file of its own and the first part file is empty.)"""
    parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    text = "".join(open(os.path.join(path, f), encoding="utf-8").read() for f in parts)
    rows = list(csv.reader(io.StringIO(text)))
    if not rows or rows[0] != gen.ETL_COLS + ["net"]:
        return [-1, -1]
    note = rows[0].index("note")
    return [len(rows) - 1, sum(r[note].startswith("'") for r in rows[1:])]


def check_etl(out: dict, expect: dict, seed: int) -> dict[str, bool]:
    ok = {}
    back = list(csv.reader(io.StringIO(out["unparse"])))
    ok["unparse"] = back == [gen.ETL_COLS] + expect["sample"]
    n, id_sum, net_sum = out["minimal"]
    ok["minimal"] = (n == expect["kept"] and id_sum == expect["kept_id_sum"]
                     and _close(net_sum, expect["net_sum"], 1e-6))
    ok["nonnumeric"] = _nonnumeric_rows(out["nonnumeric"]) == [expect["kept"],
                                                               expect["kept_formulas"]]
    return ok


# ---------------------------------------------------------------------------
# validate part (csv_validate)
# ---------------------------------------------------------------------------


def pass_validate(spark, rec, inputs: dict, work: str) -> dict:
    from pyspark.sql import functions as F

    from bun_csv_spark.sources.csv_reader import CSVOptions, read_csv_with_errors

    path = inputs["dirty"]
    out = {}
    opts = CSVOptions(comments="#", relax_column_count_less=True,
                      max_record_size=gen.MAX_RECORD, with_row_index=True)
    with rec.op("csv_reader.exact.build"):
        data, errors = read_csv_with_errors(spark, path, opts)
    with rec.op("csv_reader.exact.exec"):
        out["kept"] = data.count()
    with rec.op("csv_reader.exact.errors"):
        out["errors"] = {r["code"]: r["n"] for r in
                         errors.groupBy("code").agg(F.count(F.lit(1)).alias("n")).collect()}
    with rec.op("cli.validate"):
        out["cli.validate"] = cli(["--comments", "#", "validate", path], spark)
    with rec.op("cli.tail"):
        out["cli.tail"] = cli(["-f", "json", "--comments", "#", "tail", "-n", "10", path], spark)
    return out


def check_validate(out: dict, expect: dict, seed: int) -> dict[str, bool]:
    ok = {"kept": out["kept"] == expect["kept"], "errors": out["errors"] == expect["errors"]}
    code, text = out["cli.validate"]
    ok["cli.validate"] = (
        code == (1 if expect["cli_issues"] else 0)
        and f"INVALID: {expect['cli_issues']} issue(s)" in text
        and f"Rows: {expect['data_lines']:,}" in text)
    code, text = out["cli.tail"]
    tail = _json_rows(text) if code == 0 else []
    ok["cli.tail"] = [r["id"] for r in tail] == expect["tail_ids"]
    return ok


# ---------------------------------------------------------------------------
# neardup part (neardup_text)
# ---------------------------------------------------------------------------


def pass_neardup(spark, rec, inputs: dict, work: str) -> dict:
    from pyspark.sql import functions as F

    from bun_csv_spark.operators.dedup import (
        connected_components, editdist_verify, neardup_pairs_minhash)

    out = {}
    corpus = spark.read.parquet(inputs["documents"])
    with rec.op("dedup.candidates"):
        pairs = neardup_pairs_minhash(
            corpus, "doc_id", "text", n_hashes=gen.N_HASHES, bands=gen.BANDS,
            shingle_k=gen.SHINGLE_K, max_bucket=gen.MAX_BUCKET,
            repartition=spark.sparkContext.defaultParallelism,
        ).cache()
        out["candidates"] = pairs.count()
    with rec.op("dedup.verify"):
        verified = editdist_verify(corpus, pairs, "doc_id", "text").filter(
            F.col("sim") >= gen.SIM_MIN).cache()
        out["verified"] = {(r["id_a"], r["id_b"]): r["lev"] for r in verified.collect()}
    with rec.op("dedup.components"):
        labels = connected_components(verified)
        out["labels"] = {r["node"]: r["label"] for r in labels.collect()}
        out["representatives"] = labels.select("label").distinct().count()
    pairs.unpersist()
    verified.unpersist()
    return out


def check_neardup(out: dict, expect: dict, seed: int) -> dict[str, bool]:
    ok = {"candidates": out["candidates"] == expect["candidates"]}
    got, want = out["verified"], expect["verified"]
    ok["verify"] = got.keys() == want.keys() and all(
        got[p] <= want[p] for p in want)
    if ok["verify"] and got:
        # recheck a seeded sample of returned distances with the plain DP
        texts = expect["texts"]
        for a, b in random.Random(seed).sample(sorted(got), min(3, len(got))):
            ok["verify"] &= got[(a, b)] == gen.levenshtein_dp(texts[a], texts[b])
    ok["components"] = (out["labels"] == expect["labels"]
                        and out["representatives"] == expect["clusters"])
    return ok


def kernel_pairs_s(expect: dict, seed: int, n_pairs: int = 1500) -> tuple[float, bool]:
    """Spark-free timing of ``batched_levenshtein`` on a fixed batch of this
    seed's candidate pairs (planted pairs first, then unrelated ones);
    returns (pairs per second, distances agree with the plain DP)."""
    import time

    from bun_csv_spark.functions.editdist import batched_levenshtein

    texts = expect["texts"]
    rng = random.Random(seed)
    ids = sorted(texts)
    batch = sorted(expect["verified"])[:n_pairs // 4]
    batch += [tuple(rng.sample(ids, 2)) for _ in range(n_pairs - len(batch))]
    as_, bs = [texts[a] for a, _ in batch], [texts[b] for _, b in batch]
    t0 = time.perf_counter()
    dist = batched_levenshtein(as_, bs)
    elapsed = time.perf_counter() - t0
    good = all(int(dist[i]) == gen.levenshtein_dp(as_[i], bs[i])
               for i in rng.sample(range(len(batch)), 3))
    return len(batch) / elapsed, good


PARTS = {  # part -> (generator, pass, check)
    "analytics": (gen.gen_analytics, pass_analytics, check_analytics),
    "etl": (gen.gen_etl, pass_etl, check_etl),
    "validate": (gen.gen_validate, pass_validate, check_validate),
    "neardup": (gen.gen_neardup, pass_neardup, check_neardup),
}
WORKLOADS = {
    "csv_analytics": ("analytics", "etl"),
    "csv_validate": ("validate",),
    "neardup_text": ("neardup",),
}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
