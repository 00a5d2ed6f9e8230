"""The repository benchmark: seeded workloads timed end to end and per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout; the program under test is the checkout's
``bun_csv_spark`` package, on ``local[<cores>]``. One run:

1. starts its session cold and reports the time from importing
   ``bun_csv_spark`` to the end of the first job as ``setup_s``;
2. generates the workload's inputs and expected answers from ``--seed``;
3. runs one warmup pass, then passes one at a time (a closed loop with one
   client) until ``--seconds`` have passed and at least ``MIN_PASSES`` ran;
4. checks every op's output against the expected answers;
5. prints a context line (machine, versions, seed, box-speed probe) and,
   last, one JSON result line.

With ``--trace 0`` the metrics are the end-to-end ones: ``setup_s``,
``pass_s`` (median pass wall time) and ``key_op_mb_s``, the throughput of
the ops each workload exists to stress:

- csv_analytics: every call into the CSV reader and writer (input CSV
  bytes over the time spent in ``sources.csv_reader`` and
  ``sources.csv_writer``);
- csv_validate: the exact-path read, its forcing and its error collect;
- neardup_text: the whole pipeline (corpus text bytes over pass time).

With ``--trace 1`` passes alternate between traced and untraced, and the
metrics are per layer: op times, Spark job and task counts, per-layer self
time from the spans, and the tracing overhead (median traced pass minus
median untraced pass). A metric of a layer the workload does not run reads
0. Spans are written to ``.perfbench/traces/``.

``--scale`` and ``--corrupt`` serve ``selftest.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_PASSES = 2
MIN_TRACED_PASSES = 4
DRIVER_MEMORY = "4g"
SCAN_OP = "csv_reader.native.scan"
WRITE_OPS = ("csv_writer.native", "csv_writer.expr")
EXACT_OPS = ("csv_reader.exact.build", "csv_reader.exact.exec", "csv_reader.exact.errors")
OP_METRICS = {  # per-layer metric -> the ops whose time it sums
    "csv_reader.native.build_s": ("csv_reader.native.build",),
    "csv_reader.native.exec_s": (SCAN_OP, "csv_reader.native.exec"),
    "csv_reader.typed.build_s": ("csv_reader.typed.build",),
    "csv_reader.exact.build_s": ("csv_reader.exact.build",),
    "csv_reader.exact.exec_s": ("csv_reader.exact.exec",),
    "csv_reader.exact.errors_s": ("csv_reader.exact.errors",),
    "csv_writer.native_s": ("csv_writer.native",),
    "csv_writer.expr_s": ("csv_writer.expr",),
    "csv_writer.unparse_s": ("csv_writer.unparse",),
    "frame.groupby_s": ("frame.groupby",),
    "frame.topk_s": ("frame.topk",),
    "frame.join_s": ("frame.join",),
    "frame.map_s": ("frame.map",),
    "cli.count_s": ("cli.count",),
    "cli.head_s": ("cli.head",),
    "cli.stats_s": ("cli.stats",),
    "cli.validate_s": ("cli.validate",),
    "cli.tail_s": ("cli.tail",),
    "dedup.candidates_s": ("dedup.candidates",),
    "dedup.verify_s": ("dedup.verify",),
    "dedup.components_s": ("dedup.components",),
}
CLI_OPS = ("cli.count", "cli.head", "cli.stats", "cli.validate", "cli.tail")
JOB_METRICS = {  # per-layer count -> the spans whose jobs it sums
    "csv_reader.native.build_jobs": ("csv_reader.native.build",),
    "csv_reader.native.jobs": (SCAN_OP, "csv_reader.native.exec"),
    "csv_reader.typed.build_jobs": ("csv_reader.typed.build",),
    "csv_reader.exact.build_jobs": ("csv_reader.exact.build",),
    "csv_reader.exact.jobs": ("csv_reader.exact.exec", "csv_reader.exact.errors"),
    "csv_writer.jobs": WRITE_OPS,
    "cli.jobs": CLI_OPS,
    "dedup.components_jobs": ("dedup.components",),
}
SELF_LAYERS = ("bench", "csv_reader", "csv_writer", "frame", "cli", "dedup")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    p.add_argument("--corrupt", default=None, help=argparse.SUPPRESS)
    return p.parse_args(argv)


def box_probe() -> float:
    """Seconds for a fixed slice of interpreter and numpy work, recorded
    with every result so that a loaded machine shows next to the timings."""
    import numpy as np

    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i % 7
    m = np.arange(160 * 160, dtype=np.float64).reshape(160, 160) / 1e4
    for _ in range(20):
        m = (m @ m) % 1.0
    return time.perf_counter() - t0


def git_sha(root: str) -> str:
    """HEAD of the checkout when it is a git work tree; else "unknown"."""
    try:
        with open(os.path.join(root, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(root, ".git", head[5:])) as fh:
                head = fh.read().strip()
        return head
    except OSError:
        return "unknown"


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail_stat(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile with at least ten
    samples beyond it; with fewer than 11 samples, the maximum."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def corrupt(value):
    """A deliberately wrong copy of an op's output (fault injection)."""
    if isinstance(value, bool):
        return not value
    if isinstance(value, (int, float)):
        return value + 1
    if isinstance(value, str):
        return value + "x"
    if isinstance(value, tuple):
        return (corrupt(value[0]),) + value[1:]
    if isinstance(value, list):
        return value[1:] if value else [None]
    if isinstance(value, dict):
        return dict(list(value.items())[1:]) if value else {None: None}
    return None


class Run:
    """One benchmark run of one workload on one session."""

    def __init__(self, spark, args, work: str):
        import spans
        import workloads

        self.spark, self.args, self.work = spark, args, work
        self.parts = workloads.WORKLOADS[args.workload]
        self.inputs, self.expect = {}, {}
        for part in self.parts:
            make = workloads.PARTS[part][0]
            self.inputs[part], self.expect[part] = make(
                workloads.fresh_dir(os.path.join(work, "inputs", part)), args.seed, args.scale)
        if "neardup" in self.parts:
            self.text_bytes = sum(len(t.encode()) for t in self.expect["neardup"]["texts"].values())
        self.rec = spans.Recorder(spark.sparkContext, trace=False)
        self.passes: list[dict] = []  # measured passes: id, traced, wall, out
        self.attempted = self.failed = 0

    def one_pass(self, pass_id: int, traced: bool) -> dict:
        import workloads

        rec = self.rec
        rec.pass_id, rec.trace = pass_id, traced
        out_dir = workloads.fresh_dir(os.path.join(self.work, "out"))
        out: dict = {}
        t0 = time.perf_counter()
        try:
            with rec.op("bench.pass"):
                for part in self.parts:
                    run_pass = workloads.PARTS[part][1]
                    out[part] = run_pass(self.spark, rec, self.inputs[part], out_dir)
        except Exception:  # a failing op is counted, and the run goes on
            traceback.print_exc(file=sys.stderr)
            out = {}
            self.attempted += 1
            self.failed += 1
        wall = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        rec.count_jobs(pass_id)
        if self.args.corrupt:
            part, key = self.args.corrupt.split(".", 1)
            if key in out.get(part, {}):
                out[part][key] = corrupt(out[part][key])
        for part, got in out.items():
            check = workloads.PARTS[part][2]
            ok = check(got, self.expect[part], self.args.seed)
            bad = [k for k, v in ok.items() if not v]
            if bad:
                print(f"pass {pass_id}: wrong output from {part} {bad}", file=sys.stderr)
            self.attempted += len(ok)
            self.failed += len(bad)
        return {"id": pass_id, "traced": traced, "wall": wall, "out": out}

    def measure(self) -> None:
        self.one_pass(0, traced=False)  # warmup: class loading, JIT, Python workers
        start = time.perf_counter()
        trace = bool(self.args.trace)
        min_passes = MIN_TRACED_PASSES if trace else MIN_PASSES
        pass_id = 1
        while pass_id <= min_passes or time.perf_counter() - start < self.args.seconds:
            # T U U T T U U T ...: balanced against a drift over the run
            traced = trace and pass_id % 4 in (0, 1)
            self.passes.append(self.one_pass(pass_id, traced))
            pass_id += 1

    def op_time(self, pass_id: int, names) -> float:
        return sum(o["s"] for o in self.rec.ops if o["pass"] == pass_id and o["name"] in names)

    @staticmethod
    def written_bytes(p: dict) -> int:
        return sum(b for b, _ in p["out"].get("etl", {}).get("written", ()))

    def rate(self, amount_of, names) -> float:
        """Median over passes of amount / seconds spent in the ops ``names``
        (``"pass"``: the whole pass)."""
        rates = []
        for p in self.passes:
            s = p["wall"] if names == "pass" else self.op_time(p["id"], names)
            if s > 0:
                rates.append(amount_of(p) / s)
        return median(rates)

    def key_op_mb_s(self) -> float:
        w = self.args.workload
        if w == "csv_analytics":
            csv_in = (self.inputs["analytics"]["bytes"] + self.inputs["etl"]["bytes"]) / 1e6
            io_ops = {o["name"] for o in self.rec.ops
                      if o["name"].startswith(("csv_reader.", "csv_writer."))}
            return self.rate(lambda p: csv_in, io_ops)
        if w == "csv_validate":
            return self.rate(lambda p: self.inputs["validate"]["bytes"] / 1e6, EXACT_OPS)
        return self.rate(lambda p: self.text_bytes / 1e6, "pass")

    def end_to_end(self, setup_s: float) -> dict:
        return {
            "setup_s": (setup_s, "s"),
            "pass_s": (median(p["wall"] for p in self.passes), "s"),
            "key_op_mb_s": (self.key_op_mb_s(), "MB/s"),
        }

    def per_layer(self, setup_s: float, box_s: float) -> dict:
        import spans
        import workloads

        traced = [p for p in self.passes if p["traced"]]
        plain = [p for p in self.passes if not p["traced"]]
        tids = {p["id"] for p in traced}
        tspans = [s for s in self.rec.spans if s["pass"] in tids]
        out = traced[-1]["out"] if traced else {}
        m: dict[str, tuple[float, str]] = {}
        m["session.start_s"] = (setup_s, "s")
        m["session.peak_rss_mb"] = (jvm_peak_rss_mb(self.spark), "MB")
        for metric, names in OP_METRICS.items():
            m[metric] = (median(self.op_time(i, names) for i in tids), "s")

        def jobs(i, names=None, key="jobs"):
            return sum(s.get(key, 0) for s in tspans
                       if s["pass"] == i and (names is None or s["name"] in names))

        for metric, names in JOB_METRICS.items():
            m[metric] = (median(jobs(i, names) for i in tids), "count")
        m["spark.jobs_per_pass"] = (median(jobs(i) for i in tids), "count")
        m["spark.tasks_per_pass"] = (median(jobs(i, key="tasks") for i in tids), "count")
        self_s = spans.self_times(tspans)
        for layer in SELF_LAYERS:
            m[f"self_s.{layer}"] = (self_s.get(layer, 0.0) / max(1, len(tids)), "s")
        t_on, t_off = median(p["wall"] for p in traced), median(p["wall"] for p in plain)
        m["trace.pass_s_traced"] = (t_on, "s")
        m["trace.pass_s_untraced"] = (t_off, "s")
        m["trace.overhead_s"] = (t_on - t_off, "s")

        # the rates of each part; 0 where the workload does not run the part
        an, etl = "analytics" in self.parts, "etl" in self.parts
        m["scan_mb_s"] = (self.rate(lambda p: self.inputs["analytics"]["bytes"] / 1e6,
                                    (SCAN_OP,)) if an else 0.0, "MB/s")
        m["write_mb_s"] = (self.rate(lambda p: self.written_bytes(p) / 1e6, WRITE_OPS)
                           if etl else 0.0, "MB/s")
        m["validate_mb_s"] = (self.key_op_mb_s() if "validate" in self.parts else 0.0, "MB/s")
        docs = self.expect["neardup"]["docs"] if "neardup" in self.parts else 0
        m["neardup_docs_s"] = (self.rate(lambda p: docs, "pass") if docs else 0.0, "docs/s")
        cli_ops = [o["s"] for o in self.rec.ops if o["pass"] > 0 and o["name"] in CLI_OPS]
        tail, pct, n = tail_stat(cli_ops)
        m["cli_s_p50"] = (median(cli_ops), "s")
        m["cli_s_tail"] = (tail, "s")
        m["cli_tail_pct"] = (pct, "%")
        m["cli_samples"] = (n, "count")

        val = out.get("validate", {})
        m["csv_reader.exact.kept_frac"] = (
            val["kept"] / self.expect["validate"]["data_lines"] if val else 0.0, "ratio")
        written = out.get("etl", {}).get("written", [])
        bytes_out = sum(b for b, _ in written)
        m["csv_writer.bytes_out"] = (bytes_out, "bytes")
        m["csv_writer.bytes_per_input_byte"] = (
            bytes_out / self.inputs["etl"]["bytes"] if etl else 0.0, "ratio")
        m["csv_writer.files_out"] = (sum(f for _, f in written), "count")
        ana = out.get("analytics", {})
        m["frame.rows_out"] = (sum(len(ana.get(k, ())) for k in ("groups", "topk", "floors")),
                               "count")
        nd = out.get("neardup", {})
        cands = nd.get("candidates", 0)
        m["dedup.candidate_pairs"] = (cands, "count")
        m["dedup.verified_frac"] = (len(nd.get("verified", ())) / cands if cands else 0.0,
                                    "ratio")
        kernel = 0.0
        if "neardup" in self.parts:
            kernel, good = workloads.kernel_pairs_s(self.expect["neardup"], self.args.seed)
            self.attempted += 1
            self.failed += not good
        m["editdist.kernel_pairs_s"] = (kernel, "pairs/s")
        m["bench.passes"] = (len(self.passes), "count")
        m["box.probe_s"] = (box_s, "s")
        m["failed_frac"] = (self.failed / max(1, self.attempted), "ratio")
        return m


def setup_env(root: str, work: str) -> dict:
    """Keep every file Spark, the JVM and the Python workers write inside the
    checkout (``-XX:-UsePerfData``: no /tmp/hsperfdata), and cap the driver
    heap so a run stays small on a shared machine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
                               f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)
    to exit: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None  # the next session starts a fresh JVM


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "bun_csv_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout that holds bun_csv_spark/",
              file=sys.stderr)
        return 2
    import tempfile

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench")
    work = workloads.fresh_dir(os.path.join(base, f"run-{os.getpid()}"))
    os.environ.update(setup_env(root, work))
    tempfile.tempdir = None  # pick up the TMPDIR just set
    cpus = len(os.sched_getaffinity(0))
    spark = None
    try:
        # the setup clock starts before the package import, so work moved
        # to import time shows in setup_s
        t0 = time.perf_counter()
        from bun_csv_spark import get_spark

        spark = get_spark("perfbench", cpus=cpus)
        spark.range(1).count()
        setup_s = time.perf_counter() - t0
        box = [box_probe()]
        run = Run(spark, args, work)
        t_inputs = time.perf_counter()
        run.measure()
        t_measured = time.perf_counter()
        box.append(box_probe())
        context = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale, "nproc": cpus,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(), "git_sha": git_sha(root),
            "box_probe_s": box, "setup_s": setup_s,
            "input_bytes": {p: i["bytes"] for p, i in run.inputs.items()},
            "pass_walls_s": [p["wall"] for p in run.passes],
            "ops_s": {name: [run.op_time(p["id"], (name,)) for p in run.passes]
                      for name in dict.fromkeys(o["name"] for o in run.rec.ops)},
            "timeline_s": {"inputs_ready": t_inputs - t0, "measured": t_measured - t0},
        }
        if args.trace:
            metrics = run.per_layer(setup_s, median(box))
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            run.rec.dump(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
                         context)
        else:
            metrics = run.end_to_end(setup_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
