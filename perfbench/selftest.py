"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py        (from the root of a checkout)

Runs every workload of BENCHMARK.json in-process at a tiny scale and checks:

- smoke: with ``--trace 0`` the result holds exactly the end-to-end
  metrics, each with its unit and a value above 0; with ``--trace 1``
  exactly the per-layer metrics with their units; both runs correct;
- fault injection: with one op's output deliberately corrupted, the run
  is not correct, counts the failure, and reports ``failed_frac`` above 0;
- outside a checkout (no ``bun_csv_spark/``), the benchmark exits non-zero
  without printing a result.

Prints one JSON line and exits 0 when every check holds.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402

SCALE = 0.05
CORRUPT = {  # workload -> the op output the fault-injection run corrupts
    "csv_analytics": "analytics.scan",
    "csv_validate": "validate.errors",
    "neardup_text": "neardup.verified",
}


def invoke(argv: list[str]) -> tuple[int, dict | None]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = run.main(argv)
    lines = buf.getvalue().strip().splitlines()
    return code, (json.loads(lines[-1]) if lines else None)


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems: list[str] = []
    for workload in (w["name"] for w in spec["workloads"]):
        base = ["--workload", workload, "--seed", "1", "--seconds", "0", "--scale", str(SCALE)]
        for trace in (0, 1):
            code, res = invoke(base + ["--trace", str(trace)])
            tag = f"{workload} trace={trace}"
            if code != 0 or res is None:
                problems.append(f"{tag}: exit {code}, no result")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{tag}: metrics/units differ from BENCHMARK.json: "
                                f"missing {sorted(want[trace].keys() - got.keys())}, "
                                f"extra {sorted(got.keys() - want[trace].keys())}, "
                                f"units {[k for k in got if want[trace].get(k, got[k]) != got[k]]}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{tag}: wrong outputs ({res['failed']}/{res['attempted']})")
            if trace == 0 and any(v["value"] <= 0 for v in res["metrics"].values()):
                problems.append(f"{tag}: an end-to-end metric is not above 0")
        code, res = invoke(base + ["--trace", "1", "--corrupt", CORRUPT[workload]])
        if (code != 0 or res is None or res["correct"] or not res["failed"]
                or res["metrics"]["failed_frac"]["value"] <= 0):
            problems.append(f"{workload}: corrupting {CORRUPT[workload]} was not counted")

    empty = os.path.join(os.getcwd(), ".perfbench", "selftest-empty")
    os.makedirs(empty, exist_ok=True)
    cwd = os.getcwd()
    os.chdir(empty)
    try:
        code, res = invoke(["--workload", "csv_analytics", "--seed", "1",
                            "--seconds", "1", "--trace", "0"])
    finally:
        os.chdir(cwd)
        os.rmdir(empty)
    if code == 0 or res is not None:
        problems.append("outside a checkout: expected a non-zero exit and no result")

    print(json.dumps({"ok": not problems, "problems": problems}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
