"""Seeded input generators and their expected answers (oracles).

Every generator writes its input files under ``out_dir`` and returns
``(inputs, expect)``: ``inputs`` holds the paths the program is given,
``expect`` the answers the benchmark checks the program's outputs against.
The same seed gives the same files and the same answers. ``scale``
multiplies the row/document counts (the self-test runs at a tiny scale).

Nothing here imports Spark or ``bun_csv_spark``: the oracles are computed
independently of the code under test (plain Python, numpy and DuckDB).
"""

from __future__ import annotations

import csv
import hashlib
import os
import random
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# analytics part (csv_analytics): clean employee CSV in the reference shape
# ---------------------------------------------------------------------------

EMP_COLS = [
    "id", "first_name", "last_name", "email", "gender",
    "ip_address", "country", "birthdate", "salary", "department",
]
_FIRST = [
    "Ada", "Ben", "Cleo", "Dev", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jude",
    "Kai", "Lena", "Milo", "Nia", "Otto", "Pia", "Quin", "Rosa", "Sami", "Tess",
    "Uma", "Vik", "Wren", "Xia", "Yuri", "Zoe", "Aled", "Bea", "Cai", "Dara",
]
_LAST = [
    "Abbott", "Baker", "Chen", "Diaz", "Evans", "Fischer", "Garcia", "Hughes",
    "Ito", "Jensen", "Khan", "Lopez", "Meyer", "Novak", "Okafor", "Patel",
    "Quinn", "Rossi", "Silva", "Tanaka", "Ueda", "Varga", "Weber", "Xu",
    "Young", "Zhang", "O'Neil", "McKay", "Haas", "Iyer",
]
_GENDERS = ["Female", "Male", "Non-binary", "Agender", "Genderfluid"]
_COUNTRIES = [
    "US", "CN", "BR", "ID", "FR", "DE", "PH", "RU", "SE", "PT", "PL", "JP",
    "MX", "CA", "NG", "AR", "GR", "UA", "CZ", "PE", "CO", "TH", "VN", "ZA",
]
DEPARTMENTS = [
    "Accounting", "Engineering", "Human Resources", "Legal", "Marketing",
    "Product Management", "Research and Development", "Sales", "Services",
    "Support", "Training", "Business Development",
]
SALARY_MIN = 60000.0  # the filter threshold the analytics pass applies
TOPK = 10
STATS_ROWS = 3000


def gen_analytics(out_dir: str, seed: int, scale: float = 1.0) -> tuple[dict, dict]:
    """60k employee rows (about 6 MB) split over 4 part files, plus a
    12-row department dimension. Clean CSV: no quoting, no nulls."""
    rng = np.random.default_rng(seed)
    n = max(200, int(60_000 * scale))
    n_files = 4
    emp_dir = os.path.join(out_dir, "employees")
    os.makedirs(emp_dir)
    first = rng.integers(0, len(_FIRST), n)
    last = rng.integers(0, len(_LAST), n)
    gender = rng.integers(0, len(_GENDERS), n)
    country = rng.integers(0, len(_COUNTRIES), n)
    dept = rng.integers(0, len(DEPARTMENTS), n)
    ips = rng.integers(1, 255, (n, 4))
    days = rng.integers(0, 365 * 40, n)
    # distinct salaries (a permutation in cent steps of 97) so top-k has no ties
    cents = 2_500_000 + 97 * rng.permutation(n)
    birth = (np.datetime64("1960-01-01") + days.astype("timedelta64[D]")).astype(str)
    rows = []
    for i in range(n):
        fn, ln = _FIRST[first[i]], _LAST[last[i]]
        rows.append([
            str(i + 1), fn, ln, f"{fn.lower()}.{ln.lower()}{i + 1}@example.org",
            _GENDERS[gender[i]], "%d.%d.%d.%d" % tuple(ips[i]),
            _COUNTRIES[country[i]], birth[i], f"{cents[i] // 100}.{cents[i] % 100:02d}",
            DEPARTMENTS[dept[i]],
        ])
    per = -(-n // n_files)
    total = 0
    for f in range(n_files):
        path = os.path.join(emp_dir, f"part-{f:05d}.csv")
        with open(path, "w", newline="") as fh:
            fh.write(",".join(EMP_COLS) + "\n")
            fh.writelines(",".join(r) + "\n" for r in rows[f * per:(f + 1) * per])
        total += os.path.getsize(path)
    dept_path = os.path.join(out_dir, "departments.csv")
    with open(dept_path, "w", newline="") as fh:
        fh.write("department,dept_name,floor\n")
        for j, d in enumerate(DEPARTMENTS):
            fh.write(f"{d},{d.upper()},{1 + j % 5}\n")

    crc = [0] * len(EMP_COLS)
    for r in rows:
        for j, v in enumerate(r):
            crc[j] += zlib.crc32(v.encode())
    # CLI stats reads a small extract: its exact per-column distinct counts
    # run single-task at about 4 s per 15k rows on 4 cores
    extract = os.path.join(out_dir, "extract.csv")
    with open(extract, "w", newline="") as fh:
        fh.write(",".join(EMP_COLS) + "\n")
        fh.writelines(",".join(r) + "\n" for r in rows[:STATS_ROWS])
    expect = {"rows": n, "crc": crc, "stats_rows": min(n, STATS_ROWS)}
    expect.update(_analytics_duckdb(emp_dir, dept_path))
    inputs = {"employees": emp_dir, "departments": dept_path, "bytes": total,
              "extract": extract}
    return inputs, expect


def _analytics_duckdb(emp_dir: str, dept_path: str) -> dict:
    """Group, top-k and join answers from DuckDB over the same files."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    emp = f"read_csv('{emp_dir}/*.csv', header=true, all_varchar=true)"
    dept = f"read_csv('{dept_path}', header=true, all_varchar=true)"
    groups = con.execute(
        f"SELECT department, count(*), sum(salary::DOUBLE), avg(salary::DOUBLE) "
        f"FROM {emp} WHERE salary::DOUBLE > {SALARY_MIN} GROUP BY department"
    ).fetchall()
    topk = con.execute(
        f"SELECT id FROM {emp} ORDER BY salary::DOUBLE DESC LIMIT {TOPK}"
    ).fetchall()
    floors = con.execute(
        f"SELECT d.floor, count(*) FROM {emp} e JOIN {dept} d "
        f"ON e.department = d.department GROUP BY d.floor"
    ).fetchall()
    con.close()
    return {
        "groups": {g: [c, s, a] for g, c, s, a in groups},
        "topk": [r[0] for r in topk],
        "floors": {f: c for f, c in floors},
    }


# ---------------------------------------------------------------------------
# etl part (csv_analytics): typed CSV (currency, accounting negatives, percents, booleans,
# dates, formula-leading text)
# ---------------------------------------------------------------------------

ETL_COLS = ["id", "customer", "amount", "balance", "rate", "active", "joined", "note", "qty"]
_FORMULAS = ["=SUM(A1:A9)", "+15550100", "-2 items returned", "@team review"]
_NOTE_WORDS = ["priority", "refund", "net 30", "wire", "card", "gift", "bulk", "retail"]
QTY_MIN = 5  # the filter keeps active rows with qty > QTY_MIN
UNPARSE_ROWS = 1000


def etl_net(amount: float, balance: float, rate: float) -> float:
    """The derived column the etl pass computes: amount * (1 - rate) + balance."""
    return amount * (1.0 - rate) + balance


def gen_etl(out_dir: str, seed: int, scale: float = 1.0) -> tuple[dict, dict]:
    """30k typed rows (about 2.2 MB) in one file."""
    rng = random.Random(seed)
    n = max(UNPARSE_ROWS, int(30_000 * scale))
    path = os.path.join(out_dir, "ledger.csv")
    records = []
    keep_ids = keep_formulas = 0
    keep_rows = 0
    net_sum = 0.0
    for i in range(n):
        amount = rng.randrange(0, 10_000_000) / 100.0
        bal = rng.randrange(0, 500_000) / 100.0
        neg = rng.random() < 0.3
        rate = rng.randrange(0, 400) / 10.0
        active = rng.random() < 0.6
        qty = rng.randrange(0, 20)
        formula = rng.random() < 0.1
        note = rng.choice(_FORMULAS) if formula else " ".join(rng.sample(_NOTE_WORDS, 2))
        if rng.random() < 0.2:
            note = f"  {note} "  # trim=True strips the padding
        rec = [
            str(i + 1), f"cust-{rng.randrange(5000):04d}", f"${amount:,.2f}",
            f"({bal:.2f})" if neg else f"{bal:.2f}", f"{rate}%",
            "true" if active else "false",
            f"20{rng.randrange(10, 25)}-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}",
            note, str(qty),
        ]
        records.append(rec)
        if active and qty > QTY_MIN:
            keep_rows += 1
            keep_ids += i + 1
            keep_formulas += formula
            net_sum += etl_net(amount, -bal if neg else bal, rate / 100.0)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(ETL_COLS)
        w.writerows(records)
    expect = {
        "rows": n, "kept": keep_rows, "kept_id_sum": keep_ids,
        "kept_formulas": keep_formulas, "net_sum": net_sum,
        "sample": records[:UNPARSE_ROWS],
    }
    # the fixed unparse sample is handed to the program as records
    inputs = {"ledger": path, "sample": records[:UNPARSE_ROWS], "bytes": os.path.getsize(path)}
    return inputs, expect


# ---------------------------------------------------------------------------
# validate part (csv_validate): dirty CSV for the exact (line-level) path
# ---------------------------------------------------------------------------

VALIDATE_COLS = ["id", "name", "city", "comment", "score", "tag"]
MAX_RECORD = 400  # bytes; over-long records are planted well above it
_CITIES = ["Zürich", "São Paulo", "東京", "Kraków", "Reykjavík", "Αθήνα", "Montréal", "Plain"]
_TAGS = ["a", "b", "ü", "☃", "x,y", 'q"t']


def _q(s: str) -> str:
    return '"' + s.replace('"', '""') + '"'


def gen_validate(out_dir: str, seed: int, scale: float = 1.0) -> tuple[dict, dict]:
    """~15k lines (about 1 MB): dense quoting, doubled quotes, embedded
    delimiters, ragged rows, over-long records, comment and blank lines,
    non-ASCII text. The error mix is drawn from the seed."""
    rng = random.Random(seed)
    n = max(300, int(15_000 * scale))
    lines = ["# exported ledger, comments start with #", ",".join(VALIDATE_COLS)]
    data = too_few = too_many = overlong = 0
    data_ids: list[str] = []
    for i in range(n):
        u = rng.random()
        if u < 0.01:
            lines.append(f"# note {i} — ignored")
            continue
        if u < 0.02:
            lines.append("")
            continue
        rid = str(i + 1)
        name = f'{rng.choice(_FIRST)} "{rng.choice(_LAST)}" {i % 97}'
        comment = f"{rng.choice(_NOTE_WORDS)}, {rng.choice(_NOTE_WORDS)}; ok"
        fields = [rid, _q(name), _q(rng.choice(_CITIES)), _q(comment),
                  str(rng.randrange(1000)), _q(rng.choice(_TAGS))]
        v = rng.random()
        if v < 0.02:
            fields = fields[:-1]
            too_few += 1
        elif v < 0.04:
            fields = fields + [_q("extra, field")]
            too_many += 1
        elif v < 0.05:
            fields[3] = _q("long " + "ß" * (MAX_RECORD // 2 + 50))
            overlong += 1
        lines.append(",".join(fields))
        data += 1
        data_ids.append(rid)
    path = os.path.join(out_dir, "dirty.csv")
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write("\n".join(lines) + "\n")
    expect = {
        "data_lines": data,
        # exact-path read: TooFewFields relaxed, MaxRecordSize rows dropped
        "errors": {k: v for k, v in
                   (("TooManyFields", too_many), ("MaxRecordSize", overlong)) if v},
        "kept": data - overlong,
        # CLI validate: no relaxation and no size limit
        "cli_issues": too_few + too_many,
        "tail_ids": data_ids[-10:],
    }
    return {"dirty": path, "bytes": os.path.getsize(path)}, expect


# ---------------------------------------------------------------------------
# neardup part (neardup_text): a document corpus with planted perturbed copies
# ---------------------------------------------------------------------------

# LSH parameters the pass uses; the oracle replays the same banding
N_HASHES, BANDS, SHINGLE_K, MAX_BUCKET = 8, 4, 5, 64
SIM_MIN = 0.8
MAX_EDITS = 12
_P = 2147483647
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _perturb(rng: random.Random, text: str, edits: int) -> str:
    s = list(text)
    for _ in range(edits):
        op, pos, ch = rng.randrange(3), rng.randrange(len(s)), rng.choice(_LETTERS)
        if op == 0:
            s[pos] = ch
        elif op == 1:
            s.insert(pos, ch)
        elif len(s) > 1:
            del s[pos]
    return "".join(s)


def gen_neardup(out_dir: str, seed: int, scale: float = 1.0) -> tuple[dict, dict]:
    """~1,400 documents of about 300 characters written as parquet: a fixed
    base corpus of 1,200 documents (Zipf-distributed pseudo-words), and the
    seed picks which 16% of them get one or two perturbed copies, and the
    1..MAX_EDITS character edits of each copy. The base corpus does not
    depend on the seed, so the candidate load barely moves between seeds."""
    import pandas as pd

    base = random.Random(0)
    n_base = max(60, int(1200 * scale))
    vocab = sorted({"".join(base.choice(_LETTERS) for _ in range(base.randrange(3, 10)))
                    for _ in range(6000)})
    weights = [1.0 / (r + 1) ** 0.8 for r in range(len(vocab))]
    docs: dict[int, str] = {}
    for d in range(n_base):
        words = []
        while sum(map(len, words)) + len(words) < 290:
            words.extend(base.choices(vocab, weights, k=8))
        docs[d] = " ".join(words)[:297]
    rng = random.Random(seed)
    family: dict[int, int] = {d: d for d in docs}
    edits: dict[int, int] = {}
    next_id = n_base
    for d in rng.sample(range(n_base), int(0.16 * n_base)):
        for _ in range(1 + (rng.random() < 0.25)):
            e = rng.randrange(1, MAX_EDITS + 1)
            docs[next_id] = _perturb(rng, docs[d], e)
            family[next_id], edits[next_id] = d, e
            next_id += 1
    ids = list(docs)
    rng.shuffle(ids)
    path = os.path.join(out_dir, "documents.parquet")
    pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64),
                  "text": [docs[i] for i in ids]}).to_parquet(path, index=False)

    candidates = lsh_candidates(docs)
    # planted pairs: a copy with its original (edits of the copy) or two
    # copies of one original (sum of their edits); unrelated documents are
    # far below SIM_MIN, so the verified set is the planted pairs that LSH
    # proposes
    verified = {}
    for a, b in candidates:
        if family[a] == family[b]:
            verified[(a, b)] = edits.get(a, 0) + edits.get(b, 0)
    labels = _components(verified)
    expect = {
        "docs": len(docs), "candidates": len(candidates), "verified": verified,
        "labels": labels, "clusters": len(set(labels.values())),
        "texts": docs,
    }
    return {"documents": path, "bytes": os.path.getsize(path)}, expect


def _minhash(text: str, a: np.ndarray, b: np.ndarray) -> tuple[int, ...]:
    k = SHINGLE_K
    shingles = {text[i:i + k] for i in range(max(len(text) - k + 1, 1))}
    h = np.fromiter(
        (int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % _P for s in shingles),
        np.int64, len(shingles),
    )
    return tuple(((a[:, None] * h[None, :] + b[:, None]) % _P).min(axis=1).tolist())


def lsh_candidates(docs: dict[int, str]) -> set[tuple[int, int]]:
    """The (id_a < id_b) pairs sharing any band bucket, with buckets of more
    than MAX_BUCKET members dropped — MinHash banding replayed in numpy."""
    a = np.array([(2654435761 * (i + 1)) % _P or 1 for i in range(N_HASHES)], np.int64)
    b = np.array([(1779033703 * (i + 13) + 7) % _P for i in range(N_HASHES)], np.int64)
    rows = N_HASHES // BANDS
    buckets: dict[tuple, list[int]] = {}
    for d, text in docs.items():
        sig = _minhash(text, a, b)
        for band in range(BANDS):
            buckets.setdefault((band,) + sig[band * rows:(band + 1) * rows], []).append(d)
    pairs = set()
    for members in buckets.values():
        if 2 <= len(members) <= MAX_BUCKET:
            members = sorted(members)
            pairs.update((x, y) for i, x in enumerate(members) for y in members[i + 1:])
    return pairs


def _components(pairs) -> dict[int, int]:
    """node -> smallest id in its component, for nodes on any pair."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def levenshtein_dp(a: str, b: str) -> int:
    """Reference edit distance: the textbook O(len(a) * len(b)) DP."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]
