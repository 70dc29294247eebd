"""Seeded input generation.  Everything here runs before the session is
built, outside every timed region (``setup_s`` included); the same seed
always yields byte-identical inputs.

Three input families:

- text lines (job 1) and headered salary CSV (jobs 2 and 3), with the
  reference's quirks present: one header line, which job 2 lets through,
  and ``Jacksonville`` rows, which jobs 2 and 3 drop;
- pre-written salary-CSV files for the open-loop generator, which only
  links them into the watched directory on schedule;
- the star-schema and LLM tables (``sources.io.TABLES``) as one parquet
  file each, shaped like the engine's test corpus.

Each generator also returns what a correct engine must output, so the
checks need no second engine run.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np

CSV_HEADER = "ID,Name,Age,City,Salary"
EXCLUDED_CITY = "Jacksonville"
# Key skew is a traffic dimension of the keyed average: a few hot
# cities and a long tail, as city populations are.
CITIES = [EXCLUDED_CITY] + [f"City{i:03d}" for i in range(1, 200)]
WORDS = (
    "the a stream batch spark flink file sink source key value window "
    "state merge join scan table row column agg group sort hash part "
    "query order line data fast slow big small customer vector filter "
    "commit offset upsert"
).split()


def multiset_hash(lines) -> int:
    """Order-insensitive fingerprint of a multiset of strings.  Uses the
    interpreter's string hash, so compare only values computed in the
    same process."""
    return sum(map(hash, lines)) & 0xFFFFFFFFFFFFFFFF


@dataclass
class LineSet:
    """Lines an engine output must equal, as a count and a fingerprint."""

    count: int = 0
    digest: int = 0

    def add(self, lines: list[str], times: int = 1) -> None:
        self.count += times * len(lines)
        self.digest = (self.digest + times * multiset_hash(lines)) & 0xFFFFFFFFFFFFFFFF


@dataclass
class CityTotals:
    """Per-city salary sum and row count of the rows job 3 keeps."""

    sums: dict[str, int] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)

    def add(self, cities: np.ndarray, salaries: np.ndarray, times: int = 1) -> None:
        for city, s, c in _group_sum(cities, salaries):
            self.sums[city] = self.sums.get(city, 0) + times * s
            self.counts[city] = self.counts.get(city, 0) + times * c

    def average(self, city: str) -> Decimal:
        return Decimal(self.sums[city]) / self.counts[city]


def _group_sum(cities: np.ndarray, salaries: np.ndarray):
    keep = cities != 0  # index 0 is the excluded city
    idx, sal = cities[keep], salaries[keep]
    sums = np.bincount(idx, weights=sal, minlength=len(CITIES))
    counts = np.bincount(idx, minlength=len(CITIES))
    for i in np.nonzero(counts)[0]:
        yield CITIES[i], int(sums[i]), int(counts[i])


def _city_draw(rng: np.random.Generator, n: int) -> np.ndarray:
    # Zipf-like weights; the excluded city gets a fixed 2% share.
    w = 1.0 / np.arange(1, len(CITIES)) ** 0.8
    p = np.concatenate([[0.02], 0.98 * w / w.sum()])
    return rng.choice(len(CITIES), size=n, p=p)


def _csv_rows(rng: np.random.Generator, first_id: int, n: int):
    cities = _city_draw(rng, n)
    ages = rng.integers(25, 56, size=n)
    salaries = rng.integers(570, 991, size=n) * 100
    lines = [
        f"{first_id + i},Emp{first_id + i},{a},{CITIES[c]},{s}.0"
        for i, (a, c, s) in enumerate(zip(ages.tolist(), cities.tolist(), salaries.tolist()))
    ]
    return lines, cities, salaries


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")


@dataclass
class DrainInputs:
    """Backlog for the three reference jobs plus their expected outputs."""

    text_dir: str
    csv_dir: str
    text_rows: int
    csv_rows: int  # data rows plus the header line
    job1: LineSet
    job2: LineSet
    job3: CityTotals


def _copies(n: int, i: int) -> int:
    """How many of ``n`` parts hold generated part ``i``: parts 0 and 1
    are generated, every later part is a hard link to part 1.  Repeated
    content costs the jobs the same as fresh content and keeps set-up
    cheap; part 0 alone carries the CSV header."""
    return 1 if i == 0 else n - 1


def _fill(dirname: str, pattern: str, n: int) -> None:
    for f in range(2, n):
        os.link(os.path.join(dirname, pattern % 1), os.path.join(dirname, pattern % f))


def drain_inputs(root: str, seed: int, rows: int, files: int) -> DrainInputs:
    """Write ``files`` text parts and ``files`` CSV parts of ``rows`` lines
    in total each (``files`` >= 2).  CSV part 0 starts with the header."""
    rng = np.random.default_rng(seed)
    text_dir = os.path.join(root, "text")
    csv_dir = os.path.join(root, "csv")
    os.makedirs(text_dir)
    os.makedirs(csv_dir)
    job1, job2, job3 = LineSet(), LineSet(), CityTotals()
    per = rows // files
    vocab = np.array(WORDS)
    for f in range(2):
        times = _copies(files, f)
        words = vocab[rng.integers(0, len(WORDS), size=(per, 4))]
        lines = [f"{a} {b} {c} {d} {f * per + i}" for i, (a, b, c, d) in enumerate(words.tolist())]
        _write_lines(os.path.join(text_dir, f"part-{f:04d}.txt"), lines)
        job1.add([s.upper() for s in lines], times)
        lines, cities, salaries = _csv_rows(rng, f * per, per)
        kept = [s for s, c in zip(lines, cities.tolist()) if c != 0]
        if f == 0:
            lines.insert(0, CSV_HEADER)
            kept.insert(0, CSV_HEADER)  # job 2's header quirk: it passes
        _write_lines(os.path.join(csv_dir, f"part-{f:04d}.csv"), lines)
        job2.add(kept, times)
        job3.add(cities, salaries, times)
    _fill(text_dir, "part-%04d.txt", files)
    _fill(csv_dir, "part-%04d.csv", files)
    return DrainInputs(text_dir, csv_dir, per * files, per * files + 1, job1, job2, job3)


@dataclass
class PacedInputs:
    """Pre-written CSV files and the schedule the generator follows."""

    staging_dir: str
    files: list[str]  # basenames, in arrival order
    due_s: list[float]  # arrival offset of each file from the run start
    rung_of: list[int]  # ladder rung index of each file; the burst's is len(rates)
    rows_per_file: int
    totals: CityTotals


def paced_inputs(
    root: str, seed: int, rates: list[int], rung_seconds: list[float], rows_per_file: int,
    burst_files: int = 0,
) -> PacedInputs:
    """One rung per rate (rows/s), ``rung_seconds[r]`` long; files are
    spaced evenly within a rung.  Then ``burst_files`` files all due at
    once.  File 0 carries the CSV header."""
    names, due, rung_of = [], [], []
    t = 0.0
    for r, (rate, secs) in enumerate(zip(rates, rung_seconds)):
        gap = rows_per_file / rate
        n = max(1, round(secs / gap))
        names += [f"part-{len(names) + i:05d}.csv" for i in range(n)]
        due += [t + i * gap for i in range(n)]
        rung_of += [r] * n
        t += n * gap
    names += [f"part-{len(names) + i:05d}.csv" for i in range(burst_files)]
    due += [t] * burst_files
    rung_of += [len(rates)] * burst_files
    rng = np.random.default_rng(seed)
    staging = os.path.join(root, "staging")
    os.makedirs(staging)
    totals = CityTotals()
    for f in range(2):
        lines, cities, salaries = _csv_rows(rng, f * rows_per_file, rows_per_file)
        if f == 0:
            lines.insert(0, CSV_HEADER)
        _write_lines(os.path.join(staging, names[f]), lines)
        totals.add(cities, salaries, _copies(len(names), f))
    _fill(staging, "part-%05d.csv", len(names))
    return PacedInputs(staging, names, due, rung_of, rows_per_file, totals)


# ---------------------------------------------------------------------------
# Star-schema and LLM tables
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "nut"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, size=n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


# Share of documents that are one-word edits of an earlier one, so the
# MinHash and keep-list stages have true pairs to find.
NEAR_DUP_SHARE = 0.15


def _documents(rng, n: int):
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if texts and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, len(texts)))].split()
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), size=int(rng.integers(8, 100)))]))
    lang_p = [0.44, 0.15, 0.14, 0.14, 0.13]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, size=n, p=lang_p)],
        "source": [f"src{i}" for i in rng.integers(0, 20, size=n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def tables(root: str, seed: int, scale: float) -> str:
    """Write every table in ``sources.io.TABLES`` as ``<root>/<t>.parquet``
    and return ``root`` (the ``sf_dir`` the registry queries take).
    Row counts follow the test corpus at the same scale factor."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    os.makedirs(root)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_docs = n_vec = int(50_000 * scale)

    def save(name, cols):
        pd.DataFrame(cols).to_parquet(os.path.join(root, f"{name}.parquet"), index=False)

    save("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS})
    save("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    save("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, size=n_cust)],
    })
    save("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    retail = np.round(900 + rng.integers(0, 1000, size=n_part) / 10, 1)
    save("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, size=(n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, size=n_part)],
        "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
        "p_retailprice": retail,
    })
    save("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, size=n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, size=n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, size=n_ord)],
    })
    partkey = rng.integers(0, n_part, size=n_line)
    qty = rng.integers(1, 51, size=n_line).astype(np.float64)
    save("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, size=n_line).astype(np.int64),
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, size=n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, size=n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(1.0, 1.05, size=n_line), 2),
        "l_discount": rng.integers(0, 11, size=n_line) / 100,
        "l_tax": rng.integers(0, 9, size=n_line) / 100,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, size=n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, size=n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(
        0, 30 * 86_400_000_000, size=n_ev
    ).astype("timedelta64[us]")
    save("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, n_ev // 66), size=n_ev).astype(np.int64),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, size=n_ev)],
        "value": _money(rng, n_ev, 0.01, 490.0),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, size=n_ev)],
    })
    save("documents", _documents(rng, n_docs))
    labels = rng.integers(0, 10, size=n_vec)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.8 * rng.normal(size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    })
    return root
