"""Seeded synthetic SEC quarters (FIXTURES.md §A shapes).

A quarter is the four member TSVs of an SEC financial-statement ZIP
(sub, tag, pre, num) plus the ZIP itself, and one headerless ticker
file shared by all quarters. About 2% of the `num.value` cells are
dirty text, so the loader's coerce-to-null path runs on every quarter.
The generator keeps the TSVs beside the ZIP: the output checks read
them with DuckDB, independently of the engine's extract step.

Every filing has PRE_PER_FILING presentation lines (four per statement
BS/IS/CF, each on a distinct tag), and every num fact points at one of
its filing's lines, so each fact lands in exactly one statement.
"""

from __future__ import annotations

import os
import zipfile
from dataclasses import dataclass

import numpy as np
import pandas as pd

PRE_PER_FILING = 12
STATEMENTS = ("BS", "IS", "CF")
UOMS = np.array(["USD", "shares", "EUR", "USD-per-shares"])
DIRTY_SHARE = 0.02
_PERIOD_MMDD = {1: 331, 2: 630, 3: 930, 4: 1231}

SUB_COLS = [
    "adsh", "cik", "name", "sic", "countryba", "stprba", "cityba", "zipba",
    "bas1", "bas2", "baph", "countryma", "stprma", "cityma", "zipma", "mas1",
    "mas2", "countryinc", "stprinc", "ein", "former", "changed", "afs", "wksi",
    "fye", "form", "period", "fy", "fp", "filed", "accepted", "prevrpt",
    "detail", "instance", "nciks", "aciks",
]


@dataclass
class Quarter:
    """One generated quarter: where its files are and what they hold."""

    tag: str  # '2024Q1', the source_file partition value
    year: int
    qnum: int
    zip_path: str
    tsv: dict[str, str]  # 'sub' | 'tag' | 'pre' | 'num' -> TSV path
    rows: dict[str, int]  # same keys -> data rows written
    dirty_values: int  # num.value cells that are not numbers
    tsv_bytes: int


def write_quarter(
    out_dir: str, seed: int, quarter: str, n_num: int, n_tag: int = 2000
) -> Quarter:
    """Write one quarter's TSVs and ZIP under ``out_dir``; deterministic in
    (seed, quarter, sizes)."""
    year, qnum = int(quarter[:4]), int(quarter[-1])
    rng = np.random.default_rng([seed, year, qnum])
    period = year * 10_000 + _PERIOD_MMDD[qnum]
    n_sub = max(20, n_num // 40)
    # accession numbers are unique across quarters: the quarter index is
    # part of the serial
    serial = (year * 4 + qnum) * 1_000_000 + np.arange(n_sub)
    adsh = np.char.add(
        np.char.add(np.char.zfill(serial.astype(str), 10), f"-{year % 100:02d}-"),
        np.char.zfill((serial % 1_000_000).astype(str), 6),
    )
    tags = np.char.add("Tag", np.char.zfill(np.arange(n_tag).astype(str), 5))
    os.makedirs(out_dir, exist_ok=True)
    tsv = {k: os.path.join(out_dir, f"{k}.txt") for k in ("sub", "tag", "pre", "num")}

    sub = pd.DataFrame({c: "" for c in SUB_COLS}, index=range(n_sub))
    sub["adsh"] = adsh
    sub["cik"] = rng.integers(1000, 400_000, n_sub)
    sub["name"] = np.char.add("COMPANY ", adsh)
    sub["sic"] = rng.integers(100, 9999, n_sub)
    sub["countryba"] = "US"
    sub["countryma"] = rng.choice(["US", "CA", "GB", ""], n_sub)
    sub["cityma"] = rng.choice(["NEW YORK", "TORONTO", "LONDON", ""], n_sub)
    sub["countryinc"] = "US"
    sub["wksi"] = rng.integers(0, 2, n_sub)
    sub["fye"] = 1231
    sub["form"] = rng.choice(["10-K", "10-Q", "8-K"], n_sub)
    sub["period"] = period
    sub["fy"] = year
    sub["fp"] = f"Q{qnum}"
    sub["filed"] = period + 100 + rng.integers(0, 27, n_sub)
    sub["accepted"] = f"{year}-{qnum * 3:02d}-28 08:24:00.0"
    sub["prevrpt"] = 0
    sub["detail"] = 1
    sub["nciks"] = 1
    sub.to_csv(tsv["sub"], sep="\t", index=False)

    pd.DataFrame(
        {
            "tag": tags,
            "version": f"us-gaap/{year}",
            "custom": 0,
            "abstract": 0,
            "datatype": "monetary",
            "iord": rng.choice(["I", "D"], n_tag),
            "crdr": rng.choice(["D", "C"], n_tag),
            "tlabel": np.char.add("Label ", tags),
            "doc": np.char.add("Documentation of ", tags),
        }
    ).to_csv(tsv["tag"], sep="\t", index=False)

    filing = np.repeat(np.arange(n_sub), PRE_PER_FILING)
    line = np.tile(np.arange(PRE_PER_FILING), n_sub)
    pre_tag = tags[(filing * 7 + line) % n_tag]
    pd.DataFrame(
        {
            "adsh": adsh[filing],
            "report": 1 + line // 4,
            "line": 1 + line % 4,
            "stmt": np.array(STATEMENTS)[line // 4],
            "inpth": 0,
            "rfile": "H",
            "tag": pre_tag,
            "version": f"us-gaap/{year}",
            "plabel": np.char.add("Line ", pre_tag),
            "negating": 0,
        }
    ).to_csv(tsv["pre"], sep="\t", index=False)

    num_filing = rng.integers(0, n_sub, n_num)
    num_line = rng.integers(0, PRE_PER_FILING, n_num)
    value = np.round(rng.normal(1e6, 1e5, n_num), 4).astype(object)
    dirty = rng.random(n_num) < DIRTY_SHARE
    value[dirty] = "NotANumber"
    pd.DataFrame(
        {
            "adsh": adsh[num_filing],
            "tag": tags[(num_filing * 7 + num_line) % n_tag],
            "version": f"us-gaap/{year}",
            "ddate": period,
            "qtrs": rng.integers(0, 5, n_num),
            "uom": UOMS[rng.integers(0, len(UOMS), n_num)],
            "segments": "",
            "coreg": "",
            "value": value,
            "footnote": "",
        }
    ).to_csv(tsv["num"], sep="\t", index=False)

    zip_path = os.path.join(out_dir, f"{quarter}.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        for path in tsv.values():
            zf.write(path, os.path.basename(path))
    return Quarter(
        tag=quarter,
        year=year,
        qnum=qnum,
        zip_path=zip_path,
        tsv=tsv,
        rows={"sub": n_sub, "tag": n_tag, "pre": n_sub * PRE_PER_FILING, "num": n_num},
        dirty_values=int(dirty.sum()),
        tsv_bytes=sum(os.path.getsize(p) for p in tsv.values()),
    )


def write_ticker(path: str, seed: int, n: int = 5000) -> str:
    """Headerless `symbol<TAB>cik` file. Most generated ciks are absent,
    so documents exercise both the hit and the UNKNOWN default; a few
    ciks appear twice to exercise first-match-wins."""
    rng = np.random.default_rng([seed, 0])
    cik = rng.integers(1000, 400_000, n)
    cik[-n // 50 :] = cik[: n // 50]
    symbol = np.char.add("T", np.arange(n).astype(str))
    pd.DataFrame({"symbol": symbol, "cik": cik}).to_csv(
        path, sep="\t", index=False, header=False
    )
    return path
