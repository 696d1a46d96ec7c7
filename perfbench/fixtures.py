"""Seeded benchmark inputs.

Everything the engine sees in a benchmark run is generated here from
the run's ``--seed``: the events table the named report query reads
(the shape of the repository's synthetic ``sfX`` fixtures), the day
batches of events the rollup store ingests (the shape of the ``sf0.1``
events table), and the file deliveries the importer sweeps. The same
(seed, scale) always yields byte-equal inputs, so two runs with one
seed replay identical work. Seeds change values, never sizes: every
file role, day batch and table has a fixed row count.
"""

from __future__ import annotations

import datetime as dt
import os
import zipfile
from dataclasses import dataclass
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts(start: dt.datetime, micros: np.ndarray) -> pa.Array:
    base = int(start.timestamp() * 1_000_000)
    return pa.array(base + micros.astype(np.int64), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


DAY_US = 86_400 * 1_000_000


def event_days(out_dir: str, seed: int, sf: float, days: int) -> list[str]:
    """``days`` day batches of events in the shape of the ``events``
    table at scale ``sf`` (1,000,000 × sf events over 30 days, 15,000 ×
    sf users, five event types, cent values up to 490): one Parquet
    file per day, every day with the same row count → file paths."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    per_day = int(1_000_000 * sf) // 30
    n_users = max(int(15_000 * sf), 20)
    paths = []
    for d in range(days):
        start = dt.datetime(2024, 1, 1) + dt.timedelta(days=d)
        path = os.path.join(out_dir, f"day{d:02d}.parquet")
        pq.write_table(pa.table({
            "event_id": pa.array(np.arange(d * per_day, (d + 1) * per_day, dtype=np.int64)),
            "ts": _ts(start, np.sort(rng.integers(0, DAY_US, per_day))),
            "user_id": pa.array(rng.integers(0, n_users, per_day).astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, per_day)]),
            "value": pa.array(_cents(rng, 0.01, 490.0, per_day)),
        }), path)
        paths.append(path)
    return paths


def write_events(out_dir: str, seed: int, sf: float) -> None:
    """Write the ``events`` table at scale ``sf``: 1,000,000 × sf
    events over 30 days, the table the named report query reads."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 20)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)]),
        "value": pa.array(_cents(rng, 0.01, 490.0, n_ev)),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)]),
    })


# -- file deliveries for the importer ---------------------------------------

BASE_COLUMNS = ["company_name", "ticker", "company_description", "sector"]
EVOLVED_COLUMN = "analyst_rating"


@dataclass
class Delivery:
    """One file the importer will see: its name, the rows it carries
    (0 for the invalid/empty deliveries) and whether it must end
    ``Empty``."""

    filename: str
    rows: int
    names: frozenset = frozenset()  # distinct company_name values
    expect_empty: bool = False

    @property
    def label(self) -> str:
        return self.filename.split("_")[2].split(".")[0]


def _filename(day: dt.date, event_id: int, ext: str, second: int = 0) -> str:
    return f"{day:%Y%m%d}T09{second // 60:02d}{second % 60:02d}_MeetMax_{event_id}.{ext}"


def _company_rows(rng: np.random.Generator, n: int, evolved: bool) -> list[list[str]]:
    rows = []
    for _ in range(n):
        c = int(rng.integers(0, 100_000))
        row = [f"Company {c}", f"T{c % 9973:04d}", f"desc {c % 977}", f"S{c % 11}"]
        if evolved:
            row.append(["buy", "hold", "sell"][c % 3])
        rows.append(row)
    return rows


def _names(rows: list[list[str]]) -> frozenset:
    return frozenset(r[0] for r in rows)


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", newline="") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(r) + "\n")


def _col_letter(i: int) -> str:
    return chr(ord("A") + i)


def write_xlsx(path: str, header: list[str], rows: list[list[str]]) -> None:
    """Minimal single-sheet OOXML workbook (inline strings) written with
    stdlib zipfile, as the repository's Excel tests build theirs."""
    sheet_rows = []
    for r_i, row in enumerate([header] + rows, start=1):
        cells = "".join(
            f'<c r="{_col_letter(c_i)}{r_i}" t="inlineStr"><is><t>{escape(v)}</t></is></c>'
            for c_i, v in enumerate(row)
        )
        sheet_rows.append(f'<row r="{r_i}">{cells}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f'<sheetData>{"".join(sheet_rows)}</sheetData></worksheet>'
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>",
        )
        z.writestr(
            "_rels/.rels",
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>",
        )
        z.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>",
        )
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def write_backfill(src_dir: str, rng: np.random.Generator, first_day: dt.date, days: int,
                   rows: int) -> list[Delivery]:
    """History for the bulk ``load_directory`` backfill: one plain CSV
    snapshot of event 100 a day."""
    os.makedirs(src_dir, exist_ok=True)
    out = []
    for d in range(days):
        name = _filename(first_day + dt.timedelta(days=d), 100, "csv")
        body = _company_rows(rng, rows, False)
        _write_csv(os.path.join(src_dir, name), BASE_COLUMNS, body)
        out.append(Delivery(name, rows, _names(body)))
    return out


def write_redelivered(src_dir: str, rng: np.random.Generator, day: dt.date, rows: int) -> None:
    """A CSV snapshot of event 100 and its corrected, schema-evolving
    re-delivery: the per-file import, supersede, schema-evolution and
    compaction paths in two files."""
    os.makedirs(src_dir, exist_ok=True)
    _write_csv(os.path.join(src_dir, _filename(day, 100, "csv")), BASE_COLUMNS,
               _company_rows(rng, rows, False))
    _write_csv(os.path.join(src_dir, _filename(day, 100, "csv", second=1)),
               BASE_COLUMNS + [EVOLVED_COLUMN], _company_rows(rng, rows, True))


@dataclass
class DayRows:
    """Rows per file role of a delivery day, fixed across seeds and
    spread over the reference feed's 10²–10⁴ rows per delivery."""

    xlsx: int = 300
    redelivery: int = 3_000


def write_day(src_dir: str, rng: np.random.Generator, day: dt.date, rows: DayRows,
              redeliver_day: dt.date, evolve: bool, invalid: bool) -> list[Delivery]:
    """One delivery day: event 100's new snapshot as an XLSX workbook,
    one 'Invalid Event ID' file (``invalid``) or else one headers-only
    file, and a corrected CSV re-delivery of event 100 for
    ``redeliver_day`` (same label and date → supersedes it), which
    carries a new column when ``evolve``."""
    os.makedirs(src_dir, exist_ok=True)
    name = _filename(day, 100, "xlsx")
    body = _company_rows(rng, rows.xlsx, False)
    write_xlsx(os.path.join(src_dir, name), BASE_COLUMNS, body)
    out = [Delivery(name, rows.xlsx, _names(body))]
    if invalid:
        name = _filename(day, 900, "csv")
        _write_csv(os.path.join(src_dir, name), ["message"], [["Invalid Event ID"]])
    else:
        name = _filename(day, 901, "csv")
        _write_csv(os.path.join(src_dir, name), BASE_COLUMNS, [])
    out.append(Delivery(name, 0, expect_empty=True))
    redo = _filename(redeliver_day, 100, "csv", second=1)
    body = _company_rows(rng, rows.redelivery, evolve)
    header = BASE_COLUMNS + ([EVOLVED_COLUMN] if evolve else [])
    _write_csv(os.path.join(src_dir, redo), header, body)
    out.append(Delivery(redo, rows.redelivery, _names(body)))
    return out
