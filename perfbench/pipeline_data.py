"""Seeded fixtures for the pipeline_daily workload.

Three sources feed the workflow in ``workflow.conf.tmpl``:

- ``source/landing/event_date=YYYY-MM-DD/part-0.csv``: one landing file per
  day. The seed picks each day's row count and which rows arrive late (their
  ``ts`` falls on an earlier day than the landing date).
- ``source/accounts.db``: a sqlite table read through the JDBC-native source,
  a seeded number of rows per ``info_date``.
- ``source/orders/orders-NNN.csv``: the offset-tracked incremental source,
  with a globally increasing ``id`` and one ``order_date`` per row.

The run covers ``N_DAYS`` backfill dates plus one new day; every source
already holds the new day's rows, which only the new-day run may read.
The per-date counts in ``Fixtures`` are what the pipeline must produce,
derived from the generated rows alone.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
import sqlite3
from dataclasses import dataclass, field

import numpy as np

START = dt.date(2024, 3, 1)
N_DAYS = 1  # backfill dates; one more day follows for the new-day run
_HERE = os.path.dirname(os.path.abspath(__file__))
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_SEGMENTS = ("retail", "smb", "corporate")


@dataclass
class Fixtures:
    root: str
    workflow: str
    backfill: list[dt.date]
    new_day: dt.date
    # per ISO date: landing rows, rows left after the enrich filters, and
    # late rows among those
    landing_rows: dict[str, int] = field(default_factory=dict)
    enriched_rows: dict[str, int] = field(default_factory=dict)
    late_rows: dict[str, int] = field(default_factory=dict)
    account_rows: dict[str, int] = field(default_factory=dict)
    order_rows: dict[str, int] = field(default_factory=dict)
    order_ids: int = 0
    # per ISO date: bytes of that date's rows in all three sources, each
    # row counted as one CSV line
    input_bytes: dict[str, int] = field(default_factory=dict)


def _write_csv(path: str, header: list[str], rows) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _csv_bytes(rows) -> int:
    buf = io.StringIO()
    csv.writer(buf, lineterminator="\n").writerows(rows)
    return len(buf.getvalue().encode())


def generate(root: str, seed: int) -> Fixtures:
    """Write the sources and the rendered workflow under ``root``."""
    rng = np.random.default_rng(seed)
    days = [START + dt.timedelta(days=i) for i in range(N_DAYS + 1)]
    fx = Fixtures(
        root=root,
        workflow=os.path.join(root, "workflow.conf"),
        backfill=days[:-1],
        new_day=days[-1],
        input_bytes=dict.fromkeys((d.isoformat() for d in days), 0),
    )

    event_id = 0
    for day in days:
        iso = day.isoformat()
        n = int(rng.integers(1500, 4500))
        late = rng.random(n) < rng.uniform(0.01, 0.08)
        secs = rng.integers(0, 86_400, n)
        lag = np.where(late, rng.integers(1, 3, n), 0)
        types = rng.integers(0, len(_EVENT_TYPES), n)
        values = np.round(rng.exponential(40.0, n), 2)
        users = rng.integers(0, 500, n)
        rows = []
        for i in range(n):
            ts = dt.datetime.combine(day - dt.timedelta(days=int(lag[i])), dt.time()) + dt.timedelta(
                seconds=int(secs[i])
            )
            rows.append((event_id + i, ts.isoformat(sep=" "), int(users[i]),
                         _EVENT_TYPES[types[i]], f"{values[i]:.2f}"))
        event_id += n
        _write_csv(
            os.path.join(root, "source", "landing", f"event_date={iso}", "part-0.csv"),
            ["event_id", "ts", "user_id", "event_type", "value"],
            rows,
        )
        keep = (types != _EVENT_TYPES.index("error")) & (values >= 1.0)
        fx.input_bytes[iso] += _csv_bytes(rows)
        fx.landing_rows[iso] = n
        fx.enriched_rows[iso] = int(keep.sum())
        fx.late_rows[iso] = int((keep & late).sum())

    db_path = os.path.join(root, "source", "accounts.db")
    con = sqlite3.connect(db_path)
    try:
        con.execute(
            "CREATE TABLE accounts (account_id INTEGER, info_date TEXT, segment TEXT, balance REAL)"
        )
        account_id = 0
        for day in days:
            n = int(rng.integers(200, 600))
            seg = rng.integers(0, len(_SEGMENTS), n)
            bal = np.round(rng.uniform(-500, 20_000, n), 2)
            rows = [(account_id + i, day.isoformat(), _SEGMENTS[seg[i]], float(bal[i])) for i in range(n)]
            con.executemany("INSERT INTO accounts VALUES (?, ?, ?, ?)", rows)
            fx.input_bytes[day.isoformat()] += _csv_bytes(rows)
            account_id += n
            fx.account_rows[day.isoformat()] = n
        con.commit()
    finally:
        con.close()

    # orders arrive in a few files; ids increase with arrival order
    order_id = 0
    per_day = {d.isoformat(): int(rng.integers(300, 900)) for d in days}
    fx.order_rows = per_day
    rows = []
    for iso, n in per_day.items():
        cust = rng.integers(0, 2_000, n)
        amt = np.round(rng.uniform(5, 2_000, n), 2)
        day_rows = [(order_id + i, iso, int(cust[i]), f"{amt[i]:.2f}") for i in range(n)]
        fx.input_bytes[iso] += _csv_bytes(day_rows)
        rows.extend(day_rows)
        order_id += n
    fx.order_ids = order_id
    for k, chunk in enumerate(np.array_split(np.arange(len(rows)), 4)):
        _write_csv(
            os.path.join(root, "source", "orders", f"orders-{k:03d}.csv"),
            ["id", "order_date", "customer_id", "amount"],
            [rows[i] for i in chunk],
        )

    with open(os.path.join(_HERE, "workflow.conf.tmpl")) as f:
        conf = f.read()
    conf = conf.replace("%ROOT%", root).replace("%START%", START.isoformat())
    with open(fx.workflow, "w") as f:
        f.write(conf)
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    return fx
