"""Seeded input generator for the CDC serving benchmark.

Everything a run feeds the engine is built here from one seed before any
timing starts: the snapshot rows of ``authorize_transaction`` (the table
the change stream targets) and ``card`` (snapshot only), and every
changelog file as the exact bytes that will be renamed into the watched
directory. Shapes follow FIXTURES.md §1 (tables) and §2 (Debezium JSON
envelope, one event per line, a global monotonic ``offset``).

Rows are tuples in ``AT_COLUMNS`` / ``CARD_COLUMNS`` order holding plain
Python values: ints, bools, strings, amounts as integer cents, dates as
``YYYY-MM-DD`` and timestamps as ``YYYY-MM-DD HH:MM:SS`` (UTC). The
oracle works on the same tuples, so generator and oracle never disagree
on formatting.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import random
from dataclasses import dataclass, field

# (column, SQL type) of each table, FIXTURES.md §1
AT_SCHEMA = (
    ("id", "BIGINT"), ("version", "INT"), ("savings_account_id", "BIGINT"),
    ("office_id", "BIGINT"), ("transaction_date", "DATE"),
    ("amount", "DECIMAL(12,2)"), ("created_at", "TIMESTAMP"),
    ("is_manual", "BOOLEAN"), ("is_active", "BOOLEAN"),
    ("pending_amount", "DECIMAL(12,2)"), ("transaction_type", "STRING"),
    ("reference", "STRING"),
)
CARD_SCHEMA = (
    ("id", "BIGINT"), ("version", "INT"), ("product_id", "BIGINT"),
    ("primary_account_number", "STRING"), ("status", "STRING"),
    ("fulfillment_status", "STRING"), ("card_type", "STRING"),
    ("card_network", "STRING"), ("physical_card_activated", "BOOLEAN"),
    ("pos_payment_enabled", "BOOLEAN"), ("sub_status", "STRING"),
    ("created_at", "TIMESTAMP"), ("updated_at", "TIMESTAMP"),
)
AT_COLUMNS = tuple(c for c, _ in AT_SCHEMA)
CARD_COLUMNS = tuple(c for c, _ in CARD_SCHEMA)
AT_AMOUNT_COLS = tuple(c for c, t in AT_SCHEMA if t.startswith("DECIMAL"))
AT_TS_COLS = tuple(c for c, t in AT_SCHEMA if t == "TIMESTAMP")

BASE_TIME = dt.datetime(2026, 1, 1)
# created_at advances a fixed step per id, so it is unique and increases
# with the id: top-N by created_at has one right answer.
CREATED_STEP_S = 7
ACCOUNTS = 2_000
OFFICES = 50
TXN_TYPES = ("PURCHASE", "ATM_WITHDRAWAL")
CARD_STATUS = (("ACTIVE", 6), ("BLOCKED", 1), ("INACTIVE", 1))
ZIPF_S = 1.1
ZIPF_WINDOW = 5_000  # the most recent live ids a skewed update can hit


def _ts(seconds: int) -> str:
    return (BASE_TIME + dt.timedelta(seconds=seconds)).strftime("%Y-%m-%d %H:%M:%S")


def _at_row(rng: random.Random, i: int) -> tuple:
    created = _ts(i * CREATED_STEP_S)
    amount = rng.randint(3_000, 20_000)
    active = rng.random() < 0.6
    return (
        i, 1, rng.randint(1, ACCOUNTS), rng.randint(1, OFFICES),
        created[:10], amount, created, rng.random() < 0.1, active,
        amount if active else 0, rng.choice(TXN_TYPES), f"REF{i:08d}",
    )


def _updated(rng: random.Random, row: tuple) -> tuple:
    """An authorization lifecycle step: new amount, settle or re-open."""
    amount = rng.randint(3_000, 20_000)
    active = rng.random() < 0.4
    return (
        row[0], row[1] + 1, row[2], row[3], row[4], amount, row[6], row[7],
        active, amount if active else 0, row[10], row[11],
    )


def _card_row(rng: random.Random, i: int) -> tuple:
    statuses = [s for s, w in CARD_STATUS for _ in range(w)]
    created = _ts(i * 60)
    return (
        i, 1, rng.randint(1, 3), f"4111{i:012d}", rng.choice(statuses),
        rng.choice(("PRODUCED", "PRODUCED", "SHIPPED")),
        rng.choice(("DEBIT", "DEBIT", "CREDIT")),
        rng.choice(("VISA", "MASTERCARD")), rng.random() < 0.85,
        rng.random() < 0.75, "NONE", created, created,
    )


def at_json(row: tuple | None) -> dict | None:
    """A row image as the envelope carries it (amounts as decimals)."""
    if row is None:
        return None
    out = dict(zip(AT_COLUMNS, row))
    for c in AT_AMOUNT_COLS:
        out[c] = out[c] / 100
    for c in AT_TS_COLS:
        out[c] = out[c].replace(" ", "T")
    return out


@dataclass(frozen=True)
class Event:
    offset: int
    op: str  # c | u | d
    key: int
    before: tuple | None
    after: tuple | None


@dataclass
class ChangeFile:
    name: str
    data: bytes
    events: list[Event]

    @property
    def last_offset(self) -> int:
        return self.events[-1].offset


@dataclass
class Inputs:
    at_rows: list[tuple]
    card_rows: list[tuple]
    backlog: list[ChangeFile] = field(default_factory=list)
    live: list[ChangeFile] = field(default_factory=list)

    def all_files(self) -> list[ChangeFile]:
        """Every changelog file, in offset order."""
        return [*self.backlog, *self.live]


class _LiveKeys:
    """Live ids kept sorted (ids only grow, so the newest sit last)."""

    def __init__(self, ids):
        self.ids = sorted(ids)
        weights = [1.0 / (r ** ZIPF_S) for r in range(1, ZIPF_WINDOW + 1)]
        self.cum = list(itertools.accumulate(weights))

    def uniform(self, rng: random.Random) -> int:
        return self.ids[rng.randrange(len(self.ids))]

    def recent(self, rng: random.Random) -> int:
        window = min(ZIPF_WINDOW, len(self.ids))
        rank = bisect.bisect_left(self.cum, rng.random() * self.cum[window - 1])
        return self.ids[-1 - rank]

    def add(self, i: int) -> None:
        self.ids.append(i)  # new ids are always the largest

    def remove(self, i: int) -> None:
        del self.ids[bisect.bisect_left(self.ids, i)]


class ChangeStream:
    """Seeded INSERT/UPDATE/DELETE stream over authorize_transaction.

    The op mix is 20% ``c``, 70% ``u``, 10% ``d``. ``skew`` picks update
    and delete keys: ``uniform`` over live ids, or ``recent`` (Zipf over
    recency: the authorization-lifecycle shape)."""

    def __init__(self, rng: random.Random, at_rows: list[tuple], skew: str):
        if skew not in ("uniform", "recent"):
            raise ValueError(f"unknown skew {skew!r}")
        self.rng = rng
        self.skew = skew
        self.rows = {r[0]: r for r in at_rows}
        self.keys = _LiveKeys(self.rows)
        self.next_id = max(self.rows) + 1
        self.offset = 0
        self.files = 0

    def _event(self) -> Event:
        self.offset += 1
        draw = self.rng.random()
        if draw < 0.2 or not self.keys.ids:
            i = self.next_id
            self.next_id += 1
            row = _at_row(self.rng, i)
            self.rows[i] = row
            self.keys.add(i)
            return Event(self.offset, "c", i, None, row)
        pick = self.keys.uniform if self.skew == "uniform" else self.keys.recent
        i = pick(self.rng)
        before = self.rows[i]
        if draw < 0.9:
            after = _updated(self.rng, before)
            self.rows[i] = after
            return Event(self.offset, "u", i, before, after)
        del self.rows[i]
        self.keys.remove(i)
        return Event(self.offset, "d", i, before, None)

    def file(self, n_events: int) -> ChangeFile:
        events = [self._event() for _ in range(n_events)]
        lines = []
        for e in events:
            lines.append(json.dumps({
                "op": e.op,
                "before": at_json(e.before),
                "after": at_json(e.after),
                "ts_ms": 1_767_225_600_000 + e.offset,
                "source": {"schema": "public", "table": "authorize_transaction",
                           "lsn": e.offset},
                "offset": e.offset,
            }, separators=(",", ":")))
        self.files += 1
        name = f"changes-{self.files:06d}.json"
        return ChangeFile(name, ("\n".join(lines) + "\n").encode(), events)


def generate(seed: int, at_rows: int, card_rows: int, skew: str,
             backlog_files: int, backlog_events_per_file: int,
             live_files: int, live_events_per_file: int) -> Inputs:
    """Build every input of one run from ``seed``: the snapshots, then the
    outage backlog, then the live files, with consecutive offsets."""
    rng = random.Random(seed)
    inputs = Inputs(
        at_rows=[_at_row(rng, i) for i in range(1, at_rows + 1)],
        card_rows=[_card_row(rng, i) for i in range(1, card_rows + 1)],
    )
    stream = ChangeStream(rng, inputs.at_rows, skew)
    inputs.backlog = [stream.file(backlog_events_per_file)
                      for _ in range(backlog_files)]
    inputs.live = [stream.file(live_events_per_file) for _ in range(live_files)]
    return inputs
