"""Pure-Python oracle: last-write-wins replay and an order-independent
row checksum the mirror is compared with.

The replay is sequential application by offset (FIXTURES.md §2): an
event wins over the key's current state only if its offset is higher,
a delete leaves a tombstone at its offset (so an older upsert arriving
later cannot resurrect the key), and a replayed event, at an offset
already applied, changes nothing.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

from gen import AT_AMOUNT_COLS, AT_COLUMNS, Event

SNAPSHOT_OFFSET = -1  # the engine's seq for backfilled rows

# Mirror columns in the order the checksum concatenates them. The
# mirror's ``op`` column is merge metadata (a merge relabels the rows of
# every bucket it rewrites), so it is not part of the row's value.
MIRROR_COLUMNS = (*AT_COLUMNS, "offset")
_AMOUNT_IDX = {MIRROR_COLUMNS.index(c) for c in AT_AMOUNT_COLS}


@dataclass
class Replay:
    """Key → (row, offset) of live rows, plus delete tombstones."""

    live: dict
    tombstones: dict

    def rows(self) -> list[tuple]:
        """Mirror rows in ``MIRROR_COLUMNS`` order."""
        return [(*row, off) for row, off in self.live.values()]


def replay(snapshot: list[tuple], events: list[Event],
           upto: int | None = None) -> Replay:
    """Apply ``events`` (any order, duplicates allowed) with offset at
    most ``upto`` over the snapshot rows."""
    live = {r[0]: (r, SNAPSHOT_OFFSET) for r in snapshot}
    tombstones: dict = {}
    for e in sorted(events, key=lambda e: e.offset):
        if upto is not None and e.offset > upto:
            break
        cur = live.get(e.key)
        seq = cur[1] if cur is not None else tombstones.get(e.key, SNAPSHOT_OFFSET - 1)
        if e.offset <= seq:
            continue
        if e.op == "d":
            live.pop(e.key, None)
            tombstones[e.key] = e.offset
        else:
            live[e.key] = (e.after, e.offset)
            tombstones.pop(e.key, None)
    return Replay(live, tombstones)


def cell(value, amount: bool = False) -> str:
    """A value as Spark's ``CAST(... AS STRING)`` prints it."""
    if value is None:
        return "\\N"
    if isinstance(value, bool):
        return "true" if value else "false"
    if amount:
        return f"{value // 100}.{value % 100:02d}"
    return str(value)


def row_string(row: tuple) -> str:
    return "|".join(cell(v, i in _AMOUNT_IDX) for i, v in enumerate(row))


def checksum(rows: list[tuple]) -> tuple[int, int]:
    """(row count, sum of CRC-32 of each canonical row string)."""
    return len(rows), sum(zlib.crc32(row_string(r).encode()) for r in rows)


def checksum_sql(table: str) -> str:
    """The same checksum computed by the engine over the mirror."""
    cells = ", ".join(
        f"coalesce(cast(`{c}` as string), '\\\\N')" for c in MIRROR_COLUMNS
    )
    return (f"SELECT count(*) AS n, sum(crc32(concat_ws('|', {cells}))) AS s "
            f"FROM {table}")
