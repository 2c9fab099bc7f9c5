"""Result checking shared by the measured process and the preparing child.

Results are compared through an order-insensitive canonical digest: cells
are rendered to text (floats rounded to 6 places, NULL spelled out),
rows are sorted, and the sorted rows are hashed. The upsert workload
also keeps a Python model of the `orders` table and compares the final
table against it.
"""

from __future__ import annotations

import datetime
import hashlib
import math


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else f"{round(v, 6):.6f}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if hasattr(v, "isoformat"):  # pandas.Timestamp
        return v.isoformat()
    if type(v).__module__ == "numpy":
        return _cell(v.item())
    return str(v)


def digest_rows(rows) -> str:
    """Digest of an iterable of row tuples, independent of row order."""
    lines = sorted("|".join(_cell(v) for v in row) for row in rows)
    return hashlib.sha1("\n".join(lines).encode()).hexdigest()


def digest_frame(pdf) -> str:
    """Digest of a pandas frame: columns by lower-cased name, rows in any
    order — the comparison the registry's DuckDB oracles are written for."""
    pdf = pdf.copy()
    pdf.columns = [c.lower() for c in pdf.columns]
    pdf = pdf[sorted(pdf.columns)]
    return digest_rows(pdf.itertuples(index=False, name=None))


def frame_columns(pdf) -> list[str]:
    return sorted(c.lower() for c in pdf.columns)


class OrdersModel:
    """key -> row model of the `orders` table under PUT/UPDATE/DELETE.

    Rows are tuples in ORDERS_COLUMNS order. Money is compared in whole
    cents so the table-wide sum is exact on both sides.
    """

    def __init__(self, rows: dict[int, tuple]):
        self.rows = dict(rows)

    def put(self, new_rows: list[tuple]) -> None:
        for r in new_rows:
            self.rows[r[0]] = r

    def add_price(self, keys: list[int], delta: float) -> None:
        for k in keys:
            r = self.rows[k]
            self.rows[k] = r[:3] + (r[3] + delta,) + r[4:]

    def delete(self, keys: list[int]) -> None:
        for k in keys:
            del self.rows[k]

    def summary(self) -> dict:
        return table_summary(len(self.rows), self.rows, self.price_cents())

    def price_cents(self) -> int:
        return sum(round(r[3] * 100) for r in self.rows.values())


def table_summary(count: int, keys, price_cents: int) -> dict:
    """What the final upsert_rw table is compared on: row count, key set
    and SUM(o_totalprice) in whole cents."""
    key_sha = hashlib.sha1(",".join(map(str, sorted(keys))).encode()).hexdigest()
    return {"count": count, "keys_sha1": key_sha, "price_cents": price_cents}
