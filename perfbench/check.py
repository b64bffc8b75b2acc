"""Result checks, run outside the timed region.

A query result is reduced to an order-independent digest: columns
sorted by name, cells normalised (floats to 9 places, timestamps to
ISO text, NaN and -0.0 folded), rows sorted. Two engines agree when
their digests are equal. The expected side is the registry's DuckDB
twin (``queries.all_oracles()``) run on the same generated parquet
files, or a numpy replay of the merge for the medallion.

One disagreement is not a wrong answer: a rounded float aggregate
whose exact value sits on a rounding midpoint. Cent amounts summed as
doubles can total exactly x.xx5 in decimal; each engine's double sum
then lands a few ulps either side of the midpoint, in an order that
depends on how the rows were split, and ``floor(x * 100 + 0.5) / 100``
rounds it down in one engine and up in the other. ``Oracle.agrees``
accepts such a cell only when the two values are one rounding step
apart and the twin's own unrounded value is within float error of the
midpoint between them; every other cell must match exactly.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
from typing import Any

import duckdb


def _norm(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v + 0.0, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, cells normalised, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda r: tuple(str(x) for x in r),
    )
    return [cols[i] for i in order], norm


def digest(cols: list[str], rows: list[tuple]) -> str:
    names, norm = _rows(cols, rows)
    h = hashlib.sha256(repr(names).encode())
    h.update(repr(norm).encode())
    return h.hexdigest()


_ROUNDED_TAIL = re.compile(r" \* (\d+) \+ 0\.5\) / (\d+)")


def unround(sql: str) -> str:
    """Undo ``registry.stabilize_rounding``: every
    ``floor((expr) * S + 0.5) / S`` becomes ``(expr)``."""
    head = "floor(("
    out, i = [], 0
    while (j := sql.find(head, i)) != -1:
        k, depth = j + len(head), 1
        while depth:
            depth += {"(": 1, ")": -1}.get(sql[k], 0)
            k += 1
        m = _ROUNDED_TAIL.match(sql, k)
        if m is None or m[1] != m[2]:  # some other floor((: look inside it
            out.append(sql[i : j + len(head)])
            i = j + len(head)
            continue
        out.append(f"{sql[i:j]}({unround(sql[j + len(head) : k - 1])})")
        i = m.end()
    out.append(sql[i:])
    return "".join(out)


def _on_midpoint(a: Any, b: Any, u: Any) -> bool:
    """``a`` and ``b`` are the roundings either side of a midpoint that
    the unrounded value ``u`` sits on."""
    if not all(isinstance(x, float) for x in (a, b, u)) or a == b:
        return False
    step = abs(a - b)
    places = round(-math.log10(step))
    if not 0 <= places <= 9 or not math.isclose(step, 10.0**-places, rel_tol=1e-6):
        return False
    return abs(u - (a + b) / 2) <= 1e-13 * max(1.0, abs(u))


def _by_key(rows: list[tuple]) -> dict[tuple, list[tuple]]:
    """Rows grouped by their non-float cells."""
    out: dict[tuple, list[tuple]] = {}
    for r in rows:
        out.setdefault(tuple(str(x) for x in r if not isinstance(x, float)), []).append(r)
    return out


class Oracle:
    """The DuckDB twins of a set of keys over the parquet tables in
    ``data_dir``; each twin is run once, on first use."""

    def __init__(self, data_dir: str, sqls: dict[str, str]):
        self.sqls = sqls
        self.con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                self.con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
        self.cache: dict[str, tuple[list[str], list[tuple], str]] = {}

    def close(self) -> None:
        self.con.close()

    def _run(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return _rows([d[0] for d in res.description], res.fetchall())

    def agrees(self, key: str, cols: list[str], rows: list[tuple]) -> bool:
        """Whether ``rows`` is the twin's result, up to rounding
        midpoints (see the module doc)."""
        if key not in self.cache:
            names, want = self._run(self.sqls[key])
            self.cache[key] = (names, want, digest(names, want))
        names, want, want_digest = self.cache[key]
        if digest(cols, rows) == want_digest:
            return True
        got_names, got = _rows(cols, rows)
        raw_names, raw = self._run(unround(self.sqls[key]))
        if not got_names == names == raw_names or not len(got) == len(want) == len(raw):
            return False
        got_k, want_k, raw_k = _by_key(got), _by_key(want), _by_key(raw)
        if not got_k.keys() == want_k.keys() == raw_k.keys():
            return False
        for k, want_rows in want_k.items():
            if got_k[k] == want_rows:
                continue
            if not len(got_k[k]) == len(want_rows) == len(raw_k[k]) == 1:
                return False  # several rows share the key: no safe pairing
            for a, b, u in zip(got_k[k][0], want_rows[0], raw_k[k][0]):
                if a != b and not _on_midpoint(a, b, u):
                    return False
        return True
