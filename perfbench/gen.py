"""Seeded input generators for the two workloads.

Everything the program reads is written here, from ``numpy`` draws
seeded by the run's ``--seed``; the same seed gives byte-identical
files. Nothing is read from outside the run's work directory.

- ``write_star``: the TPC-H-like star schema plus the ``events``
  stream (the registry's table layout, one parquet file per table)
  with the value distributions of the project's sf0.1 test data at
  half its row counts.
- ``write_corpus``: ``documents`` and ``embeddings`` for the
  LLM-corpus pipeline: a 30-word vocabulary, 10-100 words per
  document, five languages, 5% near-duplicates (a copy of an earlier
  document plus one word) and a few exact copies.
- ``claim_generations``: the raw claim extracts of a first load and
  its full-snapshot refreshes, in the raw column names of
  ``queries/medallion.py:_feed_snapshots``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

DAY_US = 86_400_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict) -> int:
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


# ---------------------------------------------------------------------------
# star schema + events (gold_query_mix)
# ---------------------------------------------------------------------------

STAR_ROWS = {  # half the project's sf0.1 test data
    "customer": 7_500,
    "supplier": 500,
    "part": 10_000,
    "orders": 75_000,
    "lineitem": 300_000,
    "events": 50_000,
}


def write_star(out_dir: str, seed: int) -> dict[str, tuple[int, int]]:
    """Write the eight star/event tables; returns name -> (rows, bytes)."""
    rng = np.random.default_rng([seed, 1])
    n = STAR_ROWS
    sizes: dict[str, tuple[int, int]] = {}

    def put(name: str, cols: dict) -> None:
        rows = len(next(iter(cols.values())))
        sizes[name] = (rows, _write(f"{out_dir}/{name}.parquet", cols))

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": segments[rng.integers(0, 5, n["customer"])],
    })
    put("supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    np_ = n["part"]
    put("part", {
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, np_)], " "),
                              noun[rng.integers(0, 8, np_)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
        "p_type": types[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(np_) % 1000) / 10.0,
    })
    no = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, no) * DAY_US),
        "o_orderpriority": prio[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    put("lineitem", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, nl) * DAY_US),
    })
    ne = n["events"]
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    put("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * DAY_US, ne))),
        "user_id": rng.integers(0, 1500, ne),
        "event_type": kinds[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    return sizes


# ---------------------------------------------------------------------------
# LLM corpus (corpus_curate)
# ---------------------------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_DOCS = 1_000
N_VECS = 400
EMB_DIM = 64


def write_corpus(out_dir: str, seed: int) -> dict[str, tuple[int, int]]:
    """Write ``documents`` and ``embeddings``; returns name -> (rows, bytes)."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 0 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < 0.052:  # exact copy
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    langs = np.array(["en", "zh", "es", "fr", "de"])
    lang = langs[rng.choice(5, N_DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    sizes = {
        "documents": (N_DOCS, _write(f"{out_dir}/documents.parquet", {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": lang,
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }))
    }
    centers = rng.normal(size=(10, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, N_VECS)
    v = rng.normal(size=(N_VECS, EMB_DIM)) / np.sqrt(EMB_DIM) + 0.1 * centers[label]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMB_DIM).cast(
        pa.list_(pa.float32())
    )
    sizes["embeddings"] = (N_VECS, _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": emb,
        "label": pa.array(label, pa.int32()),
    }))
    return sizes


# ---------------------------------------------------------------------------
# claim extracts (medallion_refresh)
# ---------------------------------------------------------------------------

FIRST_LOAD_CLAIMS = 20_000
REFRESHES = 3
# per-refresh shares of the live claims (new: of the first load's size)
UPDATED, CLOSED, VANISHED, NEW = 0.10, 0.05, 0.02, 0.03


@dataclass
class Generation:
    """One raw extract (columns as arrays, in row order) plus its load
    stamp."""

    cols: dict[str, np.ndarray]  # id, status, total, paid, created, closed
    updated_on: pd.Timestamp
    date_part: str

    @property
    def rows(self) -> int:
        return len(self.cols["id"])


def claim_generations(seed: int) -> list[Generation]:
    """A first load and ``REFRESHES`` full-snapshot refreshes.

    Amounts are quarter-unit multiples (binary-exact doubles), so every
    Gold sum is exact in any accumulation order and the Spark result
    must equal the numpy replay (``expected_gold``) bit for bit."""
    rng = np.random.default_rng([seed, 3])
    n0 = FIRST_LOAD_CLAIMS
    day0 = np.datetime64("1995-01-01", "D")
    nat = np.datetime64("NaT", "D")
    live: dict[str, np.ndarray] = {}

    def add_claims(n: int) -> None:
        start = int(live["id"].max()) + 1 if live else 0
        status = np.array(["F", "O", "P"])[rng.integers(0, 3, n)]
        created = day0 + rng.integers(0, 2404, n)
        base = rng.integers(1_000, 500_000, n).astype(np.float64)
        new = {
            "id": np.arange(start, start + n),
            "status": status,
            "total": base + 0.25,
            "paid": base * 0.25,
            "created": created,
            "closed": np.where(status == "F", created + rng.integers(1, 120, n), nat),
        }
        for k, v in new.items():
            live[k] = np.concatenate([live[k], v]) if k in live else v

    add_claims(n0)
    snaps = [dict(live)]
    for _ in range(REFRESHES):
        n = len(live["id"])
        pick = rng.random(n)
        bump = rng.integers(1, 2_000, n).astype(np.float64)
        upd = (pick >= VANISHED) & (pick < VANISHED + UPDATED)
        close = (pick >= VANISHED + UPDATED) & (pick < VANISHED + UPDATED + CLOSED)
        live["total"] = live["total"] + np.where(upd, bump, 0.0)
        live["paid"] = live["paid"] + np.where(upd, bump * 0.25, 0.0)
        live["status"] = np.where(close, "F", live["status"])
        live["closed"] = np.where(close, live["created"] + rng.integers(1, 365, n), live["closed"])
        keep = pick >= VANISHED
        for k in list(live):
            live[k] = live[k][keep]
        add_claims(int(n0 * NEW))
        snaps.append(dict(live))
    out = []
    for g, s in enumerate(snaps):
        perm = rng.permutation(len(s["id"]))
        stamp = pd.Timestamp(2026, 1, 1, 8) + pd.Timedelta(days=7 * g)
        date_part = "Historic" if g == 0 else stamp.strftime("%Y-%m-%d")
        out.append(Generation({k: v[perm] for k, v in s.items()}, stamp, date_part))
    return out


def write_extract(gen: Generation, path: str) -> int:
    """The generation's raw extract as the source system drops it: one
    headered CSV file (``claim.txt``) with ``yyyy-MM-dd HH:mm:ss``
    timestamps and an empty cell for NULL. Returns its byte size."""
    os.makedirs(path, exist_ok=True)
    c = gen.cols

    def ts(d: np.ndarray) -> pa.Array:  # dates at midnight; NaT -> NULL
        days, inv = np.unique(d, return_inverse=True)
        text = np.char.add(np.datetime_as_string(days, unit="D"), " 00:00:00")
        return pa.array(text[inv], pa.string(), mask=np.isnat(d))

    ids = pc.utf8_lpad(pa.array(c["id"]).cast(pa.string()), 9, "0")
    t = pa.table({
        "claimnumber": pc.binary_join_element_wise("CLM-", ids, ""),
        "statuscode": c["status"],
        "totalamount": c["total"],
        "paymentamount": c["paid"],
        "datecreated": ts(c["created"]),
        "dateclosed": ts(c["closed"]),
    })
    f = f"{path}/claim.txt"
    pacsv.write_csv(t, f, pacsv.WriteOptions(quoting_style="none"))
    return os.path.getsize(f)


def _r2(x: np.ndarray) -> np.ndarray:
    """functions.r2: floor(x * 100 + 0.5) / 100."""
    return np.floor(x * 100 + 0.5) / 100


KPI_COLUMNS = ["year_month", "n_claims", "claimed", "paid", "n_closed", "avg_days_to_close"]


def expected_gold(gens: list[Generation]) -> list[tuple[list[tuple], dict[str, int]]]:
    """Replay the silver merge in numpy, independently of Spark: per
    claim the latest generation's row wins, and claims missing from a
    generation's extract stay with active='N'. For each generation
    returns the ``monthly_claim_kpis`` rows after its load and the
    active-flag counts."""
    ids = [g.cols["id"] for g in gens]
    size = max(int(a.max()) for a in ids) + 1
    last = np.full(size, -1)
    total = np.zeros(size)
    paid = np.zeros(size)
    created = np.zeros(size, "datetime64[D]")
    closed = np.full(size, np.datetime64("NaT"), "datetime64[D]")
    out = []
    for g, (gen, idx) in enumerate(zip(gens, ids)):
        c = gen.cols
        last[idx] = g
        total[idx] = c["total"]
        paid[idx] = c["paid"]
        created[idx] = c["created"]
        closed[idx] = c["closed"]
        seen = last >= 0
        month = created[seen].astype("datetime64[M]")
        months, m = np.unique(month, return_inverse=True)
        cl = closed[seen]
        has_close = ~np.isnat(cl)
        days = np.where(has_close, (cl - created[seen]).astype(np.int64), 0)
        n = np.bincount(m)
        n_closed = np.bincount(m, weights=has_close)
        sum_days = np.bincount(m, weights=days)
        claimed = _r2(np.bincount(m, weights=total[seen]))
        paid_m = _r2(np.bincount(m, weights=paid[seen]))
        rows = []
        for i, ym in enumerate(months):
            avg = None if n_closed[i] == 0 else float(_r2(np.float64(sum_days[i]) / n_closed[i]))
            rows.append((str(ym), int(n[i]), float(claimed[i]), float(paid_m[i]),
                         int(n_closed[i]), avg))
        active = int((last == g).sum())
        out.append((rows, {"Y": active, "N": int(seen.sum()) - active}))
    return out
