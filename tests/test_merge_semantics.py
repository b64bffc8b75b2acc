"""Contract tests pinning merge_upsert_scd to Delta MERGE semantics.

delta-spark cannot be installed in this sandbox (no network, no cached
wheel, no jars — docs/COVERAGE.md), so the DeltaTable fast path in
io/writers.py is dead code here. These tests pin the parquet-fallback
path to the EXACT semantics the Delta branch would execute, expressed
as a pure-Python reference model of:

    DeltaTable.forPath(spark, path).alias("t")
      .merge(incoming_latest.alias("s"), "t.pk = s.pk")
      .whenMatchedUpdateAll(condition="s.<order_by> >= t.<order_by>")
      .whenNotMatchedInsertAll()
      .whenNotMatchedBySourceUpdate(set={"active": "'N'"})   # snapshot extracts
      .execute()

(whenNotMatchedBySource is the Delta 2.3+ soft-delete clause; with
DELTA-style extracts — soft_delete_missing=False — that clause is
omitted and absent keys keep their flag.) If delta-spark ever lands in
the environment, the same assertions run against the real branch
unchanged, because merge_upsert_scd routes through
write_delta_or_parquet/read_delta_or_parquet.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F  # noqa: F401 (parity with sibling tests)

from mercurygate_spark.catalog import TableSpec
from mercurygate_spark.pipeline.silver import merge_upsert_scd

SPEC = TableSpec(
    name="scd_case",
    source_file="claim.txt",
    primary_key=["pk"],
    order_by=["version"],
    rename={},
    ts_columns=[],
)
SCHEMA = "pk long, version long, payload string, active string"


def delta_merge_model(
    target: dict[int, tuple],
    incoming: list[tuple],
    soft_delete_missing: bool = True,
) -> dict[int, tuple]:
    """Pure-Python replay of the Delta MERGE above. Rows are
    (pk, version, payload, active); target keyed by pk."""
    latest: dict[int, tuple] = {}
    for row in incoming:  # dedupe_latest over the source: max version per pk
        pk, version = row[0], row[1]
        if pk not in latest or version > latest[pk][1]:
            latest[pk] = row
    out = dict(target)
    for pk, s in latest.items():
        if pk in out:
            if s[1] >= out[pk][1]:  # whenMatchedUpdateAll, ties → source
                out[pk] = s
        else:  # whenNotMatchedInsertAll
            out[pk] = s
    if soft_delete_missing:  # whenNotMatchedBySourceUpdate set active='N'
        for pk in out:
            if pk not in latest:
                r = out[pk]
                out[pk] = (r[0], r[1], r[2], "N")
    return out


def _df(spark, rows):
    return spark.createDataFrame(rows, schema=SCHEMA)


def _seed(spark, path, rows):
    """First merge against a missing path writes incoming-latest as-is."""
    merge_upsert_scd(spark, _df(spark, rows), SPEC, path)


def _table(df) -> dict[int, tuple]:
    return {
        r["pk"]: (r["pk"], r["version"], r["payload"], r["active"])
        for r in df.collect()
    }


def test_merge_matrix_update_insert_tie_soft_delete(spark, tmp_path):
    """One merge exercising every MERGE clause at once."""
    path = str(tmp_path / "t1")
    target_rows = [
        (1, 1, "t1", "Y"),  # updated by newer source (v3 after source dedupe)
        (2, 5, "t2", "Y"),  # source older (v0) → kept, no regression
        (3, 1, "t3", "Y"),  # exact version tie → source wins
        (4, 1, "t4", "Y"),  # absent from source → active flips N
        (5, 2, "t5", "N"),  # absent AND already N → stays N, version kept
    ]
    incoming = [
        (1, 2, "s1a", "Y"),
        (1, 3, "s1b", "Y"),  # intra-batch dup: v3 must win before merging
        (2, 0, "s2", "Y"),
        (3, 1, "s3", "Y"),
        (7, 1, "s7", "Y"),   # brand-new key → insert
    ]
    _seed(spark, path, target_rows)
    out = merge_upsert_scd(spark, _df(spark, incoming), SPEC, path)
    expected = delta_merge_model({r[0]: r for r in target_rows}, incoming)
    assert _table(out) == expected
    # spot-pin the interesting cells so a model bug can't hide a real one
    got = _table(out)
    assert got[1] == (1, 3, "s1b", "Y")
    assert got[2] == (2, 5, "t2", "Y")
    assert got[3] == (3, 1, "s3", "Y")
    assert got[4] == (4, 1, "t4", "N")
    assert got[5] == (5, 2, "t5", "N")
    assert got[7] == (7, 1, "s7", "Y")


def test_merge_delta_extract_keeps_absent_flags(spark, tmp_path):
    """soft_delete_missing=False (DELTA extracts): absence ≠ deletion —
    the whenNotMatchedBySource clause is omitted entirely."""
    path = str(tmp_path / "t2")
    target_rows = [(1, 1, "t1", "Y"), (2, 1, "t2", "N")]
    incoming = [(3, 1, "s3", "Y")]
    _seed(spark, path, target_rows)
    out = merge_upsert_scd(
        spark, _df(spark, incoming), SPEC, path, soft_delete_missing=False
    )
    expected = delta_merge_model(
        {r[0]: r for r in target_rows}, incoming, soft_delete_missing=False
    )
    assert _table(out) == expected
    assert _table(out)[1][3] == "Y" and _table(out)[2][3] == "N"


def test_merge_idempotent_and_resurrection(spark, tmp_path):
    """Replaying a batch is a no-op (exactly-once landing can retry);
    a soft-deleted key reappearing with a newer version goes active
    again — the full SCD life cycle."""
    path = str(tmp_path / "t3")
    _seed(spark, path, [(1, 1, "a", "Y"), (2, 1, "b", "Y")])
    batch = [(1, 2, "a2", "Y")]  # pk2 vanishes → N
    first = _table(merge_upsert_scd(spark, _df(spark, batch), SPEC, path))
    again = _table(merge_upsert_scd(spark, _df(spark, batch), SPEC, path))
    assert first[2][3] == "N"
    # replay: pk1 ties (v2=v2, same row), pk2 still absent → stays N
    assert again == first
    # resurrection
    out = _table(
        merge_upsert_scd(spark, _df(spark, [(2, 2, "b2", "Y")]), SPEC, path)
    )
    assert out[2] == (2, 2, "b2", "Y")
    assert out[1] == (1, 2, "a2", "N") or out[1][3] == "N"  # pk1 now absent → N


def test_merge_randomized_against_model(spark, tmp_path):
    """Seeded random target/incoming pairs: fallback == model on every
    cell. Versions drawn distinct-per-pk so the only tie case is the
    deliberate one covered above (full-row md5 ties are unordered by
    design)."""
    rng = random.Random(7)
    for trial in range(3):
        path = str(tmp_path / f"r{trial}")
        pks = list(range(10))
        target_rows = [
            (pk, rng.randrange(0, 50), f"t{pk}", rng.choice(["Y", "Y", "N"]))
            for pk in pks
            if rng.random() < 0.7
        ]
        if not target_rows:
            target_rows = [(0, 1, "t0", "Y")]
        incoming = []
        for pk in pks:
            if rng.random() < 0.6:
                for v in rng.sample(range(100), rng.randrange(1, 3)):
                    incoming.append((pk, v, f"s{pk}.{v}", "Y"))
        if not incoming:
            incoming = [(11, 1, "s11", "Y")]
        sdm = rng.random() < 0.5
        _seed(spark, path, target_rows)
        out = merge_upsert_scd(
            spark, _df(spark, incoming), SPEC, path, soft_delete_missing=sdm
        )
        expected = delta_merge_model(
            {r[0]: r for r in target_rows}, incoming, soft_delete_missing=sdm
        )
        assert _table(out) == expected, f"trial {trial} (soft_delete={sdm})"


def test_merge_intra_batch_tie_and_losing_incoming_keeps_flag(spark, tmp_path):
    """Ties the model above leaves open. An incoming batch with two
    rows of one pk at the SAME order_by and different payloads must
    keep the row dedupe_latest keeps over that batch alone (its md5
    tiebreak covers the incoming row's own columns, not the merge's
    bookkeeping). A key whose incoming row loses to a newer silver row
    is still present in the extract, so with soft_delete_missing it
    keeps the silver row's flag — 'N' stays 'N', 'Y' stays 'Y'."""
    from mercurygate_spark.pipeline.conform import dedupe_latest

    path = str(tmp_path / "tie")
    _seed(spark, path, [
        (1, 1, "t1", "Y"),  # loses to the tied incoming pair below
        (2, 9, "t2", "N"),  # newer than its incoming row, flagged N
        (3, 9, "t3", "Y"),  # newer than its incoming row, flagged Y
    ])
    incoming = [
        (1, 5, "tie-a", "Y"),
        (1, 5, "tie-b", "Y"),
        (1, 5, "tie-c", "Y"),
        (2, 4, "s2", "Y"),
        (3, 4, "s3", "Y"),
    ]
    want = _table(dedupe_latest(_df(spark, incoming), SPEC.primary_key, SPEC.order_by))[1]
    out = _table(merge_upsert_scd(spark, _df(spark, incoming), SPEC, path))
    assert out[1] == want
    assert out[2] == (2, 9, "t2", "N")
    assert out[3] == (3, 9, "t3", "Y")
    # and the intra-batch pick is the same on the first-load branch
    first = _table(merge_upsert_scd(spark, _df(spark, incoming), SPEC, str(tmp_path / "tie0")))
    assert first[1] == want


# ---------------------------------------------------------------------------
# SCD2 (merge_upsert_scd2): full-history contract
# ---------------------------------------------------------------------------

def _scd2_apply(spark, path, rows, ts):
    from mercurygate_spark.pipeline.silver import merge_upsert_scd2

    inc = spark.createDataFrame(rows, "k long, v string")
    return merge_upsert_scd2(spark, inc, ["k"], ["v"], str(path), ts)


def _hist_set(df):
    return {
        (r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in df.collect()
    }


def test_scd2_new_change_vanish_reappear(spark, tmp_path):
    """The four SCD2 transitions across three loads: key 1 unchanged
    throughout (one open row), key 2 changes at t2 (closed + open),
    key 3 vanishes at t2 and reappears at t3 with its old value (two
    separate versions — a gap never reopens a closed row), key 4
    arrives at t2 (open from t2)."""
    p = tmp_path / "scd2"
    _scd2_apply(spark, p, [(1, "a"), (2, "b"), (3, "c")], "t1")
    _scd2_apply(spark, p, [(1, "a"), (2, "B"), (4, "d")], "t2")
    got = _hist_set(_scd2_apply(spark, p, [(1, "a"), (2, "B"), (3, "c"), (4, "d")], "t3"))
    assert got == {
        (1, "a", "t1", None, True),
        (2, "b", "t1", "t2", False),
        (2, "B", "t2", None, True),
        (3, "c", "t1", "t2", False),
        (3, "c", "t3", None, True),
        (4, "d", "t2", None, True),
    }


def test_scd2_replay_is_idempotent(spark, tmp_path):
    """Crash-window replay: re-applying the SAME snapshot (same
    load_ts) must be a byte-identical no-op — unchanged rows are
    untouched, and nothing closes or inserts. Mirrors the SCD1 merge
    torture tests' replay doctrine."""
    p = tmp_path / "scd2r"
    _scd2_apply(spark, p, [(1, "a"), (2, "b")], "t1")
    before = _hist_set(_scd2_apply(spark, p, [(1, "a"), (2, "x")], "t2"))
    after = _hist_set(_scd2_apply(spark, p, [(1, "a"), (2, "x")], "t2"))
    assert before == after
    # and a third generation still behaves after the replay
    final = _hist_set(_scd2_apply(spark, p, [(2, "x")], "t3"))
    assert final == {
        (1, "a", "t1", "t3", False),
        (2, "b", "t1", "t2", False),
        (2, "x", "t2", None, True),
    }


def test_scd2_duplicate_pk_incoming_keeps_one_open_row(spark, tmp_path):
    """ADVICE r12: a duplicate-pk incoming batch must NOT fan out the
    full-outer join — it is reduced to one row per key BEFORE the
    merge, so the ≤1-open-row invariant holds. With order_by the
    winner is the order_by-max row; replaying the deduped equivalent
    snapshot yields the identical history."""
    from mercurygate_spark.pipeline.silver import merge_upsert_scd2

    p = tmp_path / "scd2dup"
    inc = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (2, "c", 1), (2, "c", 1)],
        "k long, v string, seq long",
    )
    hist = merge_upsert_scd2(
        spark, inc, ["k"], ["v"], str(p), "t1", order_by=["seq"]
    )
    got = _hist_set(hist.drop("seq")) if "seq" in hist.columns else _hist_set(hist)
    assert got == {(1, "b", "t1", None, True), (2, "c", "t1", None, True)}
    # second generation with dupes again: key 1 flips back to "a"
    inc2 = spark.createDataFrame(
        [(1, "a", 3), (1, "a", 4), (2, "c", 3)], "k long, v string, seq long"
    )
    hist2 = merge_upsert_scd2(
        spark, inc2, ["k"], ["v"], str(p), "t2", order_by=["seq"]
    )
    assert _hist_set(hist2) == {
        (1, "b", "t1", "t2", False),
        (1, "a", "t2", None, True),
        (2, "c", "t1", None, True),
    }
    # ≤1 open row per key even without order_by (deterministic md5 pick)
    p2 = tmp_path / "scd2dup2"
    inc3 = spark.createDataFrame([(7, "x"), (7, "y")], "k long, v string")
    h = _hist_set(merge_upsert_scd2(spark, inc3, ["k"], ["v"], str(p2), "t1"))
    open_rows = [r for r in h if r[4]]
    assert len(open_rows) == 1 and open_rows[0][0] == 7
    # and the pick is stable across replays (an md5 winner flip at t2
    # would close the t1 row and open a new one)
    h2 = _hist_set(merge_upsert_scd2(spark, inc3, ["k"], ["v"], str(p2), "t2"))
    assert sum(1 for r in h2 if r[4]) == 1
    assert h2 == h


def test_scd2_structural_invariants_random(spark, tmp_path):
    """Randomized generations vs structural invariants: ≤1 open row
    per key; spans ordered and non-overlapping per key (valid_from <
    valid_to for closed rows, each next version starts at or after the
    previous close); every (key, load) value visible in exactly the
    version covering that load."""
    rng = random.Random(7)
    p = tmp_path / "scd2x"
    ts = [f"t{i}" for i in range(1, 6)]
    gens = []
    for i in range(5):
        gens.append(
            [(k, rng.choice("abc")) for k in range(8) if rng.random() < 0.7]
        )
        hist = _scd2_apply(spark, p, gens[-1], ts[i])
    rows = hist.collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r)
    order = {t: i for i, t in enumerate(ts)}
    for k, vs in by_key.items():
        assert sum(1 for r in vs if r["is_current"]) <= 1, k
        vs = sorted(vs, key=lambda r: order[r["valid_from"]])
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to"] is not None and not a["is_current"]
            assert order[a["valid_to"]] <= order[b["valid_from"]], (k, a, b)
    # point-in-time correctness: the version covering load i carries
    # exactly the value loaded at i
    for i, gen_rows in enumerate(gens):
        for k, v in gen_rows:
            cover = [
                r
                for r in by_key[k]
                if order[r["valid_from"]] <= i
                and (r["valid_to"] is None or order[r["valid_to"]] > i)
            ]
            assert len(cover) == 1 and cover[0]["v"] == v, (k, i, v, cover)


# ---------------------------------------------------------------------------
# Crash safety: every whole-table write goes through io.writers.publish
# ---------------------------------------------------------------------------

class _Crash(RuntimeError):
    """The injected failure."""


def _publish_steps():
    """step → (owner, attribute, which calls count as the step). The
    staging write is every Spark write a load makes (a merge writes
    nothing but publish staging dirs); the FileSystem steps are told
    apart by the sibling they move or delete."""
    from pyspark.sql.readwriter import DataFrameWriter

    from mercurygate_spark.io import fs

    return {
        "staging write": (DataFrameWriter, "save", lambda *a, **k: True),
        "rename-aside": (fs, "rename_path", lambda _s, src, dst: dst.endswith("__old")),
        "promote": (fs, "rename_path", lambda _s, src, dst: src.endswith("__staging")),
        "delete-aside": (fs, "delete_path", lambda _s, p, *a, **k: p.endswith("__old")),
    }


def _inject(m, step, fail_at=None):
    """Wrap ``step``'s function on monkeypatch context ``m``: count the
    matching calls and raise _Crash INSTEAD of making call ``fail_at``.
    Returns the running count."""
    owner, name, hit = _publish_steps()[step]
    real = getattr(owner, name)
    seen = [0]

    def wrapper(*args, **kwargs):
        if hit(*args, **kwargs):
            seen[0] += 1
            if seen[0] == fail_at:
                raise _Crash(f"{step} call {fail_at}")
        return real(*args, **kwargs)

    m.setattr(owner, name, wrapper)
    return seen


def _crash_then_replay(monkeypatch, tmp_path, seed, load, snapshot):
    """For every publish step and every call of it a clean ``load``
    makes, crash the load there, replay the same load, and assert the
    table equals the clean run's. Returns the clean snapshot."""
    import shutil

    seeded = tmp_path / "seeded"
    seed(str(seeded))
    clean = tmp_path / "clean"
    shutil.copytree(seeded, clean)
    with monkeypatch.context() as m:
        counts = {step: _inject(m, step) for step in _publish_steps()}
        load(str(clean))
    want = snapshot(str(clean))
    for step, seen in counts.items():
        for n in range(1, seen[0] + 1):
            path = tmp_path / f"{step.replace(' ', '_')}_{n}"
            shutil.copytree(seeded, path)
            with monkeypatch.context() as m, pytest.raises(_Crash):
                _inject(m, step, fail_at=n)
                load(str(path))
            load(str(path))
            assert snapshot(str(path)) == want, f"replay after a crash at {step} call {n}"
    assert all(seen[0] for seen in counts.values()), "a clean load skips a publish step"
    return want


def test_merge_converges_after_a_crash_at_any_publish_step(spark, monkeypatch, tmp_path):
    """SCD1: a crash at the staging write, the rename-aside, the
    promote or the delete-aside of the merge's publish, then a replay
    of the same extract, leaves exactly the table a clean merge writes
    — soft-deleted rows included, which a replay down the first-load
    branch would drop."""
    from mercurygate_spark.io.writers import read_delta_or_parquet

    target = [(1, 1, "t1", "Y"), (2, 1, "t2", "Y"), (3, 1, "t3", "N")]
    incoming = [(1, 2, "s1", "Y"), (4, 1, "s4", "Y")]
    want = _crash_then_replay(
        monkeypatch, tmp_path,
        seed=lambda p: _seed(spark, p, target),
        load=lambda p: merge_upsert_scd(spark, _df(spark, incoming), SPEC, p),
        snapshot=lambda p: _table(read_delta_or_parquet(spark, p)),
    )
    assert want == delta_merge_model({r[0]: r for r in target}, incoming)
    assert want[2] == (2, 1, "t2", "N") and want[3] == (3, 1, "t3", "N")


def test_scd2_converges_after_a_crash_at_any_publish_step(spark, monkeypatch, tmp_path):
    """SCD2: the same crash matrix over both of a load's publishes —
    the closed-history write (``closed/load_ts=<ts>``, published first)
    and the open-set swap. After each crash and a replay the history
    equals a clean run's, and no (pk, valid_to) pair is duplicated."""
    from collections import Counter

    from mercurygate_spark.pipeline.silver import read_scd2_history

    def history(p):
        return sorted(
            tuple(r) for r in read_scd2_history(spark, p)
            .select("k", "v", "valid_from", "valid_to", "is_current").collect()
        )

    want = _crash_then_replay(
        monkeypatch, tmp_path,
        seed=lambda p: _scd2_apply(spark, p, [(1, "a"), (2, "b"), (3, "c")], "t1"),
        load=lambda p: _scd2_apply(spark, p, [(1, "a"), (2, "B"), (4, "d")], "t2"),
        snapshot=history,
    )
    assert want == sorted([
        (1, "a", "t1", None, True),
        (2, "b", "t1", "t2", False),
        (2, "B", "t2", None, True),
        (3, "c", "t1", "t2", False),
        (4, "d", "t2", None, True),
    ])
    closed = Counter((k, vt) for k, _v, _vf, vt, _c in want if vt is not None)
    assert max(closed.values()) == 1


def test_scd2_load_ts_with_path_characters(spark, tmp_path):
    """A load_ts is free text; its closed/ subdirectory name must not
    break the path (':' and ' ' in a timestamp) and the history must
    carry no column inferred from that name."""
    p = tmp_path / "scd2ts"
    _scd2_apply(spark, p, [(1, "a")], "2024-01-01 00:00:00")
    hist = _scd2_apply(spark, p, [(1, "b")], "2024-02-01 00:00:00")
    assert hist.columns == ["k", "v", "valid_from", "valid_to", "is_current"]
    assert _hist_set(hist) == {
        (1, "a", "2024-01-01 00:00:00", "2024-02-01 00:00:00", False),
        (1, "b", "2024-02-01 00:00:00", None, True),
    }


def test_only_publish_renames_tables():
    """Every table swap goes through io.writers.publish/published: no
    other function in the program calls io.fs.rename_path, so a second
    swap sequence cannot come back unnoticed."""
    import ast
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    files = [*(repo / "mercurygate_spark").rglob("*.py"), *(repo / "scripts").rglob("*.py"),
             repo / "__spark_entry__.py", repo / "bench.py"]
    callers = set()
    for f in files:
        tree = ast.parse(f.read_text(), filename=str(f))
        scopes = [(tree, "<module>")]
        while scopes:
            node, scope = scopes.pop()
            for child in ast.iter_child_nodes(node):
                inner = scope
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    inner = child.name
                if isinstance(child, ast.Call):
                    fn = child.func
                    name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                    if name == "rename_path":
                        callers.add((f.relative_to(repo).as_posix(), inner))
                scopes.append((child, inner))
    assert callers == {
        ("mercurygate_spark/io/writers.py", "publish"),
        ("mercurygate_spark/io/writers.py", "published"),
    }


def test_bucketed_swap_recovers_after_a_crash_between_renames(spark, monkeypatch):
    """io.bucketing: a crash on the second ``ALTER … RENAME`` of a swap
    leaves the live table only under ``<name>__old``. A replay of the
    swap, or of the compaction that ends in it, moves that table back
    first instead of dropping it, and every row survives."""
    import os

    from mercurygate_spark.io.bucketing import compact_bucketed, swap_bucketed, write_bucketed

    name = f"mg_swap_crash_{os.getpid()}"
    staging = f"{name}__new"
    real_sql = spark.sql

    def crash_on_second_rename(m):
        seen = [0]

        def sql(query, *args, **kwargs):
            if query.startswith("ALTER TABLE") and " RENAME TO " in query:
                seen[0] += 1
                if seen[0] == 2:
                    raise _Crash(query)
            return real_sql(query, *args, **kwargs)

        m.setattr(spark, "sql", sql)

    def rows(table):
        return sorted(tuple(r) for r in spark.table(table).collect())

    new_rows = [(i, f"new{i}") for i in range(8)]
    try:
        write_bucketed(spark.createDataFrame([(i, f"old{i}") for i in range(6)], "k long, v string"),
                       name, "k", 4)
        write_bucketed(spark.createDataFrame(new_rows, "k long, v string"), staging, "k", 4)
        with monkeypatch.context() as m, pytest.raises(_Crash):
            crash_on_second_rename(m)
            swap_bucketed(spark, name, staging)
        assert not spark.catalog.tableExists(name)
        assert spark.catalog.tableExists(f"{name}__old")
        swap_bucketed(spark, name, staging)
        assert rows(name) == new_rows
        assert not spark.catalog.tableExists(f"{name}__old")

        with monkeypatch.context() as m, pytest.raises(_Crash):
            crash_on_second_rename(m)
            compact_bucketed(spark, name, "k", 4)
        assert not spark.catalog.tableExists(name)
        assert 0 < compact_bucketed(spark, name, "k", 4) <= 4
        assert rows(name) == new_rows
    finally:
        for table in (name, staging, f"{name}__old", f"{name}__compact"):
            real_sql(f"DROP TABLE IF EXISTS {table}")
