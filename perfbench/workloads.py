"""The two workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned its result.

A workload prepares its inputs (``prepare``, before the session
exists), runs its untimed warm-up (``warm``), then repeats timed
units until the run's time is up (``unit``; a unit is a whole pass or
load sequence, so every run sees the same mix of operations), and
finally checks every result it kept (``check``). Every call into the
program is wrapped in a ``Tracer`` span named after the layer it
enters; a span named ``op`` marks one operation.
"""

from __future__ import annotations

import shutil
import sys
import traceback

import numpy as np

from perfbench import check, gen


class Workload:
    name = ""

    def __init__(self, seed: int):
        self.seed = seed
        self.sizes: dict[str, tuple[int, int]] = {}  # input name -> (rows, bytes)
        self.ops = 0  # operations timed
        self.items = 0  # claim rows or queries those operations handled
        self.failed = 0

    def prepare(self, data_dir: str) -> None:
        raise NotImplementedError

    def warm(self, ctx) -> None:
        raise NotImplementedError

    def unit(self, ctx) -> None:
        raise NotImplementedError

    def check(self, ctx) -> None:
        raise NotImplementedError

    def _run_op(self, ctx, body):
        """Time one operation; a raised error counts it as failed."""
        ctx.tracer.op = self.ops
        self.ops += 1
        try:
            with ctx.tracer.span("op"):
                return body()
        except Exception:  # the run goes on; the failure is reported
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            ctx.tracer.op = -1


class MedallionRefresh(Workload):
    """Full-snapshot refreshes of the claim table: extract CSV on disk
    → ``pipeline.bronze.ingest_table`` → ``pipeline.silver.conform`` +
    ``merge_upsert_scd`` → ``queries.gold_claims.monthly_claim_kpis``
    collected. One operation is one generation.

    The warm unit is the first load and the first refresh (every plan
    shape once). The first timed unit continues that lake with the
    remaining refreshes; a further unit, if the run has time left,
    replays the whole sequence into a new lake with only those same
    refreshes timed, so every timed operation merges onto a table of
    the same history."""

    name = "medallion_refresh"
    WARM_GENS = 2

    def prepare(self, data_dir: str) -> None:
        self.gens = gen.claim_generations(self.seed)
        self.extracts = []
        for g, x in enumerate(self.gens):
            path = f"{data_dir}/extract_{g}"
            self.sizes[f"extract_{g}"] = (x.rows, gen.write_extract(x, path))
            self.extracts.append(path)
        self.lake = f"{data_dir}/lake"
        self.n_lakes = 0
        self.root: str | None = None  # lake holding the warm unit's history
        self.kept: list[tuple[int, list[tuple]]] = []  # (generation, gold rows)
        self.finished: list[str] = []  # lakes whose timed refreshes all ran
        self.flags: list[dict[str, int]] = []  # their silver active-flag counts
        self.silver_bytes: list[int] = []  # silver size after each timed generation

    def _generation(self, ctx, root: str, g: int) -> list:
        from pyspark.sql import functions as F

        from mercurygate_spark.catalog import TABLES
        from mercurygate_spark.pipeline.bronze import ingest_table
        from mercurygate_spark.pipeline.silver import conform, merge_upsert_scd
        from mercurygate_spark.queries.gold_claims import monthly_claim_kpis

        spark, tr, x = ctx.spark, ctx.tracer, self.gens[g]
        spec = TABLES["claim"]
        with tr.span("pipeline.bronze"):
            ingest_table(
                spark, self.extracts[g], spec, f"{root}/bronze", "mm", "perfbench",
                x.updated_on.to_pydatetime(),
                mode="initial" if g == 0 else "refresh", date_part=x.date_part,
            )
        with tr.span("pipeline.silver"):
            bronze = spark.read.parquet(f"{root}/bronze/claim")
            incoming = conform(bronze.where(F.col("datePart") == x.date_part), spec)
            current = merge_upsert_scd(spark, incoming, spec, f"{root}/silver/claim")
        with tr.span("queries.gold_claims"):
            return monthly_claim_kpis(current).collect()

    def _history(self, ctx) -> None:
        self.root = f"{self.lake}/{self.n_lakes}"
        self.n_lakes += 1
        for g in range(self.WARM_GENS):
            self._generation(ctx, self.root, g)

    def warm(self, ctx) -> None:
        self._history(ctx)

    def unit(self, ctx) -> None:
        from mercurygate_spark.io.fs import dir_size_bytes

        if self.root is None:
            self._history(ctx)
        root, self.root = self.root, None
        silver = f"{root}/silver/claim"
        for g in range(self.WARM_GENS, len(self.gens)):
            rows = self._run_op(ctx, lambda: self._generation(ctx, root, g))
            if rows is None:
                break  # a later generation would merge onto a broken table
            self.items += self.gens[g].rows
            self.kept.append((g, [tuple(r) for r in rows]))
            if ctx.tracer.enabled:
                self.silver_bytes.append(dir_size_bytes(ctx.spark, silver))
        else:
            self.finished.append(root)

    def check(self, ctx) -> None:
        for root in self.finished:
            counts = ctx.spark.read.parquet(f"{root}/silver/claim").groupBy("active").count()
            self.flags.append({r["active"]: r["count"] for r in counts.collect()})
        shutil.rmtree(self.lake, ignore_errors=True)
        expected = gen.expected_gold(self.gens)
        want = [check.digest(gen.KPI_COLUMNS, rows) for rows, _ in expected]
        for g, rows in self.kept:
            if check.digest(gen.KPI_COLUMNS, rows) != want[g]:
                print(f"{self.name}: gold KPIs of generation {g} differ", file=sys.stderr)
                self.failed += 1
        last_flags = expected[-1][1]
        for flags in self.flags:
            if {k: flags.get(k, 0) for k in last_flags} != last_flags:
                print(f"{self.name}: active flags {flags} != {last_flags}", file=sys.stderr)
                self.failed += 1


GOLD_KEYS = (
    "agg_group_sum_avg_minmax",
    "join_broadcast_dim",
    "agg_star_multijoin",
    "window_rank_topn_per_group",
    "window_dedupe_latest",
    "agg_rollup_cube",
    "sort_limit_topk",
    "fn_date_trunc_month",
    "join_asof",
    "ts_ohlc_bars",
    "join_inner_equi",
    "agg_hll_partial_merge",
)
CORPUS_KEYS = ("dedup_semantic", "dedup_decontaminate")


class QueryMix(Workload):
    """Read-only registry keys over generated tables, in a seeded order
    per pass: the twelve Gold keys over the star schema, and two
    corpus-curation keys over the corpus (SemDeDup: k-means and
    in-cluster cosine over the embeddings, with ``mapInPandas`` passes
    across the Python/Arrow boundary; n-gram decontamination of the
    documents). One operation is one query: the registry ``fn`` call
    and its ``collect``. One unit is a pass over all fourteen."""

    name = "query_mix"
    KEYS = GOLD_KEYS + CORPUS_KEYS
    # On a 4-core host, passes after one warm pass took 13.5, 11.6, then
    # about 10.4 s each as the JVM's compilers caught up; timing the
    # pass after two warm passes keeps most of that slope out of the run
    WARM_PASSES = 2

    def prepare(self, data_dir: str) -> None:
        self.data_dir = data_dir
        self.sizes.update(gen.write_star(data_dir, self.seed))
        self.sizes.update(gen.write_corpus(data_dir, self.seed))
        self.order = np.random.default_rng([self.seed, 4])
        self.kept: list[tuple[str, list[str], list[tuple]]] = []
        self.latency: dict[str, list[float]] = {k: [] for k in self.KEYS}

    def _query(self, ctx, key: str) -> tuple[list[str], list]:
        from mercurygate_spark.queries import REGISTRY

        fn, tr = REGISTRY[key].fn, ctx.tracer
        if key in CORPUS_KEYS:
            with tr.span("queries.corpus"):
                df = fn(ctx.spark, self.data_dir)
                return df.columns, df.collect()
        with tr.span("queries.build"):
            df = fn(ctx.spark, self.data_dir)
        with tr.span("queries.exec"):
            return df.columns, df.collect()

    def warm(self, ctx) -> None:
        for _ in range(self.WARM_PASSES):
            for key in self.KEYS:
                self._query(ctx, key)

    def unit(self, ctx) -> None:
        for key in map(str, self.order.permutation(self.KEYS)):
            out = self._run_op(ctx, lambda: self._query(ctx, key))
            if out is not None:
                self.items += 1
                self.latency[key].append(ctx.tracer.spans[-1].seconds)
                self.kept.append((key, out[0], [tuple(r) for r in out[1]]))

    def check(self, ctx) -> None:
        """Compare each kept result with its key's DuckDB twin."""
        from mercurygate_spark.queries import all_oracles

        oracles = all_oracles()
        oracle = check.Oracle(self.data_dir, {k: oracles[k] for k in self.KEYS})
        try:
            for key, cols, rows in self.kept:
                if not oracle.agrees(key, cols, rows):
                    print(f"{self.name}: {key} differs from its DuckDB twin", file=sys.stderr)
                    self.failed += 1
        finally:
            oracle.close()


WORKLOADS = {w.name: w for w in (MedallionRefresh, QueryMix)}
