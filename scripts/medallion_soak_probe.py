"""Medallion refresh-depth probe (VERDICT r8 #7): the oracle-gated key
replays 2 extract generations; production replays hundreds. This
probe drives N=20 sequential merge generations at sf0.1 through the
SAME merge_upsert_scd the key uses and records, per generation, the
merge wall-clock and the silver file/row counts — the two curves that
decide whether a long-lived silver table needs maintenance wired in.

Expected shape (and why): merge_upsert_scd publishes via
io.writers.publish, so each generation REWRITES the current table —
file count stays bounded by the final write's partitioning and
wall-clock stays flat in table size (the table here is
~|orders| keys for every generation; vanished keys persist with
active='N', so row count is monotone but bounded by the union of all
keys ever seen). If the file curve ever grew (an append-based merge,
or Delta MERGE leaving small files), io.maintenance.compact_parquet
is the wired-in fix; the probe runs it once at the end and records
the effect for completeness.

Usage: python scripts/medallion_soak_probe.py [--sf-dir ...]
           [--gens 20] [--out docs/medallion_soak_r09.json]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time
from datetime import datetime, timedelta
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from mercurygate_spark.catalog import TABLES  # noqa: E402
from mercurygate_spark.io.maintenance import compact_parquet  # noqa: E402
from mercurygate_spark.pipeline.silver import merge_upsert_scd  # noqa: E402
from mercurygate_spark.session import get_spark  # noqa: E402

BASE_TS = datetime(2026, 1, 1, 8, 0, 0)


def snapshot(orders, gen: int):
    """Deterministic extract generation g: every 13th key (rotating
    with g) vanishes, every 7th (rotating) closes with an amount bump,
    audit timestamp advances one day per generation."""
    ok = F.col("o_orderkey")
    closed = ok % 7 == gen % 7
    return (
        orders.where(ok % 13 != gen % 13)
        .select(
            F.concat(F.lit("CLM-"), ok.cast("string")).alias("claim_number"),
            F.when(closed, "F").otherwise(F.col("o_orderstatus")).alias("status_code"),
            (F.floor("o_totalprice") + F.when(closed, 100).otherwise(0))
            .cast("double")
            .alias("total_amount"),
            F.lit(BASE_TS + timedelta(days=gen)).alias("updated_on"),
            F.lit("Y").alias("active"),
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--gens", type=int, default=20)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="medallion_soak", cpus=args.cpus)
    root = tempfile.mkdtemp(prefix="mg_medallion_soak_")
    silver = f"{root}/silver_claim"
    spec = TABLES["claim"]
    try:
        orders = spark.read.parquet(f"{args.sf_dir}/orders.parquet")
        orders = orders.localCheckpoint(eager=True)
        gens = []
        for g in range(1, args.gens + 1):
            snap = snapshot(orders, g)
            t0 = time.monotonic()
            merge_upsert_scd(spark, snap, spec, silver, soft_delete_missing=True)
            merge_s = time.monotonic() - t0
            files = len(glob.glob(f"{silver}/*.parquet"))
            rows = spark.read.parquet(silver).count()
            gens.append({
                "gen": g,
                "merge_seconds": round(merge_s, 2),
                "silver_files": files,
                "silver_rows": rows,
            })
            print(f"# gen {g}: merge={merge_s:.2f}s files={files} rows={rows}",
                  file=sys.stderr)

        n_files = compact_parquet(spark, silver)
        out = {
            "sf_dir": args.sf_dir,
            "generations": gens,
            "post_compaction_files": n_files,
            "first5_mean_merge_s": round(
                sum(g["merge_seconds"] for g in gens[:5]) / 5, 2
            ),
            "last5_mean_merge_s": round(
                sum(g["merge_seconds"] for g in gens[-5:]) / 5, 2
            ),
        }
        print(json.dumps(out))
        if args.out:
            with open(args.out, "w") as fh:
                json.dump(out, fh, indent=1)
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
