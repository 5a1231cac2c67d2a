"""Write/read trade A/B for the keyed sink's two write modes, measured on a
POPULATED retention store (histories filled by a real backfill — wide rows,
the regime where a copy-on-write rewrite actually costs something).

Times, per mode, on the same store state:
  * ``write_sec`` — upsert_parquet of a scattered DELTA-keys CDC batch
    (hash-scattered keys: the realistic shape that touches every bucket,
    the CoW write floor SCALING.md's sf10 rehearsal attributed)
  * ``read_sec`` — a full read AFTER the upsert (MoR pays its
    reconciliation window here; CoW reads stay clean scans)
  * MoR only: ``compact_sec`` and ``read_after_compact_sec`` (the deferred
    maintenance that ends the read tax)

Together with tools/incremental_rehearsal.py (which couples the two sides
through run_incremental's one publish + interleaved reads) this
separates WHERE each mode's cost lives: MoR converts O(affected-bucket
rows) writes into O(delta) appends, CoW converts reads into window-free
scans — the crossover is the store's write:read ratio.

Usage: python tools/mor_write_read_ab.py [sf_dir] [delta_keys=1000]
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from es_household_retention_spark_job_spark.clock import TESTDATA_AS_OF  # noqa: E402
from es_household_retention_spark_job_spark.pipeline import run_retention  # noqa: E402
from es_household_retention_spark_job_spark.session import get_spark  # noqa: E402
from es_household_retention_spark_job_spark.sinks.upsert import (  # noqa: E402
    compact_keyed_table,
    read_keyed_table,
    upsert_parquet,
    write_keyed_table,
)
from es_household_retention_spark_job_spark.sources.tpch import (  # noqa: E402
    retention_inputs,
)


def _parquet_files(path: str) -> dict[str, int]:
    """{relpath: bytes} of every data file under the table root — the diff
    across an upsert is the write amplification measurement wall-clock
    can't show on NVMe (reads and writes cost alike locally; on an object
    store the written bytes are the dominant cost and the durable claim)."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def _full_read(spark, path) -> int:
    """A read that MATERIALIZES every column (checksum over the wide
    history struct) — a bare count() is column-pruned to a footer scan
    and would measure nothing."""
    df = read_keyed_table(spark, path)
    return (
        df.select(
            F.xxhash64(
                F.col("person_id"),
                F.to_json(F.col("household_retention_history")),
            ).alias("h")
        )
        .agg(F.expr("bit_xor(h)"))
        .first()[0]
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_delta = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    spark = get_spark(app_name="mor-ab", cpus=32, shuffle_partitions=64)
    person, encounter = retention_inputs(spark, sf_dir)
    htype = person.schema["household_retention_history"].dataType
    person = person.withColumn(
        "household_retention_history", F.lit(None).cast(htype)
    )
    work = Path(tempfile.mkdtemp(prefix="mor_ab_"))
    out = {"sf_dir": sf_dir, "delta_keys": n_delta, "persons": person.count()}
    try:
        enc_path = str(work / "encounter")
        encounter.write.mode("overwrite").parquet(enc_path)
        base = str(work / "store_base")
        write_keyed_table(person, base, key="person_id", n_buckets=64)
        run_retention(spark, base, enc_path, "HOUSEHOLD", TESTDATA_AS_OF)
        # three write shapes (the delta carries a SUBSET of columns, so
        # plain "mor" takes the round-11 partial-column path; "mor_full"
        # upserts the same change as FULL-WIDTH rows, which takes the
        # full-width MoR merge, as the control)
        for mode in ("cow", "mor_full", "mor"):
            p = str(work / f"store_{mode}")
            shutil.copytree(base, p)
            # hash-scattered delta over populated rows: every ~(N/n_delta)th
            # key BY HASH, so the batch touches all buckets — the realistic
            # CDC shape (a .limit() here would satisfy from one bucket's
            # scan and understate the CoW rewrite 64×). Flip the processed
            # flag so the merge is a genuine matched-row update.
            step = max(out["persons"] // n_delta, 1)
            delta = (
                read_keyed_table(spark, p)
                .where(F.abs(F.xxhash64("person_id", F.lit(7))) % step == 0)
                .withColumn("processing_complete", F.lit(False))
            )
            if mode != "mor_full":
                delta = delta.select("person_id", "processing_complete")
            delta.count()  # plan cost paid outside the timed region
            os.environ["SPARK_GRAFT_SINK_WRITE_MODE"] = (
                "cow" if mode == "cow" else "mor"
            )
            pre_files = _parquet_files(p)
            t0 = time.time()
            upsert_parquet(spark, p, delta, key="person_id", n_buckets=64)
            w = time.time() - t0
            post_files = _parquet_files(p)
            written = sum(
                sz for f, sz in post_files.items() if f not in pre_files
            )
            os.environ.pop("SPARK_GRAFT_SINK_WRITE_MODE", None)
            t0 = time.time()
            checksum = _full_read(spark, p)
            r = time.time() - t0
            n = read_keyed_table(spark, p).count()
            comp = r_post = None
            if mode != "cow":
                t0 = time.time()
                compact_keyed_table(spark, p)
                comp = round(time.time() - t0, 2)
                t0 = time.time()
                assert _full_read(spark, p) == checksum  # compaction is invisible
                r_post = round(time.time() - t0, 2)
            out[mode] = {
                "write_sec": round(w, 2),
                "written_mb": round(written / 1e6, 2),
                "store_mb": round(sum(pre_files.values()) / 1e6, 2),
                "read_sec": round(r, 2),
                "rows": n,
                "state_checksum": checksum,
                "compact_sec": comp,
                "read_after_compact_sec": r_post,
            }

        # --- point-predicate read A/B (round 10, r9 advisory #7): an
        # INSERT-shaped delta (new ids beyond the existing key range — the
        # "new entities arrive" CDC shape) lands MoR delta files whose key
        # [min,max] ranges exclude every pre-existing key, so a point
        # lookup of existing keys skips reconciliation entirely via the
        # manifest's mor_stats ledger (base files only, no window). The
        # read-after-write tax for the serving shape should therefore be
        # ~parity with CoW, down from the full-read 4.4x.
        probe = [
            r["person_id"]
            for r in read_keyed_table(spark, base)
            .select("person_id")
            .orderBy("person_id")
            .limit(8)
            .collect()
        ]
        for mode in ("cow", "mor"):
            p = str(work / f"store_ins_{mode}")
            shutil.copytree(base, p)
            new_rows = (
                read_keyed_table(spark, p)
                .where(F.abs(F.xxhash64("person_id", F.lit(11))) % step == 0)
                .withColumn(
                    "person_id", F.concat(F.lit("ZZZNEW_"), F.col("person_id"))
                )
            )
            new_rows.count()
            os.environ["SPARK_GRAFT_SINK_WRITE_MODE"] = mode
            upsert_parquet(spark, p, new_rows, key="person_id", n_buckets=64)
            os.environ.pop("SPARK_GRAFT_SINK_WRITE_MODE", None)

            def timed_lookup(keys, p=p):
                t0 = time.time()
                df = read_keyed_table(spark, p, keys=keys)
                df.agg(
                    F.expr(
                        "bit_xor(xxhash64(person_id, "
                        "to_json(household_retention_history)))"
                    )
                ).first()
                return round(time.time() - t0, 2)

            hit = [f"ZZZNEW_{k}" for k in probe[:4]]
            out.setdefault("point_read", {})[mode] = {
                # existing keys: every probed bucket's deltas are
                # range-disjoint -> skipped (MoR) / absent (CoW)
                "miss_deltas_sec": timed_lookup(probe),
                # new keys: the probed buckets' deltas ARE the answer --
                # MoR pays its (delta-bounded) reconciliation honestly
                "hit_deltas_sec": timed_lookup(hit),
            }
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
