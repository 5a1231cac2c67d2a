"""Maintenance-interleaving rehearsal for the ANN serving stack (round-12
verdict #4): CDC sync windows racing retrain / cell-split / compaction on
the SAME index, asserting per interleaving that

* the consumer CURSOR survives every maintenance commit — a sync after a
  retrain/split/compact applies exactly the new window (``from`` equals
  the post-previous-window table version), never wedges (a dropped
  cursor would raise the loud "from_version" error), and never
  double-applies (caught by the byte-equality oracle below);
* after every step the index serves BYTE-IDENTICALLY to a fresh
  ``build_ann_index`` over the table's resolved state at the index's own
  current centroids — the strongest consistency oracle available (a
  half-applied window, a stale cell file, or a re-applied change would
  all break it);
* a maintenance op that planned from a stale manifest ABORTS with
  ``ConcurrentWriteError`` (the optimistic-commit guard), and its retry
  against the fresh state succeeds — exercised both deterministically
  (stale planned_from against a moved manifest) and as a live two-thread
  race (retrain vs upsert), where any loser must lose LOUDLY and retry
  cleanly.

One JSON line per interleaving ({step, from, to, equal, n_cells}), one
summary line. PASS = every interleaving equal + cursor-exact + the guard
fired where it must.

Usage: python tools/index_maintenance_interleave_rehearsal.py
"""

from __future__ import annotations

import json
import sys
import tempfile
import threading
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

K = 5


def main() -> None:
    from es_household_retention_spark_job_spark.operators import similarity as S
    from es_household_retention_spark_job_spark.operators.evalcorpus import (
        clustered_embeddings,
    )
    from es_household_retention_spark_job_spark.session import get_spark
    from es_household_retention_spark_job_spark.sinks import manifest as M
    from es_household_retention_spark_job_spark.sinks import upsert as U
    from es_household_retention_spark_job_spark.sinks.upsert import (
        ConcurrentWriteError,
    )
    from es_household_retention_spark_job_spark.streaming.index_sync import (
        sync_ann_index,
    )

    spark = get_spark(app_name="maint-interleave", cpus=32, shuffle_partitions=32)
    root = Path(tempfile.mkdtemp(prefix="interleave_"))
    et, ei = str(root / "etab"), str(root / "eidx")
    embs = clustered_embeddings(spark, n_clusters=32, per_cluster=64).select(
        "vec_id", "embedding"
    ).persist()
    U.write_keyed_table(embs, et, key="vec_id", n_buckets=8)
    S.build_ann_index(U.read_keyed_table(spark, et), ei, n_cells=16, iters=2)
    v0 = U.current_version(et)
    queries = embs.where(F.col("vec_id") % 37 == 0).persist()
    results = []
    reb_n = [0]

    def mutate(r: int) -> None:
        up = embs.where(F.col("vec_id") % 13 == r).select(
            "vec_id", F.reverse("embedding").alias("embedding")
        )
        dele = embs.where(F.col("vec_id") % 29 == r).select("vec_id")
        U.upsert_parquet(spark, et, up, key="vec_id")
        U.delete_keys(spark, et, dele, key="vec_id")

    def pairs(df):
        return sorted(
            (r.query_id, r.neighbor_id, r.rank, r.cos_bp)
            for r in df.collect()
        )

    def served_equals_rebuild() -> bool:
        """Byte-equality vs a fresh build over the resolved table at the
        index's own current centroids — catches wedges, double-applies,
        and half-visible maintenance alike."""
        man = S._read_ann_manifest(ei)
        cents = S._read_centroids(spark, ei, man)
        reb_n[0] += 1
        reb = str(root / f"reb{reb_n[0]}")
        S.build_ann_index(U.read_keyed_table(spark, et), reb, centroids=cents)
        got = pairs(S.knn_ivf_indexed(spark, ei, queries, k=K))
        want = pairs(S.knn_ivf_indexed(spark, reb, queries, k=K))
        return bool(got) and got == want

    def step(tag: str, maint, r: int, from_version=None) -> None:
        v_before = U.current_version(et)
        mutate(r)
        out = sync_ann_index(spark, ei, et, from_version=from_version)
        # cursor-exact: the window starts where the last one ended and
        # ends at the current table version — no skip, no re-apply
        assert out["from"] == v_before, (tag, out, v_before)
        assert out["to"] == U.current_version(et), (tag, out)
        if maint is not None:
            maint()
        man = S._read_ann_manifest(ei)
        # the maintenance commit carried the cursor (wedge guard): a
        # dropped cursor would make the NEXT sync raise from_version
        assert int(man["last_epoch"]) == out["to"], (tag, man.get("last_epoch"))
        eq = served_equals_rebuild()
        results.append(
            {
                "step": tag,
                "from": out["from"],
                "to": out["to"],
                "equal": eq,
                "n_cells": int(man["n_cells"]),
            }
        )
        print(json.dumps(results[-1]))

    # --- scripted interleavings: sync → {retrain, split, compact} → sync
    step("sync", None, 1, from_version=v0)
    step(
        "sync->retrain",
        lambda: S.retrain_ann_index(spark, ei, n_cells=20, iters=2),
        2,
    )
    step("sync-after-retrain", None, 3)
    step(
        "sync->split",
        lambda: S.split_ann_cells(
            spark, ei, max_rows_per_cell=max(embs.count() // 24, 32)
        ),
        4,
    )
    step("sync-after-split", None, 5)
    step("sync->compact", lambda: S.compact_ann_index(spark, ei), 6)
    step("sync-after-compact", None, 7)

    # re-sync with no new window: clean no-op, cursor unmoved
    out = sync_ann_index(spark, ei, et)
    assert out["from"] == out["to"] == U.current_version(et)
    assert out["deleted"] == 0 and out["upserted"] == 0

    # --- the optimistic-commit guard, deterministically: a maintenance
    # op that planned from a manifest the sync has since moved past MUST
    # abort loudly, and the retry (fresh plan) must succeed
    stale = S._read_ann_manifest(ei)
    mutate(8)
    sync_ann_index(spark, ei, et)
    guard_fired = False
    try:
        M.commit(ei, S.ANN_MANIFEST, dict(stale), stale)
    except ConcurrentWriteError:
        guard_fired = True
    assert guard_fired, "stale planned_from committed silently"
    assert served_equals_rebuild()
    print(json.dumps({"step": "stale-commit-guard", "fired": True}))

    # --- live race: retrain vs upsert on the same index. Each runs with
    # bounded retries; any loss must be a ConcurrentWriteError (never a
    # silent lost update — the equality oracle would catch that too)
    errors: list[str] = []
    collisions = [0]

    def race(fn, name):
        for _ in range(4):
            try:
                fn()
                return
            except ConcurrentWriteError:
                collisions[0] += 1
            except Exception as exc:  # anything else is a failure
                errors.append(f"{name}:{type(exc).__name__}:{exc}")
                return
        errors.append(f"{name}:retries-exhausted")

    delta = embs.where(F.col("vec_id") % 17 == 9).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    t1 = threading.Thread(
        target=race,
        args=(lambda: S.retrain_ann_index(spark, ei, iters=2), "retrain"),
    )
    t2 = threading.Thread(
        target=race,
        args=(lambda: S.upsert_ann_vectors(delta, ei), "upsert"),
    )
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    # the upsert raced the table-state oracle, so resolve the table to
    # match before the final equality check
    U.upsert_parquet(spark, et, delta, key="vec_id")
    sync_ann_index(spark, ei, et)
    final_eq = served_equals_rebuild()
    print(
        json.dumps(
            {
                "step": "race-retrain-vs-upsert",
                "collisions": collisions[0],
                "errors": errors,
                "equal": final_eq,
            }
        )
    )
    ok = all(r["equal"] for r in results) and final_eq and not errors
    print(
        json.dumps(
            {
                "metric": "index_maintenance_interleave",
                "interleavings": len(results) + 2,
                "pass": bool(ok),
            }
        )
    )
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
