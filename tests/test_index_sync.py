"""CDC → index maintenance (round 11): the sink's change feed drives the
BM25 and ANN indexes through their delete/upsert ops, cursor exactly-once
on the index manifest, rebuild-equality after every sync."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from es_household_retention_spark_job_spark.operators import search as SE
from es_household_retention_spark_job_spark.operators import similarity as S
from es_household_retention_spark_job_spark.sinks import manifest as M
from es_household_retention_spark_job_spark.sinks import upsert as U
from es_household_retention_spark_job_spark.sources.tpch import load_table
from es_household_retention_spark_job_spark.streaming.index_sync import (
    sync_ann_index,
    sync_neardup_index,
    sync_text_index,
)

from .conftest import SF_DIR


def _res(df):
    return sorted(tuple(r) for r in df.collect())


def test_sync_text_index_follows_table(spark, tmp_path):
    """Table mutations (upsert new docs, change a doc's text, delete docs)
    flow through sync_text_index; after each sync the index serves
    byte-identically to a fresh build over the table's resolved state.
    A repeated sync with no new table version is a no-op (cursor)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    table = str(tmp_path / "table")
    idx = str(tmp_path / "idx")
    U.write_keyed_table(docs, table, key="doc_id", n_buckets=4)
    v0 = U.current_version(table)
    SE.build_text_index(U.read_keyed_table(spark, table), idx)

    queries = [("q1", "data quality filter"), ("qz", "zzzsynced")]

    # window 1: insert new docs + change existing ones + delete some
    changed = docs.where(F.col("doc_id") % 13 == 4).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzzsynced"))
    )
    fresh = docs.where(F.col("doc_id") % 19 == 7).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "text"
    )
    U.upsert_parquet(
        spark, table, changed.unionByName(fresh), key="doc_id"
    )
    dead = docs.where(F.col("doc_id") % 23 == 11).select("doc_id")
    U.delete_keys(spark, table, dead, key="doc_id")

    out = sync_text_index(spark, idx, table, from_version=v0)
    assert out["upserted"] > 0 and out["deleted"] > 0

    rebuilt = str(tmp_path / "rebuilt1")
    SE.build_text_index(U.read_keyed_table(spark, table), rebuilt)
    want = _res(SE.bm25_search_indexed(spark, rebuilt, queries, k=10))
    got = _res(SE.bm25_search_indexed(spark, idx, queries, k=10))
    assert got == want and got
    assert any(r[0] == "qz" for r in got)

    # cursor: same table version → nothing re-applies, and from_version
    # is no longer needed (the manifest carries the cursor)
    out2 = sync_text_index(spark, idx, table)
    assert out2["upserted"] == 0 and out2["deleted"] == 0
    assert out2["from"] == out2["to"] == U.current_version(table)

    # window 2: delete one of the docs upserted in window 1 (exercises
    # the delete-after-reinsert ladder through the CDC path)
    target = [r.doc_id for r in changed.limit(1).collect()]
    U.delete_keys(
        spark,
        table,
        spark.createDataFrame([(t,) for t in target], "doc_id long"),
        key="doc_id",
    )
    out3 = sync_text_index(spark, idx, table)
    assert out3["deleted"] == 1 and out3["upserted"] == 0
    rebuilt2 = str(tmp_path / "rebuilt2")
    SE.build_text_index(U.read_keyed_table(spark, table), rebuilt2)
    want2 = _res(SE.bm25_search_indexed(spark, rebuilt2, queries, k=10))
    got2 = _res(SE.bm25_search_indexed(spark, idx, queries, k=10))
    assert got2 == want2 and got2


def test_sync_ann_index_follows_table(spark, tmp_path):
    """The vector edition: embedding updates, inserts, and deletes flow
    through sync_ann_index; the synced index is byte-identical to a fresh
    build over the table state at the same quantizers (ivf tier), and a
    cursor-only re-sync is a no-op."""
    embs = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .where(F.col("vec_id") < 1200)
    )
    table = str(tmp_path / "table")
    idx = str(tmp_path / "idx")
    U.write_keyed_table(embs, table, key="vec_id", n_buckets=4)
    v0 = U.current_version(table)
    S.build_ann_index(
        U.read_keyed_table(spark, table), idx, n_cells=8, iters=2, pq=True
    )
    man0 = S._read_ann_manifest(idx)
    cents = S._read_centroids(spark, idx, man0)

    changed = embs.where(F.col("vec_id") % 31 == 5).select(
        "vec_id", F.reverse(F.col("embedding")).alias("embedding")
    )
    fresh = embs.where(F.col("vec_id") % 41 == 3).select(
        (F.col("vec_id") + 500_000).alias("vec_id"), "embedding"
    )
    U.upsert_parquet(spark, table, changed.unionByName(fresh), key="vec_id")
    dead = embs.where(F.col("vec_id") % 37 == 9).select("vec_id")
    U.delete_keys(spark, table, dead, key="vec_id")

    out = sync_ann_index(spark, idx, table, from_version=v0)
    assert out["upserted"] > 0 and out["deleted"] > 0

    rebuilt = str(tmp_path / "rebuilt")
    S.build_ann_index(
        U.read_keyed_table(spark, table), rebuilt, centroids=cents
    )
    queries = embs.where(F.col("vec_id") % 50 == 0)
    want = _res(S.knn_ivf_indexed(spark, rebuilt, queries, k=5))
    got = _res(S.knn_ivf_indexed(spark, idx, queries, k=5))
    assert got == want and got

    out2 = sync_ann_index(spark, idx, table)
    assert out2["upserted"] == 0 and out2["deleted"] == 0

    # an unsynced index without a cursor refuses to guess the window
    with pytest.raises(ValueError, match="from_version"):
        sync_ann_index(spark, str(tmp_path / "noidx"), table)


def test_neardup_index_delete(spark, tmp_path):
    """delete_neardup_docs: a tombstoned doc stops surfacing as a dup_of
    candidate (the takedown gap, near-dup edition); idempotent; physical
    purge deferred to the next rebuild."""
    from es_household_retention_spark_job_spark.operators import dedup as D

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "ndidx")
    D.build_neardup_index(docs, idx)
    # probe the corpus against itself: self-pairs excluded, near-dups hit
    probe_docs = docs.where(F.col("doc_id") % 10 == 1)
    hits = D.neardup_probe(probe_docs, D.read_neardup_index(spark, idx))
    dup_ids = sorted({r.dup_of for r in hits.collect()})
    assert dup_ids, "need at least one near-dup candidate to delete"
    target = dup_ids[:3]
    assert D.delete_neardup_docs(spark, idx, target) == len(target)
    after = D.neardup_probe(probe_docs, D.read_neardup_index(spark, idx))
    assert not ({r.dup_of for r in after.collect()} & set(target))
    # actually-deleted contract (matches the other delete ops): a
    # re-delete finds nothing live, as does an id never indexed
    assert D.delete_neardup_docs(spark, idx, target) == 0
    assert D.delete_neardup_docs(spark, idx, [99_999_999]) == 0
    live = D.read_neardup_index(spark, idx)
    assert live.where(F.col("doc_id").isin(target)).count() == 0
    # the id column rides the layout's _meta.json; a contradicting
    # explicit id_col is refused instead of silently tombstoning the
    # wrong column
    with pytest.raises(ValueError, match="records id_col"):
        D.delete_neardup_docs(spark, idx, target, id_col="other_id")


def test_sync_scoped_and_cursor_advances_on_inapplicable_window(
    spark, tmp_path
):
    """Two review-finding regressions pinned: (1) the feed is scoped to
    the indexed column, so changing an UNRELATED column triggers no
    re-index work; (2) a window the index applies nothing from still
    advances the cursor (cursor-only bump) — without it the sync wedges
    once version retention prunes the window start."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    wide = docs.withColumn("flag", F.lit(0))
    table = str(tmp_path / "table")
    idx = str(tmp_path / "idx")
    U.write_keyed_table(wide, table, key="doc_id", n_buckets=4)
    v0 = U.current_version(table)
    SE.build_text_index(U.read_keyed_table(spark, table), idx)
    v_idx0 = SE._read_index_manifest(idx)["version"]

    # window: flip the unrelated flag on some docs + delete an id the
    # index never contained — nothing for the text index to apply
    U.upsert_parquet(
        spark,
        table,
        wide.where(F.col("doc_id") % 7 == 1).withColumn("flag", F.lit(1)),
        key="doc_id",
    )
    out = sync_text_index(spark, idx, table, from_version=v0)
    assert out["upserted"] == 0 and out["deleted"] == 0
    man = SE._read_index_manifest(idx)
    # cursor committed without touching content (one cursor-only bump)
    assert man["last_epoch"] == U.current_version(table)
    assert man["version"] == v_idx0 + 1
    # and a re-sync is a clean no-op (no from_version needed, no bump)
    out2 = sync_text_index(spark, idx, table)
    assert out2["from"] == out2["to"]
    assert SE._read_index_manifest(idx)["version"] == v_idx0 + 1


def test_sync_neardup_index_follows_table(spark, tmp_path):
    """The band index edition (round 12): text changes, inserts, deletes,
    AND a later delete-then-reinsert flow through sync_neardup_index; the
    synced index's probe results equal a fresh build over the table's
    resolved state after every window (the versioned-tombstone ladder —
    old band rows retire at as_of, replacements land one version above);
    the cursor is exactly-once on the meta commit."""
    from es_household_retention_spark_job_spark.operators import dedup as D

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    table = str(tmp_path / "table")
    idx = str(tmp_path / "idx")
    U.write_keyed_table(docs, table, key="doc_id", n_buckets=4)
    v0 = U.current_version(table)
    D.build_neardup_index(U.read_keyed_table(spark, table), idx)
    probe_docs = docs.where(F.col("doc_id") % 10 == 1)

    def hits(index_path):
        return sorted(
            (r.doc_id, r.dup_of, r.jaccard_bp)
            for r in D.neardup_probe(
                probe_docs, D.read_neardup_index(spark, index_path)
            ).collect()
        )

    # window 1: change texts (near-dup relations change), add fresh docs
    # (near-dupes of existing ones), delete some
    changed = docs.where(F.col("doc_id") % 13 == 4).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzzsynced zzzsynced"))
    )
    fresh = docs.where(F.col("doc_id") % 19 == 7).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "text"
    )
    U.upsert_parquet(spark, table, changed.unionByName(fresh), key="doc_id")
    dead = docs.where(F.col("doc_id") % 23 == 11).select("doc_id")
    U.delete_keys(spark, table, dead, key="doc_id")

    out = sync_neardup_index(spark, idx, table, from_version=v0)
    assert out["upserted"] > 0 and out["deleted"] > 0
    rebuilt = str(tmp_path / "reb1")
    D.build_neardup_index(U.read_keyed_table(spark, table), rebuilt)
    got, want = hits(idx), hits(rebuilt)
    assert got == want and got

    # cursor: clean no-op on an unchanged table
    out2 = sync_neardup_index(spark, idx, table)
    assert out2["from"] == out2["to"] == U.current_version(table)
    assert out2["upserted"] == 0 and out2["deleted"] == 0

    # window 2: delete one synced doc, then window 3 REINSERTS it with new
    # text — the versioned ladder must resurrect it (an id-level-forever
    # tombstone could not)
    target = [r.doc_id for r in changed.limit(1).collect()]
    U.delete_keys(
        spark,
        table,
        spark.createDataFrame([(t,) for t in target], "doc_id long"),
        key="doc_id",
    )
    out3 = sync_neardup_index(spark, idx, table)
    assert out3["deleted"] == 1
    back = docs.where(F.col("doc_id").isin(target)).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzzresurrected"))
    )
    U.upsert_parquet(spark, table, back, key="doc_id")
    out4 = sync_neardup_index(spark, idx, table)
    assert out4["upserted"] == 1
    rebuilt2 = str(tmp_path / "reb2")
    D.build_neardup_index(U.read_keyed_table(spark, table), rebuilt2)
    assert hits(idx) == hits(rebuilt2)

    # an unsynced index refuses to guess the window
    with pytest.raises(ValueError, match="from_version"):
        sync_neardup_index(spark, str(tmp_path / "noidx2"), table)


def test_neardup_rebuild_is_the_purge(spark, tmp_path):
    """build_neardup_index over a mutated index path is the layout's
    physical purge (the documented compaction equivalent): the fresh meta
    must list NO tombstones and NO sync files, the stale dirs are swept,
    and — the regression this pins — a doc deleted before the rebuild but
    present in the rebuild corpus serves again (a leftover whole-dir
    ledger read would keep it hidden forever)."""
    import os

    from es_household_retention_spark_job_spark.operators import dedup as D

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    D.build_neardup_index(docs, idx)
    probe_docs = docs.where(F.col("doc_id") % 10 == 1)
    dup_ids = sorted(
        {
            r.dup_of
            for r in D.neardup_probe(
                probe_docs, D.read_neardup_index(spark, idx)
            ).collect()
        }
    )
    assert dup_ids
    target = dup_ids[:2]
    assert D.delete_neardup_docs(spark, idx, target) == len(target)
    # rebuild over the FULL corpus (the deleted docs are back in scope)
    D.build_neardup_index(docs, idx)
    meta = D._read_neardup_meta(idx)
    assert meta["tombstones"] == [] and meta["sync"] == []
    assert not os.path.isdir(os.path.join(idx, "tombstones"))
    after = {
        r.dup_of
        for r in D.neardup_probe(
            probe_docs, D.read_neardup_index(spark, idx)
        ).collect()
    }
    assert set(target) <= after  # served again — the purge purged


def test_neardup_upsert_resurrects_legacy_forever_tombstone(spark, tmp_path):
    """Review finding pinned: a doc deleted under the LEGACY (pre-r12,
    unversioned) ledger carries as_of=forever after adoption; a later
    re-insert through upsert_neardup_docs must still serve — the op
    rewrites the forever entry out of the ledger and retires the doc's
    still-physical base rows at the current version instead, so ONLY the
    replacement is visible (not silently-swallowed, not double-served)."""
    import json
    import os

    from es_household_retention_spark_job_spark.operators import dedup as D

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    D.build_neardup_index(docs, idx)
    probe_docs = docs.where(F.col("doc_id") % 10 == 1)

    def dup_of():
        return {
            r.dup_of
            for r in D.neardup_probe(
                probe_docs, D.read_neardup_index(spark, idx)
            ).collect()
        }

    target = sorted(dup_of())[:1]
    assert target
    assert D.delete_neardup_docs(spark, idx, target) == 1
    # fabricate the legacy state: strip versioning from the ledger and
    # the meta (as a pre-r12 index would carry it)
    meta = D._read_neardup_meta(idx)
    tomb_dir = os.path.join(idx, "tombstones")
    import pyarrow.parquet as pq

    for f in meta["tombstones"]:
        pth = os.path.join(tomb_dir, f)
        t = pq.read_table(pth)
        pq.write_table(t.drop_columns(["_tomb_as_of"]), pth)
        crc = os.path.join(tomb_dir, f".{f}.crc")
        if os.path.exists(crc):
            os.unlink(crc)
    meta.pop("tombstones")
    meta.pop("sync", None)
    meta.pop("version", None)
    M.write_atomic(idx, D.NEARDUP_META, meta)
    assert target[0] not in dup_of()  # legacy semantics: hidden

    # re-insert with changed text through the upsert
    back = docs.where(F.col("doc_id").isin(target))
    D.upsert_neardup_docs(spark, idx, back)
    # the doc serves again, exactly once: probe results equal a fresh
    # rebuild over the full corpus
    reb = str(tmp_path / "reb")
    D.build_neardup_index(docs, reb)
    got = sorted(
        (r.doc_id, r.dup_of, r.jaccard_bp)
        for r in D.neardup_probe(
            probe_docs, D.read_neardup_index(spark, idx)
        ).collect()
    )
    want = sorted(
        (r.doc_id, r.dup_of, r.jaccard_bp)
        for r in D.neardup_probe(
            probe_docs, D.read_neardup_index(spark, reb)
        ).collect()
    )
    assert got == want and target[0] in {g[1] for g in got}


def test_neardup_concurrent_commit_detected(spark, tmp_path):
    """The band index adopts the optimistic-commit discipline: a
    maintenance op that planned from a meta another commit has since
    moved past aborts with ConcurrentWriteError instead of silently
    dropping the other writer's ledger/file lists."""
    from es_household_retention_spark_job_spark.operators import dedup as D
    from es_household_retention_spark_job_spark.sinks.upsert import (
        ConcurrentWriteError,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    D.build_neardup_index(docs, idx)
    stale = D._read_neardup_meta(idx)
    # a real commit moves the version...
    dup = sorted(
        {
            r.dup_of
            for r in D.neardup_probe(
                docs.where(F.col("doc_id") % 10 == 1),
                D.read_neardup_index(spark, idx),
            ).collect()
        }
    )[:1]
    assert D.delete_neardup_docs(spark, idx, dup) == 1
    # ...so the stale plan must abort loudly
    with pytest.raises(ConcurrentWriteError, match="concurrently"):
        M.commit(
            idx,
            D.NEARDUP_META,
            {**stale, "version": int(stale["version"]) + 1},
            stale,
        )


def test_neardup_rebuild_clamps_cursor_to_corpus_snapshot(spark, tmp_path):
    """ADVICE r12: a rebuild's docs frame is materialized BEFORE the
    publish lock, so a sync window committing in between is absorbed by
    the carried LIVE cursor but not by the rebuilt base — silently lost.
    With ``as_of_epoch`` (the corpus snapshot's known epoch) the carried
    cursor clamps to min(live, snapshot): the raced gap re-applies
    idempotently on the next sync instead of vanishing."""
    from es_household_retention_spark_job_spark.operators import dedup as D

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    D.build_neardup_index(docs, idx)
    pre = D._read_neardup_meta(idx)
    pre["last_epoch"] = 9  # a sync committed AFTER the corpus was read
    pre["epoch_stream"] = "cdc:/t"
    M.write_atomic(idx, D.NEARDUP_META, pre)
    # the corpus snapshot only absorbed epochs ≤ 7 → cursor winds back
    D.build_neardup_index(docs, idx, as_of_epoch=7)
    meta = D._read_neardup_meta(idx)
    assert meta["last_epoch"] == 7 and meta["epoch_stream"] == "cdc:/t"
    # a snapshot AHEAD of the live cursor never advances it (min, not set)
    pre2 = D._read_neardup_meta(idx)
    pre2["last_epoch"] = 5
    M.write_atomic(idx, D.NEARDUP_META, pre2)
    D.build_neardup_index(docs, idx, as_of_epoch=11)
    assert D._read_neardup_meta(idx)["last_epoch"] == 5


def test_neardup_rebuild_bumps_version_so_stale_racers_abort(
    spark, tmp_path
):
    """Review finding pinned: a rebuild must not reset the meta version —
    with a reset to 1, a maintenance op that planned BEFORE the rebuild
    could pass the version-only optimistic check (1 == 1) and commit a
    meta pointing at the swept old base dir, destroying the index. The
    rebuild now bumps monotonically under the publish lock, so the stale
    racer aborts loudly; the CDC cursor carries across the rebuild."""
    from es_household_retention_spark_job_spark.operators import dedup as D
    from es_household_retention_spark_job_spark.sinks.upsert import (
        ConcurrentWriteError,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    D.build_neardup_index(docs, idx)
    # move the version past 1 with a real maintenance commit
    dup = sorted(
        {
            r.dup_of
            for r in D.neardup_probe(
                docs.where(F.col("doc_id") % 10 == 1),
                D.read_neardup_index(spark, idx),
            ).collect()
        }
    )[:1]
    assert D.delete_neardup_docs(spark, idx, dup) == 1
    pre = D._read_neardup_meta(idx)
    pre["last_epoch"] = 7  # a cursor the rebuild must carry
    pre["epoch_stream"] = "cdc:/t"
    M.write_atomic(idx, D.NEARDUP_META, pre)
    # the racer plans from the pre-rebuild meta...
    stale = D._read_neardup_meta(idx)
    D.build_neardup_index(docs, idx)
    meta = D._read_neardup_meta(idx)
    assert int(meta["version"]) > int(stale["version"])
    assert meta["last_epoch"] == 7 and meta["epoch_stream"] == "cdc:/t"
    # ...and must abort now that the rebuild committed a newer generation
    with pytest.raises(ConcurrentWriteError, match="concurrently"):
        M.commit(
            idx,
            D.NEARDUP_META,
            {**stale, "version": int(stale["version"]) + 1},
            stale,
        )


def test_neardup_legacy_adopt_commits_meta_gating_crash_strays(
    spark, tmp_path
):
    """Review finding pinned: on a pre-meta (legacy) index the adopt step
    itself must WRITE the meta — otherwise a maintenance op crashing
    after landing its tombstone file but before its meta commit leaves
    the uncommitted ledger SERVED by the whole-dir fallback (docs vanish)
    while its replacement rows stay meta-gated invisible."""
    import os
    import shutil

    from es_household_retention_spark_job_spark.operators import dedup as D

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    D.build_neardup_index(docs, idx)
    # fabricate the legacy layout: plain base/, no meta
    meta = D._read_neardup_meta(idx)
    shutil.move(
        os.path.join(idx, meta["base_dir"]), os.path.join(idx, "base")
    )
    os.unlink(os.path.join(idx, "_meta.json"))
    probe_docs = docs.where(F.col("doc_id") % 10 == 1)

    def dup_of():
        return {
            r.dup_of
            for r in D.neardup_probe(
                probe_docs, D.read_neardup_index(spark, idx, id_col="doc_id")
            ).collect()
        }

    before = dup_of()
    assert before
    # the adopt (first step of every maintenance op) commits a meta
    adopted = D._adopt_neardup_meta(spark, idx, "doc_id")
    assert D._read_neardup_meta(idx) is not None
    assert adopted["tombstones"] == [] and adopted["sync"] == []
    # simulate the crash window: a landed-but-never-committed tombstone
    target = sorted(before)[:1]
    D._land_neardup_file(
        spark,
        idx,
        "tombstones",
        spark.createDataFrame(
            [(t, int(adopted["version"])) for t in target],
            "_tomb_id long, _tomb_as_of long",
        ),
        "gen",
    )
    # the stray is invisible: probes serve the full pre-crash state
    assert dup_of() == before


def test_neardup_upsert_isin_cap_falls_back_to_joins(
    spark, tmp_path, monkeypatch
):
    """Past _NEARDUP_ISIN_MAX the forever-tombstone probe and the kept-
    ledger rewrite go through broadcast semi/anti joins instead of one
    giant isin literal; forcing the cap to 0 must not change the
    resurrect semantics."""
    import os

    import pyarrow.parquet as pq

    from es_household_retention_spark_job_spark.operators import dedup as D

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    D.build_neardup_index(docs, idx)
    probe_docs = docs.where(F.col("doc_id") % 10 == 1)

    def dup_of():
        return {
            r.dup_of
            for r in D.neardup_probe(
                probe_docs, D.read_neardup_index(spark, idx)
            ).collect()
        }

    target = sorted(dup_of())[:1]
    assert D.delete_neardup_docs(spark, idx, target) == 1
    # make the ledger entry a LEGACY forever one (strip the version)
    meta = D._read_neardup_meta(idx)
    tomb_dir = os.path.join(idx, "tombstones")
    for f in meta["tombstones"]:
        pth = os.path.join(tomb_dir, f)
        t = pq.read_table(pth)
        pq.write_table(t.drop_columns(["_tomb_as_of"]), pth)
        crc = os.path.join(tomb_dir, f".{f}.crc")
        if os.path.exists(crc):
            os.unlink(crc)
    assert target[0] not in dup_of()
    monkeypatch.setattr(D, "_NEARDUP_ISIN_MAX", 0)
    back = docs.where(F.col("doc_id").isin(target))
    res = D.upsert_neardup_docs(spark, idx, back)
    assert res["appended"] == 1
    assert target[0] in dup_of()  # resurrected through the join path


def test_neardup_adopt_race_does_not_clobber_committed_meta(
    spark, tmp_path, monkeypatch
):
    """Review finding pinned: a slow adopter whose pre-lock read saw no
    meta must NOT overwrite a meta a racer committed meanwhile — it
    returns the LIVE meta instead (its own adopt file becomes an
    invisible stray), so the racer's committed ledger stays listed."""
    import os
    import shutil

    from es_household_retention_spark_job_spark.operators import dedup as D

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    D.build_neardup_index(docs, idx)
    committed = D._read_neardup_meta(idx)
    committed["version"] = 7  # a racer's later commit
    committed["tombstones"] = ["gen-racer-00000.parquet"]
    M.write_atomic(idx, D.NEARDUP_META, committed)
    orig = D._read_neardup_meta
    calls = {"n": 0}

    def stale_first(path):
        calls["n"] += 1
        if calls["n"] == 1:
            return None  # the adopter's pre-lock read: no meta yet
        return orig(path)

    monkeypatch.setattr(D, "_read_neardup_meta", stale_first)
    adopted = D._adopt_neardup_meta(spark, idx, "doc_id")
    monkeypatch.setattr(D, "_read_neardup_meta", orig)
    # the adopter LOST: the live meta is untouched and was returned
    live = D._read_neardup_meta(idx)
    assert live["version"] == 7
    assert live["tombstones"] == ["gen-racer-00000.parquet"]
    assert adopted["version"] == 7


def test_neardup_rebuild_sweep_spares_fresh_stray_generations(
    spark, tmp_path
):
    """Review finding pinned: the rebuild's sweep (now under the publish
    lock) removes only the superseded generation's files plus stray
    base-* dirs PAST the GC grace — a racer's freshly-staged base dir
    survives, while a crashed rebuild's old stray ages out."""
    import os

    from es_household_retention_spark_job_spark.operators import dedup as D

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    D.build_neardup_index(docs, idx)
    old_base = D._read_neardup_meta(idx)["base_dir"]
    racer = os.path.join(idx, "base-racerfresh")
    os.makedirs(racer)  # fresh mtime: a rebuild mid-stage
    crashed = os.path.join(idx, "base-crashedold")
    os.makedirs(crashed)
    os.utime(crashed, (1, 1))  # ancient: a crashed rebuild's leftover
    D.build_neardup_index(docs, idx)
    assert os.path.isdir(racer)  # spared (inside grace)
    assert not os.path.isdir(crashed)  # aged out
    assert not os.path.isdir(os.path.join(idx, old_base))  # superseded
    # and the index still serves
    assert D.read_neardup_index(spark, idx).count() > 0


def test_sync_serving_stack_one_window(spark, tmp_path):
    """The one-call-per-window orchestrator: a table carrying text AND
    an embedding feeds all four serving structures; one window of
    mutations + inserts + deletes flows through sync_serving_stack in
    dependency order, every structure lands on the table's current
    version, and the two cheap exactness oracles hold (full-probe ANN ==
    brute force over the resolved state; cluster view == batch). The
    cluster-without-band-index dependency raises."""
    from es_household_retention_spark_job_spark.operators import (
        clusters as C,
        dedup as D,
    )
    from es_household_retention_spark_job_spark.streaming.index_sync import (
        cdc_stream_id,
        sync_serving_stack,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    embs = load_table(spark, SF_DIR, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    combined = docs.join(embs, "doc_id")
    table = str(tmp_path / "table")
    U.write_keyed_table(combined, table, key="doc_id", n_buckets=4)
    v0 = U.current_version(table)
    stream = cdc_stream_id(table)
    state = U.read_keyed_table(spark, table)
    tidx = str(tmp_path / "text")
    aidx = str(tmp_path / "ann")
    nidx = str(tmp_path / "neardup")
    cl = str(tmp_path / "clusters")
    SE.build_text_index(state, tidx)
    S.build_ann_index(state, aidx, n_cells=4, iters=2, id_col="doc_id")
    D.build_neardup_index(state, nidx)
    C.build_cluster_table(state, cl, epoch=v0, epoch_stream=stream)

    with pytest.raises(ValueError, match="requires neardup_index"):
        sync_serving_stack(spark, table, cluster_table=cl)

    # one window: text mutations, embedding flips, fresh docs, deletes
    muts = combined.where(F.col("doc_id") % 17 == 3).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzstack zzstack"))
    )
    flips = combined.where(F.col("doc_id") % 23 == 5).withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: -x)
    )
    fresh = combined.where(F.col("doc_id") % 19 == 7).withColumn(
        "doc_id", F.col("doc_id") + 700_000
    )
    U.upsert_parquet(
        spark, table,
        muts.unionByName(flips.where(F.col("doc_id") % 17 != 3))
        .unionByName(fresh),
        key="doc_id",
    )
    U.delete_keys(
        spark, table,
        combined.where(F.col("doc_id") % 29 == 11).select("doc_id"),
        key="doc_id",
    )
    out = sync_serving_stack(
        spark, table,
        text_index=tidx, ann_index=aidx, neardup_index=nidx,
        cluster_table=cl,
        from_version=v0, emb_id_col="doc_id",
    )
    assert set(out) == {"text", "ann", "neardup", "clusters"}
    cur = U.current_version(table)
    assert all(r["to"] == cur for r in out.values())
    assert out["text"]["upserted"] > 0 and out["ann"]["upserted"] > 0

    resolved = U.read_keyed_table(spark, table)
    # ANN exactness: full-probe indexed == brute force over resolved
    queries = resolved.where(F.col("doc_id") % 50 == 0).select(
        "doc_id", "embedding"
    )
    want = _res(
        S.knn_bruteforce(
            resolved.select("doc_id", "embedding"), queries, k=3,
            id_col="doc_id",
        )
    )
    got = _res(
        S.knn_ivf_indexed(
            spark, aidx, queries, k=3, n_probe=4, id_col="doc_id"
        )
    )
    assert got == want and got
    # cluster view == batch over the resolved corpus
    batch = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in D.duplicate_clusters(
            D.minhash_lsh_pairs(resolved.select("doc_id", "text"))
        ).collect()
    )
    served = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in C.read_dedup_clusters(spark, cl).collect()
    )
    # deletes can sever bridges (conservative divergence) — this window
    # deletes clique members of replica groups, so equality should hold;
    # if the corpus ever changes shape, fall back to the contract check
    assert served == batch
    # a second call is a clean no-op everywhere
    out2 = sync_serving_stack(
        spark, table,
        text_index=tidx, ann_index=aidx, neardup_index=nidx,
        cluster_table=cl, emb_id_col="doc_id",
    )
    assert all(r["from"] == r["to"] for r in out2.values())


def test_choose_maintenance_routing_pins():
    """VERDICT r12 #2: the sync-vs-rebuild cost rule, pure-function pins.
    A sub-crossover corpus rebuilds (the sync's fixed floor dwarfs one
    small pass); a large corpus syncs (O(changes) beats O(table)); a
    window touching most of the table rebuilds regardless."""
    from es_household_retention_spark_job_spark.streaming.index_sync import (
        choose_maintenance,
    )

    for kind in ("text", "ann", "neardup", "clusters"):
        small = choose_maintenance(5_000, 500, structure=kind)
        big = choose_maintenance(600_000, 500, structure=kind)
        assert small["route"] == "rebuild", (kind, small)
        assert big["route"] == "sync", (kind, big)
        # monotone in n_changes: more changes never flips rebuild→sync
        assert choose_maintenance(600_000, 500_000, structure=kind)[
            "route"
        ] == "rebuild"
    # change-fraction override fires even when the formula prefers sync
    out = choose_maintenance(600_000, 200_000, structure="text")
    assert out["route"] == "rebuild" and out["reason"] == "change_fraction"
    # explicit weights beat defaults (the env/arg recalibration hook)
    forced = choose_maintenance(
        5_000, 500, structure="text", floor_rows=0, row_weight=0.1
    )
    assert forced["route"] == "sync"
    with pytest.raises(ValueError, match="unknown structure"):
        choose_maintenance(1, 1, structure="bm25")


def test_maintain_index_routes_and_serves(spark, tmp_path):
    """maintain_index end-to-end on text + neardup + clusters: the small
    test corpus routes to REBUILD (sub-crossover), the rebuilt structures
    serve exactly like fresh builds, the cursor resumes the CDC loop
    (next maintain is a no-op), and a forced-sync decision (floor 0)
    drives the same window through the sync arm with equal results."""
    from es_household_retention_spark_job_spark.operators import (
        clusters as C,
        dedup as D,
    )
    from es_household_retention_spark_job_spark.streaming.index_sync import (
        maintain_index,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    table = str(tmp_path / "table")
    tidx = str(tmp_path / "tidx")
    nidx = str(tmp_path / "nidx")
    cl = str(tmp_path / "cl")
    U.write_keyed_table(docs, table, key="doc_id", n_buckets=4)
    v0 = U.current_version(table)
    stream_docs = U.read_keyed_table(spark, table)
    SE.build_text_index(stream_docs, tidx)
    D.build_neardup_index(stream_docs, nidx)
    C.build_cluster_table(
        stream_docs, cl, epoch=v0,
        epoch_stream=f"cdc:{__import__('os').path.abspath(table)}",
    )

    # one mixed window: inserts + text changes + deletes
    changed = docs.where(F.col("doc_id") % 13 == 4).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzzrouted"))
    )
    fresh = docs.where(F.col("doc_id") % 19 == 7).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "text"
    )
    U.upsert_parquet(spark, table, changed.unionByName(fresh), key="doc_id")
    U.delete_keys(
        spark, table,
        docs.where(F.col("doc_id") % 23 == 11).select("doc_id"),
        key="doc_id",
    )

    out_t = maintain_index(spark, "text", tidx, table, from_version=v0)
    assert out_t["route"] == "rebuild"           # sub-crossover corpus
    assert out_t["decision"]["reason"] == "cost"
    out_n = maintain_index(spark, "neardup", nidx, table, from_version=v0)
    assert out_n["route"] == "rebuild"
    out_c = maintain_index(
        spark, "clusters", cl, table, neardup_index=nidx,
    )
    assert out_c["route"] == "rebuild"

    resolved = U.read_keyed_table(spark, table)
    queries = [("q1", "data quality filter"), ("qz", "zzzrouted")]
    rebuilt = str(tmp_path / "fresh_tidx")
    SE.build_text_index(resolved, rebuilt)
    assert _res(SE.bm25_search_indexed(spark, tidx, queries, k=10)) == _res(
        SE.bm25_search_indexed(spark, rebuilt, queries, k=10)
    )
    want_clusters = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in D.duplicate_clusters(
            D.minhash_lsh_pairs(resolved)
        ).collect()
    )
    assert sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in C.read_dedup_clusters(spark, cl).collect()
    ) == want_clusters

    # cursor resumed: nothing pending on any structure
    assert maintain_index(spark, "text", tidx, table)["route"] == "none"
    assert maintain_index(spark, "neardup", nidx, table)["route"] == "none"
    assert maintain_index(
        spark, "clusters", cl, table, neardup_index=nidx
    )["route"] == "none"

    # second window through the FORCED sync arm (floor 0): same window,
    # other arm, equal service — the router only picks, never changes
    # semantics
    U.upsert_parquet(
        spark, table,
        spark.createDataFrame(
            [(900_001, "routed sync arm twin doc zzzrouted")],
            "doc_id long, text string",
        ),
        key="doc_id",
    )
    forced = {"route": "sync"}
    out2 = maintain_index(spark, "text", tidx, table, route=forced)
    assert out2["route"] == "sync" and out2["upserted"] == 1
    out2n = maintain_index(spark, "neardup", nidx, table, route=forced)
    assert out2n["route"] == "sync" and out2n["upserted"] == 1
    out2c = maintain_index(
        spark, "clusters", cl, table, neardup_index=nidx, route=forced
    )
    assert out2c["route"] == "sync"
    resolved2 = U.read_keyed_table(spark, table)
    rebuilt2 = str(tmp_path / "fresh_tidx2")
    SE.build_text_index(resolved2, rebuilt2)
    assert _res(
        SE.bm25_search_indexed(spark, tidx, queries, k=10)
    ) == _res(SE.bm25_search_indexed(spark, rebuilt2, queries, k=10))
    assert sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in C.read_dedup_clusters(spark, cl).collect()
    ) == sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in D.duplicate_clusters(
            D.minhash_lsh_pairs(resolved2)
        ).collect()
    )
    # guardrails
    with pytest.raises(ValueError, match="needs neardup_index"):
        maintain_index(spark, "clusters", cl, table)
    with pytest.raises(ValueError, match="unknown kind"):
        maintain_index(spark, "lucene", cl, table)


def test_maintain_index_ann_rebuild_keeps_geometry_and_cursor(
    spark, tmp_path
):
    """The ANN rebuild arm: keeps the live index's n_cells, retrains on
    the pinned snapshot, commits the cursor — serving equals a fresh
    same-geometry build over the resolved table, and the CDC loop
    resumes (next maintain: none; a later window syncs when forced)."""
    from es_household_retention_spark_job_spark.streaming.index_sync import (
        maintain_index,
    )

    embs = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    table = str(tmp_path / "etable")
    idx = str(tmp_path / "eidx")
    U.write_keyed_table(embs, table, key="vec_id", n_buckets=4)
    v0 = U.current_version(table)
    S.build_ann_index(U.read_keyed_table(spark, table), idx, n_cells=8)

    shifted = embs.where(F.col("vec_id") % 31 == 3).select(
        (F.col("vec_id") + 700_000).alias("vec_id"), "embedding"
    )
    U.upsert_parquet(spark, table, shifted, key="vec_id")
    out = maintain_index(spark, "ann", idx, table, from_version=v0)
    assert out["route"] == "rebuild"
    man = S._read_ann_manifest(idx)
    assert int(man["n_cells"]) == 8  # geometry preserved
    assert maintain_index(spark, "ann", idx, table)["route"] == "none"
    # full-probe serving equals exact brute force over the resolved table
    queries = embs.where(F.col("vec_id") % 50 == 0)
    want = _res(
        S.knn_bruteforce(U.read_keyed_table(spark, table), queries, k=5)
    )
    assert _res(
        S.knn_ivf_indexed(spark, idx, queries, k=5, n_probe=8)
    ) == want


def test_sync_ann_auto_split_tracks_corpus_sqrt(spark, tmp_path, monkeypatch):
    """VERDICT r12 #6: a synced ANN index keeps its cells at ≤ factor·√n
    rows by splitting on growth — no manual n_cells override. At test
    scale the min-bound guard normally suppresses splits (pinned first);
    with the guard lowered, a sync over a grown corpus splits cells and
    full-probe serving still equals exact brute force over the resolved
    table (splits refine the quantizer, never lose rows)."""
    from es_household_retention_spark_job_spark.streaming.index_sync import (
        sync_ann_index,
    )

    embs = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    table = str(tmp_path / "table")
    idx = str(tmp_path / "idx")
    U.write_keyed_table(embs, table, key="vec_id", n_buckets=4)
    v0 = U.current_version(table)
    S.build_ann_index(
        U.read_keyed_table(spark, table), idx, n_cells=4, iters=2
    )

    # default guard: toy corpora never split (bound floor 2048 rows)
    grown = embs.select((F.col("vec_id") + 800_000).alias("vec_id"),
                        "embedding")
    U.upsert_parquet(spark, table, grown, key="vec_id")
    out = sync_ann_index(spark, idx, table, from_version=v0)
    assert out["upserted"] > 0 and out["cells_split"] == 0
    assert int(S._read_ann_manifest(idx)["n_cells"]) == 4

    # lowered guard: the next window triggers √n splits
    monkeypatch.setenv("SPARK_GRAFT_ANN_SPLIT_MIN_BOUND", "64")
    monkeypatch.setenv("SPARK_GRAFT_ANN_SPLIT_FACTOR", "2")
    more = embs.select((F.col("vec_id") + 900_000).alias("vec_id"),
                       "embedding")
    U.upsert_parquet(spark, table, more, key="vec_id")
    out2 = sync_ann_index(spark, idx, table)
    assert out2["cells_split"] > 0
    man = S._read_ann_manifest(idx)
    n_cells = int(man["n_cells"])
    assert n_cells > 4
    # converged: another maintenance call makes no further progress
    # (remaining over-bound cells, if any, are degenerate — identical
    # vectors that a 2-means cannot separate; split_ann_cells documents
    # them unsplittable) — and the typical cell sits under the bound
    from es_household_retention_spark_job_spark.streaming.index_sync import (
        split_synced_ann_cells,
    )

    assert split_synced_ann_cells(spark, idx) == 0
    man = S._read_ann_manifest(idx)
    rows = S._manifest_cell_rows(spark, idx, man)
    total = sum(int(n) for n in rows.values())
    bound = max(int(2 * total**0.5), 64)
    import statistics

    assert statistics.median(int(n) for n in rows.values()) <= bound
    # serving exactness survives the reshape: full probes == brute force
    queries = embs.where(F.col("vec_id") % 50 == 0)
    want = _res(
        S.knn_bruteforce(U.read_keyed_table(spark, table), queries, k=5)
    )
    assert _res(
        S.knn_ivf_indexed(spark, idx, queries, k=5, n_probe=n_cells)
    ) == want
    # a converged index is a manifest-only no-op on the next sync
    U.upsert_parquet(
        spark, table,
        spark.createDataFrame(
            [(999_999, [0.5] * len(embs.first()["embedding"]))],
            embs.schema,
        ),
        key="vec_id",
    )
    out3 = sync_ann_index(spark, idx, table)
    assert out3["cells_split"] == 0


def test_serving_stack_route_maintenance(spark, tmp_path):
    """sync_serving_stack(route_maintenance=True): the cost rule picks
    per structure (all REBUILD on this sub-crossover corpus), cursors
    land at the window end so the stack resumes (second call: none),
    and the four structures serve the resolved state."""
    from es_household_retention_spark_job_spark.operators import (
        clusters as C,
        dedup as D,
    )
    from es_household_retention_spark_job_spark.streaming.index_sync import (
        cdc_stream_id,
        sync_serving_stack,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    embs = load_table(spark, SF_DIR, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    base = docs.join(embs, "doc_id")
    table = str(tmp_path / "table")
    U.write_keyed_table(base, table, key="doc_id", n_buckets=4)
    v0 = U.current_version(table)
    state = U.read_keyed_table(spark, table)
    tidx, aidx = str(tmp_path / "t"), str(tmp_path / "a")
    nidx, cl = str(tmp_path / "n"), str(tmp_path / "c")
    SE.build_text_index(state, tidx)
    S.build_ann_index(state, aidx, n_cells=4, iters=2, id_col="doc_id")
    D.build_neardup_index(state, nidx)
    C.build_cluster_table(
        state, cl, epoch=v0, epoch_stream=cdc_stream_id(table)
    )
    U.upsert_parquet(
        spark, table,
        base.limit(40).select(
            (F.col("doc_id") + 600_000).alias("doc_id"),
            "text", "embedding",
        ),
        key="doc_id",
    )
    out = sync_serving_stack(
        spark, table, text_index=tidx, ann_index=aidx,
        neardup_index=nidx, cluster_table=cl, from_version=v0,
        emb_id_col="doc_id", route_maintenance=True,
    )
    assert {k: v["route"] for k, v in out.items()} == {
        "text": "rebuild", "ann": "rebuild",
        "neardup": "rebuild", "clusters": "rebuild",
    }
    again = sync_serving_stack(
        spark, table, text_index=tidx, ann_index=aidx,
        neardup_index=nidx, cluster_table=cl,
        emb_id_col="doc_id", route_maintenance=True,
    )
    assert all(v["route"] == "none" for v in again.values())
    # the rebuilt cluster view serves the resolved state
    resolved = U.read_keyed_table(spark, table).select("doc_id", "text")
    assert sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in C.read_dedup_clusters(spark, cl).collect()
    ) == sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in D.duplicate_clusters(
            D.minhash_lsh_pairs(resolved)
        ).collect()
    )
