"""Partial-COLUMN merge-on-read deltas (round 11, r10 verdict #1): an MoR
upsert whose updates carry a strict subset of the stored columns appends
delta rows carrying ONLY those columns — no base read — and reads fold per
column (latest carrying writer wins). These tests pin:

* the write path's O(delta) contract: delta files physically contain only
  the carried columns, and NO base/bucket file is rewritten;
* per-column resolution semantics incl. set-to-null vs column-absent,
  tombstone-then-partial-reinsert, and full-width supersession;
* every read surface over a partial-dirty table: full scan, point lookup,
  time travel, change feed (append fast path), CoW merge target,
  compaction fold, and the incremental-aggregate fold;
* the env escape hatch (SPARK_GRAFT_SINK_PARTIAL=off → round-10 full-width
  merge behavior).

Reference: the ES sink's partial-document upsert (HRP:297-302) — "fields
present in the update replace the stored fields" — which is a per-FIELD
contract; partial deltas are that contract pushed down into the storage
representation instead of being re-materialized through a merge.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from es_household_retention_spark_job_spark.sinks.upsert import (
    _with_bucket,
    compact_keyed_table,
    current_version,
    delete_keys,
    read_changes,
    read_keyed_table,
    table_app_meta,
    upsert_parquet,
    write_keyed_table,
)


def _mor(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")


def _manifest(path):
    import json

    with open(os.path.join(path, "_live_manifest.json")) as f:
        return json.load(f)


def _state(spark, path, version=None):
    return {
        r["k"]: {c: r[c] for c in r.asDict() if c != "k"}
        for r in read_keyed_table(spark, path, version=version).collect()
    }


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "pt")
    write_keyed_table(
        spark.createDataFrame(
            [("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z")],
            "k string, v int, w string",
        ),
        path,
        key="k",
        n_buckets=4,
    )
    return path


def test_partial_upsert_no_base_io_and_correct(spark, table, monkeypatch):
    """The headline contract: a subset-column MoR upsert touches NO base
    file (live lists only EXTEND), the delta files physically carry only
    the update's columns, and the resolved read merges per column."""
    _mor(monkeypatch)
    before = _manifest(table)
    upsert_parquet(
        spark,
        table,
        spark.createDataFrame([("b", 20), ("d", 40)], "k string, v int"),
        key="k",
        n_buckets=4,
    )
    after = _manifest(table)
    # append-only: every pre-existing live file is still live
    for d, fs in before["live"].items():
        assert set(fs) <= set(after["live"].get(d, []))
    assert not after["garbage"]
    # the ledger records the partial column list per delta file
    mor_cols = after.get("mor_cols") or {}
    delta_files = [(d, f) for d, fs in (after.get("mor") or {}).items() for f in fs]
    assert delta_files
    for d, f in delta_files:
        assert mor_cols[d][f] == ["v"]
        # the file physically carries ONLY (k, v, _seq): absent columns
        # are not written at all — this is what makes the delta bytes
        # O(changed columns), not O(row width)
        import pyarrow.parquet as pq

        names = set(
            pq.ParquetFile(os.path.join(table, d, f)).schema_arrow.names
        )
        assert names == {"k", "v", "_seq"}
    assert _state(spark, table) == {
        "a": {"v": 1, "w": "x"},
        "b": {"v": 20, "w": "y"},  # v replaced, w PRESERVED through the fold
        "c": {"v": 3, "w": "z"},
        "d": {"v": 40, "w": None},  # insert: missing columns null
    }


def test_partial_set_null_vs_absent(spark, table, monkeypatch):
    """A partial update carrying an explicit NULL sets the column to null
    (the column is in the mask); a column absent from the update is
    untouched — the distinction the mor_cols ledger exists to keep."""
    _mor(monkeypatch)
    upsert_parquet(
        spark,
        table,
        spark.createDataFrame([("a", None)], "k string, v int"),
        key="k",
        n_buckets=4,
    )
    upsert_parquet(
        spark,
        table,
        spark.createDataFrame([("b", None)], "k string, w string"),
        key="k",
        n_buckets=4,
    )
    assert _state(spark, table) == {
        "a": {"v": None, "w": "x"},  # v explicitly nulled, w untouched
        "b": {"v": 2, "w": None},  # w explicitly nulled, v untouched
        "c": {"v": 3, "w": "z"},
    }


def test_partial_per_column_latest_writer(spark, table, monkeypatch):
    """Two partial upserts on DIFFERENT columns of one key both apply; a
    later partial on the same column supersedes only that column."""
    _mor(monkeypatch)
    for cols, rows in (
        ("k string, v int", [("a", 100)]),
        ("k string, w string", [("a", "xx")]),
        ("k string, v int", [("a", 101)]),
    ):
        upsert_parquet(
            spark, table, spark.createDataFrame(rows, cols), key="k", n_buckets=4
        )
    assert _state(spark, table)["a"] == {"v": 101, "w": "xx"}


def test_partial_tombstone_then_reinsert(spark, table, monkeypatch):
    """Delete-then-partial-upsert re-INSERTS the key with only the
    partial's columns (ES delete-then-index): pre-delete column values
    must NOT resurrect through the fold."""
    _mor(monkeypatch)
    delete_keys(
        spark, table, spark.createDataFrame([("a",)], "k string"), key="k"
    )
    assert "a" not in _state(spark, table)
    upsert_parquet(
        spark,
        table,
        spark.createDataFrame([("a", 9)], "k string, v int"),
        key="k",
        n_buckets=4,
    )
    # w was "x" before the delete; the reinserted row must read w=null
    assert _state(spark, table)["a"] == {"v": 9, "w": None}


def test_partial_then_fullwidth_supersedes(spark, table, monkeypatch):
    """A later FULL-width MoR upsert supersedes every column, including
    ones a partial delta wrote earlier."""
    _mor(monkeypatch)
    upsert_parquet(
        spark,
        table,
        spark.createDataFrame([("a", 100)], "k string, v int"),
        key="k",
        n_buckets=4,
    )
    upsert_parquet(
        spark,
        table,
        spark.createDataFrame([("a", 7, "full")], "k string, v int, w string"),
        key="k",
        n_buckets=4,
    )
    assert _state(spark, table)["a"] == {"v": 7, "w": "full"}


def test_cow_merge_onto_partial_dirty_table(spark, table, monkeypatch):
    """A CoW upsert whose affected buckets carry partial deltas merges
    against the per-column-RESOLVED state (a full-row window would let
    the partial file's null-filled absent columns clobber base values),
    and its rewrite clears the buckets' mor_cols ledger entries."""
    _mor(monkeypatch)
    upsert_parquet(
        spark,
        table,
        spark.createDataFrame([("a", 100), ("b", 200)], "k string, v int"),
        key="k",
        n_buckets=4,
    )
    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "cow")
    # full-width CoW upsert touching EVERY bucket (all keys)
    upsert_parquet(
        spark,
        table,
        spark.createDataFrame([("c", 33, "zz")], "k string, v int, w string"),
        key="k",
        n_buckets=4,
    )
    assert _state(spark, table) == {
        "a": {"v": 100, "w": "x"},  # partial v survived, base w survived
        "b": {"v": 200, "w": "y"},
        "c": {"v": 33, "w": "zz"},
    }
    man = _manifest(table)
    # only bucket(s) the CoW write touched clear their ledger entries;
    # c hashes to one bucket — a/b's partial deltas may legitimately stay
    for d in man.get("mor_cols", {}):
        assert d in man.get("mor", {})


def test_partial_compaction_folds_and_unpins_seq(spark, table, monkeypatch):
    """Compaction folds partial deltas into resolved base rows; once the
    last delta folds, the pinned schema drops _seq (reads stop paying the
    reconciliation window) and the state is unchanged."""
    _mor(monkeypatch)
    upsert_parquet(
        spark,
        table,
        spark.createDataFrame([("a", 100), ("d", 4)], "k string, v int"),
        key="k",
        n_buckets=4,
    )
    want = _state(spark, table)
    assert compact_keyed_table(spark, table) > 0
    man = _manifest(table)
    assert not man.get("mor") and not man.get("mor_cols")
    assert _state(spark, table) == want
    import json

    with open(os.path.join(table, "_keyed_layout.json")) as f:
        schema_cols = [x["name"] for x in json.load(f)["schema"]["fields"]]
    assert "_seq" not in schema_cols


def test_partial_point_lookup_and_time_travel(spark, table, monkeypatch):
    """keys= lookups over a partial-dirty table serve the folded state;
    version= reproduces the pre-partial state from the snapshot."""
    _mor(monkeypatch)
    v0 = current_version(table)
    upsert_parquet(
        spark,
        table,
        spark.createDataFrame([("a", 100), ("d", 4)], "k string, v int"),
        key="k",
        n_buckets=4,
    )
    got = {
        r["k"]: (r["v"], r["w"])
        for r in read_keyed_table(spark, table, keys=["a", "d", "c"]).collect()
    }
    assert got == {"a": (100, "x"), "d": (4, None), "c": (3, "z")}
    pinned = _state(spark, table, version=v0)
    assert pinned["a"] == {"v": 1, "w": "x"} and "d" not in pinned
    # and the composition: point lookup AT the pinned version
    old = {
        r["k"]: r["v"]
        for r in read_keyed_table(spark, table, version=v0, keys=["a"]).collect()
    }
    assert old == {"a": 1}


def test_partial_change_feed_append_fast_path(spark, table, monkeypatch):
    """A feed window over partial publishes (which record NO CDC sidecar)
    is served by the partial-aware append fast path: updates report
    preimage/postimage with the UNTOUCHED columns carried correctly on
    both sides, inserts report the null-filled insert row."""
    _mor(monkeypatch)
    v0 = current_version(table)
    upsert_parquet(
        spark,
        table,
        spark.createDataFrame([("a", 100), ("d", 4)], "k string, v int"),
        key="k",
        n_buckets=4,
    )
    upsert_parquet(
        spark,
        table,
        spark.createDataFrame([("a", "xx")], "k string, w string"),
        key="k",
        n_buckets=4,
    )
    feed = {
        (r["k"], r["_change_type"]): (r["v"], r["w"])
        for r in read_changes(spark, table, v0).collect()
    }
    assert feed == {
        ("a", "update_preimage"): (1, "x"),
        # netted across the window: v from publish 1, w from publish 2,
        # base columns riding through the fold
        ("a", "update_postimage"): (100, "xx"),
        ("d", "insert"): (4, None),
    }
    # no sidecar was recorded for the partial publishes
    man = _manifest(table)
    for v in range(v0 + 1, current_version(table) + 1):
        assert str(v) not in (man.get("cdc") or {})


def test_partial_feed_folds_into_incremental_aggregate(spark, tmp_path, monkeypatch):
    """The downstream consumer contract: fold_aggregate brought current by
    folding a feed window that spans PARTIAL publishes equals a fresh
    recompute (the fold consumes the append-fast-path diff)."""
    from es_household_retention_spark_job_spark.sinks.incremental_agg import (
        fold_aggregate,
        read_aggregate,
    )

    path = str(tmp_path / "t")
    agg = str(tmp_path / "agg")
    rows = [(f"k{i}", i % 3, i * 10) for i in range(30)]
    write_keyed_table(
        spark.createDataFrame(rows, "k string, g int, m long"),
        path,
        key="k",
        n_buckets=4,
    )
    fold_aggregate(spark, path, agg, "g", ("m",), n_buckets=2)
    _mor(monkeypatch)
    # partial update of the MEASURE column only (the fold's group column
    # rides through the per-column resolution from the base rows; a
    # partial INSERT would carry a null group key, which fold_aggregate
    # loudly rejects — inserts belong to full-width batches)
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("k1", 1000), ("k2", 2000)], "k string, m long"),
        key="k",
        n_buckets=4,
    )
    fold_aggregate(spark, path, agg, "g", ("m",), n_buckets=2)
    got = {
        r["g"]: (r["cnt"], r["sum_m"])
        for r in read_aggregate(spark, agg).collect()
    }
    want = {
        r["g"]: (r["cnt"], r["sum_m"])
        for r in read_keyed_table(spark, path)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("m").cast("long").alias("sum_m"),
        )
        .collect()
    }
    assert got == want


def test_partial_schema_evolution_new_column(spark, table, monkeypatch):
    """A partial delta may carry a column the store has never seen: the
    pinned schema evolves in the same commit and every other row reads
    the new column as null."""
    _mor(monkeypatch)
    upsert_parquet(
        spark,
        table,
        spark.createDataFrame([("a", 5)], "k string, nw int"),
        key="k",
        n_buckets=4,
    )
    st = _state(spark, table)
    assert st["a"] == {"v": 1, "w": "x", "nw": 5}
    assert st["b"] == {"v": 2, "w": "y", "nw": None}


def test_partial_disabled_env_restores_merge_path(spark, table, monkeypatch):
    """SPARK_GRAFT_SINK_PARTIAL=off: subset-column MoR upserts take the
    round-10 full-width merge path — same resolved state, full-width
    delta rows, no mor_cols ledger."""
    _mor(monkeypatch)
    monkeypatch.setenv("SPARK_GRAFT_SINK_PARTIAL", "off")
    upsert_parquet(
        spark,
        table,
        spark.createDataFrame([("b", 20), ("d", 40)], "k string, v int"),
        key="k",
        n_buckets=4,
    )
    man = _manifest(table)
    assert man.get("mor") and not man.get("mor_cols")
    assert _state(spark, table)["b"] == {"v": 20, "w": "y"}
    assert _state(spark, table)["d"] == {"v": 40, "w": None}


def test_partial_buckets_come_from_the_staged_write(spark, table, monkeypatch):
    """The partial path reads its touched buckets off the staged write
    instead of collecting them first. An empty batch stages none: with
    ``app_meta`` it commits exactly one cursor-only version and writes no
    data file; without it the version does not move. A non-empty batch
    lands exactly one delta file in each bucket its keys hash to."""
    import glob

    _mor(monkeypatch)

    def data_files():
        return sorted(glob.glob(os.path.join(table, "_bucket=*", "*.parquet")))

    files, v0 = data_files(), current_version(table)
    empty = spark.createDataFrame([], "k string, v int")
    upsert_parquet(spark, table, empty, key="k", n_buckets=4)
    assert current_version(table) == v0
    upsert_parquet(spark, table, empty, key="k", n_buckets=4, app_meta={"c": 7})
    assert current_version(table) == v0 + 1
    assert table_app_meta(table) == {"c": 7}
    assert data_files() == files and not _manifest(table).get("mor")
    assert _state(spark, table)["a"] == {"v": 1, "w": "x"}

    updates = spark.createDataFrame(
        [(k, i) for i, k in enumerate("abcdefgh")], "k string, v int"
    )
    upsert_parquet(spark, table, updates, key="k", n_buckets=4)
    hashed = {
        r[0]
        for r in _with_bucket(updates, "k", 4).select("_bucket").distinct().collect()
    }
    mor = _manifest(table)["mor"]
    assert sorted(mor) == sorted(f"_bucket={b}" for b in hashed)
    assert all(len(fs) == 1 for fs in mor.values())
    assert table_app_meta(table) == {"c": 7}  # the cursor survives
    assert _state(spark, table)["h"] == {"v": 7, "w": None}


def test_partial_random_sequences_match_dict_model(spark, tmp_path, monkeypatch):
    """Property check: a random interleaving of partial upserts (varying
    column subsets), full-width upserts, deletes, a mid-sequence CoW
    write, and a mid-sequence compaction matches the dict model — the
    partial twin of the MoR dict-model test, with deletes in the mix."""
    import random

    _mor(monkeypatch)
    rng = random.Random(20260815)
    keys = [f"K{i}" for i in range(8)]
    all_cols = ["v", "w", "z"]
    model: dict[str, dict] = {}
    path = str(tmp_path / "prop")
    write_keyed_table(
        spark.createDataFrame(
            [(k, 0, 0, 0) for k in keys[:4]],
            "person_id string, v long, w long, z long",
        ),
        path,
        n_buckets=4,
    )
    model.update({k: {"v": 0, "w": 0, "z": 0} for k in keys[:4]})

    for step in range(10):
        op = rng.choice(["partial", "partial", "full", "delete"])
        if op == "delete":
            dk = rng.sample(list(model) or keys, 1)
            delete_keys(
                spark,
                path,
                spark.createDataFrame([(k,) for k in dk], "person_id string"),
            )
            for k in dk:
                model.pop(k, None)
            continue
        cols = (
            all_cols
            if op == "full"
            else rng.sample(all_cols, rng.randint(1, 2))
        )
        batch_keys = rng.sample(keys, rng.randint(1, 4))
        rows = [
            tuple([k] + [rng.randint(0, 99) for _ in cols]) for k in batch_keys
        ]
        schema = "person_id string, " + ", ".join(f"{c} long" for c in cols)
        if step == 7:  # one batch lands as a CoW rewrite mid-sequence
            monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "cow")
        upsert_parquet(
            spark, path, spark.createDataFrame(rows, schema), n_buckets=4
        )
        if step == 7:
            monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")
        for row in rows:
            k, vals = row[0], dict(zip(cols, row[1:]))
            fresh = k not in model
            model.setdefault(k, {c: None for c in all_cols})
            if op == "full" or not fresh:
                model[k].update(vals)
            else:  # insert via partial: absent columns null
                model[k].update(vals)
        if step == 4:
            compact_keyed_table(spark, path)

    got = {
        r["person_id"]: {c: r[c] for c in all_cols}
        for r in read_keyed_table(spark, path).collect()
    }
    want = {
        k: {c: vals.get(c) for c in all_cols} for k, vals in model.items()
    }
    assert got == want


def test_choose_compaction_policy(spark, tmp_path, monkeypatch):
    """Manifest-driven per-bucket compaction policy: buckets whose
    projected read-tax savings beat their rewrite cost are chosen; a
    write-mostly posture (expected_reads=0... low) chooses nothing for
    tiny deltas over fat buckets; compact_keyed_table(buckets=...) folds
    ONLY the chosen set."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        choose_compaction,
    )

    _mor(monkeypatch)
    path = str(tmp_path / "cp")
    write_keyed_table(
        spark.createDataFrame(
            [(f"k{i}", i, "x" * 200) for i in range(400)],
            "k string, v int, pad string",
        ),
        path,
        key="k",
        n_buckets=4,
    )
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([(f"k{i}", i + 1) for i in range(0, 400, 3)], "k string, v int"),
        key="k",
        n_buckets=4,
    )
    man = _manifest(path)
    dirty = sorted(man.get("mor") or {})
    assert dirty
    # read-hot default (expected_reads=8, fixed tax 256KB): every dirty
    # bucket's projected tax beats its tiny rewrite at this toy scale
    # (max_files high so only the COST rule is under test — the parallel
    # initial load legitimately leaves many small base files per bucket,
    # which is the separate file-count trigger asserted below)
    chosen = choose_compaction(path, max_files_per_bucket=100)
    assert chosen == dirty
    # write-mostly: with one expected read and a zeroed fixed tax, tiny
    # deltas over fatter bases are left to ride
    monkeypatch.setenv("SPARK_GRAFT_COMPACT_TAX_BYTES", "0")
    assert choose_compaction(path, expected_reads=1, max_files_per_bucket=100) == []
    monkeypatch.delenv("SPARK_GRAFT_COMPACT_TAX_BYTES")
    # the small-file trigger stands on its own: the parallel initial load
    # left > 4 files in some bucket
    assert choose_compaction(path, expected_reads=1)

    want = _state(spark, path)
    # selective compaction folds only the chosen subset
    sub = chosen[:2]
    assert compact_keyed_table(spark, path, buckets=sub) == len(sub)
    man2 = _manifest(path)
    assert all(d not in (man2.get("mor") or {}) for d in sub)
    assert all(d in (man2.get("mor") or {}) for d in chosen[2:])
    assert _state(spark, path) == want


def test_column_scoped_feed_semantics_and_pruning(spark, tmp_path, monkeypatch):
    """read_changes(columns=...) scopes the feed: only the named columns
    are compared/reported, a key whose scoped values are unchanged nets
    out, and — the scan-width lever — the state-diff tiers' preimage
    reads prune the UNSELECTED wide columns from the parquet scans
    (plan-pinned on the partial-window path, where the preimage scan is
    the inherent cost)."""
    from es_household_retention_spark_job_spark import plans as P

    _mor(monkeypatch)
    path = str(tmp_path / "scoped")
    write_keyed_table(
        spark.createDataFrame(
            [(f"k{i}", i, i * 10, "pad" * 50) for i in range(40)],
            "k string, v long, w long, pad string",
        ),
        path,
        key="k",
        n_buckets=4,
    )
    v0 = current_version(path)
    # partial publish 1: changes v for k0..k9
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([(f"k{i}", 1000 + i) for i in range(10)], "k string, v long"),
        key="k",
        n_buckets=4,
    )
    # partial publish 2: changes ONLY w for k20..k24 (out of scope below)
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([(f"k{i}", 7) for i in range(20, 25)], "k string, w long"),
        key="k",
        n_buckets=4,
    )
    scoped = read_changes(spark, path, v0, columns=["v"])
    got = {
        (r["k"], r["_change_type"]): r["v"] for r in scoped.collect()
    }
    # v-changes reported with pre/post pairs; w-only changes net out
    assert set(scoped.columns) == {"k", "v", "_change_type"}
    assert got == {
        **{(f"k{i}", "update_preimage"): i for i in range(10)},
        **{(f"k{i}", "update_postimage"): 1000 + i for i in range(10)},
    }
    # the wide pad column never leaves the scans of the scoped feed
    P.assert_column_pruned(scoped, "pad")
    # full-row feed still reports the w-only changes
    full = read_changes(spark, path, v0)
    assert {
        (r["k"], r["_change_type"]) for r in full.collect() if r["k"] == "k20"
    } == {("k20", "update_preimage"), ("k20", "update_postimage")}

    # tier-0 (capture sidecar) scoping: same semantics under default CoW
    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "cow")
    p2 = str(tmp_path / "scoped_cow")
    write_keyed_table(
        spark.createDataFrame(
            [("a", 1, 10), ("b", 2, 20)], "k string, v long, w long"
        ),
        p2,
        key="k",
        n_buckets=2,
    )
    v0b = current_version(p2)
    upsert_parquet(
        spark,
        p2,
        spark.createDataFrame([("a", 1, 99), ("b", 5, 20)], "k string, v long, w long"),
        key="k",
        n_buckets=2,
    )
    sc = {
        (r["k"], r["_change_type"]): r["v"]
        for r in read_changes(spark, p2, v0b, columns=["v"]).collect()
    }
    # a's change is w-only -> nets out of the scoped feed; b's v change
    # reports
    assert sc == {
        ("b", "update_preimage"): 2,
        ("b", "update_postimage"): 5,
    }


# ---------------------------------------------------------------------------
# Property test for the per-column fold itself (hypothesis): random event
# histories per key — base rows, masked partial rows, full rows, tombstones,
# in arbitrary sequence order — must resolve exactly like a sequential
# dict-replay of the same events. This is the deepest logic the round-11
# sink added (tombstone cutoffs interacting with per-column carrying
# masks); the scripted tests pin named scenarios, this pins the space.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_COLS = ["v", "w"]

# one event per key per sequence slot: base row (seq 0, all columns),
# delta carrying a column subset (possibly explicit nulls), or tombstone
_EVENT = st.one_of(
    st.tuples(
        st.just("delta"),
        st.sets(st.sampled_from(_COLS), min_size=1),
        st.integers(0, 9),
    ),
    st.tuples(st.just("tomb"), st.just(frozenset()), st.just(0)),
)
_HISTORY = st.tuples(st.booleans(), st.lists(_EVENT, min_size=0, max_size=5))


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(hist=_HISTORY)
def test_fold_resolve_matches_dict_replay(spark, hist):
    from pyspark.sql import Row
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from es_household_retention_spark_job_spark.sinks.upsert import (
        _fold_resolve,
    )

    has_base, events = hist
    rows, model, alive = [], {c: None for c in _COLS}, False
    if has_base:
        rows.append(Row(k="K", v=100, w=200, _seq=None, _tombstone=None, _mask=None))
        model, alive = {"v": 100, "w": 200}, True
    for seq, (kind, cols, val) in enumerate(events, start=1):
        if kind == "tomb":
            rows.append(
                Row(k="K", v=None, w=None, _seq=seq, _tombstone=True, _mask=None)
            )
            model, alive = {c: None for c in _COLS}, False
        else:
            vals = {c: (val + i if val else None) for i, c in enumerate(sorted(cols))}
            rows.append(
                Row(
                    k="K",
                    v=vals.get("v"),
                    w=vals.get("w"),
                    _seq=seq,
                    _tombstone=None,
                    _mask=sorted(cols),
                )
            )
            if not alive:
                model = {c: None for c in _COLS}
            for c in cols:
                model[c] = vals[c]
            alive = True
    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("v", IntegerType()),
            StructField("w", IntegerType()),
            StructField("_seq", LongType()),
            StructField("_tombstone", BooleanType()),
            StructField("_mask", ArrayType(StringType())),
        ]
    )
    got = _fold_resolve(spark.createDataFrame(rows, schema), "k").collect()
    if not alive:
        assert got == []
    else:
        assert len(got) == 1
        assert {c: got[0][c] for c in _COLS} == model


def test_cow_delete_on_partial_dirty_table(spark, table, monkeypatch):
    """A copy-on-write delete whose affected buckets carry partial deltas
    rewrites from the per-column-RESOLVED state: surviving keys keep both
    their partial-updated and base column values; the deleted key is
    physically gone."""
    _mor(monkeypatch)
    upsert_parquet(
        spark,
        table,
        spark.createDataFrame([("a", 100), ("b", 200)], "k string, v int"),
        key="k",
        n_buckets=4,
    )
    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "cow")
    delete_keys(
        spark, table, spark.createDataFrame([("b",)], "k string"), key="k"
    )
    st = _state(spark, table)
    assert "b" not in st
    assert st["a"] == {"v": 100, "w": "x"}  # partial v + base w both survive
    assert st["c"] == {"v": 3, "w": "z"}
    # b's bucket was rewritten: its ledger entries cleared; a's bucket may
    # legitimately stay dirty if untouched by the delete
    man = _manifest(table)
    for d in man.get("mor_cols", {}):
        assert d in man.get("mor", {})
