"""The shared commit protocol (``sinks/manifest.py``): every index commit
is version-checked under the lock, a rebuild never resets the version,
and no other module writes a JSON sidecar of its own."""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

import es_household_retention_spark_job_spark as PKG
from es_household_retention_spark_job_spark.operators import search as SE
from es_household_retention_spark_job_spark.operators import similarity as S
from es_household_retention_spark_job_spark.sinks import manifest as M
from es_household_retention_spark_job_spark.sinks.upsert import ConcurrentWriteError
from es_household_retention_spark_job_spark.sources.tpch import load_table

from .conftest import SF_DIR


def test_only_the_manifest_module_dumps_json():
    """One commit protocol: a module that serializes a sidecar itself has
    grown its own copy of it (``json.dumps`` of values is fine)."""
    root = Path(PKG.__file__).parent
    offenders = [
        str(p.relative_to(root))
        for p in sorted(root.rglob("*.py"))
        if p != root / "sinks" / "manifest.py" and "json.dump(" in p.read_text()
    ]
    assert offenders == []


def _race(monkeypatch, racer):
    """Patch ``M.commit`` so ``racer`` commits between the next op's plan
    and its commit, exactly once; returns the manifest bytes the racer
    left."""
    real, seen = M.commit, {}

    def racing(path, name, new, planned_from):
        if not seen:
            seen["fired"] = True
            racer()
            with open(os.path.join(path, name), "rb") as f:
                seen["bytes"] = f.read()
        return real(path, name, new, planned_from)

    monkeypatch.setattr(M, "commit", racing)
    return seen


def _manifest_bytes(path: str) -> bytes:
    with open(os.path.join(path, SE.INDEX_MANIFEST), "rb") as f:
        return f.read()


def test_text_index_stale_commit_aborts_and_leaves_manifest(
    spark, tmp_path, monkeypatch
):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    SE.build_text_index(docs.where(F.col("doc_id") % 3 == 0), idx)
    stale = SE._read_index_manifest(idx)
    SE.append_text_index(docs.where(F.col("doc_id") % 3 == 1), idx)
    before = _manifest_bytes(idx)
    with pytest.raises(ConcurrentWriteError, match="committed concurrently"):
        M.commit(idx, SE.INDEX_MANIFEST, dict(stale), stale)
    assert _manifest_bytes(idx) == before

    # the same through a real maintenance op: an append racing another
    # append loses loudly instead of dropping the racer's documents
    seen = _race(
        monkeypatch,
        lambda: SE.append_text_index(docs.where(F.col("doc_id") % 3 == 2), idx),
    )
    with pytest.raises(ConcurrentWriteError, match="committed concurrently"):
        SE.delete_text_docs(spark, idx, [0, 3])
    assert _manifest_bytes(idx) == seen["bytes"]
    assert M.version(SE._read_index_manifest(idx)) == M.version(stale) + 2


def test_text_rebuild_bumps_version_so_planned_ops_abort(
    spark, tmp_path, monkeypatch
):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    SE.build_text_index(docs.where(F.col("doc_id") % 2 == 0), idx)
    SE.append_text_index(docs.where(F.col("doc_id") % 2 == 1), idx)
    live = M.version(SE._read_index_manifest(idx))
    _race(monkeypatch, lambda: SE.build_text_index(docs, idx))
    with pytest.raises(ConcurrentWriteError, match="committed concurrently"):
        SE.delete_text_docs(spark, idx, [0])
    assert M.version(SE._read_index_manifest(idx)) == live + 1


def test_ann_rebuild_bumps_version_so_planned_ops_abort(
    spark, tmp_path, monkeypatch
):
    embs = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "ann")
    S.build_ann_index(embs.where(F.col("vec_id") % 2 == 0), idx, n_cells=4, iters=2)
    S.append_ann_index(embs.where(F.col("vec_id") % 2 == 1), idx)
    live = M.version(S._read_ann_manifest(idx))
    _race(monkeypatch, lambda: S.build_ann_index(embs, idx, n_cells=4, iters=2))
    with pytest.raises(ConcurrentWriteError, match="committed concurrently"):
        S.compact_ann_index(spark, idx)
    assert M.version(S._read_ann_manifest(idx)) == live + 1


def test_neardup_against_corpus_refuses_a_persisted_index(spark, tmp_path):
    """A persisted band index keeps ``gh`` on one band row per doc; the
    in-memory matcher needs it on every row, so it must fail loudly on
    such an index instead of dropping the pairs found on other bands."""
    from es_household_retention_spark_job_spark.operators.dedup import (
        build_neardup_index,
        neardup_probe,
        read_neardup_index,
    )
    from es_household_retention_spark_job_spark.streaming import doc_stream

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    fresh = docs.where(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "nd_idx")
    build_neardup_index(corpus, idx)
    persisted = read_neardup_index(spark, idx)
    with pytest.raises(SparkRuntimeException, match="neardup_probe"):
        doc_stream.neardup_against_corpus(fresh, persisted).collect()

    def pairs(df):
        return {(r.doc_id, r.dup_of, r.jaccard_bp) for r in df.collect()}

    want = pairs(
        doc_stream.neardup_against_corpus(
            fresh, doc_stream.corpus_band_index(corpus)
        )
    )
    assert want and want == pairs(neardup_probe(fresh, persisted))
