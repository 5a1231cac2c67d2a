"""Streaming document-corpus pipeline: NDJSON documents stream in, get
quality-scored and language-tagged (the batch text operators are pure
column expressions, so they apply to streams unchanged), are deduplicated
EXACTLY against all previously-seen content (streaming ``dropDuplicates``
keeps per-key state), and append to the corpus.

This is the streaming front door to the batch training-data pipeline: a
crawler feeds files in, the corpus parquet only ever receives quality-passed,
first-seen documents. State note for 100 TB/day: exact dedup state is one
row per distinct content key; bound it with
``dropDuplicatesWithinWatermark`` when the duplication horizon is known
(same call shape + a watermark), or periodically re-dedup in batch with the
minhash path for the unbounded tail."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import (
    JACCARD_MIN_BP,
    jaccard_bp,
    minhash_bands,
    normalize,
    shingle_sets,
)
from ..operators.text import quality_keep

DOC = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents(spark: SparkSession, in_dir: str, **kw) -> DataFrame:
    from .ingest import stream_ndjson

    return stream_ndjson(spark, in_dir, DOC, **kw)


def curate(docs: DataFrame) -> DataFrame:
    """Quality-gate + exact-dedup a document stream (or batch — same code).

    Keeps the first-seen document per normalized-content key; drops
    quality-filtered rows entirely. The gate is a plain column expression
    (no self-join — stream-safe)."""
    gated = docs.where(quality_keep("text")).withColumn(
        "content_key", F.md5(normalize("text"))
    )
    return gated.dropDuplicates(["content_key"])


def curate_canonical(docs: DataFrame) -> DataFrame:
    """Deterministic batch curation summary: quality gate, then one row per
    surviving content key with the canonical (min) doc_id and duplicate
    count. The streaming ``curate`` keeps the first-ARRIVED representative
    (arrival order isn't a batch concept); this is the order-free batch
    equivalent, and the oracle-checkable face of the pipeline.

    One shuffle (the groupBy); the gate and content key are map-side
    column expressions, so at 100 TB the shuffle carries only
    (key, doc_id) pairs, not document text."""
    return (
        docs.where(quality_keep("text"))
        .select(F.md5(normalize("text")).alias("content_key"), "doc_id")
        .groupBy("content_key")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def corpus_band_index(corpus: DataFrame) -> DataFrame:
    """Static LSH index of an existing corpus: (doc_id, gh, band_key).
    Build once per ingestion epoch and persist/refresh like any dimension
    table — at 100 TB it is 8 small rows per doc (an 8-byte band key plus
    the hashed-shingle array needed for verification), not the text."""
    return minhash_bands(shingle_sets(corpus))


def neardup_against_corpus(
    new_docs: DataFrame, index: DataFrame, min_bp: int = JACCARD_MIN_BP
) -> DataFrame:
    """Flag incoming documents that near-duplicate the EXISTING corpus: a
    stream-static equi-join on the LSH band key (stateless — no streaming
    state grows), then exact-Jaccard verification on the two hashed-shingle
    arrays, map-side after the join. Emits one row per verified match
    (doc_id, dup_of, jaccard_bp); append-safe, so the same code runs on a
    batch frame, which is how the equivalence test pins it.

    Scale shape: the stream side carries its own shingle hashes (computed
    in the micro-batch, no shuffle); the static side is pre-bucketed by
    band key; candidates are band-collisions only — the same
    O(docs × bands) bound as the batch LSH path, incrementally.

    ``index`` must carry ``gh`` on EVERY band row (``corpus_band_index``).
    A persisted ``read_neardup_index`` frame stores it on one band row per
    doc, so a collision on any other band would silently lose its pair;
    such a row fails the query at execution instead (probe a persisted
    index with ``neardup_probe``)."""
    bands = minhash_bands(shingle_sets(new_docs)).withColumnRenamed("gh", "gh_new")
    idx = index.select(
        F.col("doc_id").alias("dup_of"),
        F.col("gh").alias("gh_old"),
        "band_key",
    )
    gh_old = F.col("gh_old")
    return (
        bands.join(idx, ["band_key"])
        .where(F.col("doc_id") != F.col("dup_of"))
        .select(
            "doc_id",
            "dup_of",
            F.when(
                gh_old.isNull(),
                F.raise_error(
                    F.lit(
                        "neardup_against_corpus: index band row without gh "
                        "(a persisted near-dup index?) — probe it with "
                        "neardup_probe, or build the index with "
                        "corpus_band_index"
                    )
                ),
            )
            .otherwise(jaccard_bp(F.col("gh_new"), gh_old))
            .alias("jaccard_bp"),
        )
        .where(F.col("jaccard_bp") >= min_bp)
        .dropDuplicates(["doc_id", "dup_of"])
    )


def corpus_append(
    curated: DataFrame, out_dir: str, checkpoint_dir: str, available_now: bool = True
):
    writer = (
        curated.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def apply_index_batch(
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    stream_id: str | None = None,
) -> bool:
    """One micro-batch of streaming index maintenance: fold the batch into
    the persisted BM25 index UNLESS this epoch already committed.

    foreachBatch is at-least-once (a crash between the side effect and
    the checkpoint commit replays the epoch), and a replayed
    ``append_text_index`` would double-count tf/df — the idempotence
    guard is the epoch id recorded INSIDE the index's own atomic manifest
    commit: epoch ≤ last_epoch means the committed index already contains
    this batch, so skip. (The classic idempotent-foreachBatch pattern;
    free here because the index already has a single commit point.)

    Epoch ids are only comparable WITHIN one streaming checkpoint: batch
    ids restart at 0 under a new/lost checkpoint dir, so comparing them
    against another run's last_epoch would silently DROP new documents as
    "replays". ``stream_id`` (the checkpoint dir) therefore rides the
    manifest next to the epoch: a batch from a DIFFERENT stream identity
    is never treated as a replay (it appends, and exactly-once is only
    per-stream — duplicate protection across checkpoint resets belongs to
    the upstream curation dedup). One maintaining stream per index at a
    time remains the operating contract, same as any single-writer sink.
    Returns whether the batch was applied (False = replay skipped)."""
    from ..operators.search import _read_index_manifest, append_text_index

    manifest = _read_index_manifest(index_path)
    if _epoch_is_replay(manifest, epoch_id, stream_id):
        return False
    append_text_index(
        batch_df, index_path, epoch=int(epoch_id), epoch_stream=stream_id
    )
    return True


def _epoch_is_replay(
    manifest: dict | None, epoch_id: int, stream_id: str | None
) -> bool:
    """Shared replay detector for index-maintenance sinks. Epochs are
    comparable only within one stream identity: with no stream_id of our
    own, honor last_epoch only when the manifest's epoch was ALSO
    committed anonymously — if some other identified stream committed
    it, the counters are incomparable and treating the batch as a replay
    would silently drop it. (Anonymous-vs-anonymous keeps the legacy
    single-caller replay protection.)"""
    if manifest is None:
        return False
    last = manifest.get("last_epoch")
    same_stream = (
        stream_id is not None
        and manifest.get("epoch_stream") == str(stream_id)
    ) or (stream_id is None and manifest.get("epoch_stream") is None)
    return last is not None and same_stream and int(epoch_id) <= int(last)


def index_maintenance_sink(
    curated: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming maintenance of the persisted full-text index: curated
    first-seen documents fold into the index per micro-batch — the
    streaming front door to ``bm25_search_indexed`` (crawler → curation →
    searchable corpus with no batch rebuild in the loop). Exactly-once
    across replays via ``apply_index_batch``; the index must exist
    (``build_text_index`` over the initial corpus, possibly empty)."""

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        apply_index_batch(batch_df, epoch_id, index_path, stream_id=checkpoint_dir)

    writer = curated.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


VEC = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def stream_vectors(spark: SparkSession, in_dir: str, **kw) -> DataFrame:
    from .ingest import stream_ndjson

    return stream_ndjson(spark, in_dir, VEC, **kw)


def apply_ann_index_batch(
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    stream_id: str | None = None,
) -> bool:
    """One micro-batch of streaming VECTOR-index maintenance: fold the
    batch into the persisted IVF index unless this epoch already
    committed — the ``apply_index_batch`` contract applied to
    ``append_ann_index`` (same at-least-once foreachBatch hazard, same
    idempotence guard: the epoch id + stream identity ride the index's
    own atomic manifest commit, and cross-stream epoch counters are
    never compared). New vectors are assigned to the FROZEN centroids
    (the IVF maintenance trade — monitor recall drift and rebuild past
    the threshold). Returns whether the batch was applied."""
    from ..operators.similarity import _read_ann_manifest, append_ann_index

    manifest = _read_ann_manifest(index_path)
    if _epoch_is_replay(manifest, epoch_id, stream_id):
        return False
    append_ann_index(
        batch_df, index_path, epoch=int(epoch_id), epoch_stream=stream_id
    )
    return True


def ann_index_maintenance_sink(
    vecs: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming maintenance of the persisted IVF vector index: incoming
    embeddings fold into their cells per micro-batch — the vector twin of
    ``index_maintenance_sink`` (embedder → searchable corpus with no
    batch rebuild in the loop; ``knn_ivf_indexed`` / ``knn_sq8_indexed``
    readers stay manifest-atomic throughout). Exactly-once across
    replays via ``apply_ann_index_batch``; the index must exist
    (``build_ann_index`` over the initial corpus)."""

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        apply_ann_index_batch(
            batch_df, epoch_id, index_path, stream_id=checkpoint_dir
        )

    writer = vecs.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def neardup_index_sink(
    docs: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming maintenance of the PERSISTED near-dup band index
    (operators/dedup.py::build_neardup_index): each curated micro-batch's
    band rows append into the band-bucket partitions — O(delta docs) per
    epoch where the pre-index path recomputed the corpus bands per epoch.
    Exactly-once is Spark's own here: the parquet file sink's
    _spark_metadata transaction log commits files per epoch and
    `read_neardup_index` reads through it, so replays and crashed batches
    are invisible — no custom manifest needed (contrast with the
    text/ANN indexes, whose layouts Spark's file sink cannot express).

    The companion probe (`neardup_against_corpus` for in-flight checks, or
    `operators.dedup.neardup_probe` against this index) flags incoming
    near-duplicates of the indexed corpus; appending AFTER probing gives
    dedup-on-ingest, appending regardless gives a growing searchable
    index."""
    import os

    from ..operators.dedup import neardup_index_frame

    bands = neardup_index_frame(docs)
    writer = (
        bands.writeStream.format("parquet")
        # stream/ sub-layout: see build_neardup_index — the sink's
        # _spark_metadata log must not capture the batch-built base/ files
        .option("path", os.path.join(index_path, "stream"))
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("band_bucket")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
