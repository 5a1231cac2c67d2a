"""Full-text ranked retrieval: BM25 top-k search over the document corpus.

The one retrieval primitive an LLM-data platform needs beyond embeddings:
keyword search over the corpus for decontamination lookups ("is this eval
question verbatim in the training set?"), curation debugging ("show me the
docs that rank for X") and hybrid (sparse+dense) retrieval next to the
``similarity`` ANN tier. Reference scope: the reference's ES backend gives
this away (`match` queries score BM25 natively); mapping it to Spark means
building the scorer from relational pieces.

Scoring is **BM25-lin**: Okapi BM25 (k1=1.2, b=0.75) with the linear
Robertson idf surrogate ``(N - df + 0.5)/(df + 0.5)`` in place of its log
— the same transcendental-free discipline as ``tfidf_top_terms``
(text.py): crossing ``ln`` would pit JVM Math.log against DuckDB's libm,
and a last-ulp difference at a floor boundary could flip a rank. Every
factor here is an exact rational, so the whole score is computed in int64
(div/mod decomposition), per-term-floored at 1e6 and summed as integers —
bit-identical across engines AND across aggregation orders (a float sum
over a groupBy is order-nondeterministic; an int64 sum is not). A
production deployment that needs textbook log-idf swaps one expression and
keeps the plan.

With k1+1 = 11/5, k1·(1-b) = 3/10, k1·b = 9/10 and avgdl = total/N, a
term's contribution

    idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

clears all denominators to the integer fraction

    num = (2N - 2df + 1) · 44 · tf · total
    den = (2df + 1) · (20·total·tf + 6·total + 18·dl·N)

(multiply through by 20·total; 44 = 20·11/5, 6 = 20·3/10, 18 = 20·9/10).
The fraction is evaluated in decimal128 (Spark DECIMAL(38,0) / DuckDB
HUGEINT — both exact): an sf1 run overflowed the original int64 form at
``(num % den)·1e6`` (den carries a df·total·tf product, ~1e13 at 50k
docs), so int64 holds only to ~sf0.3 of this corpus; decimal128 pushes
the headroom to DECIMAL(38,0)'s 10^38. The PRECISE bound (not
"unbounded"): the widest intermediate is ``(num % den)·SCORE_SCALE <
den·1e6``, so scoring is exact while ``den = (2df+1)·(20·total·tf +
6·total + 18·dl·N) < 10^32`` AND ``num < 10^38`` — two separate
conditions (num/den can reach ~1.5N, so den's bound alone does NOT cap
num; num overflow shows up as NULL and trips the guard's null check,
den's range is tested explicitly). At the 100 TB design point (N ~ 1e11 docs,
total ~ 2e13 tokens) that holds up to df·tf products ~ 2.5e29 — beyond
any natural document, but a PATHOLOGICAL row (a multi-GB single doc)
could cross it, where non-ANSI Spark would return NULL and silently
DROP that term from the sum while the DuckDB HUGEINT oracle errors.
``_bm25_contrib`` therefore guards the branch: out-of-range rows RAISE
(``assert_true``) instead of corrupting the ranking — the engines stay
bit-identical or loudly fail together.

Plan shape (all codegen, no UDFs): one corpus-stats partial agg (N, total
— stays in-plan via a 1-row broadcast, no driver round-trip); one explode
of doc tokens FILTERED to the query vocabulary before the tf groupBy, so
the only full-width work is the scan+explode and every shuffle after the
filter carries query-vocabulary-sized data; df and the query terms are
broadcast; one groupBy(query, doc) integer sum; one top-k window per
query. At 100 TB the explode+filter is the map side of one job — the
classic "search without an index" scan; the indexed variant is a
pre-materialized tf table (the same ``tf`` frame written bucketed by
term), which this operator's internals compose from.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import eager_cache, ensure_parallelism, hash_bucket
from ..sinks import manifest as M
from .text import tokens

#: BM25 parameters as exact rationals (k1 = 1.2, b = 0.75) — see module
#: docstring for how they fold into the 44/20/6/18 integer constants.
BM25_K1_NUM, BM25_K1_DEN = 6, 5
BM25_B_NUM, BM25_B_DEN = 3, 4
SCORE_SCALE = 1_000_000

#: exactness guard: ``(num % den) * SCORE_SCALE`` must fit DECIMAL(38,0),
#: i.e. den < 10^38 / SCORE_SCALE = 10^32 (module docstring derives the
#: corpus terms). Rows beyond it raise instead of silently nulling.
DEN_GUARD = 10**32


def _bm25_contrib(scored: DataFrame) -> DataFrame:
    """Append the exact decimal128 BM25-lin per-term contribution to a
    frame carrying ``tf, dl, df, n_docs, total_dl`` columns — the single
    definition of the 44/20/6/18 integer fraction shared by every scorer
    in this module (scan-based, more-like-this, index-backed). The int64
    1e6-scaled floor is ``(n div d)·1e6 + ((n mod d)·1e6) div d``.

    Overflow posture: a decimal overflow in non-ANSI Spark yields NULL,
    which ``F.sum`` would silently drop — flipping ranks while the DuckDB
    HUGEINT oracle errors. The guard turns that into a loud
    ``assert_true`` failure (codegen branch, no measurable cost): within
    ``DEN_GUARD`` both engines are bit-identical, beyond it both fail."""
    contrib = (
        f"CAST(num div den AS BIGINT) * {SCORE_SCALE}"
        f" + CAST(((num % den) * {SCORE_SCALE}) div den AS BIGINT)"
    )
    return (
        scored.withColumn(
            "num",
            F.expr(
                "CAST(2*n_docs - 2*df + 1 AS DECIMAL(38,0)) * 44 * tf"
                " * CAST(total_dl AS DECIMAL(38,0))"
            ),
        )
        .withColumn(
            "den",
            F.expr(
                "CAST(2*df + 1 AS DECIMAL(38,0))"
                " * (20 * CAST(total_dl AS DECIMAL(38,0)) * tf"
                "    + 6 * CAST(total_dl AS DECIMAL(38,0))"
                "    + 18 * CAST(dl AS DECIMAL(38,0)) * n_docs)"
            ),
        )
        .withColumn(
            "contrib",
            F.expr(
                f"CASE WHEN num IS NOT NULL AND den IS NOT NULL"
                f" AND den <= {DEN_GUARD} THEN {contrib}"
                f" ELSE CAST(assert_true(false, 'BM25 intermediate exceeds"
                f" DECIMAL(38,0): den > 1e32 (see operators/search.py"
                f" DEN_GUARD)') AS BIGINT) END"
            ).cast("long"),
        )
    )


def _rank_topk(scores: DataFrame, k: int, id_col: str, score_col: str) -> DataFrame:
    """Deterministic per-query top-k: score desc, id asc; rank as int."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            id_col,
            F.col("rank").cast("int").alias("rank"),
            score_col,
        )
    )


def bm25_scores(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(query_id, doc_id, score_x1e6) for every doc matching ≥1 query term.

    ``queries``: [(query_id, query_text)] — a handful of literal queries
    (the decontamination/debug use case); terms are tokenized with the
    corpus tokenizer and deduplicated (query term frequency is not
    weighted, the common Lucene default).
    """
    q, tf, dfreq, corpus = _scan_query_tf(docs, queries, text_col, id_col)
    scored = _bm25_contrib(
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))
    )
    return scored.groupBy("query_id", id_col).agg(
        F.sum("contrib").alias("score_x1e6")
    )


def _scan_query_tf(docs, queries, text_col, id_col):
    """Shared scan-based plan head for literal-query scorers: broadcast
    query-term frame, vocabulary-filtered tf (the explode is filtered to
    the query vocabulary BEFORE the aggregation, so the tf shuffle carries
    only (doc, query-term) rows, not the corpus), per-term df, and the
    1-row corpus stats. eager_cache: tf feeds both the df aggregation and
    the scoring join — without it Spark re-derives the subtree per
    consumer, running the corpus scan + explode TWICE (the dominant cost;
    same lesson as the banded-minhash self-join, functions.eager_cache
    docstring). The cached frame is query-vocabulary-sized."""
    docs = ensure_parallelism(docs)
    qterms = [
        (qid, t)
        for qid, qtext in queries
        for t in sorted({tok for tok in _py_tokens(qtext)})
    ]
    spark = docs.sparkSession
    q = spark.createDataFrame(qterms, "query_id string, term string")
    vocab = sorted({t for _, t in qterms})

    with_dl = docs.select(
        id_col,
        F.size(tokens(text_col)).cast("long").alias("dl"),
        tokens(text_col).alias("toks"),
    )
    corpus = with_dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    tf = eager_cache(
        with_dl.select(id_col, "dl", F.explode("toks").alias("term"))
        .where(F.col("term").isin(vocab))
        .groupBy(id_col, "dl", "term")  # dl functionally dependent on doc
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return q, tf, dfreq, corpus


def bm25_search(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k docs per query by BM25-lin: (query_id, doc_id, rank,
    score_x1e6), deterministic (score desc, doc_id asc)."""
    return _rank_topk(
        bm25_scores(docs, queries, text_col, id_col), k, id_col, "score_x1e6"
    )


def _py_tokens(text: str) -> list[str]:
    """Driver-side mirror of ``tokens()`` for the literal query strings."""
    import re

    return re.findall("[a-z0-9]+", text.lower())


#: reciprocal-rank-fusion smoothing constant (the standard 60 from
#: Cormack/Clarke/Buettcher 2009) — 1/(60+rank) floored at SCORE_SCALE
#: keeps the fusion exact-integer like every score in this module
RRF_C = 60


def bm25_more_like_this(
    docs: DataFrame,
    query_pred,
    k: int = 10,
    max_query_terms: int = 20,
    max_doc_freq_ppm: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sparse "more-like-this": for each query doc (rows matching
    ``query_pred``), BM25-rank the OTHER docs using the query doc's
    ``max_query_terms`` RAREST distinct tokens (df asc, term asc — the
    Lucene MoreLikeThis design: rare terms are the discriminative ones,
    and the cap bounds the scoring-join fan-out at Σ_topM df(t) per query
    instead of the query doc's whole vocabulary). Output (query_id,
    doc_id, rank, score_x1e6), self excluded, ties by doc_id.

    Differs from ``bm25_search`` only in where the query terms come from:
    a frame derived from the corpus (broadcast both as the vocabulary
    semi-join filter and as the scoring join) instead of literal strings —
    the plan shape and the exact-scoring discipline are identical. The df
    used for the rarity ranking is the same corpus df the scoring uses
    (filtering tf by term VALUE does not change any term's corpus df).

    ``max_doc_freq_ppm`` is Lucene MoreLikeThis's ``setMaxDocFreqPct`` as
    parts-per-million: terms occurring in more than that fraction of the
    corpus are dropped from query-term SELECTION entirely (exact-integer
    ``df·1e6 ≤ ppm·N`` test, oracle-mirrorable). This is the knob that
    BOUNDS the scoring join at scale: each surviving term's postings list
    is ≤ ppm·N docs, so the fan-out is ≤ |Q|·M·ppm·N instead of |Q|·N per
    term — on a Zipfian corpus the rarest-M cap alone achieves this
    (rare terms have tiny df), but on boilerplate-heavy or small-
    vocabulary corpora (the testdata table is the designed worst case:
    ~40 uniformly-common terms) only a df ceiling prevents the
    every-term-matches-everything quadratic — measured in SCALING.md
    round 8. Default None preserves the registered oracle semantics."""
    docs = ensure_parallelism(docs)
    with_dl = docs.select(
        id_col,
        F.size(tokens(text_col)).cast("long").alias("dl"),
        tokens(text_col).alias("toks"),
    )
    corpus = with_dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    q = (
        with_dl.where(query_pred)
        .select(
            F.col(id_col).alias("query_id"),
            F.explode(F.array_distinct("toks")).alias("term"),
        )
    )
    # eager_cache: see bm25_scores — tf feeds df-agg AND scoring join
    tf = eager_cache(
        with_dl.select(id_col, "dl", F.explode("toks").alias("term"))
        .join(F.broadcast(q.select("term").distinct()), "term", "left_semi")
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # Lucene-style term selection: keep each query's max_query_terms rarest
    # terms (a term absent from the corpus has no df row — and no effect on
    # any score — so the inner join dropping it is correct)
    selectable = dfreq
    if max_doc_freq_ppm is not None:
        # df ceiling (Lucene maxDocFreq): too-common terms never become
        # query terms — the scale bound on the scoring join (docstring)
        selectable = (
            dfreq.crossJoin(F.broadcast(corpus.select("n_docs")))
            .where(
                F.col("df") * F.lit(1_000_000)
                <= F.lit(int(max_doc_freq_ppm)) * F.col("n_docs")
            )
            .select("term", "df")
        )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("df").asc(), F.col("term").asc()
    )
    q = (
        q.join(F.broadcast(selectable), "term")
        .withColumn("_tr", F.row_number().over(wq))
        .where(F.col("_tr") <= max_query_terms)
        .select("query_id", "term")
    )
    scored = (
        _bm25_contrib(
            tf.join(F.broadcast(q), "term")
            .where(F.col(id_col) != F.col("query_id"))
            .join(F.broadcast(dfreq), "term")
            .crossJoin(F.broadcast(corpus))
        )
        .groupBy("query_id", id_col)
        .agg(F.sum("contrib").alias("score_x1e6"))
    )
    return _rank_topk(scored, k, id_col, "score_x1e6")


#: term-hash shards of the persisted inverted index: a query prunes its
#: scan to |query vocab| shards out of N_SHARDS via partition pruning, so
#: search latency is index-fraction-, not corpus-, proportional. Sized so
#: one shard ≈ one comfortable task at the target corpus (at 100 TB of
#: text the tf table is ~1/5 the corpus; 4096 shards ≈ 5 GB/shard — set
#: higher there; 16 keeps the demo corpus at one file per shard).
INDEX_SHARDS = 16
INDEX_SHARD_COL = "_shard"


#: atomically-replaced sidecar resolving the index's live state: the tf
#: FILE LIST (per shard dir), the current df/stats generation dirs, and
#: n_shards. Readers plan from the manifest, so ``append_text_index`` is
#: reader-atomic: tf files appended and new-generation sidecars become
#: visible only at the single ``os.replace`` — a concurrent query sees the
#: whole append or none of it (the sink's MVCC contract, index-flavored).
INDEX_MANIFEST = "_index_manifest.json"


def _parquet_footer_columns(path: str) -> list[str]:
    """Column names straight from one parquet footer — driver-side (no
    Spark job) and always the on-disk truth, where a same-session
    ``spark.read`` of a rewritten file can serve stale file metadata."""
    import pyarrow.parquet as _pq

    return list(_pq.read_schema(path).names)


def _read_index_manifest(path: str) -> dict | None:
    return M.read(path, INDEX_MANIFEST)


def _gc_index_gens(path: str, keep: set[str]) -> None:
    """Remove df-*/stats-* generation dirs not in ``keep`` — called after
    a manifest replace with {current gens} ∪ {retired-ledger gens still
    inside the grace window}, so an in-flight reader that planned against
    a previous manifest keeps its files for the full time-based grace."""
    import shutil

    for d in os.listdir(path):
        if (d.startswith("df-") or d.startswith("stats-")) and d not in keep:
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)


def _retired_gens(manifest: dict) -> set[str]:
    return {
        g for e in manifest.get("retired", []) for g in e.get("gens", [])
    }


def build_text_index(
    docs: DataFrame,
    path: str,
    n_shards: int = INDEX_SHARDS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize the BM25 inverted index: ``tf/`` (doc, dl, term, tf)
    partitioned by a term-hash shard, generation-suffixed ``df-<gen>/``
    (term, df, same sharding) and ``stats-<gen>/`` (one row: n_docs,
    total_dl, n_shards), resolved through the atomically-replaced
    ``_index_manifest.json``. This is the "indexed variant" the scan-based
    ``bm25_search`` docstring promises: build cost is one corpus pass (the
    same explode the scan-based search pays PER QUERY BATCH), after which
    a query reads only its terms' shards — partition pruning makes search
    latency vocabulary-, not corpus-, proportional.

    Maintenance contract: a REBUILD (this function) overwrites ``tf/`` in
    place and is stop-the-world — a new corpus snapshot gets a new index
    path (rebuild-on-snapshot, same as the dedup signatures). Its commit
    moves the manifest version past the live one, so a maintenance op
    planned before the rebuild aborts instead of committing over it. An APPEND
    (``append_text_index``) is reader-atomic via the manifest."""
    shard = hash_bucket("term", n_shards).alias(INDEX_SHARD_COL)
    with_dl = docs.select(
        id_col,
        F.size(tokens(text_col)).cast("long").alias("dl"),
        tokens(text_col).alias("toks"),
    )
    tf = (
        with_dl.select(id_col, "dl", F.explode("toks").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        # _ver: the manifest version whose commit added the row (build=1).
        # A doc tombstone records the version it was issued AT and applies
        # only to rows with _ver ≤ it — what lets a deleted doc be
        # RE-APPENDED (upsert_text_docs) without resurrecting the old
        # rows: the new rows carry a higher _ver. Dict-encodes to ~0
        # bytes; survives compaction as plain data (no file-provenance
        # bookkeeping needed — the Lucene per-segment-liveness problem
        # solved columnar)
        .select(id_col, "dl", "term", "tf", F.lit(1).alias("_ver"), shard)
    )
    gen = uuid.uuid4().hex[:8]
    df_dir, stats_dir = f"df-{gen}", f"stats-{gen}"
    # one shuffle on the shard column → one task and a handful of files
    # per shard directory (not |input tasks| × |shards| small files).
    # sortWithinPartitions(term): postings CLUSTER by term inside each
    # shard file, so parquet row-group min/max stats turn a term predicate
    # into row-group skipping — the intra-shard pruner (shard pruning
    # alone stops helping once a query's terms hash into every shard)
    tf.repartition(n_shards, F.col(INDEX_SHARD_COL)).sortWithinPartitions(
        INDEX_SHARD_COL, "term"
    ).write.mode("overwrite").partitionBy(INDEX_SHARD_COL).parquet(
        f"{path}/tf"
    )
    # df derives from the just-written tf parquet (one extra disk-backed
    # scan) instead of caching the corpus-sized tf frame — the
    # scale-correct choice at rebuild cadence
    tf_r = docs.sparkSession.read.parquet(f"{path}/tf")
    tf_r.groupBy(INDEX_SHARD_COL, "term").agg(
        F.count(F.lit(1)).alias("df")
    ).repartition(1).write.mode("overwrite").partitionBy(INDEX_SHARD_COL).parquet(
        f"{path}/{df_dir}"
    )
    # n_shards is an INDEX property (the partition function), not a query
    # parameter: a reader pruning with a different shard count would
    # silently miss terms.
    with_dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    ).withColumn("n_shards", F.lit(n_shards)).write.mode("overwrite").parquet(
        f"{path}/{stats_dir}"
    )
    M.commit(
        path,
        INDEX_MANIFEST,
        {
            "n_shards": int(n_shards),
            "tf": M.partition_files(f"{path}/tf", INDEX_SHARD_COL),
            "df": df_dir,
            "stats": stats_dir,
        },
        None,
    )
    _gc_index_gens(path, keep={df_dir, stats_dir})


#: above this many terms, a literal In-list filter costs more than its
#: row-group pushdown saves — switch to a broadcast semi-join (see
#: bm25_more_like_this_indexed docstring for the measurement)
_ISIN_PUSHDOWN_MAX = 2000

#: (term, n_shards) -> shard id. The sharding hash is Spark's own xxhash64
#: (not reproducible driver-side), so shard ids come from a tiny Spark job —
#: but they are PURE (hash of the term, independent of any index), so the
#: process memoizes them: repeated queries against any index resolve their
#: shards without submitting a job. Bounded by the distinct query vocabulary
#: of the process (strings + ints, not corpus data).
_SHARD_ID_CACHE: dict[tuple[str, int], int] = {}


def _term_shards(spark, vocab: list[str], n_shards: int) -> set[int]:
    """Shard ids for ``vocab``, resolving all cache misses in ONE 1-task
    job (or none, when every term was seen before)."""
    n_shards = int(n_shards)
    missing = [t for t in vocab if (t, n_shards) not in _SHARD_ID_CACHE]
    if missing:
        rows = (
            spark.createDataFrame([(t,) for t in missing], "term string")
            .select(
                "term", hash_bucket("term", n_shards).alias("s")
            )
            .collect()
        )
        for r in rows:
            _SHARD_ID_CACHE[(r["term"], n_shards)] = int(r["s"])
    return {_SHARD_ID_CACHE[(t, n_shards)] for t in vocab}


def append_text_index(
    docs_delta: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    epoch: int | None = None,
    epoch_stream: str | None = None,
    check_overlap: bool = False,
) -> None:
    """Incremental index maintenance for APPEND-ONLY corpus growth: fold a
    batch of NEW documents into an existing ``build_text_index`` output
    without rescanning the indexed corpus. Complements rebuild-on-snapshot
    (the default for snapshot-versioned corpora): append wins when the
    delta is a small fraction of the corpus — measured in SCALING.md.

    Why the layout makes this cheap: the tf table is keyed by (doc, term)
    and the delta's doc_ids are new, so no existing tf row changes —
    APPEND IS THE MERGE, and the delta's rows land in their term-shard
    partitions next to the existing files. df is additive per term and
    stats is additive in both fields, so those sidecars merge with a
    vocabulary-sized union+sum — no corpus scan anywhere; total cost is
    one pass over the DELTA.

    READER-ATOMIC, single-writer: delta tf files are staged and moved into
    the shard dirs (invisible — readers resolve the tf FILE LIST from the
    manifest), the merged df and stats land as NEW generation dirs, and
    one atomic manifest replace publishes all three together. A query
    planned before the replace keeps reading the old file list + old
    generations (kept for one maintenance cycle, then GC'd); a crash
    anywhere before the replace leaves only invisible stray files and the
    index serving its old consistent state.

    PRECONDITION: the delta's ``id_col`` values are disjoint from the
    indexed corpus. A re-sent document would double-count its tf and df —
    dedup upstream (``dedup_exact`` on content, or the keyed sink's
    upsert) before appending. ``check_overlap=True`` makes the contract
    SELF-ENFORCING: the delta ids are semi-joined against the indexed tf
    table's doc ids (a column-pruned pass — only the id column's pages
    are read) and any overlap raises BEFORE any file lands, naming the
    count. Opt-in because the check costs an index pass per append; a
    100 TB deployment amortizes it with a per-commit id bloom sidecar
    (bloom says definitely-absent for the common case, the exact
    semi-join verifies only flagged ids)."""
    import shutil

    spark = docs_delta.sparkSession
    manifest = _read_index_manifest(path)
    if manifest is None:  # index written before manifests existed
        manifest = _bootstrap_index_manifest(spark, path)
    if check_overlap:
        _assert_ids_disjoint(
            spark,
            [
                os.path.join(path, "tf", d, f)
                for d, fs in manifest["tf"].items()
                for f in fs
            ],
            f"{path}/tf",
            docs_delta.select(id_col).distinct(),
            id_col,
            "append_text_index",
        )
    n_shards = int(manifest["n_shards"])
    stats_old = spark.read.parquet(f"{path}/{manifest['stats']}").collect()[0]
    shard = hash_bucket("term", n_shards).alias(INDEX_SHARD_COL)
    with_dl = docs_delta.select(
        id_col,
        F.size(tokens(text_col)).cast("long").alias("dl"),
        tokens(text_col).alias("toks"),
    )
    # row-version the delta like build does — unless the index predates
    # the _ver column (legacy: mixed per-file schemas would corrupt the
    # unified read, so a legacy index stays legacy until rebuilt)
    any_tf = next(
        (
            os.path.join(path, "tf", d, f)
            for d, fs in manifest["tf"].items()
            for f in fs
        ),
        None,
    )
    # footer sniff via pyarrow: driver-side, no Spark job, and immune to
    # the session's file-metadata caches (a same-session rewrite of a tf
    # file can otherwise serve a stale schema)
    has_ver = any_tf is None or "_ver" in _parquet_footer_columns(any_tf)
    ver_cols = (
        [F.lit(int(manifest.get("version", 1)) + 1).alias("_ver")]
        if has_ver
        else []
    )
    # versioned indexes resurrect a tombstoned id correctly on append
    # (the new rows' higher _ver outlives the tombstone's as_of, and the
    # delete already decremented df/stats) — but a LEGACY unversioned
    # delta counts as _ver=1 ≤ as_of, i.e. the appended doc would be
    # invisible and silently purged at the next compact (the
    # append_ann_index failure mode). Refuse that combination.
    tomb_ledger = manifest.get("tombstones") or []
    if not has_ver and tomb_ledger:
        tomb = spark.read.parquet(
            *[os.path.join(path, "tombstones", f) for f in tomb_ledger]
        )
        n_hit = (
            docs_delta.select(F.col(id_col).alias("_tomb_id"))
            .distinct()
            .join(
                F.broadcast(tomb.select("_tomb_id").distinct()),
                "_tomb_id",
                "left_semi",
            )
            .count()
        )
        if n_hit:
            raise ValueError(
                f"append_text_index: {n_hit} delta id(s) are tombstoned "
                "and this index predates the _ver column — the appended "
                "rows would be hidden by the tombstone's as_of filter and "
                "purged at the next compact. Rebuild with build_text_index."
            )
    delta_tf = eager_cache(
        with_dl.select(id_col, "dl", F.explode("toks").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select(id_col, "dl", "term", "tf", *ver_cols, shard)
    )
    gen = uuid.uuid4().hex[:8]
    stage = f"{path}/.tf_stage_{gen}"
    try:
        # tf: append-is-merge — the delta's rows land as new files in
        # their shard partitions (staged, then moved under gen names so
        # the manifest can reference exactly them); one shuffle on the
        # shard column keeps it to ~one file per touched shard per append
        delta_tf.repartition(n_shards, F.col(INDEX_SHARD_COL)).sortWithinPartitions(
            INDEX_SHARD_COL, "term"
        ).write.mode("overwrite").partitionBy(INDEX_SHARD_COL).parquet(stage)
        new_tf = {d: list(fs) for d, fs in manifest["tf"].items()}
        moved = _move_staged_tf(path, stage, gen)
        for d, names in moved.items():
            new_tf.setdefault(d, []).extend(names)

        # df: additive per term — union the OLD df (vocabulary-sized, not
        # corpus-sized) with the delta's per-term doc counts, into a NEW
        # generation dir (the old one keeps serving concurrent readers)
        df_dir, stats_dir = f"df-{gen}", f"stats-{gen}"
        delta_df = delta_tf.groupBy(INDEX_SHARD_COL, "term").agg(
            F.count(F.lit(1)).alias("df")
        )
        (
            spark.read.parquet(f"{path}/{manifest['df']}")
            .unionByName(delta_df)
            .groupBy(INDEX_SHARD_COL, "term")
            .agg(F.sum("df").alias("df"))
            .repartition(1)
            .write.mode("overwrite")
            .partitionBy(INDEX_SHARD_COL)
            .parquet(f"{path}/{df_dir}")
        )

        # stats: additive 1-row update (driver-side scalars, bounded)
        d = with_dl.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t")
        ).collect()[0]
        spark.createDataFrame(
            [
                (
                    int(stats_old["n_docs"]) + int(d["n"]),
                    int(stats_old["total_dl"]) + int(d["t"] or 0),
                    n_shards,
                )
            ],
            "n_docs bigint, total_dl bigint, n_shards int",
        ).write.mode("overwrite").parquet(f"{path}/{stats_dir}")

        # COMMIT: one atomic replace publishes tf additions + df + stats.
        # ``epoch`` rides the same commit (streaming exactly-once: a
        # replayed micro-batch is detected by epoch ≤ last_epoch BEFORE
        # re-appending — see streaming.doc_stream.apply_index_batch);
        # non-streaming appends carry the previous marker forward.
        now = time.time()
        new_manifest = {
            "n_shards": n_shards,
            "tf": {d: sorted(fs) for d, fs in new_tf.items()},
            # per-file doc-id Blooms of the delta files (locate prune —
            # delete/upsert open only the files that can hold their ids)
            "tf_bloom": _carry_tf_blooms(
                manifest, new_tf, _tf_blooms_for(path, moved, id_col)
            ),
            # doc-id zone maps (footer min/max) — the locate pruner for
            # files past the Bloom cap (r12 verdict #7)
            "tf_zone": _carry_tf_zones(
                manifest, new_tf, _tf_zones_for(path, moved, id_col)
            ),
            "df": df_dir,
            "stats": stats_dir,
            # the displaced df/stats generations enter the time-based
            # retired ledger: readers that planned from the previous
            # manifest keep them for the full grace window, not just one
            # maintenance cycle
            "retired": M.roll_retired(
                manifest,
                now,
                {"ts": now, "tf": {}, "gens": [manifest["df"], manifest["stats"]]},
            ),
        }
        # an append must not resurrect deleted docs: the tombstone ledger
        # rides every commit until a compaction purge clears it
        for carry in ("tombstones", "n_tombstones"):
            if manifest.get(carry) is not None:
                new_manifest[carry] = manifest[carry]
        if epoch is not None:
            # the epoch marker and its stream label commit TOGETHER: an
            # anonymous epoch (no epoch_stream) must not inherit a prior
            # stream's label — epoch counters are only comparable within
            # one stream identity, and mislabeling this commit would make
            # that stream's next batch look like a replay
            new_manifest["last_epoch"] = int(epoch)
            if epoch_stream is not None:
                new_manifest["epoch_stream"] = str(epoch_stream)
        else:  # non-streaming append: carry the previous marker forward
            if manifest.get("last_epoch") is not None:
                new_manifest["last_epoch"] = int(manifest["last_epoch"])
            if manifest.get("epoch_stream") is not None:
                new_manifest["epoch_stream"] = str(manifest["epoch_stream"])
        M.commit(path, INDEX_MANIFEST, new_manifest, manifest)
        _gc_index_gens(
            path, keep={df_dir, stats_dir} | _retired_gens(new_manifest)
        )
        _sweep_stray_tf(path, new_manifest)
    finally:
        delta_tf.unpersist()
        shutil.rmtree(stage, ignore_errors=True)


def _assert_ids_disjoint(
    spark, files: list[str], base_path: str, delta_ids: DataFrame, id_col: str, op: str
) -> None:
    """Raise ``ValueError`` if any delta id already exists in the indexed
    files — the opt-in self-enforcing append precondition. The read
    projects ONLY the id column (parquet column pruning: other columns'
    pages are never fetched) and the delta side is broadcast, so the
    cost is one id-column pass over the index, paid only when the caller
    asks for the guarantee."""
    if not files:
        return
    indexed = (
        spark.read.option("basePath", base_path).parquet(*files).select(id_col)
    )
    n = (
        indexed.join(F.broadcast(delta_ids), id_col, "left_semi")
        .select(id_col)
        .distinct()
        .count()
    )
    if n:
        raise ValueError(
            f"{op}: {n} delta id(s) already present in the index — a "
            f"re-sent document would double-count; dedup upstream or "
            f"rebuild (check_overlap caught this before any file landed)"
        )


def _bootstrap_index_manifest(spark, path: str) -> dict:
    """Adopt a legacy (pre-manifest) index layout: plain ``df/`` and
    ``stats/`` dirs become generation 0. Returns the manifest WITHOUT
    persisting it — a reader must never write (a slow read racing a
    concurrent append could otherwise clobber the append's committed
    manifest with stale state); the only persisted manifests are a
    build's and an append's own commits.

    ``gen-*`` files are EXCLUDED from the adopted tf list: on a
    pre-manifest layout they can only be a crashed append's
    moved-but-never-committed strays (a committed append would have
    written the manifest referencing them), and adopting them would serve
    tf rows inconsistent with the legacy df/stats."""
    stats = spark.read.parquet(f"{path}/stats").collect()[0]
    return {
        "version": 1,
        "n_shards": int(stats["n_shards"]),
        "tf": {
            d: [f for f in fs if not f.startswith("gen-")]
            for d, fs in M.partition_files(f"{path}/tf", INDEX_SHARD_COL).items()
        },
        "df": "df",
        "stats": "stats",
    }


def _move_staged_tf(path: str, stage: str, gen: str) -> dict[str, list[str]]:
    """Move a staged tf write's files into the live shard dirs under
    generation names — the crash-safety-critical file-publication step
    shared by append (extends shard lists) and compaction (replaces
    them). Returns {shard_dir: [moved names]}; files stay INVISIBLE until
    the caller's manifest commit references them."""
    moved: dict[str, list[str]] = {}
    for d in os.listdir(stage):
        if not d.startswith(f"{INDEX_SHARD_COL}="):
            continue
        os.makedirs(os.path.join(path, "tf", d), exist_ok=True)
        names = []
        for i, f in enumerate(
            sorted(
                x
                for x in os.listdir(os.path.join(stage, d))
                if x.endswith(".parquet")
            )
        ):
            name = f"gen-{gen}-{i:05d}.parquet"
            os.rename(
                os.path.join(stage, d, f), os.path.join(path, "tf", d, name)
            )
            names.append(name)
        moved[d] = names
    return moved


def _tf_bloom_max_docs() -> int:
    """``SPARK_GRAFT_TF_BLOOM_MAX_DOCS``: largest DISTINCT doc-id count a
    tf file's Bloom is recorded for. Build-time files carry the whole
    corpus and blow the cap (no filter — they are always locate
    candidates, correctly), while append/upsert generation files carry
    one batch's docs and fit easily — which is exactly the steady state
    the locate prune targets."""
    return int(os.environ.get("SPARK_GRAFT_TF_BLOOM_MAX_DOCS", "8192"))


def _tf_bloom_build(file_path: str, id_col: str) -> dict | None:
    """Doc-id Bloom filter of one tf file — the sink's per-delta key
    Bloom (sinks.upsert) applied to the text layout, over DISTINCT doc
    ids (a doc carries one tf row per term, so the sink's row-count cap
    would reject every useful file). None above the cap, for non-int/str
    ids, when disabled (``SPARK_GRAFT_SINK_BLOOM=off`` — the sink's
    shared kill switch), or on any read trouble: the locate then treats
    the file as a candidate, so false negatives are impossible."""
    from ..sinks.upsert import _bloom_from_values

    if os.environ.get("SPARK_GRAFT_SINK_BLOOM", "on") == "off":
        return None
    try:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(file_path)
        # footer-first: a file whose ROW count already exceeds any
        # plausible distinct-doc fit skips the column read entirely
        # (build-time files — the whole corpus — cost one footer here)
        if pf.metadata.num_rows > _tf_bloom_max_docs() * 256:
            return None
        ids = set(pf.read(columns=[id_col]).column(0).to_pylist())
        ids.discard(None)
        if not ids or len(ids) > _tf_bloom_max_docs():
            return None
        return _bloom_from_values(sorted(ids))
    except Exception:
        return None  # an optimization, never a failure


def _tf_blooms_for(
    path: str, moved: dict[str, list[str]], id_col: str
) -> dict[str, dict]:
    """Blooms of freshly-moved tf files, keyed ``shard_dir/name`` (the
    manifest's ``tf_bloom`` ledger shape)."""
    out: dict[str, dict] = {}
    for d, names in moved.items():
        for name in names:
            b = _tf_bloom_build(os.path.join(path, "tf", d, name), id_col)
            if b is not None:
                out[f"{d}/{name}"] = b
    return out


def _carry_tf_blooms(
    manifest: dict, new_tf: dict[str, list[str]], extra: dict[str, dict]
) -> dict[str, dict]:
    """The next manifest's ``tf_bloom``: prior entries whose file is
    still referenced by ``new_tf``, plus the fresh entries."""
    live = {f"{d}/{f}" for d, fs in new_tf.items() for f in fs}
    out = {
        k: v
        for k, v in (manifest.get("tf_bloom") or {}).items()
        if k in live
    }
    out.update(extra)
    return out


def _tf_zone_build(file_path: str, id_col: str) -> dict | None:
    """Doc-id ZONE MAP of one tf file — (min, max) folded over the
    parquet footer's row-group statistics, NO data pages read (r12
    verdict #7: the Bloom prune caps out at 8k distinct docs per file,
    so a backfill-sized generation file was always a locate candidate;
    its doc ids are usually range-clustered, which min/max captures in
    two ints). Recorded only for INTEGER id columns: parquet string
    stats may be truncated (a truncated max understates the range and
    would make the prune lossy), while int stats are exact. None on
    missing stats or any read trouble — the file then stays a candidate,
    so false negatives are impossible."""
    try:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(file_path)
        idx = pf.schema_arrow.get_field_index(id_col)
        if idx < 0:
            return None
        import pyarrow.types as pt

        if not pt.is_integer(pf.schema_arrow.field(idx).type):
            return None
        lo = hi = None
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None  # one silent gap poisons the whole zone
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is None:
            return None
        return {"min": int(lo), "max": int(hi)}
    except Exception:
        return None  # an optimization, never a failure


def _tf_zones_for(
    path: str, moved: dict[str, list[str]], id_col: str
) -> dict[str, dict]:
    """Zone maps of freshly-landed tf files, keyed like ``tf_bloom``."""
    out: dict[str, dict] = {}
    for d, names in moved.items():
        for name in names:
            z = _tf_zone_build(os.path.join(path, "tf", d, name), id_col)
            if z is not None:
                out[f"{d}/{name}"] = z
    return out


def _carry_tf_zones(
    manifest: dict, new_tf: dict[str, list[str]], extra: dict[str, dict]
) -> dict[str, dict]:
    """The next manifest's ``tf_zone``: the ``_carry_tf_blooms`` rule."""
    live = {f"{d}/{f}" for d, fs in new_tf.items() for f in fs}
    out = {
        k: v
        for k, v in (manifest.get("tf_zone") or {}).items()
        if k in live
    }
    out.update(extra)
    return out


#: locate-prune probe cap: checking blooms is O(files × ids) driver work;
#: past this many ids the prune is skipped (the scan was batch-bounded
#: anyway at that point)
_TF_BLOOM_PROBE_MAX = 50_000


def _locate_tf_files(
    path: str, manifest: dict, ids: list
) -> tuple[list[str], int]:
    """(candidate tf files for a locate over ``ids``, files skipped): a
    file is skipped when a recorded pruner excludes every target id —
    its Bloom (≤8k-doc generation files) or its doc-id ZONE MAP (min/max
    from footer stats, r12 verdict #7 — covers the backfill-sized files
    the Bloom cap rejects). Build-time files (full corpus: no Bloom,
    full-range zone) always qualify, so the prune helps exactly where
    the index grew incrementally, which is the CDC steady state. False
    negatives are impossible (the df-decrement arithmetic depends on
    finding every live posting), so skipping is always safe."""
    import base64
    from bisect import bisect_left

    from ..sinks.upsert import _BLOOM_HASHES, _bloom_hashes

    blooms = manifest.get("tf_bloom") or {}
    zones = manifest.get("tf_zone") or {}
    all_files = [
        os.path.join(path, "tf", d, f)
        for d, fs in manifest["tf"].items()
        for f in fs
    ]
    if (not blooms and not zones) or not ids or len(ids) > _TF_BLOOM_PROBE_MAX:
        return all_files, 0
    # zone maps hold exact INT bounds; any non-int target id disables
    # the zone prune (it could never be cleared against an int range)
    # while the Bloom prune still applies
    sorted_int_ids = (
        sorted(ids) if all(isinstance(i, int) for i in ids) else None
    )
    # hash every id ONCE before the file loop (review finding: the md5
    # was inside the files × ids product, so the skip case — the one the
    # prune exists for — paid ~files·ids digests of driver CPU); an
    # uncanonicalizable id disables Bloom pruning entirely, same
    # conservative answer as before
    id_hashes = []
    if blooms:
        for i in ids:
            hs = _bloom_hashes(i)
            if hs is None:
                id_hashes = []
                break
            id_hashes.append(hs)
    files: list[str] = []
    skipped = 0
    for d, fs in manifest["tf"].items():
        for f in fs:
            keep = True
            z = zones.get(f"{d}/{f}") if sorted_int_ids else None
            if z is not None:
                try:
                    # any target id inside [min, max]? (sorted + bisect)
                    j = bisect_left(sorted_int_ids, int(z["min"]))
                    keep = (
                        j < len(sorted_int_ids)
                        and sorted_int_ids[j] <= int(z["max"])
                    )
                except Exception:
                    keep = True
            b = blooms.get(f"{d}/{f}") if keep and id_hashes else None
            if b is not None:
                try:
                    m = int(b["m"])
                    bits = base64.b64decode(b["b64"])
                    keep = any(
                        all(
                            bits[p >> 3] & (1 << (p & 7))
                            for p in (
                                (h1 + j * h2) % m
                                for j in range(_BLOOM_HASHES)
                            )
                        )
                        for h1, h2 in id_hashes
                    )
                except Exception:
                    keep = True
            if keep:
                files.append(os.path.join(path, "tf", d, f))
            else:
                skipped += 1
    return files, skipped


def _sweep_stray_tf(path: str, manifest: dict) -> None:
    """Delete tf files referenced by neither the committed manifest's
    ``tf`` nor its ``retired`` ledger: leftovers of crashed appends
    (moved in, never committed) and compaction-replaced files whose
    time-based grace has expired. The retired ledger (rolled by
    ``manifest.roll_retired`` on every commit) keeps displaced file sets
    alive for ``SPARK_GRAFT_SINK_GC_GRACE`` seconds so a slow reader that
    planned from a previous manifest keeps its files even under a fast
    maintenance loop; legacy ``prev_tf`` is honored for manifests written
    before the ledger existed."""
    referenced = {(d, f) for d, fs in manifest["tf"].items() for f in fs}
    referenced |= {
        (d, f) for d, fs in manifest.get("prev_tf", {}).items() for f in fs
    }
    referenced |= {
        (d, f)
        for e in manifest.get("retired", [])
        for d, fs in e.get("tf", {}).items()
        for f in fs
    }
    tf_root = os.path.join(path, "tf")
    for d in os.listdir(tf_root):
        if not d.startswith(f"{INDEX_SHARD_COL}="):
            continue
        for f in os.listdir(os.path.join(tf_root, d)):
            if f.endswith(".parquet") and (d, f) not in referenced:
                try:
                    os.unlink(os.path.join(tf_root, d, f))
                except FileNotFoundError:
                    pass
    # doc-tombstone ledger files: cleared by a compaction purge but kept
    # while the committed manifest or a live retired entry references them
    tomb_root = os.path.join(path, "tombstones")
    if os.path.isdir(tomb_root):
        kept = set(manifest.get("tombstones") or [])
        for e in manifest.get("retired", []):
            kept |= set(e.get("tombstones") or [])
        for f in os.listdir(tomb_root):
            if f.endswith(".parquet") and f not in kept:
                try:
                    os.unlink(os.path.join(tomb_root, f))
                except FileNotFoundError:
                    pass


def compact_text_index(spark, path: str) -> int:
    """Small-file compaction for the tf postings: every append leaves ~one
    file per touched shard, so a high-frequency maintenance loop
    read-amplifies queries (footer parse + seek per file); compaction
    rewrites each multi-file shard into ONE term-sorted file — restoring
    the term-clustered row-group skipping a fresh build has — from the tf
    table itself (no re-tokenization, so it costs a tf pass, not a corpus
    pass). Returns the number of shards compacted.

    Reader-atomic like append: new files stage + move in under generation
    names, ONE manifest replace publishes them, and the REPLACED files
    stay on disk via the manifest's time-based ``retired`` ledger
    (readers that planned against the prior manifest keep their files for
    ``SPARK_GRAFT_SINK_GC_GRACE`` seconds; a later commit's sweep
    reclaims them once the grace expires). df/stats are untouched —
    compaction changes layout, never content."""
    import shutil

    manifest = _read_index_manifest(path)
    if manifest is None:
        manifest = _bootstrap_index_manifest(spark, path)
    # a pending doc-tombstone ledger makes compaction the PURGE: postings
    # of a deleted doc scatter across every shard (the tf layout clusters
    # by term, not doc), so every shard rewrites — single-file dirs
    # included — and the ledger clears in the same commit
    tomb_files = manifest.get("tombstones") or []
    multi = {
        d: fs
        for d, fs in manifest["tf"].items()
        if len(fs) > 1 or (tomb_files and fs)
    }
    if not multi:
        return 0
    n_shards = int(manifest["n_shards"])
    files = [
        os.path.join(path, "tf", d, f) for d, fs in multi.items() for f in fs
    ]
    gen = uuid.uuid4().hex[:8]
    stage = f"{path}/.tf_compact_{gen}"
    try:
        df_in = spark.read.option("basePath", f"{path}/tf").parquet(*files)
        id_col = next(
            c
            for c in df_in.columns
            if c not in ("dl", "term", "tf", "_ver", INDEX_SHARD_COL)
        )
        if tomb_files:
            df_in = _without_doc_tombstones(
                df_in, spark, path, manifest, id_col
            )
        (
            df_in.repartition(len(multi), F.col(INDEX_SHARD_COL))
            .sortWithinPartitions(INDEX_SHARD_COL, "term")
            .write.mode("overwrite")
            .partitionBy(INDEX_SHARD_COL)
            .parquet(stage)
        )
        new_tf = {d: list(fs) for d, fs in manifest["tf"].items()}
        moved = _move_staged_tf(path, stage, gen)
        for d, names in moved.items():
            new_tf[d] = sorted(names)  # REPLACES the shard's file set
        for d in multi:
            if d not in moved:  # purge emptied the shard: no files remain
                new_tf.pop(d, None)
        now = time.time()
        new_manifest = {
            "n_shards": n_shards,
            "tf": new_tf,
            # rewritten files get fresh Blooms (usually over-cap: a
            # compacted shard file carries most of the corpus — correctly
            # unfiltered); untouched single-file shards keep theirs
            "tf_bloom": _carry_tf_blooms(
                manifest, new_tf, _tf_blooms_for(path, moved, id_col)
            ),
            # doc-id zone maps (footer min/max) — the locate pruner for
            # files past the Bloom cap (r12 verdict #7)
            "tf_zone": _carry_tf_zones(
                manifest, new_tf, _tf_zones_for(path, moved, id_col)
            ),
            "df": manifest["df"],
            "stats": manifest["stats"],
            # time-based grace for the replaced files (see _sweep_stray_tf)
            "retired": M.roll_retired(
                manifest,
                now,
                {
                    "ts": now,
                    "tf": {d: manifest["tf"][d] for d in multi},
                    "gens": [],
                    # readers on the old manifest need the old ledger
                    # files alongside the old tf files
                    "tombstones": list(tomb_files),
                },
            ),
        }
        if manifest.get("last_epoch") is not None:
            new_manifest["last_epoch"] = int(manifest["last_epoch"])
        if manifest.get("epoch_stream") is not None:
            new_manifest["epoch_stream"] = manifest["epoch_stream"]
        M.commit(path, INDEX_MANIFEST, new_manifest, manifest)
        # reclaim crashed-compaction leftovers now (the retired ledger in
        # the just-committed manifest preserves the grace window for the
        # files THIS compaction replaced; anything referenced by neither
        # the live tf nor an in-grace retired entry is a stray)
        _sweep_stray_tf(path, new_manifest)
        _gc_index_gens(
            path,
            keep={manifest["df"], manifest["stats"]} | _retired_gens(new_manifest),
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return len(multi)


def _without_doc_tombstones(
    frame: DataFrame, spark, path: str, manifest: dict, col: str
) -> DataFrame:
    """Filter a postings read down to LIVE documents: ids named by the
    manifest's tombstone ledger (``delete_text_docs``) are excluded —
    but only for rows whose ``_ver`` is ≤ the tombstone's ``as_of``
    version, so a doc RE-APPENDED after its delete (``upsert_text_docs``)
    stays visible while its old rows stay dead. Small ledgers inline as a
    boolean the row-group pushdown can use, big ones stay distributed as
    a conditioned broadcast anti-join. Legacy shapes degrade safely:
    un-versioned postings count as _ver=1, un-versioned ledger entries as
    as_of=∞ (apply to everything — the pre-upsert semantics)."""
    files = manifest.get("tombstones") or []
    if not files:
        return frame
    tomb = spark.read.parquet(
        *[os.path.join(path, "tombstones", f) for f in files]
    )
    if "_tomb_as_of" not in tomb.columns:
        tomb = tomb.withColumn("_tomb_as_of", F.lit(2**31))
    ver_col = F.col("_ver") if "_ver" in frame.columns else F.lit(1)
    n = int(manifest.get("n_tombstones", 0))
    if 0 < n <= _ISIN_PUSHDOWN_MAX:
        by_as_of: dict[int, list] = {}
        for r in tomb.select("_tomb_id", "_tomb_as_of").collect():
            by_as_of.setdefault(int(r["_tomb_as_of"]), []).append(
                r["_tomb_id"]
            )
        cond = None
        for as_of, ids in sorted(by_as_of.items()):
            c = F.col(col).isin(ids) & (ver_col <= F.lit(as_of))
            cond = c if cond is None else (cond | c)
        return frame.where(~cond)
    t = tomb.select(
        F.col("_tomb_id").alias("__tid"), F.col("_tomb_as_of").alias("__tas")
    ).distinct()
    return frame.join(
        F.broadcast(t),
        (F.col(col) == F.col("__tid")) & (ver_col <= F.col("__tas")),
        "left_anti",
    )


def _empty_literal_search(spark, path: str, manifest: dict, id_col: str):
    """Type-correct empty result for the literal-query indexed search: the
    id type comes from the index's own tf schema (query_id is a literal
    string). Falls back to string ids for a corpus-less index."""
    any_file = next(
        (
            os.path.join(path, "tf", d, f)
            for d, fs in sorted(manifest["tf"].items())
            for f in fs
        ),
        None,
    )
    id_type = (
        spark.read.parquet(any_file).schema[id_col].dataType.simpleString()
        if any_file
        else "string"
    )
    return spark.createDataFrame(
        [], f"query_id string, `{id_col}` {id_type}, rank int, score_x1e6 long"
    )


def _empty_mlt_result(docs: DataFrame, id_col: str):
    """Type-correct empty result for more-like-this (query_id IS a doc id,
    so both id columns take the docs frame's type)."""
    return docs.where(F.lit(False)).select(
        F.col(id_col).alias("query_id"),
        F.col(id_col),
        F.lit(0).cast("int").alias("rank"),
        F.lit(0).cast("long").alias("score_x1e6"),
    )


def bm25_search_indexed(
    spark,
    path: str,
    queries: list[tuple[str, str]],
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """``bm25_search`` over a ``build_text_index`` output: byte-identical
    results (pinned in tests) without rescanning the corpus — the tf/df
    reads carry BOTH a shard partition filter (partition pruning: only
    the query terms' directories are listed) and the term predicate
    (parquet row-group pushdown inside a shard).

    The live file set resolves from ``_index_manifest.json`` AT PLAN TIME,
    so a concurrent ``append_text_index`` is invisible until its single
    manifest replace — a query sees the whole append or none of it, and a
    plan resolved before the replace keeps its (still-on-disk) old
    generations for one maintenance cycle."""
    qterms = [
        (qid, t)
        for qid, qtext in queries
        for t in sorted({tok for tok in _py_tokens(qtext)})
    ]
    q = spark.createDataFrame(qterms, "query_id string, term string")
    vocab = sorted({t for _, t in qterms})
    manifest = _read_index_manifest(path)
    if manifest is None:
        manifest = _bootstrap_index_manifest(spark, path)
    corpus = spark.read.parquet(f"{path}/{manifest['stats']}").drop("n_shards")
    # the shard count is an index property (a reader guessing a different
    # partition function would silently miss terms)
    n_shards = int(manifest["n_shards"])
    shard_ids = sorted(_term_shards(spark, vocab, n_shards))
    wanted = {f"{INDEX_SHARD_COL}={s}" for s in shard_ids}
    files = [
        os.path.join(path, "tf", d, f)
        for d, fs in manifest["tf"].items()
        if d in wanted
        for f in fs
    ]
    if not files:  # no query term hashes into any populated shard
        return _empty_literal_search(spark, path, manifest, id_col)
    tf = _without_doc_tombstones(
        spark.read.option("basePath", f"{path}/tf")
        .parquet(*files)
        .where(F.col(INDEX_SHARD_COL).isin(shard_ids))
        .where(F.col("term").isin(vocab)),
        spark,
        path,
        manifest,
        id_col,
    )
    dfreq = (
        spark.read.parquet(f"{path}/{manifest['df']}")
        .where(F.col(INDEX_SHARD_COL).isin(shard_ids))
        .where(F.col("term").isin(vocab))
        .select("term", "df")
    )
    scored = (
        _bm25_contrib(
            tf.join(F.broadcast(q), "term")
            .join(F.broadcast(dfreq), "term")
            .crossJoin(F.broadcast(corpus))
        )
        .groupBy("query_id", id_col)
        .agg(F.sum("contrib").alias("score_x1e6"))
    )
    return _rank_topk(scored, k, id_col, "score_x1e6")


def rrf_fuse(ranked: list[DataFrame], k: int = 10, id_col: str = "doc_id") -> DataFrame:
    """Reciprocal-rank fusion of ranked lists (query_id, <id>, rank) from
    heterogeneous scorers — scores are NOT comparable across a BM25 ranker
    and a cosine ranker, ranks are, which is exactly what RRF uses:
    fused(d) = Σ_sources floor(SCORE_SCALE / (RRF_C + rank_source(d))).
    Exact-integer, so the fusion hash-matches an oracle like its inputs.
    Output (query_id, <id>, rank, rrf_x1e6), ties by id."""
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked input")
    parts = [
        r.select(
            "query_id",
            id_col,
            F.expr(f"{SCORE_SCALE} div ({RRF_C} + rank)").cast("long").alias("c"),
        )
        for r in ranked
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    # ONE query_id exchange must feed both the fuse aggregation and the
    # top-k rank window (guide §2.4 "two operations keyed the same way
    # share one exchange"). In the pinned plans this already holds with NO
    # exchange at all: every ranked input ends in _rank_topk's
    # hash(query_id) window, and Spark's union preserves the common child
    # partitioning, which satisfies both the pair-key aggregation
    # (ClusteredDistribution(query_id, id) — subset rule) and the window —
    # verified round 14, hybrid_mlt_search fuse region is
    # Union → HashAggregate×2 → Sort → Window, zero Exchange. The explicit
    # repartition below is elided by EnsureRequirements in exactly that
    # case (plan before == plan after, pinned in
    # tests/test_optimization_r14.py) and is kept as the guard for inputs
    # that DON'T arrive co-partitioned (a caller-supplied ranked list, or
    # children planned with differing partition counts): there it pins one
    # query_id exchange instead of the pair-key agg exchange + a second
    # window exchange. Skew-safe by construction: every source contributes
    # ≤ k rows per query, so a query's row mass is ≤ len(ranked)·k.
    fused = (
        u.repartition("query_id")
        .groupBy("query_id", id_col)
        .agg(F.sum("c").alias("rrf_x1e6"))
    )
    return _rank_topk(fused, k, id_col, "rrf_x1e6")


def bm25_search_log(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Textbook Okapi BM25 (k1=1.2, b=0.75) with the Lucene log idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` — the production-fidelity
    OPT-IN variant of ``bm25_search``: identical plan shape (same
    ``_scan_query_tf`` head, same broadcast/shuffle structure), one
    swapped scoring expression, double-precision scores.

    Deliberately NOT oracle-hash-checked: ``ln`` crosses libm
    implementations (JVM StrictMath vs DuckDB's libm can differ in the
    last ulp), and a float sum over a groupBy is accumulation-order-
    nondeterministic — a last-ulp difference at a rank boundary could
    flip a tie. Ranks are therefore contract-tested against the linear
    surrogate (tests/test_search.py): the two agree wherever idf RATIOS
    dominate, and diverge exactly where the linear form's exaggerated
    rare-term weight does — ``(N-df+.5)/(df+.5)`` grows ~N/df while
    ``ln`` compresses it, so a doc matching one ultra-rare term can
    outrank a doc with several mid-rare terms under lin but not log.
    Output (query_id, <id>, rank, score double); ties by id."""
    q, tf, dfreq, corpus = _scan_query_tf(docs, queries, text_col, id_col)
    scored = (
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "contrib",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * (F.col("tf") * F.lit(11.0 / 5.0))
            / (
                F.col("tf")
                + F.lit(3.0 / 10.0)
                + F.lit(9.0 / 10.0)
                * F.col("dl")
                * F.col("n_docs")
                / F.col("total_dl")
            ),
        )
        .groupBy("query_id", id_col)
        .agg(F.sum("contrib").alias("score"))
    )
    return _rank_topk(scored, k, id_col, "score")


def bm25_more_like_this_indexed(
    spark,
    path: str,
    docs: DataFrame,
    query_pred,
    k: int = 10,
    max_query_terms: int = 20,
    max_doc_freq_ppm: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``bm25_more_like_this`` served from a ``build_text_index`` output —
    the sparse twin of ``knn_ivf_indexed``, completing the fully-indexed
    hybrid stack: byte-identical ranks (pinned in tests) with the
    per-call corpus scan+explode replaced by pruned postings reads.

    Plan: (1) the query DOCS' token lists come from the docs table with
    ``query_pred`` pushed to the scan (batch-sized, the only corpus-table
    touch); (2) their distinct terms — bounded by the batch's vocabulary,
    |Q|·doc_len worst case — are collected to the driver (the same
    bounded-scalar budget as the vocab shard ids) so df and postings
    reads get literal shard-partition filters and term pushdown;
    (3) df comes from the index's vocabulary-sized sidecar, the
    rarest-``max_query_terms`` selection and optional df ceiling applied
    exactly as in the scan-based form; (4) postings (tf) are read ONLY
    from the SELECTED terms' shards — after the rarity cap, so the big
    read is ≤ |Q|·M terms' shards, not the batch vocabulary's; (5) same
    ``_bm25_contrib`` scoring, self-exclusion, and top-k tail.

    The df used for rarity ranking and scoring is the INDEX df — the
    whole-corpus document frequency, identical to what the scan-based
    form derives (its tf semi-join keeps every doc's rows for query
    terms), so scores match bit-for-bit.

    Term-filter strategy is adaptive: small term sets become LITERAL
    ``isin`` predicates (parquet row-group pushdown inside the pruned
    shards — the adjudication-batch fast path); past
    ``_ISIN_PUSHDOWN_MAX`` terms a literal list costs more than it prunes
    (measured: |Q|=1000 Zipf batches collect ~20k distinct terms, hash
    into every shard, and the giant InSet made the indexed form SLOWER
    than the scan), so the filter falls back to a broadcast semi-join and
    only the shard-level FILE pruning remains literal (≤ n_shards ints
    either way)."""
    manifest = _read_index_manifest(path)
    if manifest is None:
        manifest = _bootstrap_index_manifest(spark, path)
    n_shards = int(manifest["n_shards"])
    corpus = spark.read.parquet(f"{path}/{manifest['stats']}").drop("n_shards")

    # (1)+(2) query docs' terms; driver-bounded by the batch vocabulary.
    # eager_cache: this batch-sized frame feeds THREE consumers (the
    # qvocab collect, the selected-terms collect, and the scoring join) —
    # uncached, each would re-run the query-doc scan+tokenize subtree
    q = eager_cache(
        docs.where(query_pred)
        .select(
            F.col(id_col).alias("query_id"),
            F.explode(F.array_distinct(tokens(text_col))).alias("term"),
        )
    )
    qvocab = sorted(
        r["term"] for r in q.select("term").distinct().collect()
    )
    if not qvocab:
        return _empty_mlt_result(docs, id_col)
    q_shards = sorted(_term_shards(spark, qvocab, n_shards))

    def term_filter(frame, terms):
        if len(terms) <= _ISIN_PUSHDOWN_MAX:
            return frame.where(F.col("term").isin(terms))
        t = spark.createDataFrame([(x,) for x in terms], "term string")
        return frame.join(F.broadcast(t), "term", "left_semi")

    # (3) df sidecar lookup (vocabulary-sized), rarity cap + optional
    # df ceiling — identical selection semantics to the scan-based form
    dfreq = term_filter(
        spark.read.parquet(f"{path}/{manifest['df']}").where(
            F.col(INDEX_SHARD_COL).isin(q_shards)
        ),
        qvocab,
    ).select("term", "df")
    selectable = dfreq
    if max_doc_freq_ppm is not None:
        selectable = (
            dfreq.crossJoin(F.broadcast(corpus.select("n_docs")))
            .where(
                F.col("df") * F.lit(1_000_000)
                <= F.lit(int(max_doc_freq_ppm)) * F.col("n_docs")
            )
            .select("term", "df")
        )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("df").asc(), F.col("term").asc()
    )
    q = (
        q.join(F.broadcast(selectable), "term")
        .withColumn("_tr", F.row_number().over(wq))
        .where(F.col("_tr") <= max_query_terms)
        .select("query_id", "term")
    )
    # the SELECTED terms (≤ |Q|·max_query_terms) drive the postings read —
    # strictly fewer shards/row-groups than the raw batch vocabulary
    sel_terms = sorted(r["term"] for r in q.select("term").distinct().collect())
    if not sel_terms:
        return _empty_mlt_result(docs, id_col)
    sel_shards = sorted(_term_shards(spark, sel_terms, n_shards))
    wanted = {f"{INDEX_SHARD_COL}={s}" for s in sel_shards}
    files = [
        os.path.join(path, "tf", d, f)
        for d, fs in manifest["tf"].items()
        if d in wanted
        for f in fs
    ]
    tf = _without_doc_tombstones(
        term_filter(
            spark.read.option("basePath", f"{path}/tf")
            .parquet(*files)
            .where(F.col(INDEX_SHARD_COL).isin(sel_shards)),
            sel_terms,
        ),
        spark,
        path,
        manifest,
        id_col,
    )

    # (5) identical scoring tail to the scan-based form
    scored = (
        _bm25_contrib(
            tf.join(F.broadcast(q), "term")
            .where(F.col(id_col) != F.col("query_id"))
            .join(F.broadcast(dfreq), "term")
            .crossJoin(F.broadcast(corpus))
        )
        .groupBy("query_id", id_col)
        .agg(F.sum("contrib").alias("score_x1e6"))
    )
    return _rank_topk(scored, k, id_col, "score_x1e6")


# --------------------------------------------------------------------------
# Cost-based scan-vs-index routing (round 9)
# --------------------------------------------------------------------------

#: session conf key for the routing threshold: the indexed read pays off
#: while the query terms' postings are a small fraction of the corpus
#: postings; past it the sequential corpus scan wins. Calibrated against
#: the measured ladder (SCALING.md round 8: Zipf 50k corpus — Q=10 index
#: wins, Q=100 parity, Q=1000 scan wins; sf10 rehearsal — an 11.7M-row
#: postings read vs a ~50M-token corpus correctly routes to scan).
ROUTE_RATIO_CONF = "spark.spark_graft.indexRouteRatio"
ROUTE_RATIO_DEFAULT = 0.1


def _route_ratio(spark) -> float:
    try:
        return float(spark.conf.get(ROUTE_RATIO_CONF))
    except Exception:
        return ROUTE_RATIO_DEFAULT


def choose_search_route(
    spark, path: str, vocab: list[str], manifest: dict | None = None
) -> tuple[str, int, int]:
    """('index'|'scan', Σdf, total_dl) for a literal query vocabulary —
    the cost model behind ``bm25_search_auto``. The statistic is free:
    the index's vocabulary-sized df sidecar gives the exact postings-read
    size Σdf(vocab) in one pruned job, and ``stats`` holds the corpus
    token count the scan plan must tokenize. Route to the index iff
    Σdf ≤ ratio·total_dl (conf ``spark.spark_graft.indexRouteRatio``,
    default 0.1 — the measured parity region; per-row postings-read cost
    carries seek/footer overhead a sequential codegen scan does not, so
    parity sits well below 1.0)."""
    if manifest is None:
        manifest = _read_index_manifest(path)
        if manifest is None:
            manifest = _bootstrap_index_manifest(spark, path)
    stats = spark.read.parquet(f"{path}/{manifest['stats']}").collect()[0]
    total_dl = int(stats["total_dl"])
    if not vocab:
        return "index", 0, total_dl  # empty result, trivially index-served
    n_shards = int(manifest["n_shards"])
    shards = sorted(_term_shards(spark, vocab, n_shards))
    dfreq = spark.read.parquet(f"{path}/{manifest['df']}").where(
        F.col(INDEX_SHARD_COL).isin(shards)
    )
    if len(vocab) <= _ISIN_PUSHDOWN_MAX:
        dfreq = dfreq.where(F.col("term").isin(vocab))
    else:
        t = spark.createDataFrame([(x,) for x in vocab], "term string")
        dfreq = dfreq.join(F.broadcast(t), "term", "left_semi")
    sum_df = int(dfreq.agg(F.sum("df")).collect()[0][0] or 0)
    route = (
        "index" if sum_df <= _route_ratio(spark) * total_dl else "scan"
    )
    return route, sum_df, total_dl


def bm25_search_auto(
    spark,
    path: str,
    docs: DataFrame,
    queries: list[tuple[str, str]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cost-routed BM25 search: serves the batch from the persisted index
    when the query vocabulary's postings are a small fraction of the
    corpus (``choose_search_route``), from the corpus scan otherwise —
    the measured crossover (SCALING.md) made into a plan choice the
    caller no longer has to make, the ``sessionize_auto`` pattern for
    retrieval. Output is byte-identical under either route (the two
    endpoints are pinned equal in tests), so routing is purely
    physical."""
    vocab = sorted(
        {t for _, qtext in queries for t in _py_tokens(qtext)}
    )
    route, _, _ = choose_search_route(spark, path, vocab)
    if route == "index":
        return bm25_search_indexed(spark, path, queries, k=k, id_col=id_col)
    return bm25_search(
        docs, queries, k=k, text_col=text_col, id_col=id_col
    )


def choose_mlt_route(
    spark,
    path: str,
    docs: DataFrame,
    query_pred,
    max_query_terms: int = 20,
    max_doc_freq_ppm: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    manifest: dict | None = None,
) -> tuple[str, int, int]:
    """('index'|'scan', Σdf over SELECTED terms, total_dl) for a
    more-like-this batch. Selection-aware: the estimate applies the SAME
    rarest-``max_query_terms`` cap and optional df ceiling the MLT forms
    apply (vocabulary-sized frames end to end — the query docs' term
    scan is batch-sized with the predicate pushed down, df comes from
    the sidecar), then sums df over the DISTINCT selected terms: exactly
    the postings rows the indexed plan would read. The scan plan's cost
    proxy is the corpus token count it must re-tokenize."""
    if manifest is None:
        manifest = _read_index_manifest(path)
        if manifest is None:
            manifest = _bootstrap_index_manifest(spark, path)
    stats = spark.read.parquet(f"{path}/{manifest['stats']}").collect()[0]
    total_dl = int(stats["total_dl"])
    q = docs.where(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("term"),
    )
    qvocab = sorted(r["term"] for r in q.select("term").distinct().collect())
    if not qvocab:
        return "index", 0, total_dl
    n_shards = int(manifest["n_shards"])
    q_shards = sorted(_term_shards(spark, qvocab, n_shards))
    dfreq = spark.read.parquet(f"{path}/{manifest['df']}").where(
        F.col(INDEX_SHARD_COL).isin(q_shards)
    )
    if len(qvocab) <= _ISIN_PUSHDOWN_MAX:
        dfreq = dfreq.where(F.col("term").isin(qvocab))
    else:
        t = spark.createDataFrame([(x,) for x in qvocab], "term string")
        dfreq = dfreq.join(F.broadcast(t), "term", "left_semi")
    selectable = dfreq.select("term", "df")
    if max_doc_freq_ppm is not None:
        n_docs = int(stats["n_docs"])
        selectable = selectable.where(
            F.col("df") * F.lit(1_000_000)
            <= F.lit(int(max_doc_freq_ppm) * n_docs)
        )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("df").asc(), F.col("term").asc()
    )
    sum_df = int(
        q.join(F.broadcast(selectable), "term")
        .withColumn("_tr", F.row_number().over(wq))
        .where(F.col("_tr") <= max_query_terms)
        .select("term", "df")
        .distinct()
        .agg(F.sum("df"))
        .collect()[0][0]
        or 0
    )
    route = (
        "index" if sum_df <= _route_ratio(spark) * total_dl else "scan"
    )
    return route, sum_df, total_dl


def bm25_more_like_this_auto(
    spark,
    path: str,
    docs: DataFrame,
    query_pred,
    k: int = 10,
    max_query_terms: int = 20,
    max_doc_freq_ppm: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cost-routed more-like-this: ``bm25_more_like_this_indexed`` when
    the selected terms' postings are a small corpus fraction (the
    adjudication-batch regime the ladder showed the index winning),
    ``bm25_more_like_this`` when a corpus-fraction batch's vocabulary
    covers the index (the Q=1000 / adversarial-corpus regime where
    scanning IS the right plan). Byte-identical output either way —
    the endpoints are pinned equal in tests — so the choice is purely
    physical, driven by the index's own statistics."""
    route, _, _ = choose_mlt_route(
        spark,
        path,
        docs,
        query_pred,
        max_query_terms=max_query_terms,
        max_doc_freq_ppm=max_doc_freq_ppm,
        text_col=text_col,
        id_col=id_col,
    )
    if route == "index":
        return bm25_more_like_this_indexed(
            spark,
            path,
            docs,
            query_pred,
            k=k,
            max_query_terms=max_query_terms,
            max_doc_freq_ppm=max_doc_freq_ppm,
            text_col=text_col,
            id_col=id_col,
        )
    return bm25_more_like_this(
        docs,
        query_pred,
        k=k,
        max_query_terms=max_query_terms,
        max_doc_freq_ppm=max_doc_freq_ppm,
        text_col=text_col,
        id_col=id_col,
    )


def delete_text_docs(
    spark,
    path: str,
    doc_ids: list,
    id_col: str = "doc_id",
    epoch: int | None = None,
    epoch_stream: str | None = None,
) -> int:
    """Delete documents from the persisted BM25 index WITHOUT a rebuild —
    the Lucene live-docs pattern on the MVCC manifest: ONE commit appends
    the doc ids to a ``tombstones/`` ledger (reads filter postings to live
    docs), and — because BM25 scores survivors through GLOBAL statistics —
    publishes a DECREMENTED ``df-<gen>`` sidecar and ``stats-<gen>``
    (n_docs, total_dl) in the same atomic manifest replace. Surviving
    docs' scores are therefore byte-identical to a fresh build over the
    surviving corpus (pinned in tests) — tombstoning changes visibility
    AND the statistics, never the scoring math. Physical rows disappear at
    the next ``compact_text_index``, which doubles as the purge and clears
    the ledger.

    Cost model, stated honestly: postings cluster by TERM, not doc, so the
    locate scan reads every live tf file once (id-pushdown prunes row
    groups only where ids cluster by luck) — O(index), the price of
    deleting from an inverted layout; everything downstream is bounded by
    the deleted docs' postings. Returns the number of docs actually
    deleted; unknown, already-deleted, and token-less ids are ignored
    (a token-less doc has no postings to find — delete it by rebuilding
    from the corrected corpus snapshot, the documented limitation).

    Re-inserting a deleted id via ``append_text_index`` is rejected by its
    ``check_overlap`` guard while the physical rows remain (a blind append
    would resurrect BOTH copies at the purge); compact first, then
    re-append. The scan-vs-index auto routes (``bm25_search_auto``)
    stay consistent only if the caller's corpus frame reflects the same
    deletes (delete from the keyed sink and the index together — the
    doc-curation pipeline's contract)."""
    import shutil

    manifest = _read_index_manifest(path)
    if manifest is None:
        manifest = _bootstrap_index_manifest(spark, path)
    ids = sorted(set(doc_ids))
    if not ids:
        return 0
    existing = manifest.get("tombstones") or []
    # Bloom-pruned locate (r12): only the tf files whose recorded doc-id
    # Bloom can hold a target id are opened — on an incrementally-grown
    # index that is the append/upsert generation files carrying the ids,
    # not the whole tree (build-time files have no filter and always
    # qualify; false negatives impossible, so df arithmetic is safe)
    files, _ = _locate_tf_files(path, manifest, ids)
    if not files:
        return 0
    # locate LIVE postings only (the tombstone filter applied up front):
    # an already-dead id finds nothing — idempotent — while an id that
    # was deleted and later RE-APPENDED (upsert) finds exactly its live
    # rows and gets a fresh, higher-as_of tombstone
    tf_all = _without_doc_tombstones(
        spark.read.option("basePath", f"{path}/tf").parquet(*files),
        spark,
        path,
        manifest,
        id_col,
    )
    if len(ids) <= _ISIN_PUSHDOWN_MAX:
        deleted = tf_all.where(F.col(id_col).isin(ids))
    else:
        id_type = tf_all.schema[id_col].dataType.simpleString()
        idf = spark.createDataFrame(
            [(i,) for i in ids], f"`{id_col}` {id_type}"
        )
        deleted = tf_all.join(F.broadcast(idf), id_col, "left_semi")
    deleted = eager_cache(deleted)
    try:
        # one row per surviving (deleted doc): its dl rides every posting
        found = deleted.select(id_col, "dl").distinct()
        agg = found.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t")
        ).collect()[0]
        n_found = int(agg["n"])
        if n_found == 0:
            return 0
        gen = uuid.uuid4().hex[:8]
        # tombstone ledger file (ids only — the read-side filter's shape)
        stage_t = f"{path}/.tombstones_stage_{gen}"
        os.makedirs(os.path.join(path, "tombstones"), exist_ok=True)
        found.select(
            F.col(id_col).alias("_tomb_id"),
            # this tombstone applies to rows committed up to NOW — a
            # later re-append's rows carry a higher _ver and stay live
            F.lit(int(manifest.get("version", 1))).alias("_tomb_as_of"),
        ).coalesce(1).write.mode("overwrite").parquet(stage_t)
        names = []
        for i, f in enumerate(
            sorted(x for x in os.listdir(stage_t) if x.endswith(".parquet"))
        ):
            name = f"gen-{gen}-{i:05d}.parquet"
            os.rename(
                os.path.join(stage_t, f),
                os.path.join(path, "tombstones", name),
            )
            names.append(name)
        shutil.rmtree(stage_t, ignore_errors=True)
        # df: subtract each deleted doc's distinct terms (the tf table is
        # keyed by (doc, term), so a count per term IS the decrement);
        # terms whose every doc died drop out — exactly a rebuild's df
        dec = deleted.groupBy(INDEX_SHARD_COL, "term").agg(
            F.count(F.lit(1)).alias("_ddf")
        )
        df_dir, stats_dir = f"df-{gen}", f"stats-{gen}"
        (
            spark.read.parquet(f"{path}/{manifest['df']}")
            .join(dec, [INDEX_SHARD_COL, "term"], "left")
            .select(
                INDEX_SHARD_COL,
                "term",
                (F.col("df") - F.coalesce(F.col("_ddf"), F.lit(0))).alias(
                    "df"
                ),
            )
            .where(F.col("df") > 0)
            .repartition(1)
            .write.mode("overwrite")
            .partitionBy(INDEX_SHARD_COL)
            .parquet(f"{path}/{df_dir}")
        )
        stats_old = spark.read.parquet(
            f"{path}/{manifest['stats']}"
        ).collect()[0]
        spark.createDataFrame(
            [
                (
                    int(stats_old["n_docs"]) - n_found,
                    int(stats_old["total_dl"]) - int(agg["t"] or 0),
                    int(manifest["n_shards"]),
                )
            ],
            "n_docs bigint, total_dl bigint, n_shards int",
        ).write.mode("overwrite").parquet(f"{path}/{stats_dir}")
        now = time.time()
        new_manifest = {
            "n_shards": int(manifest["n_shards"]),
            "tf": {d: sorted(fs) for d, fs in manifest["tf"].items()},
            "tf_bloom": _carry_tf_blooms(manifest, manifest["tf"], {}),
            "tf_zone": _carry_tf_zones(manifest, manifest["tf"], {}),
            "df": df_dir,
            "stats": stats_dir,
            "tombstones": sorted(list(existing) + names),
            "n_tombstones": int(manifest.get("n_tombstones", 0)) + n_found,
            "retired": M.roll_retired(
                manifest,
                now,
                {
                    "ts": now,
                    "tf": {},
                    "gens": [manifest["df"], manifest["stats"]],
                },
            ),
        }
        if epoch is not None:
            new_manifest["last_epoch"] = int(epoch)
            if epoch_stream is not None:
                new_manifest["epoch_stream"] = str(epoch_stream)
        else:
            if manifest.get("last_epoch") is not None:
                new_manifest["last_epoch"] = int(manifest["last_epoch"])
            if manifest.get("epoch_stream") is not None:
                new_manifest["epoch_stream"] = str(manifest["epoch_stream"])
        M.commit(path, INDEX_MANIFEST, new_manifest, manifest)
        _gc_index_gens(
            path, keep={df_dir, stats_dir} | _retired_gens(new_manifest)
        )
        _sweep_stray_tf(path, new_manifest)
        return n_found
    finally:
        deleted.unpersist()


def upsert_text_docs(
    spark,
    path: str,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delete_ids: list | None = None,
    epoch: int | None = None,
    epoch_stream: str | None = None,
    known_ids: list | None = None,
) -> dict:
    """Re-index documents — the text index's CRUD-completing write op, in
    ONE atomic commit: the batch's (and ``delete_ids``'s) LIVE old rows
    retire behind a tombstone stamped ``as_of`` the current version, the
    new content's postings land at the NEXT version (the ``_ver`` ladder
    keeps them live through the same filter), and df/stats publish
    EXACTLY adjusted in one pass (old df − retired docs' term counts +
    new docs' term counts; terms at zero drop — identical arithmetic to a
    rebuild over the upserted corpus, the pinned oracle). A reader sees
    the whole window or none of it, and a crash before the manifest
    replace leaves only invisible strays — the delete/append pair's
    visibility gap is gone.

    ``delete_ids`` is the CDC-sync shape: a netted change window's
    deletes ride the same commit (an id in BOTH the batch and delete_ids
    is a contradiction and raises). The locate scan is the documented
    O(index) tf pass (term-clustered layout); the physical purge of
    retired rows stays with ``compact_text_index``. New ids — nothing
    live to retire — just append. Returns {"deleted": live docs among
    delete_ids, "replaced": live docs among the batch ids, "appended":
    n_docs}."""
    import shutil

    manifest = _read_index_manifest(path)
    if manifest is None:
        manifest = _bootstrap_index_manifest(spark, path)
    # known_ids: the CDC sync already collected the window's ids from the
    # netted feed — skip the count + collect jobs (two fewer scans)
    up_ids = (
        list(known_ids)
        if known_ids is not None
        else [r[id_col] for r in docs.select(id_col).collect()]
    )
    n_docs = len(up_ids)
    if len(up_ids) != len(set(up_ids)):
        raise ValueError(
            "upsert_text_docs: batch carries duplicate ids — resolve to "
            "one row per id upstream (the keyed sink's key-distinct upsert "
            "contract)"
        )
    delete_ids = sorted(set(delete_ids or []))
    overlap = set(delete_ids) & set(up_ids)
    if overlap:
        raise ValueError(
            f"upsert_text_docs: {len(overlap)} ids appear in BOTH the "
            "batch and delete_ids — a netted change feed never does this; "
            "resolve upstream"
        )
    retire_ids = sorted(set(up_ids) | set(delete_ids))
    ver = int(manifest.get("version", 1))
    n_shards = int(manifest["n_shards"])
    # Bloom-pruned locate over the retire set (see delete_text_docs)
    files, _ = _locate_tf_files(path, manifest, retire_ids)
    # the upsert's correctness RIDES the _ver ladder (new rows stay live
    # through the tombstone's as_of filter only because they carry a
    # higher _ver) — on a legacy pre-_ver index a stamped delta creates
    # mixed per-file tf schemas, and the unified read either drops the
    # column (upserted doc vanishes: _ver=1 ≤ as_of) or nulls it on
    # legacy rows (the anti-join and isin tombstone paths then disagree).
    # Same guard shape as append_text_index's has_ver, but upsert cannot
    # fall back to unversioned: refuse and require a rebuild.
    if files and "_ver" not in _parquet_footer_columns(files[0]):
        raise ValueError(
            "upsert_text_docs: index predates the _ver column (legacy "
            "layout) — in-place upserts need row versions to keep the "
            "replacement live past its tombstone; rebuild with "
            "build_text_index first"
        )
    # live postings of everything this window retires (O(index) locate)
    retired = None
    if files and retire_ids:
        tf_all = _without_doc_tombstones(
            spark.read.option("basePath", f"{path}/tf").parquet(*files),
            spark,
            path,
            manifest,
            id_col,
        )
        if len(retire_ids) <= _ISIN_PUSHDOWN_MAX:
            retired = tf_all.where(F.col(id_col).isin(retire_ids))
        else:
            id_type = tf_all.schema[id_col].dataType.simpleString()
            idf = spark.createDataFrame(
                [(i,) for i in retire_ids], f"`{id_col}` {id_type}"
            )
            retired = tf_all.join(F.broadcast(idf), id_col, "left_semi")
        retired = eager_cache(retired)
    # new content, versioned ABOVE the tombstone's as_of
    shard = hash_bucket("term", n_shards).alias(INDEX_SHARD_COL)
    with_dl = docs.select(
        id_col,
        F.size(tokens(text_col)).cast("long").alias("dl"),
        tokens(text_col).alias("toks"),
    )
    delta_tf = eager_cache(
        with_dl.select(id_col, "dl", F.explode("toks").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select(
            id_col, "dl", "term", "tf", F.lit(ver + 1).alias("_ver"), shard
        )
    )
    gen = uuid.uuid4().hex[:8]
    stage = f"{path}/.tf_stage_{gen}"
    try:
        live_docs = (
            retired.select(id_col, "dl").distinct().collect()
            if retired is not None
            else []
        )
        live_set = {r[id_col] for r in live_docs}
        n_deleted = sum(1 for i in delete_ids if i in live_set)
        n_replaced = len(live_set) - n_deleted
        dl_retired = sum(int(r["dl"]) for r in live_docs)

        # tf: the delta lands in its shard partitions under gen names
        delta_tf.repartition(
            n_shards, F.col(INDEX_SHARD_COL)
        ).sortWithinPartitions(INDEX_SHARD_COL, "term").write.mode(
            "overwrite"
        ).partitionBy(INDEX_SHARD_COL).parquet(stage)
        new_tf = {d: list(fs) for d, fs in manifest["tf"].items()}
        moved = _move_staged_tf(path, stage, gen)
        for d, names in moved.items():
            new_tf.setdefault(d, []).extend(names)

        # tombstone ledger entry for the retired docs (skipped when the
        # whole batch is new ids)
        existing = list(manifest.get("tombstones") or [])
        names = []
        if live_set:
            stage_t = f"{path}/.tombstones_stage_{gen}"
            os.makedirs(os.path.join(path, "tombstones"), exist_ok=True)
            retired.select(id_col, "dl").distinct().select(
                F.col(id_col).alias("_tomb_id"),
                F.lit(ver).alias("_tomb_as_of"),
            ).coalesce(1).write.mode("overwrite").parquet(stage_t)
            for i, f in enumerate(
                sorted(
                    x for x in os.listdir(stage_t) if x.endswith(".parquet")
                )
            ):
                name = f"gen-{gen}-{i:05d}.parquet"
                os.rename(
                    os.path.join(stage_t, f),
                    os.path.join(path, "tombstones", name),
                )
                names.append(name)
            shutil.rmtree(stage_t, ignore_errors=True)

        # df: one pass — old df minus the retired docs' per-term counts
        # plus the delta's; zero-df terms drop (rebuild arithmetic)
        df_dir, stats_dir = f"df-{gen}", f"stats-{gen}"
        parts = [
            spark.read.parquet(f"{path}/{manifest['df']}").select(
                INDEX_SHARD_COL, "term", "df"
            )
        ]
        if retired is not None:
            parts.append(
                retired.groupBy(INDEX_SHARD_COL, "term").agg(
                    (-F.count(F.lit(1))).alias("df")
                )
            )
        parts.append(
            delta_tf.groupBy(INDEX_SHARD_COL, "term").agg(
                F.count(F.lit(1)).alias("df")
            )
        )
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        (
            merged.groupBy(INDEX_SHARD_COL, "term")
            .agg(F.sum("df").alias("df"))
            .where(F.col("df") > 0)
            .repartition(1)
            .write.mode("overwrite")
            .partitionBy(INDEX_SHARD_COL)
            .parquet(f"{path}/{df_dir}")
        )
        stats_old = spark.read.parquet(
            f"{path}/{manifest['stats']}"
        ).collect()[0]
        d = with_dl.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t")
        ).collect()[0]
        spark.createDataFrame(
            [
                (
                    int(stats_old["n_docs"]) - len(live_set) + int(d["n"]),
                    int(stats_old["total_dl"]) - dl_retired + int(d["t"] or 0),
                    n_shards,
                )
            ],
            "n_docs bigint, total_dl bigint, n_shards int",
        ).write.mode("overwrite").parquet(f"{path}/{stats_dir}")

        now = time.time()
        new_manifest = {
            "n_shards": n_shards,
            "tf": {d: sorted(fs) for d, fs in new_tf.items()},
            "tf_bloom": _carry_tf_blooms(
                manifest, new_tf, _tf_blooms_for(path, moved, id_col)
            ),
            # doc-id zone maps (footer min/max) — the locate pruner for
            # files past the Bloom cap (r12 verdict #7)
            "tf_zone": _carry_tf_zones(
                manifest, new_tf, _tf_zones_for(path, moved, id_col)
            ),
            "df": df_dir,
            "stats": stats_dir,
            "retired": M.roll_retired(
                manifest,
                now,
                {
                    "ts": now,
                    "tf": {},
                    "gens": [manifest["df"], manifest["stats"]],
                },
            ),
        }
        if existing or names:
            new_manifest["tombstones"] = sorted(existing + names)
            new_manifest["n_tombstones"] = int(
                manifest.get("n_tombstones", 0)
            ) + len(live_set)
        if epoch is not None:
            new_manifest["last_epoch"] = int(epoch)
            if epoch_stream is not None:
                new_manifest["epoch_stream"] = str(epoch_stream)
        else:
            if manifest.get("last_epoch") is not None:
                new_manifest["last_epoch"] = int(manifest["last_epoch"])
            if manifest.get("epoch_stream") is not None:
                new_manifest["epoch_stream"] = str(manifest["epoch_stream"])
        M.commit(path, INDEX_MANIFEST, new_manifest, manifest)
        _gc_index_gens(
            path, keep={df_dir, stats_dir} | _retired_gens(new_manifest)
        )
        _sweep_stray_tf(path, new_manifest)
        return {
            "deleted": int(n_deleted),
            "replaced": int(n_replaced),
            "appended": int(n_docs),
        }
    finally:
        delta_tf.unpersist()
        if retired is not None:
            retired.unpersist()
        shutil.rmtree(stage, ignore_errors=True)
