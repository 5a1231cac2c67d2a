"""BM25 full-text search: oracle equality on the testdata corpus plus
behavioral contracts on a crafted micro-corpus (idf ordering, saturation,
length normalization, tie-breaks, top-k)."""

from __future__ import annotations

from pyspark.sql import functions as F

from es_household_retention_spark_job_spark.entry_queries import (
    EXTRA_ORACLE_SQL,
    EXTRA_QUERIES,
)
from es_household_retention_spark_job_spark.operators.search import (
    bm25_scores,
    bm25_search,
)

from .conftest import SF_DIR, assert_matches_oracle


def test_bm25_matches_oracle(spark, duck):
    assert_matches_oracle(
        EXTRA_QUERIES["bm25_search"](spark, SF_DIR),
        duck,
        EXTRA_ORACLE_SQL["bm25_search"],
        min_rows=1,
    )


def _corpus(spark):
    rows = [
        (1, "apple banana banana cherry"),
        (2, "apple cherry cherry cherry"),
        (3, "banana date date date date date date date date date"),
        (4, "date fig grape"),
        (5, "apple apple apple apple"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_idf_rare_term_outranks_common(spark):
    """Two docs with identical tf and length for their respective query
    terms: the doc matching the RARER term must score higher."""
    docs = spark.createDataFrame(
        [
            (1, "rare filler filler filler"),
            (2, "common filler filler filler"),
            (3, "common other words here"),
            (4, "common more words again"),
        ],
        "doc_id long, text string",
    )
    scores = {
        (r.query_id, r.doc_id): r.score_x1e6
        for r in bm25_scores(docs, [("q", "rare common")]).collect()
    }
    assert scores[("q", 1)] > scores[("q", 2)]  # df(rare)=1 < df(common)=3


def test_bm25_tf_saturation_and_length_norm(spark):
    """More occurrences score higher (monotone in tf), but a long doc with
    the same tf scores LOWER than a short one (length normalization)."""
    docs = spark.createDataFrame(
        [
            (1, "kiwi pad"),
            (2, "kiwi kiwi pad"),
            (3, "kiwi pad pad pad pad pad pad pad pad pad pad pad"),
        ],
        "doc_id long, text string",
    )
    s = {
        r.doc_id: r.score_x1e6
        for r in bm25_scores(docs, [("q", "kiwi")]).collect()
    }
    assert s[2] > s[1]  # tf 2 > tf 1 at comparable length
    assert s[1] > s[3]  # same tf, much longer doc -> lower


def test_bm25_topk_membership_and_ties(spark):
    docs = _corpus(spark)
    out = bm25_search(docs, [("qa", "apple"), ("qd", "date")], k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score_x1e6))
    # doc 3 never mentions apple; doc 5 is the apple-heaviest
    qa = sorted(by_q["qa"])
    assert [d for _, d, _ in qa][0] == 5 and 3 not in [d for _, d, _ in qa]
    assert len(qa) == 2  # k enforced even though 3 docs match
    # ranks are 1..k and scores non-increasing
    for q, rows in by_q.items():
        rows.sort()
        assert [r for r, _, _ in rows] == list(range(1, len(rows) + 1))
        scores = [s for _, _, s in rows]
        assert scores == sorted(scores, reverse=True)
    # deterministic tie-break: equal scores order by doc_id ascending
    tie_docs = spark.createDataFrame(
        [(7, "pear plum"), (2, "pear plum"), (9, "pear plum")],
        "doc_id long, text string",
    )
    tie = sorted(
        (r.rank, r.doc_id)
        for r in bm25_search(tie_docs, [("q", "pear")], k=3).collect()
    )
    assert tie == [(1, 2), (2, 7), (3, 9)]


def test_bm25_no_matching_terms_empty(spark):
    assert bm25_search(_corpus(spark), [("q", "zzz qqq")], k=5).count() == 0


def test_hybrid_mlt_matches_oracle(spark, duck):
    assert_matches_oracle(
        EXTRA_QUERIES["hybrid_mlt_search"](spark, SF_DIR),
        duck,
        EXTRA_ORACLE_SQL["hybrid_mlt_search"],
        min_rows=1,
    )


def test_rrf_fusion_contract(spark):
    """RRF: a doc ranked by BOTH sources outranks docs seen by only one
    (at comparable ranks), and the fused score is the exact integer sum of
    floor(SCALE/(C+rank)) contributions."""
    from es_household_retention_spark_job_spark.operators.search import (
        RRF_C,
        SCORE_SCALE,
        rrf_fuse,
    )

    a = spark.createDataFrame(
        [("q", 10, 1), ("q", 11, 2), ("q", 12, 3)],
        "query_id string, doc_id long, rank int",
    )
    b = spark.createDataFrame(
        [("q", 10, 2), ("q", 13, 1), ("q", 14, 3)],
        "query_id string, doc_id long, rank int",
    )
    out = {r.doc_id: (r.rank, r.rrf_x1e6) for r in rrf_fuse([a, b], k=5).collect()}
    c = lambda r: SCORE_SCALE // (RRF_C + r)
    assert out[10] == (1, c(1) + c(2))  # both sources -> top, exact sum
    assert out[13][1] == c(1) and out[11][1] == c(2)
    assert out[10][1] > max(out[13][1], out[11][1])
    # deterministic tie-break on equal fused scores: doc_id asc
    ranks = sorted((v[0], k) for k, v in out.items())
    assert [k for _, k in ranks][0] == 10


def test_indexed_bm25_equals_scan_based(spark, tmp_path):
    """build_text_index + bm25_search_indexed must be byte-identical to the
    scan-based bm25_search, and the indexed tf read must carry BOTH the
    shard partition filter (pruning) and the term pushdown."""
    from es_household_retention_spark_job_spark.entry_queries_docs import (
        BM25_K,
        BM25_QUERIES,
    )
    from es_household_retention_spark_job_spark.operators.search import (
        INDEX_SHARD_COL,
        bm25_search_indexed,
        build_text_index,
        bm25_search as scan_search,
    )
    from es_household_retention_spark_job_spark.sources.tpch import load_table

    docs = load_table(spark, SF_DIR, "documents")
    idx = str(tmp_path / "textindex")
    build_text_index(docs, idx)

    want = {
        (r.query_id, r.doc_id, r.rank, r.score_x1e6)
        for r in scan_search(docs, BM25_QUERIES, k=BM25_K).collect()
    }
    got_df = bm25_search_indexed(spark, idx, BM25_QUERIES, k=BM25_K)
    got = {
        (r.query_id, r.doc_id, r.rank, r.score_x1e6) for r in got_df.collect()
    }
    assert got == want and got

    # the pruning actually reaches the scan: partition filter on the shard
    # column and a pushed filter on term
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert INDEX_SHARD_COL in plan
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*_shard", plan), plan[:2000]
    assert re.search(r"PushedFilters: \[[^\]]*[Ii]n\(term", plan), plan[:2000]


def test_bm25_overflow_guard_raises_not_nulls(spark):
    """Beyond DEN_GUARD the decimal128 intermediates would overflow to NULL
    in non-ANSI Spark and F.sum would silently drop the term (while the
    DuckDB HUGEINT oracle errors). The guard must RAISE instead — for both
    the outright-overflowed (NULL num/den) case and the subtler
    den ∈ (1e32, 1e38) case where den itself is finite but
    (num % den)·1e6 would overflow."""
    import pytest as _pytest

    from es_household_retention_spark_job_spark.operators.search import (
        DEN_GUARD,
        _bm25_contrib,
    )

    cols = "tf long, dl long, df long, n_docs long, total_dl long"

    ok = spark.createDataFrame([(2, 10, 1, 5, 50)], cols)
    assert _bm25_contrib(ok).select("contrib").first()["contrib"] > 0

    # den finite but > DEN_GUARD: (2·0+1)·20·1e18·1e13 = 2e32
    subtle = spark.createDataFrame([(10**13, 10, 0, 10**6, 10**18)], cols)
    with _pytest.raises(Exception, match="DECIMAL"):
        _bm25_contrib(subtle).select("contrib").collect()

    # den overflows DECIMAL(38,0) outright -> NULL -> guard fires
    hard = spark.createDataFrame(
        [(10**14, 10**10, 10**11, 10**11, 10**18)], cols
    )
    with _pytest.raises(Exception, match="DECIMAL"):
        _bm25_contrib(hard).select("contrib").collect()

    assert DEN_GUARD == 10**32


def test_hybrid_ann_recall_floor(spark):
    """The ANN-backed hybrid (IVF dense candidates + RRF) must recover
    ≥ 90% of the exact hybrid's fused top-k — the eval row that makes
    hybrid_mlt_search_ann's rows-only registration meaningful (ground
    truth is the oracle-hash-matched exact hybrid)."""
    row = EXTRA_QUERIES["hybrid_ann_eval"](spark, SF_DIR).collect()
    assert len(row) == 1
    row = row[0]
    assert row["n_queries"] > 0
    assert row["recall_bp"] >= 9000, row


def test_hybrid_ann_same_contract_as_exact(spark):
    """hybrid_mlt_search_ann is a drop-in for hybrid_mlt_search: same
    schema, same per-query row bound, same deterministic ordering rules
    (rank dense 1..k, ties by doc_id) — only the dense candidate
    generator differs."""
    exact = EXTRA_QUERIES["hybrid_mlt_search"](spark, SF_DIR)
    ann = EXTRA_QUERIES["hybrid_mlt_search_ann"](spark, SF_DIR)
    assert ann.schema == exact.schema
    rows = ann.collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(x["rank"] for x in rs)
        assert ranks == list(range(1, len(rs) + 1)), q  # dense 1..k
        # deterministic ordering: score desc, doc_id asc
        rs = sorted(rs, key=lambda x: x["rank"])
        for a, b in zip(rs, rs[1:]):
            assert (a["rrf_x1e6"], -_ord(a["doc_id"])) >= (
                b["rrf_x1e6"],
                -_ord(b["doc_id"]),
            ), q


def _ord(doc_id) -> int:
    return int(doc_id)


def test_append_text_index_equals_full_rebuild(spark, tmp_path):
    """Incremental maintenance correctness: building an index on a corpus
    prefix and appending the remainder must serve byte-identical search
    results to (a) a from-scratch build over the full corpus and (b) the
    scan-based bm25_search — tf, df AND the global stats (N, total_dl,
    which enter every score) all merged exactly. Split by doc_id parity so
    both halves are non-trivial; two appends exercise repeated
    maintenance."""
    from es_household_retention_spark_job_spark.entry_queries_docs import (
        BM25_K,
        BM25_QUERIES,
    )
    from es_household_retention_spark_job_spark.operators.search import (
        append_text_index,
        bm25_search_indexed,
        build_text_index,
        bm25_search as scan_search,
    )
    from es_household_retention_spark_job_spark.sources.tpch import load_table

    docs = load_table(spark, SF_DIR, "documents")
    part0 = docs.where(F.col("doc_id") % 3 == 0)
    part1 = docs.where(F.col("doc_id") % 3 == 1)
    part2 = docs.where(F.col("doc_id") % 3 == 2)
    assert part0.count() and part1.count() and part2.count()

    idx = str(tmp_path / "inc_index")
    build_text_index(part0, idx)
    append_text_index(part1, idx)
    append_text_index(part2, idx)

    want = {
        (r.query_id, r.doc_id, r.rank, r.score_x1e6)
        for r in scan_search(docs, BM25_QUERIES, k=BM25_K).collect()
    }
    got = {
        (r.query_id, r.doc_id, r.rank, r.score_x1e6)
        for r in bm25_search_indexed(spark, idx, BM25_QUERIES, k=BM25_K).collect()
    }
    assert got == want and got

    # sidecar exactness: stats equals the full corpus's, df is the full
    # corpus's per-term doc counts (spot-check via a full rebuild);
    # current generations resolve through the manifest
    from es_household_retention_spark_job_spark.operators.search import (
        _read_index_manifest,
    )

    full = str(tmp_path / "full_index")
    build_text_index(docs, full)
    m_inc, m_full = _read_index_manifest(idx), _read_index_manifest(full)
    s_inc = spark.read.parquet(f"{idx}/{m_inc['stats']}").collect()[0]
    s_full = spark.read.parquet(f"{full}/{m_full['stats']}").collect()[0]
    assert (s_inc["n_docs"], s_inc["total_dl"], s_inc["n_shards"]) == (
        s_full["n_docs"],
        s_full["total_dl"],
        s_full["n_shards"],
    )
    df_inc = {
        (r["term"]): r["df"]
        for r in spark.read.parquet(f"{idx}/{m_inc['df']}").collect()
    }
    df_full = {
        (r["term"]): r["df"]
        for r in spark.read.parquet(f"{full}/{m_full['df']}").collect()
    }
    assert df_inc == df_full


def test_bm25_log_variant_rank_contract(spark):
    """bm25_search_log (textbook ln-idf, float, opt-in) vs the hash-checked
    linear surrogate: on the testdata queries the rankings agree (top-1
    identical, top-k overlap ≥ 80%); on a corpus CRAFTED at the
    documented divergence point they disagree exactly as predicted — the
    linear idf grows ~N/df while ln compresses it, so one ultra-rare term
    (df=1) outweighs three mid-rare terms (df=11) under lin but not log."""
    from es_household_retention_spark_job_spark.entry_queries_docs import (
        BM25_K,
        BM25_QUERIES,
    )
    from es_household_retention_spark_job_spark.operators.search import (
        bm25_search,
        bm25_search_log,
    )
    from es_household_retention_spark_job_spark.sources.tpch import load_table

    docs = load_table(spark, SF_DIR, "documents")
    lin = {}
    for r in bm25_search(docs, BM25_QUERIES, k=BM25_K).collect():
        lin.setdefault(r.query_id, {})[r.doc_id] = r.rank
    log = {}
    for r in bm25_search_log(docs, BM25_QUERIES, k=BM25_K).collect():
        log.setdefault(r.query_id, {})[r.doc_id] = r.rank
    assert set(lin) == set(log)
    for q in lin:
        a, b = set(lin[q]), set(log[q])
        assert len(a & b) >= 0.8 * len(a), (q, a ^ b)
        top1 = min(lin[q], key=lambda d: (lin[q][d], d))
        assert min(log[q], key=lambda d: (log[q][d], d)) == top1, q

    # crafted divergence: A="zebra..." (one df=1 term), B="lion tiger
    # bear" (three df=11 terms), equal dl and tf so saturation cancels.
    # N=100: idf_lin(1)=66.3 > 3*idf_lin(11)=23.3 but
    # ln-idf(1)=4.21 < 3*ln-idf(11)=6.52.
    rows = [(0, "zebra pad pad"), (1, "lion tiger bear")]
    rows += [(i, "lion tiger bear pad pad pad") for i in range(2, 12)]
    rows += [(i, "filler filler filler") for i in range(12, 100)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    qs = [("q", "zebra lion tiger bear")]
    lin1 = {r.doc_id: r.rank for r in bm25_search(corpus, qs, k=3).collect()}
    log1 = {r.doc_id: r.rank for r in bm25_search_log(corpus, qs, k=3).collect()}
    assert lin1[0] == 1, lin1          # lin: the ultra-rare term wins
    assert log1[1] == 1, log1          # log: three mid-rare terms win
    assert log1.get(0, 99) > log1[1]   # the divergence, both directions
    assert lin1[1] > lin1[0]


def test_mlt_max_doc_freq_ceiling(spark):
    """Lucene maxDocFreq semantics: with a df ceiling, too-common terms
    are excluded from query-term SELECTION (so candidates come only from
    rarer shared terms); without it they participate. Exact-integer
    df·1e6 ≤ ppm·N comparison."""
    from es_household_retention_spark_job_spark.operators.search import (
        bm25_more_like_this,
    )

    # 10 docs: 'common' in 6 (60%), 'rare' links docs 0<->1 only
    rows = [
        (0, "common rare pad"),
        (1, "common rare pad"),
        (2, "common aaa pad"),
        (3, "common bbb pad"),
        (4, "common ccc pad"),
        (5, "common ddd pad"),
        (6, "eee fff pad"),
        (7, "ggg hhh pad"),
        (8, "iii jjj pad"),
        (9, "kkk lll pad"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pred = F.col("doc_id") == 0

    # default: doc 0's terms include 'common' -> docs 2..5 are candidates
    base = {
        r.doc_id
        for r in bm25_more_like_this(docs, pred, k=10).collect()
    }
    assert {1, 2, 3, 4, 5}.issubset(base)

    # 50% ceiling: 'common' (60%) dropped, 'pad' (100%) dropped, 'rare'
    # (20%) survives -> only doc 1 remains reachable
    capped = {
        r.doc_id
        for r in bm25_more_like_this(
            docs, pred, k=10, max_doc_freq_ppm=500_000
        ).collect()
    }
    assert capped == {1}, capped

    # ceiling below every df -> no query terms -> empty result, not error
    none = bm25_more_like_this(
        docs, pred, k=10, max_doc_freq_ppm=50_000
    ).collect()
    assert none == []


def test_index_append_is_reader_atomic(spark, tmp_path, monkeypatch):
    """The index MVCC contract: (a) a search planned BEFORE an append
    commits keeps serving the old corpus's exact results (its file list
    and sidecar generations were resolved from the old manifest and stay
    on disk for one maintenance cycle); (b) an append that crashes before
    its single manifest replace leaves only invisible stray files — a
    fresh search still serves the old consistent state; (c) after a
    successful append a fresh search serves the merged corpus."""
    from es_household_retention_spark_job_spark.operators import search as SE
    from es_household_retention_spark_job_spark.sources.tpch import load_table

    docs = load_table(spark, SF_DIR, "documents")
    old = docs.where(F.col("doc_id") % 3 == 0)
    delta = docs.where(F.col("doc_id") % 3 != 0)
    merged = docs

    from es_household_retention_spark_job_spark.entry_queries_docs import (
        BM25_K,
        BM25_QUERIES,
    )

    idx = str(tmp_path / "mvcc_index")
    SE.build_text_index(old, idx)

    def rows(df):
        return {(r.query_id, r[1], r.rank, r.score_x1e6) for r in df.collect()}

    want_old = rows(SE.bm25_search(old, BM25_QUERIES, k=BM25_K))
    want_merged = rows(SE.bm25_search(merged, BM25_QUERIES, k=BM25_K))
    assert want_old != want_merged

    # (a) plan now, append, collect later -> old state
    pinned = SE.bm25_search_indexed(spark, idx, BM25_QUERIES, k=BM25_K)
    # (b) crashed append: fail AT the manifest replace (the commit point)
    from es_household_retention_spark_job_spark.sinks import manifest as M

    real_write = M.write_atomic

    def boom(path_, name, obj):
        raise RuntimeError("injected index commit failure")

    monkeypatch.setattr(M, "write_atomic", boom)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected index commit"):
        SE.append_text_index(delta, idx)
    monkeypatch.setattr(M, "write_atomic", real_write)
    assert rows(SE.bm25_search_indexed(spark, idx, BM25_QUERIES, k=BM25_K)) == want_old

    # (c) successful append: pinned plan still old, fresh plan merged
    SE.append_text_index(delta, idx)
    assert rows(pinned) == want_old
    assert (
        rows(SE.bm25_search_indexed(spark, idx, BM25_QUERIES, k=BM25_K))
        == want_merged
    )


def test_indexed_mlt_equals_scan_based(spark, tmp_path):
    """bm25_more_like_this_indexed must be byte-identical to the scan-based
    more-like-this — default form, with the df ceiling, and after an
    index append (the df sidecar is the whole-corpus df, so selection and
    scoring match bit-for-bit)."""
    from es_household_retention_spark_job_spark.operators.search import (
        append_text_index,
        bm25_more_like_this,
        bm25_more_like_this_indexed,
        build_text_index,
    )
    from es_household_retention_spark_job_spark.sources.tpch import load_table

    docs = load_table(spark, SF_DIR, "documents")
    pred = F.col("doc_id") % 50 == 0
    idx = str(tmp_path / "mlt_index")
    build_text_index(docs, idx)

    def rows(df):
        return {(r.query_id, r.doc_id, r.rank, r.score_x1e6) for r in df.collect()}

    for kwargs in ({}, {"max_doc_freq_ppm": 600_000}, {"max_query_terms": 5}):
        want = rows(bm25_more_like_this(docs, pred, k=5, **kwargs))
        got = rows(
            bm25_more_like_this_indexed(spark, idx, docs, pred, k=5, **kwargs)
        )
        assert got == want, kwargs
        assert want  # non-vacuous

    # after an append the index still serves the merged-corpus answer
    part = docs.where(F.col("doc_id") % 7 == 0)
    rest = docs.where(F.col("doc_id") % 7 != 0)
    idx2 = str(tmp_path / "mlt_index2")
    build_text_index(rest, idx2)
    append_text_index(part, idx2)
    want = rows(bm25_more_like_this(docs, pred, k=5))
    got = rows(bm25_more_like_this_indexed(spark, idx2, docs, pred, k=5))
    assert got == want and got


def test_index_concurrent_reader_never_sees_torn_append(spark, tmp_path):
    """Index MVCC under a real race: while a writer loops appends (each
    adding one new doc containing a known term plus a fresh doc counter
    term), a reader thread re-runs the search continuously. Every read
    must see a CONSISTENT committed state: the result for the probe term
    is the top-k of SOME append prefix — scores/df/stats all from the
    same manifest version, never a mix (a torn tf-visible/df-stale read
    would produce a (doc_count, score) pair no prefix ever produced)."""
    import threading

    from es_household_retention_spark_job_spark.operators import search as SE

    idx = str(tmp_path / "race_index")
    base = spark.createDataFrame(
        [(0, "probe alpha"), (1, "filler beta")], "doc_id long, text string"
    )
    SE.build_text_index(base, idx, n_shards=4)

    # expected (n_matching_docs -> full result set) for every prefix:
    # prefix i has docs 0..i+1 where docs 0, 2, 3, ..., i+1 contain
    # 'probe'. Precompute each prefix's exact result via the scan scorer.
    prefixes = {}
    rows = [(0, "probe alpha"), (1, "filler beta")]
    for i in range(2, 8):
        rows.append((i, f"probe extra{i}"))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        key = frozenset(
            (r.query_id, r.doc_id, r.rank, r.score_x1e6)
            for r in SE.bm25_search(docs, [("q", "probe")], k=10).collect()
        )
        prefixes[i] = key
    base_key = frozenset(
        (r.query_id, r.doc_id, r.rank, r.score_x1e6)
        for r in SE.bm25_search(base, [("q", "probe")], k=10).collect()
    )
    valid = {base_key} | set(prefixes.values())

    stop = threading.Event()
    errors: list[str] = []
    seen: set[frozenset] = set()

    def reader():
        while not stop.is_set():
            try:
                got = frozenset(
                    (r.query_id, r.doc_id, r.rank, r.score_x1e6)
                    for r in SE.bm25_search_indexed(
                        spark, idx, [("q", "probe")], k=10
                    ).collect()
                )
            except Exception as e:  # noqa: BLE001 — a failed read is a tear
                errors.append(f"read raised: {type(e).__name__}: {e}")
                return
            if got not in valid:
                errors.append(f"torn state: {sorted(got)}")
                return
            seen.add(got)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(2, 8):
            if not t.is_alive():
                break
            SE.append_text_index(
                spark.createDataFrame(
                    [(i, f"probe extra{i}")], "doc_id long, text string"
                ),
                idx,
            )
    finally:
        stop.set()
        t.join(120)
    assert not errors, errors[:3]
    assert len(seen) >= 2  # the reader genuinely raced across versions


def test_indexed_empty_results_are_type_correct(spark, tmp_path):
    """The empty-result paths (no matching shard / no query terms / all
    terms above the df ceiling) must return frames whose SCHEMA matches
    the non-empty paths' — callers union/compare results, and a
    string-typed placeholder id would break them. Also: a crashed append
    leaves stray tf files; the next successful append's stray sweep
    reclaims them (they are referenced by no manifest)."""
    import os

    from es_household_retention_spark_job_spark.operators import search as SE
    from es_household_retention_spark_job_spark.sources.tpch import load_table

    docs = load_table(spark, SF_DIR, "documents")
    idx = str(tmp_path / "types_index")
    SE.build_text_index(docs, idx)

    def shape(df):  # nullability flags are benign; names+types must match
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    full = SE.bm25_search_indexed(spark, idx, [("q", "the")], k=3)
    empty = SE.bm25_search_indexed(spark, idx, [("q", "zzznothing")], k=3)
    assert shape(empty) == shape(full)
    assert empty.count() == 0 and full.count() > 0

    # the _empty_literal_search path itself (query shard has NO files):
    # a one-doc index populates only its own terms' shards; probe for a
    # term hashing into an unpopulated shard (deterministic: xxhash64)
    tiny_idx = str(tmp_path / "tiny_index")
    SE.build_text_index(
        spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string"),
        tiny_idx,
    )
    m = SE._read_index_manifest(tiny_idx)
    populated = set(m["tf"])
    probe = next(
        t
        for t in (f"zz{i}" for i in range(200))
        if f"_shard={next(iter(SE._term_shards(spark, [t], m['n_shards'])))}"
        not in populated
    )
    tiny_full = SE.bm25_search_indexed(spark, tiny_idx, [("q", "alpha")], k=3)
    tiny_empty = SE.bm25_search_indexed(spark, tiny_idx, [("q", probe)], k=3)
    assert shape(tiny_empty) == shape(tiny_full)
    assert tiny_empty.count() == 0 and tiny_full.count() == 1

    pred = F.col("doc_id") == docs.select(F.min("doc_id")).first()[0]
    full_mlt = SE.bm25_more_like_this_indexed(spark, idx, docs, pred, k=3)
    empty_mlt = SE.bm25_more_like_this_indexed(
        spark, idx, docs, pred, k=3, max_doc_freq_ppm=1
    )
    assert shape(empty_mlt) == shape(full_mlt)
    assert empty_mlt.count() == 0 and full_mlt.count() > 0

    # crashed-append stray sweep
    delta1 = docs.where(F.col("doc_id") % 97 == 0)
    from es_household_retention_spark_job_spark.sinks import manifest as M

    real = M.write_atomic
    import unittest.mock as mock

    with mock.patch.object(
        M, "write_atomic", side_effect=RuntimeError("boom")
    ):
        import pytest as _pytest

        with _pytest.raises(RuntimeError):
            SE.append_text_index(delta1, idx)

    def stray_count():
        m = SE._read_index_manifest(idx)
        ref = {(d, f) for d, fs in m["tf"].items() for f in fs}
        on_disk = {
            (d, f)
            for d in os.listdir(os.path.join(idx, "tf"))
            if d.startswith("_shard=")
            for f in os.listdir(os.path.join(idx, "tf", d))
            if f.endswith(".parquet")
        }
        return len(on_disk - ref)

    assert stray_count() > 0  # the crash left invisible leftovers
    SE.append_text_index(docs.where(F.col("doc_id") % 89 == 0), idx)
    assert stray_count() == 0  # swept by the successful append


def test_compact_text_index_preserves_results_with_grace(
    spark, tmp_path, monkeypatch
):
    """Index compaction: multi-file shards (the residue of repeated
    appends) rewrite to one term-sorted file each; search results are
    byte-identical before/after; the REPLACED files stay on disk for the
    TIME-BASED grace window (the manifest's retired ledger — a reader
    that planned against the prior manifest keeps its files even under a
    fast maintenance loop), and a commit after the grace expires reclaims
    them; compaction is idempotent."""
    import os

    from es_household_retention_spark_job_spark.entry_queries_docs import (
        BM25_K,
        BM25_QUERIES,
    )
    from es_household_retention_spark_job_spark.operators import search as SE
    from es_household_retention_spark_job_spark.sources.tpch import load_table

    docs = load_table(spark, SF_DIR, "documents")
    idx = str(tmp_path / "compact_index")
    SE.build_text_index(docs.where(F.col("doc_id") % 4 == 0), idx)
    for r in (1, 2, 3):
        SE.append_text_index(docs.where(F.col("doc_id") % 4 == r), idx)

    m_before = SE._read_index_manifest(idx)
    assert any(len(fs) > 1 for fs in m_before["tf"].values())
    old_files = {
        (d, f) for d, fs in m_before["tf"].items() for f in fs if len(fs) > 1
    }

    def rows():
        return {
            (r.query_id, r.doc_id, r.rank, r.score_x1e6)
            for r in SE.bm25_search_indexed(
                spark, idx, BM25_QUERIES, k=BM25_K
            ).collect()
        }

    want = rows()
    n = SE.compact_text_index(spark, idx)
    assert n > 0
    m_after = SE._read_index_manifest(idx)
    assert all(len(fs) == 1 for fs in m_after["tf"].values())
    replaced = {d: fs for d, fs in m_before["tf"].items() if len(fs) > 1}
    assert any(
        e.get("tf") == replaced and "ts" in e
        for e in m_after.get("retired", [])
    )
    assert rows() == want

    def on_disk():
        return {
            (d, f)
            for d in os.listdir(os.path.join(idx, "tf"))
            if d.startswith("_shard=")
            for f in os.listdir(os.path.join(idx, "tf", d))
            if f.endswith(".parquet")
        }

    assert old_files <= on_disk()  # replaced files held for the grace

    # a FAST next commit does NOT reclaim them: the grace is wall-clock
    # (default 300s), not maintenance cycles — the round-8 cycle-counted
    # grace would have swept them here, stranding a slow reader
    SE.append_text_index(
        spark.createDataFrame(
            [(999999, "entirely new appended document")],
            "doc_id long, text string",
        ),
        idx,
    )
    assert old_files <= on_disk()

    # once the grace EXPIRES, the next commit reclaims them and the
    # expired ledger entries drop out of the manifest
    monkeypatch.setenv("SPARK_GRAFT_SINK_GC_GRACE", "0")
    SE.append_text_index(
        spark.createDataFrame(
            [(999998, "another brand new document")], "doc_id long, text string"
        ),
        idx,
    )
    assert not (old_files & on_disk())
    m_now = SE._read_index_manifest(idx)
    assert all(e.get("tf") != replaced for e in m_now.get("retired", []))

    # the appends re-fragmented the shards they touched; one more
    # compaction round settles them, after which compaction is a no-op
    SE.compact_text_index(spark, idx)
    SE.compact_text_index(spark, idx)
    m = SE._read_index_manifest(idx)
    assert all(len(fs) == 1 for fs in m["tf"].values())


def test_legacy_bootstrap_excludes_crashed_append_strays(spark, tmp_path):
    """Pre-manifest (legacy) index adoption: ``gen-*`` tf files can only
    be a crashed append's moved-but-never-committed strays on that
    layout, so the bootstrap must exclude them — adopting one would serve
    tf rows inconsistent with the legacy df/stats (here: a duplicated tf
    file would double a document's term frequencies)."""
    import os
    import shutil

    from es_household_retention_spark_job_spark.operators import search as SE

    docs = _corpus(spark)
    idx = str(tmp_path / "legacy_idx")
    SE.build_text_index(docs, idx, n_shards=4)
    queries = [("q1", "apple cherry"), ("q2", "banana date")]

    def rows():
        return {
            (r.query_id, r.doc_id, r.rank, r.score_x1e6)
            for r in SE.bm25_search_indexed(spark, idx, queries, k=5).collect()
        }

    want = rows()
    # make the index legacy (no manifest, plain df/stats dirs), then
    # inject a crashed-append stray: an existing tf file duplicated under
    # a gen- name
    m0 = SE._read_index_manifest(idx)
    os.rename(os.path.join(idx, m0["df"]), os.path.join(idx, "df"))
    os.rename(os.path.join(idx, m0["stats"]), os.path.join(idx, "stats"))
    os.unlink(os.path.join(idx, SE.INDEX_MANIFEST))
    tf_root = os.path.join(idx, "tf")
    injected = False
    for d in sorted(os.listdir(tf_root)):
        if not d.startswith(f"{SE.INDEX_SHARD_COL}="):
            continue
        fs = sorted(
            f
            for f in os.listdir(os.path.join(tf_root, d))
            if f.endswith(".parquet")
        )
        if fs:
            shutil.copyfile(
                os.path.join(tf_root, d, fs[0]),
                os.path.join(tf_root, d, "gen-deadbeef-00000.parquet"),
            )
            injected = True
            break
    assert injected
    m = SE._bootstrap_index_manifest(spark, idx)
    assert all(
        not f.startswith("gen-") for fs in m["tf"].values() for f in fs
    )
    assert rows() == want  # the stray's doubled tf never reaches scoring


def test_auto_routing_picks_measured_cheaper_plan(spark, tmp_path):
    """Cost-based scan-vs-index routing: the df-sidecar statistic must
    route a rare-terms batch (postings ≪ corpus) to the index and a
    common-terms batch (postings ≈ corpus — the measured regime where
    scanning wins) to the scan, and the routed output must be
    byte-identical to BOTH endpoints in BOTH regimes."""
    from es_household_retention_spark_job_spark.operators import search as SE

    # 400 docs: five corpus-wide common terms + one unique term each —
    # a rare tail and a common head, so both regimes are reachable
    docs = spark.createDataFrame(
        [
            (i, f"alpha beta gamma delta epsilon unique{i:04d}")
            for i in range(400)
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "route_idx")
    SE.build_text_index(docs, idx, n_shards=8)

    rare_q = [("q1", "unique0007 unique0123"), ("q2", "unique0200")]
    common_q = [("q1", "alpha beta gamma delta epsilon")]

    def vocab(qs):
        return sorted({t for _, x in qs for t in SE._py_tokens(x)})

    route, sum_df, total = SE.choose_search_route(spark, idx, vocab(rare_q))
    assert route == "index" and 0 < sum_df <= 0.1 * total, (route, sum_df, total)
    route, sum_df, total = SE.choose_search_route(spark, idx, vocab(common_q))
    assert route == "scan" and sum_df > 0.1 * total, (route, sum_df, total)

    def rows(df):
        return {
            (r.query_id, r.doc_id, r.rank, r.score_x1e6) for r in df.collect()
        }

    for qs in (rare_q, common_q):
        auto = rows(SE.bm25_search_auto(spark, idx, docs, qs, k=5))
        assert auto == rows(SE.bm25_search(docs, qs, k=5))
        assert auto == rows(SE.bm25_search_indexed(spark, idx, qs, k=5))
        assert auto  # non-vacuous in both regimes

    # conf override moves the threshold (the knob is per-session)
    spark.conf.set(SE.ROUTE_RATIO_CONF, "0.999")
    try:
        route, _, _ = SE.choose_search_route(spark, idx, vocab(common_q))
        assert route == "index"
    finally:
        spark.conf.unset(SE.ROUTE_RATIO_CONF)


def test_auto_mlt_routing_and_byte_identity(spark, tmp_path):
    """MLT routing is SELECTION-aware: with a tight rarest-terms cap the
    selected postings are tiny (index); with a cap that admits the
    common head the selected postings cover the corpus (scan). Output is
    byte-identical to both endpoints in both regimes."""
    from es_household_retention_spark_job_spark.operators import search as SE

    # rare terms shared by PAIRS of docs (df=2), so a rarest-1 query
    # still has one non-self match and the m=1 regime is non-vacuous
    docs = spark.createDataFrame(
        [
            (i, f"alpha beta gamma delta epsilon unique{i // 2:04d}")
            for i in range(400)
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "route_mlt_idx")
    SE.build_text_index(docs, idx, n_shards=8)
    pred = F.col("doc_id") % 100 == 0  # 4 query docs

    route, sum_df, total = SE.choose_mlt_route(
        spark, idx, docs, pred, max_query_terms=1
    )
    assert route == "index" and 0 < sum_df <= 0.1 * total, (route, sum_df, total)
    route, sum_df, total = SE.choose_mlt_route(
        spark, idx, docs, pred, max_query_terms=20
    )
    assert route == "scan" and sum_df > 0.1 * total, (route, sum_df, total)

    def rows(df):
        return {
            (r.query_id, r.doc_id, r.rank, r.score_x1e6) for r in df.collect()
        }

    for m in (1, 20):
        auto = rows(
            SE.bm25_more_like_this_auto(
                spark, idx, docs, pred, k=5, max_query_terms=m
            )
        )
        assert auto == rows(
            SE.bm25_more_like_this(docs, pred, k=5, max_query_terms=m)
        )
        assert auto == rows(
            SE.bm25_more_like_this_indexed(
                spark, idx, docs, pred, k=5, max_query_terms=m
            )
        )
        assert auto


def test_append_overlap_check_catches_resent_docs(spark, tmp_path):
    """The opt-in self-enforcing append precondition: a delta containing
    an already-indexed id must raise BEFORE any file lands (index state
    unchanged, byte-identical results), while a disjoint delta passes
    the check and appends normally. Covers the text index and the ANN
    twin."""
    import pytest as _pytest

    from es_household_retention_spark_job_spark.operators import search as SE
    from es_household_retention_spark_job_spark.operators import (
        similarity as S,
    )
    from es_household_retention_spark_job_spark.sources.tpch import load_table

    docs = _corpus(spark)
    idx = str(tmp_path / "guard_idx")
    SE.build_text_index(docs, idx, n_shards=4)
    m_before = SE._read_index_manifest(idx)

    resent = spark.createDataFrame(
        [(2, "a resent document"), (99, "a new one")],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError, match="1 delta id"):
        SE.append_text_index(resent, idx, check_overlap=True)
    assert SE._read_index_manifest(idx) == m_before  # nothing landed

    fresh = spark.createDataFrame(
        [(99, "a brand new document")], "doc_id long, text string"
    )
    SE.append_text_index(fresh, idx, check_overlap=True)
    assert SE._read_index_manifest(idx)["version"] == m_before["version"] + 1

    # ANN twin
    embs = load_table(spark, SF_DIR, "embeddings")
    aidx = str(tmp_path / "guard_ann")
    S.build_ann_index(embs.where(F.col("vec_id") < 400), aidx, n_cells=4, iters=1)
    am = S._read_ann_manifest(aidx)
    overlap = embs.where(F.col("vec_id").isin([10, 999991]))
    with _pytest.raises(ValueError, match="delta id"):
        S.append_ann_index(overlap, aidx, check_overlap=True)
    assert S._read_ann_manifest(aidx) == am
    S.append_ann_index(
        embs.where(F.col("vec_id").between(400, 450)), aidx, check_overlap=True
    )
    assert S._read_ann_manifest(aidx)["version"] == am["version"] + 1


def test_bm25_zipf_matches_oracle(spark, duck):
    """The Zipf-regime registered row hash-matches its embedded-corpus
    oracle (both engines score byte-identical generated rows)."""
    assert_matches_oracle(
        EXTRA_QUERIES["bm25_search_zipf"](spark, SF_DIR),
        duck,
        EXTRA_ORACLE_SQL["bm25_search_zipf"],
        min_rows=1,
    )


def test_mlt_zipf_matches_oracle(spark, duck):
    """The Zipf-regime MLT row hash-matches its embedded-corpus oracle —
    rarest-terms selection over a genuinely Zipfian df distribution."""
    assert_matches_oracle(
        EXTRA_QUERIES["mlt_search_zipf"](spark, SF_DIR),
        duck,
        EXTRA_ORACLE_SQL["mlt_search_zipf"],
        min_rows=1,
    )
