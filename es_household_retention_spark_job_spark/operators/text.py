"""Text-analysis operators for the training-data pipeline (beyond-reference;
SURVEY §7.1 M7): tokenization, language-ID, quality scoring, and rolling-hash
document fingerprinting over the ``documents`` table.

Everything is built from JVM-side ``pyspark.sql.functions`` (regexp, array
higher-order functions) — zero Python UDFs, so the per-document work stays
inside whole-stage codegen and scales linearly with input splits; there is no
shuffle at all in this module (pure per-row map), which is exactly the shape
you want for a 100 TB corpus scan.

Determinism contract: each operator has a DuckDB-equivalent formulation (see
``entry_queries_docs``) built from the same regexes, word lists, and modular
constants, so outputs hash-match across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import P_FP, ensure_parallelism, h60

#: lowercase word tokens (ASCII letters/digits; multibyte chars are token
#: breaks in both Java regex and RE2 — keep the class ASCII for portability).
TOKEN_RE = "[a-z0-9]+"
#: BPE-ish pretokenizer: letter runs, single digits, single punctuation marks
#: (GPT-2-style digit splitting); whitespace is dropped.
BPE_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
#: punctuation / symbol characters.
PUNCT_RE = "[^A-Za-z0-9\\s]"

#: tiny per-language function-word lexicons for the n-gram/stopword
#: language-ID heuristic. Order is the deterministic tie-break priority.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "fr": ("le", "la", "les", "de", "des", "et", "un", "une", "est", "que"),
    "es": ("el", "la", "los", "de", "y", "un", "una", "es", "que", "en"),
    "de": ("der", "die", "das", "und", "ein", "eine", "ist", "zu", "den", "von"),
    "zh": ("de", "shi", "le", "zai", "he", "you", "wo", "ta", "men", "zhe"),
}
LANG_ORDER: tuple[str, ...] = tuple(STOPWORDS)

#: rolling-hash base for fingerprints; small enough that ``acc*B + x`` stays
#: < 2^38 under modulus P_FP in both engines.
FP_BASE = 131


def tokens(col: Column | str) -> Column:
    """Lowercased word tokens as ``array<string>``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_RE), 0)


def word_ngrams(toks: Column, k: int) -> Column:
    """Space-joined word k-grams from a token array, as ``array<string>``.

    Built by chain-zipping the token array against its k−1 shifted tails.
    NEVER build n-grams as ``transform(sequence(0, n−k), i ->
    concat_ws(' ', slice(toks, i+1, k)))`` when ``toks`` is a derived
    expression: Catalyst performs no common-subexpression elimination
    inside higher-order-function lambda bodies, so the spliced ``toks``
    subtree (typically a full-document regexp tokenization) re-evaluates
    once per n-gram index — O(doc_len²) work per document dressed up as a
    map-side pass (measured 20s for 5 000 sf0.1 docs before the rewrite).
    ``zip_with``/``slice`` operands are argument children, each evaluated
    exactly once; the lambda touches only its element variables, so this
    form is honestly linear."""
    n = F.size(toks)
    out = toks
    for i in range(1, k):
        tail = F.slice(toks, i + 1, F.greatest(n - i, F.lit(0)))
        # zip pads the shorter side with null; concat (not concat_ws)
        # propagates the null, and the final slice drops the padded tail
        out = F.zip_with(out, tail, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(n >= k, F.slice(out, 1, n - k + 1)).otherwise(
        F.array().cast("array<string>")
    )


def lang_hits(toks: Column, lang: str) -> Column:
    """Occurrence count of ``lang``'s function words in the token array."""
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def _lang_pred(toks: Column) -> tuple[dict[str, Column], Column]:
    """(per-language hit counts, argmax language with LANG_ORDER
    tie-break) over a token column."""
    hits = {lang: lang_hits(toks, lang) for lang in LANG_ORDER}
    best = F.greatest(*hits.values())
    chain = F.when(hits[LANG_ORDER[0]] == best, F.lit(LANG_ORDER[0]))
    for lang in LANG_ORDER[1:]:
        chain = chain.when(hits[lang] == best, F.lit(lang))
    return hits, chain


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-hit language ID: per-language occurrence counts + argmax with
    first-in-LANG_ORDER tie-break. One codegen'd pass, no shuffle; the token
    array is materialized in a first projection so the ~11 expressions
    referencing it share one tokenization (see ``word_ngrams`` on why
    derived arrays are staged as columns)."""
    df = ensure_parallelism(df)
    staged = df.select(id_col, tokens(text_col).alias("_toks"))
    hits, pred = _lang_pred(F.col("_toks"))
    return staged.select(
        id_col,
        *[hits[lang].cast("long").alias(f"hits_{lang}") for lang in LANG_ORDER],
        pred.alias("lang_pred"),
    )


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting (whitespace + BPE-ish regex), punctuation count, byte
    length, and mean whitespace-token length in integer centi-chars."""
    df = ensure_parallelism(df)
    t = F.col(text_col)
    ws_toks = F.filter(F.split(t, "\\s+"), lambda x: x != "")
    n_ws = F.size(ws_toks)
    total_len = F.aggregate(
        ws_toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    return df.select(
        id_col,
        n_ws.cast("long").alias("n_tokens_ws"),
        F.size(F.regexp_extract_all(t, F.lit(BPE_RE), 0)).cast("long").alias("n_tokens_bpe"),
        F.size(F.regexp_extract_all(t, F.lit(PUNCT_RE), 0)).cast("long").alias("n_punct"),
        F.octet_length(t).cast("long").alias("n_bytes"),
        F.when(n_ws > 0, F.floor(total_len * 100 / n_ws))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("mean_tok_len_x100"),
    )


def _quality_exprs(text_col: str) -> tuple[Column, Column, Column, Column]:
    """(n_tokens, stop_bp, punct_bp, keep) expressions — plain columns, so
    the gate applies identically to batch frames and streams (no join).
    For DataFrame-shaped operators prefer ``_quality_exprs_cols`` over a
    materialized token column; this text_col form re-derives the token
    array per referencing expression and exists for single-expression
    filter use (``quality_keep`` on a stream)."""
    return _quality_exprs_cols(F.col(text_col), tokens(text_col))


def _quality_exprs_cols(
    t: Column, toks: Column
) -> tuple[Column, Column, Column, Column]:
    n_tok = F.size(toks)
    stop = lang_hits(toks, "en")
    punct = F.size(F.regexp_extract_all(t, F.lit(PUNCT_RE), 0))
    n_chars = F.length(t)
    stop_bp = F.when(n_tok > 0, F.floor(stop * 10000 / n_tok)).otherwise(F.lit(0))
    punct_bp = F.when(n_chars > 0, F.floor(punct * 10000 / n_chars)).otherwise(F.lit(0))
    keep = (
        (n_tok >= 5)
        & (n_tok <= 100000)
        & (stop_bp >= 100)
        & (stop_bp <= 6000)
        & (punct_bp < 2000)
    )
    return n_tok, stop_bp, punct_bp, keep


def quality_keep(text_col: str = "text") -> Column:
    """The boolean quality gate alone (streaming-friendly filter column)."""
    return _quality_exprs(text_col)[3]


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality filter: stopword ratio, punctuation ratio, token
    count — integer basis-point ratios and a boolean ``keep`` verdict
    (C4-style pipeline gate for corpus filtering). Tokens staged as a
    column: one tokenization feeds all metrics."""
    df = ensure_parallelism(df)
    staged = df.select(
        id_col, F.col(text_col).alias("_t"), tokens(text_col).alias("_toks")
    )
    n_tok, stop_bp, punct_bp, keep = _quality_exprs_cols(
        F.col("_t"), F.col("_toks")
    )
    return staged.select(
        id_col,
        n_tok.cast("long").alias("n_tokens"),
        stop_bp.cast("long").alias("stop_bp"),
        punct_bp.cast("long").alias("punct_bp"),
        keep.alias("keep"),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k TF-IDF terms per document: ``tf × (N+1)/(df+1)`` (linear
    inverse-document-frequency weighting, smoothed), deterministic
    (tfidf desc, term asc) ranking.

    Determinism note: the idf is deliberately the LINEAR variant, not the
    classic ``ln``-idf — crossing a transcendental would pit JVM Math.log
    against DuckDB's libm and a last-ulp difference at a floor(x*1e6)
    boundary could flip a rank. The linear form is computed entirely in
    int64: with ``a = tf·(N+1)`` and ``b = df+1``,
    ``floor(a·1e6/b) = (a div b)·1e6 + ((a mod b)·1e6) div b`` — exact in
    both engines, overflow-free up to ~9e13 documents at the 100k-token
    doc cap (a ≤ 1e5·(N+1); the second term is < 1e6·b ≤ 1e6·(N+1)).

    Shape (round 14, guide §2.4): one explode + the skew-safe
    partial-aggregated (doc, term) count, then the document frequency as
    ``count(*) OVER (PARTITION BY term)`` on the tf frame — the df is BY
    DEFINITION a count over tf's rows, so the window replaces the old
    separate df aggregation + tf⋈df shuffle join, which re-derived tf
    from A SECOND tokenize/explode pass over the corpus (Catalyst builds
    duplicate subtrees for self-referencing frames; runtime exchange
    reuse may or may not fire, and either way the join re-exchanged the
    full tf frame). One corpus scan and one term-keyed exchange now do
    what two scans, two term-keyed exchanges and a join did — measured
    plan: 8 → 6 Exchanges, 3 scans → 2 (plans/r14). The
    term-partitioned window sees the same hot-term row mass the join's
    term exchange did (tf rows, one per (doc, term)), so the skew
    surface is unchanged. The 1-row corpus count stays a broadcast
    cross join — the scalar stays IN the plan (no driver round-trip)."""
    from pyspark.sql import Window

    # the 1-row corpus count reads the raw frame: counting needs no
    # round-robin shuffle
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    df = ensure_parallelism(df)
    terms = df.select(id_col, F.explode(tokens(text_col)).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    wdf = Window.partitionBy("term")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(wdf))
        .crossJoin(F.broadcast(n_docs))
        .withColumn("num", F.col("tf") * (F.col("n_docs") + F.lit(1)))
        .withColumn("den", F.col("df") + F.lit(1))
        .withColumn(
            "tfidf_x1e6",
            (
                F.expr("num div den") * F.lit(1000000)
                + F.expr("((num % den) * 1000000) div den")
            ).cast("long"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf_x1e6").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            id_col,
            "term",
            F.col("rank").cast("int").alias("rank"),
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "tfidf_x1e6",
        )
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Order-sensitive rolling polynomial hash over word tokens
    (``acc*B + h(tok) mod P``): a compact document fingerprint whose equality
    implies (w.h.p.) identical token streams — the exact-dup key that is
    robust to whitespace/case/punctuation noise."""
    df = ensure_parallelism(df)
    toks = tokens(text_col)
    hashed = F.transform(toks, lambda tk: h60(tk) % P_FP)
    fp = F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * FP_BASE + x) % P_FP,
    )
    return df.select(id_col, fp.cast("long").alias("fingerprint"))


def repetition_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style intra-document repetition metrics, entirely map-side.

    Word bigrams (NOT distinct — occurrence counts matter here):

    * ``n_bigrams`` — total bigram occurrences;
    * ``dup_bigram_frac_bp`` — fraction of occurrences that are repeats of
      an earlier occurrence, ``(n - n_distinct) / n`` in basis points;
    * ``top_bigram`` / ``top_bigram_count`` / ``top_bigram_frac_bp`` — the
      most frequent bigram (lexicographically smallest on ties) and the
      share of occurrences it accounts for — the "fraction of characters in
      the most common n-gram" family of quality gates.

    The mode is found without any shuffle: sort the bigram array, then a
    sequential ``aggregate`` fold counts runs and keeps the best — a struct
    accumulator (prev, run, best, best_run) with a strictly-greater update,
    so the FIRST (= smallest, array is sorted) bigram with the maximal
    count wins. At 100 TB this is a pure per-row scan: no explode, no
    groupBy — the whole profile rides one codegen stage with the other
    text metrics. The DuckDB oracle recomputes the mode relationally
    (unnest → count → row_number) and must agree exactly.
    """
    df = ensure_parallelism(df)
    staged = df.select(
        id_col, word_ngrams(tokens(text_col), 2).alias("_bigrams")
    )
    n, dup_bp, top, top_bp = _repetition_exprs_cols(F.col("_bigrams"))
    return staged.select(
        id_col,
        n.alias("n_bigrams"),
        dup_bp.alias("dup_bigram_frac_bp"),
        top["best"].alias("top_bigram"),
        top["best_run"].cast("long").alias("top_bigram_count"),
        top_bp.alias("top_bigram_frac_bp"),
    )


def _repetition_exprs_cols(bigrams: Column):
    """(n_bigrams, dup_frac_bp, top_struct, top_frac_bp) map-side
    expressions shared by ``repetition_profile`` and the composed
    ``curation_verdict`` gate. ``bigrams`` should be a MATERIALIZED column
    (stage ``word_ngrams(tokens(...), 2)`` in a prior projection): the
    metrics reference it several times, and a staged column is computed
    once while a spliced expression tree is re-derived per reference."""
    n = F.size(bigrams).cast("long")
    n_distinct = F.size(F.array_distinct(bigrams)).cast("long")
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit("").alias("best"),
        F.lit(0).cast("long").alias("best_run"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        better = run > acc["best_run"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, x).otherwise(acc["best"]).alias("best"),
            F.when(better, run).otherwise(acc["best_run"]).alias("best_run"),
        )

    top = F.aggregate(F.array_sort(bigrams), init, step)
    dup_bp = (
        F.when(n > 0, F.floor((n - n_distinct) * 10000 / n))
        .otherwise(F.lit(0))
        .cast("long")
    )
    top_bp = (
        F.when(n > 0, F.floor(top["best_run"] * 10000 / n))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return n, dup_bp, top, top_bp


#: sequence packing: token budget per training example and the number of
#: independent packing lanes (shuffle parallelism at scale — each lane
#: packs its documents without coordinating with any other lane).
PACK_BUDGET = 256
PACK_BUCKETS = 32


def sequence_packing(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = PACK_BUDGET,
    n_buckets: int = PACK_BUCKETS,
) -> DataFrame:
    """Deterministic sequence packing: assign each document a position in a
    fixed-token-budget training example ("pack").

    Documents are dealt into ``n_buckets`` independent lanes by salted
    content hash, ordered deterministically within their lane (hash, then
    id), and concatenated; a pack boundary falls every ``budget`` tokens.
    Per doc: its lane, the pack its first token lands in, the offset inside
    that pack, and how many pack boundaries it straddles (``n_splits`` —
     0 means the doc trains as one contiguous span).

    Scale shape: one shuffle on the lane key + a per-lane sort — no global
    ordering anywhere. Lanes pack independently, so parallelism is
    ``n_buckets`` regardless of corpus size; raise it to match the
    cluster. The salted hash makes the layout reproducible run-over-run
    (a task retry re-deals identically — never ``rand()``).
    """
    from pyspark.sql import Window

    from ..functions import h60

    df = ensure_parallelism(df)
    h = h60(F.concat(F.lit("pack:"), F.col(id_col).cast("string")))
    n_tok = F.size(tokens(text_col)).cast("long")
    base = df.select(
        id_col,
        h.alias("_h"),
        (h % n_buckets).cast("int").alias("bucket"),
        n_tok.alias("n_tokens"),
    )
    w = Window.partitionBy("bucket").orderBy(F.col("_h").asc(), F.col(id_col).asc())
    cum = F.sum("n_tokens").over(w)
    start = cum - F.col("n_tokens")
    pack_id = F.floor(start / budget)
    return base.select(
        id_col,
        "bucket",
        pack_id.cast("long").alias("pack_id"),
        (start - pack_id * budget).cast("long").alias("offset"),
        F.col("n_tokens"),
        # a doc ENDING exactly on a boundary does not straddle it; guard the
        # zero-token doc, whose cum-1 would look back past its own start
        F.when(F.col("n_tokens") > 0, F.floor((cum - 1) / budget) - pack_id)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_splits"),
    )


def mixture_sample(
    df: DataFrame,
    weights_bp: dict[str, int],
    total_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Token-budget data mixing: sample each source down (deterministically)
    so the output corpus approximates a target token mixture — THE
    composition step of an LLM training-data pipeline (e.g. 50% web crawl /
    30% code / 20% books out of a 2T-token budget).

    ``weights_bp`` maps source → share of ``total_tokens`` in basis points;
    unlisted sources are dropped. Per source, the target
    ``total_tokens · bp / 10000`` converts to a keep-probability threshold
    in ppm against the source's actual token count, and a doc survives iff
    its salted portable hash falls under the threshold — Bernoulli
    sampling whose expected token yield is the target (binomial
    concentration makes the miss negligible at real budgets), chosen over
    an exact cumulative-sum cut because it needs NO per-source window (the
    per-key serialization this module's operators keep designing out) and
    stays reproducible under task retry (never ``rand()``).

    Shape at 100 TB: one partial-aggregated pass for per-source token
    totals (|sources| rows, broadcast back) + one filter scan. The
    threshold arithmetic is exact int64 (the tfidf div/mod decomposition,
    no float division an oracle could disagree with) up to ~9e12 tokens
    per source (~37 TB of text); an oversubscribed source (target > its
    corpus) caps at keeping everything — upsampling beyond 1.0 epoch is
    repetition, a different operator's job.
    """
    n_tok = F.size(tokens(text_col)).cast("long")
    # membership as an In predicate BEFORE anything else: it pushes into
    # both parquet scans (docs + totals subtree), so unlisted sources are
    # never tokenized or aggregated — at 100 TB the weights usually name a
    # handful of sources out of thousands. This filter is ALSO what makes
    # an unlisted source dropped rather than kept: without it the map
    # lookup would yield a null weight, and least() skips nulls in both
    # engines, reading as threshold 1e6 (keep everything).
    per_doc = df.where(F.col(source_col).isin(*weights_bp)).select(
        id_col, source_col, n_tok.alias("n_tokens")
    )
    # a listed source whose docs total ZERO tokens (e.g. all-punctuation)
    # must be dropped explicitly: Spark's integer div-by-zero yields NULL
    # (doc silently filtered) while DuckDB's errors — the guard pins one
    # semantics ("no tokens → no share of a token budget") on both engines
    totals = per_doc.groupBy(source_col).agg(
        F.sum("n_tokens").alias("_src_tokens")
    ).where(F.col("_src_tokens") > 0)
    wmap = F.create_map(
        *[x for s, bp in sorted(weights_bp.items()) for x in (F.lit(s), F.lit(bp))]
    )
    h = h60(F.concat(F.lit("mix:"), F.col(id_col).cast("string")))
    return (
        per_doc.join(F.broadcast(totals), source_col)
        .withColumn("_w_bp", wmap[F.col(source_col)].cast("long"))
        .withColumn(
            "_target",
            F.expr(f"(CAST({int(total_tokens)} AS BIGINT) * _w_bp) div 10000"),
        )
        # exact int64 ppm via the tfidf div/mod decomposition:
        # (t div s)·1e6 + ((t mod s)·1e6) div s  — no float division
        .withColumn(
            "_thresh_ppm",
            F.expr(
                "least(CAST(1000000 AS BIGINT),"
                " (_target div _src_tokens) * 1000000"
                " + ((_target % _src_tokens) * 1000000) div _src_tokens)"
            ),
        )
        .where((h % 1_000_000) < F.col("_thresh_ppm"))
        .select(
            id_col,
            source_col,
            "n_tokens",
            F.col("_thresh_ppm").alias("thresh_ppm"),
        )
    )


def upsample_epochs(
    df: DataFrame,
    epochs_x100: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic fractional-epoch repetition — ``mixture_sample``'s
    complement: a rare high-quality source whose mixture weight demands
    MORE than one pass over its corpus (e.g. 3.2 epochs) gets
    ``floor(epochs)`` copies of every doc plus one extra copy for the
    fraction of docs selected by a salted-hash Bernoulli draw, so the
    expected emitted token count is exactly ``epochs × corpus`` and a task
    retry re-emits identically (never ``rand()``).

    Emits (row, ``copy_idx`` 1..n) via ``explode(sequence(...))`` — a pure
    map-side fan-out, no shuffle, no window; at 100 TB the output is
    written straight back out, so the only cost is the write itself."""
    if epochs_x100 <= 0:
        raise ValueError("epochs_x100 must be positive")
    base, frac_pct = divmod(int(epochs_x100), 100)
    extra = (
        h60(F.concat(F.lit("epoch:"), F.col(id_col).cast("string"))) % 100
        < frac_pct
    ).cast("int")
    n = (F.lit(base) + extra).cast("int")
    return (
        df.withColumn("_n_copies", n)
        .where(F.col("_n_copies") > 0)
        .withColumn("copy_idx", F.explode(F.sequence(F.lit(1), F.col("_n_copies"))))
        .drop("_n_copies")
    )


#: Gopher-style repetition gates (basis points), applied by curation_verdict
MAX_DUP_BIGRAM_BP = 2000
MAX_TOP_BIGRAM_BP = 1800


def curation_verdict(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The full curation policy as ONE map-side pass: per-doc boolean gates
    for heuristic quality (token count + stopword/punctuation ratios),
    repetition (dup-bigram and top-bigram shares under the Gopher-style
    caps), and language (stopword-argmax == 'en'), plus the conjunction.

    This is the production shape for 100 TB corpus filtering: every signal
    is a per-row expression, so the verdict costs one scan — no joins of
    per-signal tables, no shuffle at all; downstream stages filter on
    ``keep`` and the predicate pushes into the scan of a columnar store.
    Tokens and bigrams are staged as columns (two chained projections, one
    codegen stage) so the ~15 referencing expressions share one
    tokenization and one n-gram build — measured 2.4× the whole scan at
    sf0.1 vs the single-expression form.
    """
    df = ensure_parallelism(df)
    staged = df.select(
        id_col, F.col(text_col).alias("_t"), tokens(text_col).alias("_toks")
    ).select(
        id_col, "_t", "_toks", word_ngrams(F.col("_toks"), 2).alias("_bigrams")
    )
    toks = F.col("_toks")
    _, stop_bp, punct_bp, keep_quality = _quality_exprs_cols(F.col("_t"), toks)
    _, dup_bp, _, top_bp = _repetition_exprs_cols(F.col("_bigrams"))
    keep_repetition = (dup_bp < MAX_DUP_BIGRAM_BP) & (top_bp < MAX_TOP_BIGRAM_BP)
    _, pred = _lang_pred(toks)
    keep_language = pred == "en"
    return staged.select(
        id_col,
        keep_quality.alias("keep_quality"),
        keep_repetition.alias("keep_repetition"),
        keep_language.alias("keep_language"),
        (keep_quality & keep_repetition & keep_language).alias("keep"),
    )


#: chunking defaults: 64-token windows, 16-token overlap (stride 48)
CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document's token stream into overlapping fixed-size
    windows — the RAG/embedding-prep chunker: (doc_id, chunk_idx,
    chunk_start, n_tokens, chunk_text), deterministic and windowless
    (one tokenize + one explode per row; no shuffle at all, the chunk
    grid is computed per row with array HOFs).

    Chunks start at stride = chunk_tokens − overlap intervals; a trailing
    partial chunk is emitted ONLY if it adds tokens beyond the previous
    chunk's end (start + overlap < n) — the LangChain-style rule that
    avoids emitting a pure suffix of the prior window. Token-exact and
    integer-only, so the whole op hash-matches a DuckDB oracle."""
    if chunk_tokens <= overlap:
        raise ValueError("chunk_tokens must exceed overlap")
    stride = chunk_tokens - overlap
    df = ensure_parallelism(df)
    toks = tokens(text_col)
    staged = df.select(id_col, toks.alias("_toks")).where(
        F.size("_toks") > 0
    )
    starts = F.filter(
        F.sequence(F.lit(0), F.size("_toks") - 1, F.lit(stride)),
        lambda s: (s == 0) | (s + overlap < F.size("_toks")),
    )
    ex = staged.select(
        id_col,
        "_toks",
        F.posexplode(starts).alias("chunk_idx", "chunk_start"),
    )
    return ex.select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("chunk_start").cast("int").alias("chunk_start"),
        F.least(
            F.lit(chunk_tokens), F.size("_toks") - F.col("chunk_start")
        )
        .cast("long")
        .alias("n_tokens"),
        F.array_join(
            F.slice(F.col("_toks"), F.col("chunk_start") + 1, chunk_tokens),
            " ",
        ).alias("chunk_text"),
    )


#: fixed-point scale for n-gram LM conditional probabilities
LM_PPM = 1_000_000


def ngram_lm_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-trained bigram-LM quality surrogate — the KenLM-style
    fluency signal of a curation pipeline without the transcendental:
    train bigram MLE counts on the corpus itself (one pass), then score
    each document by the MEAN conditional probability of its bigrams,
    in exact-integer ppm:

        contrib(w1,w2) = floor(c2(w1,w2)·1e6 / c1f(w1))
        lm_score_ppm   = floor(Σ contrib / n_bigrams)

    where c1f(w1) = Σ_w2 c2(w1,w2) (bigram-first counts — the true MLE
    denominator, derived from c2 so final-position tokens don't skew
    it). Repetitive/templated text scores HIGH (its bigrams dominate the
    corpus LM), unique prose scores low — the standard use is both-sided
    trimming. Every step is int64 (counts, floored divisions, integer
    sum), so scores hash-match the DuckDB oracle exactly and are
    aggregation-order-independent.

    Plan shape: one explode → bigram partial-agg (the big shuffle, ~|V|²
    keys max but Zipf-bounded in practice); c1f derived from c2 (no
    second corpus pass); one shuffle join of doc-bigrams to counts; one
    per-doc agg; left join back so bigram-less docs (< 2 tokens) keep a
    row with ``n_bigrams = 0`` and null score."""
    df = ensure_parallelism(df)
    staged = df.select(id_col, tokens(text_col).alias("_toks"))
    bigrams = F.expr(
        "CASE WHEN size(_toks) >= 2 THEN transform(sequence(1, size(_toks) - 1),"
        " i -> struct(_toks[i-1] AS w1, _toks[i] AS w2))"
        " ELSE array() END"
    )
    bi = staged.select(id_col, F.explode(bigrams).alias("b")).select(
        id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    # pre-aggregate per (doc, bigram) BEFORE the count joins: contrib is
    # constant per (w1,w2), so floor(Σ k·contrib / Σ k) over per-doc
    # multiplicities k equals the per-occurrence formulation exactly —
    # and the very documents this signal targets (templated text
    # repeating a few bigrams) shrink from one join row per OCCURRENCE
    # to one per distinct bigram
    dbi = bi.groupBy(id_col, "w1", "w2").agg(F.count(F.lit(1)).alias("k"))
    c2 = dbi.groupBy("w1", "w2").agg(F.sum("k").alias("c2"))
    c1f = c2.groupBy("w1").agg(F.sum("c2").alias("c1f"))
    scored = (
        dbi.join(c2, ["w1", "w2"])
        .join(c1f, "w1")
        .withColumn(
            "contrib", F.expr(f"CAST((c2 * {LM_PPM}) DIV c1f AS BIGINT)")
        )
        .groupBy(id_col)
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.expr("CAST(sum(k * contrib) DIV sum(k) AS BIGINT)").alias(
                "lm_score_ppm"
            ),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias(
                "n_bigrams"
            ),
            "lm_score_ppm",
        )
    )
