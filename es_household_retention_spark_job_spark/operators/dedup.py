"""Deduplication operators for the training-data pipeline (beyond-reference;
SURVEY §7.1 M7): exact, MinHash+LSH, SimHash, and n-gram Jaccard dedup over
the ``documents`` table.

Scale design (the point of each formulation):

* **exact** — one shuffle on a 128-bit content key; partial-agg combines
  map-side, so 100 TB of docs reduces to one row per distinct content.
* **minhash** — signatures are computed MAP-SIDE with nested array
  expressions (no explode, no shuffle); only the 8 (band, band-signature)
  rows per doc shuffle, so candidate generation is O(#docs × #bands), never
  O(#docs²). Verification touches candidate pairs only.
* **simhash** — one explode + partial-aggregated groupBy per doc; banded
  Hamming join (4 × 15-bit chunks) again avoids the quadratic pair space.
* **n-gram Jaccard** — inverted-index join (explode n-grams, equi-join on the
  n-gram hash) with a document-frequency cap on candidate generation
  (``MAX_SHINGLE_DF``): hot boilerplate shingles never enter the self-join,
  so no single join key goes quadratic; reported scores stay exact
  (array_intersect over the full shingle sets). The small-scale
  oracle-of-record, while minhash/simhash are the 100 TB path.

Everything is deterministic and engine-portable (see ``functions.h60``); the
DuckDB twins live in ``entry_queries_docs``. No Python UDFs anywhere.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import P31, eager_cache, ensure_parallelism, h60, hash_bucket
from ..sinks import manifest as M
from .text import tokens, word_ngrams

NGRAM_N = 3
#: MinHash: 32 permutations in 8 bands of 4 rows — bands/rows chosen so the
#: S-curve threshold (1/8)^(1/4) ≈ 0.60 sits at the dedup Jaccard cutoff.
MINHASH_K = 32
BAND_ROWS = 4
N_BANDS = MINHASH_K // BAND_ROWS
JACCARD_MIN_BP = 6000  # basis points
#: SimHash: 60-bit signatures (the full h60 shingle hash), 4 chunks of 15
#: bits, Hamming radius 8. Chunk width is the quadratic-blowup knob: banded
#: candidate generation is O(#chunks · n²/2^width), so 8-bit chunks (the
#: original 32-bit/4-chunk shape) put ~n/256 docs in every bucket — measured
#: 41× on the 10× sf1→sf10 step (SCALING.md). 15-bit chunks give 32k buckets
#: per band (the same n²/2^w law, deferred ~128×) while the pigeonhole
#: guarantee is unchanged: any pair within Hamming 3 (< #chunks) still
#: shares an intact chunk; radius 4..8 remains probabilistic, as before.
#: At 100 TB scale, width keeps growing with the corpus (Manku et al.,
#: WWW'07 use 64-bit prints and permuted prefix tables — same recipe).
SIMHASH_BITS = 60
SIM_CHUNKS = 4
HAMMING_MAX = 8

_rng = random.Random(0x5EED)
#: fixed (a, b) minhash permutation parameters, shared with the DuckDB oracle
#: via module import — NOT regenerated per run.
PERMS: tuple[tuple[int, int], ...] = tuple(
    (_rng.randrange(1, P31), _rng.randrange(0, P31)) for _ in range(MINHASH_K)
)


def normalize(col: Column | str) -> Column:
    """Dedup normalization: lowercase, strip non-alphanumerics to single
    spaces, trim — whitespace/case/punctuation-invariant content key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def exact_canonical(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: md5 of normalized text; canonical = min id per key."""
    keyed = df.select(id_col, F.md5(normalize(text_col)).alias("content_key"))
    w = Window.partitionBy("content_key")
    return keyed.select(
        id_col,
        "content_key",
        F.min(id_col).over(w).alias("canonical_id"),
        (F.col(id_col) != F.min(id_col).over(w)).alias("is_dup"),
    )


#: shingle hash selector: ``md5`` (default — the portable 60-bit hash the
#: DuckDB oracle reproduces bit-for-bit) or ``xxhash64`` (JVM-native; the
#: oracle-free production choice). Measured honestly at sf10 the swap is
#: only ~5% of minhash_lsh's wall — the n-gram array construction, not
#: the hash, dominates the shingle scan (SCALING.md round-6
#: decomposition) — but the knob is free and the JACCARD-FAMILY pair
#: output is hash-agnostic: Jaccard depends only on set intersections,
#: identical under any collision-free hash (equality pinned in tests).
#: SimHash is NOT hash-agnostic (bits are functions of hash values), so
#: ``simhash_signatures`` pins md5 and ignores this conf.
SHINGLE_HASH_CONF = "spark.spark_graft.shingleHash"


def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = NGRAM_N,
    hash_family: str | None = None,
) -> DataFrame:
    """(id, gh array<long>) — distinct word n-gram shingles, HASHED to
    60-bit longs inside this one projection. The shingle strings never
    leave the operator: everything downstream (signatures, inverted
    index, verification) shuffles/caches 8-byte longs instead of ~20-byte
    strings, and the hash runs exactly once per shingle occurrence. Docs
    with fewer than ``n`` tokens are dropped. Hash family selected by
    ``SHINGLE_HASH_CONF`` (portable md5 by default, xxhash64 for
    oracle-free production runs)."""
    df = ensure_parallelism(df)
    # linear-time n-gram construction (text.word_ngrams — the naive
    # transform-over-indices form re-tokenizes the doc per index, O(len²));
    # the hash runs on the materialized gram elements only
    grams = word_ngrams(tokens(text_col), n)
    family = hash_family or df.sparkSession.conf.get(SHINGLE_HASH_CONF, "md5")
    fast = family == "xxhash64"
    if fast:
        # mask to the same 60-bit range so every downstream modulus
        # (minhash perms, band keys, P31 reduction) sees the same domain
        hash_one = lambda g: F.xxhash64(g).bitwiseAND(F.lit((1 << 60) - 1))
    else:
        hash_one = h60
    gh = F.array_distinct(F.transform(grams, hash_one))
    # the short-doc filter MUST ride the cheap precursor, not the aliased
    # output: ``.select(gh.alias("gh")).where(size("gh") > 0)`` makes
    # Catalyst substitute the WHOLE shingle expression into the filter and
    # the projection evaluates it again — no CSE across filter+project,
    # the same class of trap as the HOF-lambda one (word_ngrams docstring).
    # Measured at sf10: 33.6s → 6.0s for the identical output
    # (size(gh) > 0  ⇔  at least one n-gram  ⇔  size(tokens) ≥ n).
    return df.where(F.size(tokens(text_col)) >= n).select(
        id_col, gh.alias("gh")
    )


def minhash_signature_from_hashes(ghashes: Column) -> Column:
    """32-wide minhash signature over 60-bit shingle hashes, computed
    per-row with nested array expressions — whole-stage codegen, no explode,
    no shuffle. Pass a MATERIALIZED column (not a raw md5 expression): a
    spliced md5 subtree would be recomputed in all 32 permutation lambdas.
    """
    perms = F.array(
        *[F.struct(F.lit(a).alias("a"), F.lit(b).alias("b")) for a, b in PERMS]
    )
    # reduce g below 2^31 inside the lambda (cheap arithmetic):
    # a*(g%P) < 2^31 * 2^31 = 2^62 fits BIGINT in both engines.
    return F.transform(
        perms,
        lambda p: F.array_min(
            F.transform(ghashes, lambda g: (p["a"] * (g % P31) + p["b"]) % P31)
        ),
    )


def jaccard_bp(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two distinct-element arrays, in integer
    basis points (floor), portable to DuckDB's list_intersect. Sizes are
    widened to long BEFORE the ×10000 — F.size is int32 and a >214k-shingle
    document would silently wrap in Spark's non-ANSI arithmetic."""
    inter = F.size(F.array_intersect(a, b)).cast("long")
    sa, sb = F.size(a).cast("long"), F.size(b).cast("long")
    return F.floor(inter * 10000 / (sa + sb - inter)).cast("long")


def minhash_bands(
    grams: DataFrame, id_col: str = "doc_id", gh_once: bool = False
) -> DataFrame:
    """(id, gh, band_key) LSH band keys from a ``shingle_sets`` frame —
    signature + banding are map-side array expressions (explode only
    multiplies rows 8×, no shuffle), so this works unchanged on a streaming
    micro-batch.

    ``band_key`` is ``xxhash64(band_index, signature-slice)`` — one 8-byte
    join key instead of the (band_id, "v1-v2-v3-v4" string) pair it
    replaces, so the candidate self-join shuffles ~5× fewer key bytes and
    compares longs, not strings. Two bands collide only if the hash does
    (downstream exact-Jaccard verification makes the stray collision
    harmless — it can only ADD a candidate, never drop one), so results
    are identical; the DuckDB oracle keeps deriving its own candidates
    from the raw band values, which the same verification step makes
    equivalent.

    **gh_once=True (round 14, guide §2.3/§6):** ``gh`` is carried on
    exactly ONE of a doc's ``N_BANDS`` rows — band index 0 — and is NULL
    on the rest. The PERSISTED-index consumers (``neardup_index_frame`` →
    build/sync/stream append, read by ``neardup_probe``) need gh once per
    doc, so duplicating the wide shingle array 8× only multiplied
    stored/fetched bytes: the band index shrinks ~8× in gh bytes and a
    probe's verify fetch reads ONE wide row per neighbor
    (``gh IS NOT NULL``) instead of 8 wide rows + a dedupe. Which row
    carries gh is arbitrary — band 0 is the position-based choice
    computable inside the same ``posexplode`` projection with no second
    reference to the key array (an ``array_min``-based pick would splice
    the 32-perm signature expression into a second consumer — the
    HOF-lambda duplication trap documented in ``shingle_sets``).

    The DEFAULT stays gh-per-row: ``neardup_against_corpus``'s stateless
    stream-static join verifies on whichever band actually collides, so
    every collision row must carry both arrays there (a pair colliding
    only on a non-first band would otherwise verify against NULL and be
    silently dropped)."""
    sigs = grams.select(
        id_col, "gh", minhash_signature_from_hashes(F.col("gh")).alias("sig")
    )
    exploded = sigs.select(
        id_col,
        "gh",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                lambda b: F.xxhash64(
                    b, F.slice(F.col("sig"), b * BAND_ROWS + 1, BAND_ROWS)
                ),
            )
        ).alias("_band_pos", "band_key"),
    )
    gh = (
        F.when(F.col("_band_pos") == 0, F.col("gh")) if gh_once else F.col("gh")
    )
    return exploded.select(id_col, gh.alias("gh"), "band_key")


def minhash_lsh_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact Jaccard ≥ threshold.

    candidates: explode 8 (band, signature-slice) keys per doc, self-join on
    the band key (doc_a < doc_b), distinct. Verified against the exact n-gram
    Jaccard so LSH false positives never surface."""
    spark = df.sparkSession
    # eager: the a/b self-join below references grams twice in one action;
    # a lazy cache would let both subtrees recompute the full shingle scan
    # (functions.eager_cache — measured 2x the dominant stage at sf10)
    grams = eager_cache(shingle_sets(df, text_col, id_col))
    # the slim (id, band_key) frame is ALSO eager-cached: the self-join
    # below references it twice, and without this the 32-permutation
    # signature transform (the heaviest map stage after shingling —
    # ~200 executor-seconds at sf10) runs once per join side; the cache is
    # 16 bytes × 8 bands per doc, negligible next to the gram arrays
    bands = eager_cache(minhash_bands(grams, id_col).drop("gh"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
        # EXPLICIT verify-stage spread (sf1 skew stress, SCALING.md): AQE
        # coalesces the post-distinct exchange by BYTES, and candidate rows
        # are two longs — a giant near-dup cluster (1000-doc clique → 500k
        # pairs ≈ 8 MB) coalesces to ONE task that then runs every exact
        # array-intersect serially (measured: one 32.5s task; 35.2s wall →
        # 9.1s with this pin). Catalyst collapses this repartition into the
        # distinct's hash exchange (same keys), so parallelism is pinned
        # at no extra shuffle — test_plans pins the single-exchange shape.
        .repartition(
            spark.sparkContext.defaultParallelism * 2, "doc_a", "doc_b"
        )
    )
    ga = grams.select(F.col(id_col).alias("doc_a"), F.col("gh").alias("ng_a"))
    gb = grams.select(F.col(id_col).alias("doc_b"), F.col("gh").alias("ng_b"))
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a", "doc_b", jaccard_bp(F.col("ng_a"), F.col("ng_b")).alias("jaccard_bp")
        )
        .where(F.col("jaccard_bp") >= JACCARD_MIN_BP)
    )


#: Drop shingles whose document frequency exceeds this from CANDIDATE
#: GENERATION (scores stay exact — see ``ngram_jaccard_pairs``). A shingle
#: shared by m docs contributes O(m²) candidate pairs, so one boilerplate
#: header in millions of docs makes the inverted-index self-join quadratic;
#: above ~100 occurrences a single shingle carries essentially no pairwise
#: Jaccard signal (any truly-similar pair shares many shingles, nearly all
#: rarer than this). Absolute, not corpus-relative, ON PURPOSE: the pair
#: cost a hot shingle induces depends on its posting-list length alone, not
#: on corpus size, so the bound that keeps one join key from exploding is
#: the same at sf0.01 and at 100 TB.
MAX_SHINGLE_DF = 100


def ngram_candidate_pairs(
    grams: DataFrame,
    id_col: str = "doc_id",
    max_df: int = MAX_SHINGLE_DF,
    min_bp: int = JACCARD_MIN_BP,
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from a df-capped inverted index over
    a ``shingle_sets`` frame, pruned by a PROVABLE Jaccard upper bound.

    Three guards compose, each attacking a different blowup:

    1. **df cap** — shingles with document frequency > ``max_df`` never
       enter the self-join (one partial-aggregated groupBy computes df), so
       a posting list is at most ``max_df`` long and no single join key
       goes quadratic on boilerplate.
    2. **count, don't materialize** — the equi-join's output goes straight
       into a partial-aggregated groupBy(pair) count (``inter_c`` = shared
       capped shingles). There is no distinct over the raw pair stream, so
       map-side combine absorbs the multiplicity.
    3. **upper-bound prune** — true intersection I ≤ inter_c +
       min(hot_a, hot_b) =: Imax (a pair can share at most all of either
       side's hot shingles beyond the counted capped ones), and Jaccard
       J = I/(|A|+|B|−I) is increasing in I, so
       J ≤ Imax/(n_a+n_b−Imax). Pairs whose bound misses ``min_bp`` are
       dropped BEFORE any shingle array is joined or intersected — in a
       shingle-dense corpus that is ~all of them.

    Exactness: every pair with true J ≥ min_bp that shares ≥1 capped
    shingle survives (the bound over-approximates), so downstream
    verification sees a superset of the answers."""
    inv = grams.select(id_col, F.explode("gh").alias("g"))
    rare = (
        inv.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .select("g")
    )
    capped = inv.join(rare, "g")
    csize = capped.groupBy(id_col).agg(F.count(F.lit(1)).alias("c"))
    sizes = (
        grams.select(id_col, F.size("gh").cast("long").alias("n"))
        .join(csize, id_col, "left")
        .select(
            id_col,
            "n",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        )
    )
    a, b = capped.alias("a"), capped.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter_c"))
    )
    sa = sizes.select(
        F.col(id_col).alias("doc_a"), F.col("n").alias("n_a"), F.col("c").alias("c_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("doc_b"), F.col("n").alias("n_b"), F.col("c").alias("c_b")
    )
    imax = F.col("inter_c") + F.least(
        F.col("n_a") - F.col("c_a"), F.col("n_b") - F.col("c_b")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            F.floor(imax * 10000 / (F.col("n_a") + F.col("n_b") - imax)) >= min_bp
        )
        .select("doc_a", "doc_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_bp: int = JACCARD_MIN_BP,
    max_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """n-gram Jaccard pairs: df-capped, upper-bound-pruned candidates
    (``ngram_candidate_pairs``) then EXACT Jaccard over the full shingle
    arrays (``array_intersect`` — neither the cap nor the prune ever
    distorts a reported score). The only recall caveat: a pair whose every
    shared shingle is hotter than ``max_df`` (wall-to-wall boilerplate
    copies) is not generated — exact dedup and minhash banding are the
    operators that own that shape. The small-scale oracle-of-record;
    minhash above is the 100 TB path."""
    grams = eager_cache(shingle_sets(df, text_col, id_col))
    cand = ngram_candidate_pairs(grams, id_col, max_df, min_bp)
    ga = grams.select(F.col(id_col).alias("doc_a"), F.col("gh").alias("ng_a"))
    gb = grams.select(F.col(id_col).alias("doc_b"), F.col("gh").alias("ng_b"))
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            jaccard_bp(F.col("ng_a"), F.col("ng_b")).alias("jaccard_bp"),
        )
        .where(F.col("jaccard_bp") >= min_bp)
    )


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over the near-dup pair graph: every document in
    a transitively-connected group gets the group's minimum id as its
    ``cluster_id`` (A~B and B~C put A,B,C in one cluster even when A,C never
    scored as a pair — the closure pairwise dedup can't see).

    Min-label propagation, all DataFrame ops: each round every node takes
    the min of its label and its neighbors' labels; a round is one
    edge⋈label shuffle-join + one partial-aggregated groupBy(node) min —
    both keyed on node id, so AQE handles hub-node skew. Convergence needs
    diameter-many rounds; near-dup components are chains/cliques of copies
    with tiny diameter, and the fixpoint check (a changed-flag summed over
    the frame each round checkpoints anyway — the same driver-scalar
    pattern as k-means, no extra join) stops early — ``max_iters`` is a
    runaway bound, not the expected count. Deterministic: min is
    order-free, ids are unique.

    Each round's labels are ``localCheckpoint``ed: without that the label
    lineage nests one more join per round, so round N replans (and on
    failure would recompute) an N-deep tree — the classic iterative-plan
    blowup that stalls drivers at scale long before executors are busy.

    Returns (doc_id, cluster_id, cluster_size) for every doc incident to
    ≥1 pair; singleton docs are their own implicit cluster and are omitted.
    """
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .cache()
    )
    if max_iters < 1:
        # for/else with zero iterations would hit the non-convergence
        # branch with `changed` unbound (NameError instead of the intended
        # diagnostic); reject the nonsensical bound up front
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        nb_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("nb_label")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("nb_label").alias("nb_min"))
        )
        # the changed flag rides the update projection, so convergence
        # detection is one aggregate over the frame the round checkpoints
        # anyway — not an extra labels⋈labels join + count per round
        stepped = (
            labels.join(nb_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nb_min"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nb_min"), F.col("label")) < F.col("label"))
                .cast("long")
                .alias("_ch"),
            )
            .localCheckpoint(eager=True)
        )
        # sum over an EMPTY frame is NULL, not 0 — a duplicate-free corpus
        # must converge in one round, not run out max_iters
        changed = stepped.agg(F.sum("_ch")).first()[0] or 0
        labels = stepped.drop("_ch")
        if changed == 0:
            break
    else:
        # returning non-converged labels would SILENTLY split a transitive
        # cluster (and leakage_safe_split would then let its members
        # straddle train/test — the exact failure that operator exists to
        # prevent). max_iters is a runaway bound for diameter; hitting it
        # is an input-shape surprise the caller must hear about.
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iters} rounds "
            f"({changed} labels still changing) — the pair graph has a "
            "component with diameter > max_iters; raise max_iters"
        )
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    out = labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )
    edges.unpersist()
    return out


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SIMHASH_BITS-wide SimHash per doc (60 bits — the full h60
    shingle hash): ±1 vote per bit position, bit set where the vote sum
    is positive — equivalently, where the bit's popcount over the doc's
    shingle set exceeds half the set size (2·cnt_j > n).

    ZERO-shuffle: each bit's popcount is an ``aggregate()`` higher-order
    fold over the doc's own ``gh`` array, so the whole signature is one
    map-side projection — no explode, no 60-accumulator hash aggregate,
    no exchange. Measured at sf0.1 this is 3.3× the explode+groupBy form
    (0.50s vs 1.68s): the per-doc arrays are small (~52 shingles), so the
    interpreted HOF lambda is cheap next to the generator + 60-column
    partial-agg machinery it replaces, and the map-side-only plan holds at
    any scale (a doc's shingles sit in one row either way — the exploded
    form bought no extra parallelism). The 60 folds and the bit-assembly
    CASE chain are generated SQL fragments parsed JVM-side in one call
    (the same strings the DuckDB oracle is generated from; building them
    as nested Column objects cost hundreds of py4j round trips).

    The shingle hash family is PINNED to md5 here (``SHINGLE_HASH_CONF``
    does not apply): SimHash bits are functions of the hash VALUES, so a
    family switch silently changes every signature and the
    Hamming-verified pair set — unlike the Jaccard family, where any
    injective hash yields the same sets. Pinning keeps the output
    byte-identical to the DuckDB oracle under any session conf."""
    grams = shingle_sets(df, text_col, id_col, hash_family="md5")
    sim_sql = " + ".join(
        f"CASE WHEN 2 * (aggregate(gh, 0L, (a, g) -> a + ((g >> {j}) & 1)))"
        f" > size(gh) THEN {1 << j} ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return grams.select(id_col, F.expr(sim_sql).cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = HAMMING_MAX,
) -> DataFrame:
    """Banded SimHash near-dup pairs: docs sharing any of SIM_CHUNKS
    15-bit chunks are candidates; verified with bit_count(xor) ≤ radius.
    Chunk width bounds the random-collision candidate mass at
    O(#chunks · n²/2^width) — see the constants block for the measured
    blowup narrower chunks caused."""
    sigs = eager_cache(simhash_signatures(df, text_col, id_col))
    chunk_w = SIMHASH_BITS // SIM_CHUNKS
    chunks = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright(F.col("simhash"), c * chunk_w)
                        .bitwiseAND(F.lit((1 << chunk_w) - 1))
                        .alias("chunk_val"),
                    )
                    for c in range(SIM_CHUNKS)
                ]
            )
        ).alias("ch"),
    ).select(id_col, "simhash", "ch.chunk_idx", "ch.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def decontamination_overlap(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_containment_bp: int = 1000,
) -> DataFrame:
    """Benchmark decontamination: which training documents share enough
    n-grams with an evaluation/benchmark document that they would leak the
    benchmark into the training set.

    For every (train, bench) pair sharing ≥1 shingle:
    ``containment_bp = floor(|shingles(train) ∩ shingles(bench)| * 10000
    / |shingles(bench)|)`` — containment of the BENCHMARK in the training
    doc (the direction that matters: a giant train doc embedding a whole
    eval item scores 10000 even though its Jaccard is tiny). Pairs at or
    above ``min_containment_bp`` are reported.

    Scale shape: the benchmark side is small by construction (eval suites
    are thousands of docs, not billions), so its exploded inverted index
    and its size table are both broadcast — the 100 TB training side
    streams map-side with NO shuffle of its shingles; the only exchange is
    the partial-aggregated groupBy on (train, bench) candidate pairs,
    which is bounded by actual collisions, never by corpus size.
    """
    tg = shingle_sets(train, text_col, id_col)
    bg = shingle_sets(bench, text_col, id_col)
    b_inv = bg.select(
        F.col(id_col).alias("bench_id"), F.explode("gh").alias("g")
    )
    b_sizes = bg.select(
        F.col(id_col).alias("bench_id"), F.size("gh").cast("long").alias("n_bench")
    )
    t_inv = tg.select(F.col(id_col).alias("train_id"), F.explode("gh").alias("g"))
    overlap = (
        t_inv.join(F.broadcast(b_inv), "g")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    return (
        overlap.join(F.broadcast(b_sizes), "bench_id")
        .select(
            "train_id",
            "bench_id",
            F.col("overlap").cast("long").alias("overlap"),
            F.floor(F.col("overlap") * 10000 / F.col("n_bench"))
            .cast("long")
            .alias("containment_bp"),
        )
        .where(F.col("containment_bp") >= min_containment_bp)
    )


def canonical_per_cluster(
    clusters: DataFrame, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical-document selection: one survivor per near-dup cluster.

    Joins the connected-component labels (``duplicate_clusters``) back to
    the documents and keeps, per cluster, the doc with the MOST word tokens
    (ties → smallest id) — "keep the longest copy", the usual curation
    policy when near-dups differ by truncation. Output is one row per
    cluster: the survivor and how many members it replaces.

    One shuffle join on doc id + one window over cluster_id — cluster count
    is bounded by duplicate count, far below corpus size, and AQE handles
    any mega-cluster skew.
    """
    from pyspark.sql import Window

    from .text import tokens

    lens = docs.select(
        F.col(id_col).alias("doc_id"), F.size(tokens(text_col)).cast("long").alias("n_tokens")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    return (
        clusters.join(lens, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_id"),
            "n_tokens",
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Train/val/test split that near-duplicates cannot straddle — the
    eval-integrity guarantee a naive per-document split silently breaks
    (a test doc whose near-copy sits in train is a leaked answer, the
    benchmark-contamination failure mode measured by
    ``decontamination_overlap``).

    Every doc is assigned a REPRESENTATIVE: its near-dup cluster's min id
    (``duplicate_clusters`` over ``pairs``), or itself for singletons. The
    split decision hashes the representative, not the doc — so an entire
    duplicate cluster lands on one side, deterministically (portable
    salted hash, never ``rand()``; a task retry re-splits identically).

    Shape at 100 TB: the label propagation already bounds the clusters
    pass; the split itself is one left join of the (duplicate-incident
    docs only) label frame onto the id spine plus a hash filter — no
    window, no skew surface beyond the join AQE already handles.
    """
    labels = duplicate_clusters(pairs).select(
        F.col("doc_id").alias(id_col), "cluster_id"
    )
    rep = F.coalesce(F.col("cluster_id"), F.col(id_col))
    pct = h60(F.concat(F.lit("lsplit:"), rep.cast("string"))) % 100
    return (
        df.select(id_col)
        .join(labels, id_col, "left")
        .select(
            id_col,
            rep.alias("rep_id"),
            pct.cast("long").alias("split_pct"),
            F.when(pct < train_pct, "train")
            .when(pct < train_pct + val_pct, "val")
            .otherwise("test")
            .alias("split"),
        )
    )


# ---------------------------------------------------------------------------
# Persisted near-dup (LSH band) index — maintenance parity with the text
# and vector indexes: the streaming path previously rebuilt the corpus band
# index per ingestion epoch (an O(corpus) shingle+minhash pass); persisting
# the bands and APPENDING each curated micro-batch makes corpus-side cost
# O(delta docs). Layout: parquet partitioned by band_bucket =
# pmod(xxhash64(band_key), NEARDUP_INDEX_BUCKETS) — 8 small rows per doc
# (band keys; the hashed-shingle array for exact-Jaccard verification
# rides exactly ONE of them — see minhash_bands' gh-once note), never
# the text. Atomicity: batch builds are write-then-swap by Spark's
# overwrite; streaming appends go through the file sink's own
# transaction log (_spark_metadata), which `read_neardup_index` honors, so
# a crashed micro-batch's files are invisible — the same reader-atomicity
# contract as the manifest-based indexes, provided by Spark itself.
# ---------------------------------------------------------------------------

NEARDUP_INDEX_BUCKETS = 64
BAND_BUCKET_COL = "band_bucket"
#: the index's atomically-replaced meta sidecar (its manifest)
NEARDUP_META = "_meta.json"


def neardup_index_frame(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, gh, band_key, band_bucket) rows for an index build or
    append — identical math to the batch LSH path (`minhash_bands`), so
    probe results match `dedup_minhash_lsh` candidates exactly."""
    bands = minhash_bands(
        shingle_sets(docs, text_col, id_col), id_col, gh_once=True
    )
    return bands.withColumn(
        BAND_BUCKET_COL, hash_bucket("band_key", NEARDUP_INDEX_BUCKETS)
    )


def build_neardup_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    as_of_epoch: int | None = None,
    epoch_stream: str | None = None,
) -> None:
    """Build (or atomically replace) the persisted band index of a corpus.

    ``as_of_epoch``: the CDC epoch the ``docs`` snapshot is known to have
    absorbed (e.g. the keyed table's committed cursor read BEFORE
    materializing the corpus). The carried cursor is clamped to
    ``min(live cursor, as_of_epoch)`` so a sync window that committed
    between the corpus read and this rebuild's publish lock re-applies
    idempotently instead of being silently skipped (advice r12: the
    unclamped carry let a raced window vanish — the carried cursor sat
    ahead of the rebuilt base). Left ``None``, the live cursor carries
    unclamped, which is only safe when rebuilds quiesce syncs
    (single-maintainer deployments). ``epoch_stream`` seeds the cursor's
    stream label when the live meta carries NONE (or a different
    stream's): a rebuild entering a CDC loop for the first time — the
    maintain-router's rebuild arm — commits (stream, as_of_epoch) so the
    next sync resumes without a ``from_version=`` bootstrap.

    Layout note: the batch build lands in a ``path/base-<gen>`` dir the
    meta points at (atomic rebuilds — pre-r12 indexes used a plain
    ``path/base``, still read as the fallback) and streaming
    appends in ``path/stream`` — they CANNOT share a directory, because
    the streaming file sink's _spark_metadata log, once present, makes
    readers serve ONLY log-listed files and the batch build would turn
    invisible (caught by the parity test). Each side is atomic in its own
    domain (overwrite swap vs sink log); ``read_neardup_index`` unions
    them. ``_meta.json`` (atomic replace) records the id/text columns —
    so readers and the delete op never infer from column order — and is
    also this index's tiny manifest: the CDC sync's ``sync/`` band files
    and the tombstone ledger are served ONLY when meta-listed, which is
    what makes a sync window one atomic commit (round 12)."""
    import shutil as _shutil
    import time as _time
    import uuid as _uuid

    # the new base lands in a GENERATION dir and becomes live only when
    # the meta replace points at it — a rebuild over an existing index is
    # therefore reader-atomic: a crash mid-write leaves the old base_dir,
    # ledger, and sync files serving untouched (review finding: base
    # overwrite before the meta write opened a window where the NEW base
    # served under the OLD ledger/sync generation)
    old_meta = _read_neardup_meta(path) or {}
    base_dir = f"base-{_uuid.uuid4().hex[:8]}"
    # sortWithinPartitions(bucket, id): shuffle-free, clusters each
    # bucket file's row groups by doc id so the two-phase probe's
    # candidate isin fetch skips row groups (min/max stats) instead of
    # reading every wide gh array — the delta-proportional read path
    neardup_index_frame(docs, text_col, id_col).sortWithinPartitions(
        BAND_BUCKET_COL, id_col
    ).write.mode("overwrite").partitionBy(BAND_BUCKET_COL).parquet(
        os.path.join(path, base_dir)
    )
    # a rebuild IS this layout's physical purge: the fresh meta lists NO
    # sync files and NO tombstones (explicit empty lists — without them
    # the read path's legacy whole-dir fallback would serve the previous
    # generation's ledger against the rebuilt corpus, keeping deleted-
    # then-reinstated docs hidden); superseded files sweep AFTER commit.
    # The version is MONOTONIC over the live meta, bumped under the
    # publish lock (review finding: a reset to version 1 made the
    # optimistic check blind to a rebuild that raced a maintenance op's
    # plan→commit window — the racer would commit a meta pointing at the
    # swept old base dir, destroying the index). The rebuild still wins
    # by contract (it defines a new generation); the bump is what makes
    # the LOSER abort loudly instead. The CDC cursor carries over when
    # present — re-applying a window the rebuild already absorbed is
    # idempotent (upsert semantics), while dropping it would wedge the
    # sync loop behind a from_version= re-bootstrap.
    new_meta = {
        "id_col": id_col,
        "text_col": text_col,
        "base_dir": base_dir,
        "sync": [],
        "tombstones": [],
    }
    with M.lock(path) as lk:
        # everything below — cursor carry, version bump, commit, sweep —
        # reads the LIVE meta under the lock, never the pre-rewrite
        # snapshot (review findings: a stale old_meta regressed a
        # racing sync's committed cursor, and an unlocked post-commit
        # sweep could rmtree a NEWER committed generation's base dir or
        # a racer's just-committed sync/ledger files)
        cur = _read_neardup_meta(path) or old_meta
        for k in ("last_epoch", "epoch_stream"):
            if k in cur:
                new_meta[k] = cur[k]
        if as_of_epoch is not None:
            same_stream = epoch_stream is None or (
                new_meta.get("epoch_stream") == epoch_stream
            )
            if "last_epoch" in new_meta and same_stream:
                # clamp: never claim the rebuilt base absorbed windows
                # the corpus snapshot predates (see docstring) — the gap
                # between as_of_epoch and the live cursor re-applies
                # idempotently
                new_meta["last_epoch"] = min(
                    int(new_meta["last_epoch"]), int(as_of_epoch)
                )
            else:
                # no live cursor (or a different stream's): seed it —
                # cross-stream epochs are not comparable, so min() over
                # them would be meaningless
                new_meta["last_epoch"] = int(as_of_epoch)
                if epoch_stream is not None:
                    new_meta["epoch_stream"] = str(epoch_stream)
        new_meta["version"] = M.version(cur) + 1
        lk.verify_owned()
        M.write_atomic(path, NEARDUP_META, new_meta)
        # sweep exactly what CUR referenced (now superseded): its base
        # generation, and its listed sync/ledger files — not whole dirs,
        # so a racer's staged-but-uncommitted files survive (its commit
        # will then abort on the version bump and ITS strays age out
        # below). A pre-meta legacy index has no listings: whole-dir
        # sweep keeps its old rebuild-is-the-purge contract.
        _shutil.rmtree(
            os.path.join(path, cur.get("base_dir") or "base"),
            ignore_errors=True,
        )
        if "tombstones" in cur or "sync" in cur:
            for sub in ("sync", "tombstones"):
                for f in cur.get(sub) or []:
                    try:
                        os.unlink(os.path.join(path, sub, f))
                    except OSError:
                        pass
                try:  # drop the dir when nothing (e.g. a racer's
                    os.rmdir(os.path.join(path, sub))  # stray) remains
                except OSError:
                    pass
        else:
            for sub in ("sync", "tombstones"):
                _shutil.rmtree(os.path.join(path, sub), ignore_errors=True)
        # stale generation dirs (crashed rebuilds, aborted racers) age
        # out on the sink's GC grace clock — never swept fresh, because
        # a dir that is not yet meta-pointed may belong to a rebuild
        # that is about to take this lock
        now = _time.time()
        for d in os.listdir(path):
            if d.startswith("base-") and d != base_dir:
                p = os.path.join(path, d)
                try:
                    if now - os.path.getmtime(p) >= M.gc_grace():
                        _shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass


#: legacy tombstones (written before row versioning) hide a doc forever —
#: the pre-r12 semantics; this sentinel is "version infinity"
_NEARDUP_FOREVER = 1 << 62

#: largest id list inlined as a Column.isin literal (the similarity
#: module's _ID_ISIN_MAX twin) — larger sets probe via broadcast joins
_NEARDUP_ISIN_MAX = 20000

#: probe gh-fetch In-list cap — much lower than the delete path's: the
#: fetch plans once per WINDOW (a 20k-literal In costs seconds of
#: Catalyst planning, swamping a small window), and past it the
#: range+semi-join path prunes row groups with two literals instead
_NEARDUP_PROBE_ISIN_MAX = 1024


def _read_neardup_meta(path: str) -> dict | None:
    return M.read(path, NEARDUP_META)


def _land_neardup_file(spark, path: str, sub: str, df, prefix: str) -> list[str]:
    """Stage ``df`` as one parquet file and rename it into ``path/sub``
    under a generation name; returns the landed names (INVISIBLE until a
    meta commit lists them — build/stream surfaces are unaffected)."""
    import shutil as _shutil
    import uuid as _uuid

    gen = _uuid.uuid4().hex[:8]
    os.makedirs(os.path.join(path, sub), exist_ok=True)
    stage = os.path.join(path, f".{sub}_stage_{gen}")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    names = []
    for i, f in enumerate(
        sorted(x for x in os.listdir(stage) if x.endswith(".parquet"))
    ):
        name = f"{prefix}-{gen}-{i:05d}.parquet"
        os.replace(os.path.join(stage, f), os.path.join(path, sub, name))
        names.append(name)
    _shutil.rmtree(stage, ignore_errors=True)
    return names


def _neardup_id_col(path: str, columns: list, explicit: str | None) -> str:
    """Resolve the index's doc-id column: the recorded ``_meta.json``
    wins; an explicit argument must agree with it (a silent mismatch
    would tombstone or probe the wrong column). Without meta (stream-only
    or pre-meta index) fall back to inference, but STRICTLY — exactly one
    non-layout column, else raise instead of guessing by position."""
    meta = _read_neardup_meta(path)
    recorded = meta.get("id_col") if meta else None
    if recorded is not None:
        if explicit is not None and explicit != recorded:
            raise ValueError(
                f"neardup index at {path} records id_col={recorded!r} but "
                f"{explicit!r} was passed — pass the recorded column or "
                "rebuild the index"
            )
        return recorded
    if explicit is not None:
        if explicit not in columns:
            raise ValueError(
                f"id_col {explicit!r} not in index columns {columns}"
            )
        return explicit
    cands = [
        c
        for c in columns
        if c not in ("gh", "band_key", BAND_BUCKET_COL, "_ver")
    ]
    if len(cands) != 1:
        raise ValueError(
            f"cannot infer the doc-id column of the neardup index at "
            f"{path}: candidates {cands} — pass id_col or rebuild with "
            "build_neardup_index (which records it)"
        )
    return cands[0]


def read_neardup_index(
    spark: SparkSession, path: str, id_col: str | None = None
) -> DataFrame:
    """The live band index: the batch-built ``base``, any streamed
    ``stream`` appends (both serve at row version 1), plus the CDC sync's
    meta-listed ``sync/`` band files (each carrying its commit ``_ver``)
    — minus tombstoned rows. Tombstones are VERSIONED (round 12): an
    entry ``(_tomb_id, _tomb_as_of)`` hides only rows with
    ``_ver ≤ as_of``, which is what lets ``sync_neardup_index`` replace a
    changed doc's bands (old rows retire at the current version, new rows
    land one above) and resurrect deleted docs — the text index's
    ``_ver``/``as_of`` ladder on this layout. Legacy un-versioned ledger
    entries keep their old semantics (hidden forever, purge at rebuild).
    The stream side is read through its own _spark_metadata log, so files
    from uncommitted micro-batches are never served; sync and tombstone
    files are served only when ``_meta.json`` lists them — one meta
    replace is a whole sync window's atomic commit. The doc-id column
    comes from the recorded meta (``_neardup_id_col``) — never from
    column position."""
    meta = _read_neardup_meta(path) or {}
    parts = []
    # base_dir: the meta-pointed generation (atomic rebuilds); "base" is
    # the pre-pointer legacy location
    for sub in (meta.get("base_dir") or "base", "stream"):
        p = os.path.join(path, sub)
        if os.path.isdir(p):
            parts.append(
                spark.read.parquet(p).withColumn("_ver", F.lit(1).cast("long"))
            )
    sync_files = [
        os.path.join(path, "sync", f) for f in (meta.get("sync") or [])
    ]
    if sync_files:
        parts.append(
            spark.read.parquet(*sync_files).withColumn(
                "_ver", F.col("_ver").cast("long")
            )
        )
    if not parts:
        raise FileNotFoundError(f"no near-dup index at {path}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # tombstone ledger: meta-listed files when the meta tracks them (the
    # versioned layout), whole-dir for a pre-meta legacy index
    tomb_dir = os.path.join(path, "tombstones")
    if "tombstones" in meta:
        tomb_files = [
            os.path.join(tomb_dir, f) for f in (meta.get("tombstones") or [])
        ]
    elif os.path.isdir(tomb_dir):
        tomb_files = [
            os.path.join(tomb_dir, f)
            for f in os.listdir(tomb_dir)
            if f.endswith(".parquet")
        ]
    else:
        tomb_files = []
    if tomb_files:
        id_col = _neardup_id_col(path, out.columns, id_col)
        tomb = spark.read.parquet(*tomb_files)
        as_of = (
            F.col("_tomb_as_of")
            if "_tomb_as_of" in tomb.columns
            else F.lit(_NEARDUP_FOREVER)
        )
        hide = tomb.groupBy(
            F.col("_tomb_id").alias(id_col)
        ).agg(
            F.max(F.coalesce(as_of, F.lit(_NEARDUP_FOREVER))).alias("_as_of")
        )
        out = (
            out.join(F.broadcast(hide), id_col, "left")
            .where(F.col("_as_of").isNull() | (F.col("_ver") > F.col("_as_of")))
            .drop("_as_of")
        )
    return out.drop("_ver")


def _adopt_neardup_meta(spark, path: str, id_col: str | None) -> dict:
    """The index's meta, upgraded in place to the versioned layout:
    ensures ``version`` and a meta-LISTED tombstone ledger exist. A
    legacy whole-dir ledger (unversioned, pre-r12) is rewritten once as a
    single listed file whose entries carry ``as_of = forever`` — the old
    hide-until-rebuild semantics, preserved exactly. When NO meta existed
    on disk, the adopted one is WRITTEN before returning: from that point
    the index is meta-tracked and the read path's whole-dir tombstone
    fallback is never exercised again — without this, a maintenance op
    crashing between landing its (non-hidden) ledger file and its meta
    commit would leave the uncommitted tombstone SERVED by the fallback
    while the replacement sync rows stayed meta-gated invisible (review
    finding: the upserted docs vanished until a retry)."""
    on_disk = _read_neardup_meta(path)
    meta = on_disk or {}
    if id_col is not None and not meta.get("id_col"):
        meta["id_col"] = id_col
    meta.setdefault("version", 1)
    if "tombstones" not in meta:
        tomb_dir = os.path.join(path, "tombstones")
        legacy = (
            sorted(
                f for f in os.listdir(tomb_dir) if f.endswith(".parquet")
            )
            if os.path.isdir(tomb_dir)
            else []
        )
        if legacy:
            adopted = _land_neardup_file(
                spark,
                path,
                "tombstones",
                spark.read.parquet(
                    *[os.path.join(tomb_dir, f) for f in legacy]
                )
                .select("_tomb_id")
                .distinct()
                .withColumn(
                    "_tomb_as_of",
                    F.lit(_NEARDUP_FOREVER).cast("long"),
                ),
                "adopt",
            )
            meta["tombstones"] = adopted
            for f in legacy:  # superseded by the adopted file
                try:
                    os.unlink(os.path.join(tomb_dir, f))
                except OSError:
                    pass
        else:
            meta["tombstones"] = []
    meta.setdefault("sync", [])
    if on_disk is None:
        # atomic upgrade commit: the pre-meta index becomes meta-tracked
        # NOW (same visible state — the adopted ledger keeps forever
        # semantics), so files landed by the caller stay invisible until
        # its own meta commit even if it crashes mid-op. Guarded by the
        # publish lock with a re-read: a slow adopter must NOT clobber a
        # meta another op has committed meanwhile (review finding — the
        # unguarded write rolled back a racer's committed ledger,
        # resurrecting its deleted docs); the loser returns the LIVE
        # meta and its own adopt file becomes an invisible stray.
        with M.lock(path) as lk:
            now_disk = _read_neardup_meta(path)
            if now_disk is not None:
                return now_disk
            lk.verify_owned()
            M.write_atomic(path, NEARDUP_META, meta)
    return meta


def delete_neardup_docs(
    spark: SparkSession, path: str, doc_ids: list, id_col: str | None = None
) -> int:
    """Remove documents from the band index without a rebuild: their band
    rows would otherwise keep surfacing them as ``dup_of`` candidates —
    the takedown/right-to-erasure gap, near-dup edition. The ledger is a
    versioned ``(_tomb_id, _tomb_as_of)`` parquet under ``tombstones/``,
    listed by (and committed through) the atomic ``_meta.json`` replace;
    ``read_neardup_index`` hides rows with ``_ver ≤ as_of``, so probes
    and the streaming corpus loop see only live docs while a later
    ``sync_neardup_index`` re-insert stays visible (its rows carry a
    higher version). Idempotent, with the other delete ops'
    actually-deleted contract: returns the number of LIVE docs among
    ``doc_ids`` (absent and already-tombstoned ids count zero and add no
    ledger rows). The id column resolves from the recorded meta
    (``_neardup_id_col``); the physical purge is the next
    ``build_neardup_index`` rebuild, this layout's compaction
    equivalent."""
    ids = sorted(set(doc_ids))
    if not ids:
        return 0
    live = read_neardup_index(spark, path)  # tombstone-filtered
    id_col = _neardup_id_col(path, live.columns, id_col)
    id_type = live.schema[id_col].dataType.simpleString()
    probe = spark.createDataFrame(
        [(i,) for i in ids], f"`{id_col}` {id_type}"
    )
    present = sorted(
        r[id_col]
        for r in live.select(id_col)
        .join(F.broadcast(probe), id_col, "left_semi")
        .distinct()
        .collect()
    )
    if not present:
        return 0
    meta = _adopt_neardup_meta(spark, path, id_col)
    planned_from = dict(meta)
    ver = int(meta["version"])
    names = _land_neardup_file(
        spark,
        path,
        "tombstones",
        spark.createDataFrame(
            [(i, ver) for i in present],
            f"_tomb_id {id_type}, _tomb_as_of long",
        ),
        "gen",
    )
    meta["tombstones"] = list(meta["tombstones"]) + names
    M.commit(path, NEARDUP_META, meta, planned_from)
    return len(present)


def upsert_neardup_docs(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    text_col: str | None = None,
    id_col: str | None = None,
    delete_ids: list | None = None,
    epoch: int | None = None,
    epoch_stream: str | None = None,
    known_ids: list | None = None,
) -> dict:
    """Re-index documents in the band index — the CRUD-completing write
    op, in ONE atomic meta commit (the text index's ``upsert_text_docs``
    on this layout): the batch's and ``delete_ids``'s LIVE old band rows
    retire behind a versioned tombstone stamped ``as_of`` the current
    version, the new shingle/minhash band rows land in ``sync/`` at the
    NEXT version, and the meta replace publishes rows + ledger + version
    + the optional CDC cursor together — a reader sees the whole window
    or none, and a crash before the meta write leaves only invisible
    strays. Returns {"deleted": live docs among delete_ids, "replaced":
    live docs among the batch ids, "appended": batch rows}. Single
    maintainer contract (like every index here): don't mix with the
    streaming ``neardup_index_sink`` on one index — stream rows serve at
    version 1 and a tombstone would hide late arrivals."""
    meta = _adopt_neardup_meta(spark, path, id_col)
    planned_from = dict(meta)
    # strict resolution: a conflicting explicit id_col RAISES (the read
    # and delete ops' contract) instead of being silently discarded
    id_col = _neardup_id_col(path, docs.columns, id_col)
    text_col = text_col or meta.get("text_col") or "text"
    # known_ids: the CDC sync already collected the window's distinct ids
    up_ids = (
        list(known_ids)
        if known_ids is not None
        else [r[id_col] for r in docs.select(id_col).distinct().collect()]
    )
    delete_ids = sorted(set(delete_ids or []))
    overlap = set(delete_ids) & set(up_ids)
    if overlap:
        raise ValueError(
            f"upsert_neardup_docs: {len(overlap)} ids appear in BOTH the "
            "batch and delete_ids — a netted change feed never does this"
        )
    retire = sorted(set(up_ids) | set(delete_ids))
    ver = int(meta["version"])
    # LIVE retirees only (the actually-applied contract + bounded ledger)
    present: set = set()
    if retire:
        live = read_neardup_index(spark, path, id_col=id_col)
        id_type = live.schema[id_col].dataType.simpleString()
        probe = spark.createDataFrame(
            [(i,) for i in retire], f"`{id_col}` {id_type}"
        )
        present = {
            r[id_col]
            for r in live.select(id_col)
            .join(F.broadcast(probe), id_col, "left_semi")
            .distinct()
            .collect()
        }
    n_deleted = sum(1 for i in delete_ids if i in present)
    n_replaced = len(present) - n_deleted
    # re-inserts of ids under a LEGACY (as_of=forever) tombstone: the
    # forever entry would hide the new rows too — silently swallowing the
    # resurrect (review finding). Rewrite the ledger WITHOUT those ids'
    # forever rows (their versioned entries stay — they only hide old
    # rows) and tombstone them at the CURRENT version instead, which
    # hides their still-physical base/stream rows while the replacement
    # lands one version above. The rewrite is O(ledger) — bounded by
    # real deletions — and commits with everything else in the one meta
    # replace; the dropped files become invisible strays.
    ledger_override: list[str] | None = None
    forever_hits: set = set()
    tomb_files = [
        os.path.join(path, "tombstones", f) for f in meta["tombstones"]
    ]
    if tomb_files and up_ids:
        tomb = spark.read.parquet(*tomb_files)
        is_forever = F.coalesce(
            F.col("_tomb_as_of"), F.lit(_NEARDUP_FOREVER)
        ) >= F.lit(_NEARDUP_FOREVER)
        # bounded predicate, the siblings' discipline (_ID_ISIN_MAX in
        # similarity, _ISIN_PUSHDOWN_MAX in search): a backfill-sized
        # window's isin literal would blow up Catalyst planning, so past
        # the cap the probe goes through a broadcast semi/anti join
        tomb_id_type = tomb.schema["_tomb_id"].dataType.simpleString()
        if len(up_ids) <= _NEARDUP_ISIN_MAX:
            forever_sel = tomb.where(
                is_forever & F.col("_tomb_id").isin(up_ids)
            )
        else:
            up_probe = spark.createDataFrame(
                [(i,) for i in up_ids], f"_tomb_id {tomb_id_type}"
            )
            forever_sel = tomb.where(is_forever).join(
                F.broadcast(up_probe), "_tomb_id", "left_semi"
            )
        forever_hits = {
            r["_tomb_id"]
            for r in forever_sel.select("_tomb_id").distinct().collect()
        }
        if forever_hits:
            hits_sorted = sorted(forever_hits)
            if len(hits_sorted) <= _NEARDUP_ISIN_MAX:
                kept = tomb.where(
                    ~(is_forever & F.col("_tomb_id").isin(hits_sorted))
                )
            else:
                hit_probe = spark.createDataFrame(
                    [(i,) for i in hits_sorted], f"_tomb_id {tomb_id_type}"
                )
                kept = tomb.where(~is_forever).unionByName(
                    tomb.where(is_forever).join(
                        F.broadcast(hit_probe), "_tomb_id", "left_anti"
                    )
                )
            ledger_override = _land_neardup_file(
                spark, path, "tombstones", kept, "gen"
            )
    # new band rows at the NEXT version (kept live through the tombstone);
    # a delete-only window lands no band file at all
    sync_names: list[str] = []
    if up_ids:
        bands = neardup_index_frame(docs, text_col, id_col).withColumn(
            "_ver", F.lit(ver + 1).cast("long")
        )
        sync_names = _land_neardup_file(spark, path, "sync", bands, "gen")
    tomb_names: list[str] = []
    retiring = sorted(set(present) | forever_hits)
    if retiring:
        id_type = docs.schema[id_col].dataType.simpleString()
        tomb_names = _land_neardup_file(
            spark,
            path,
            "tombstones",
            spark.createDataFrame(
                [(i, ver) for i in retiring],
                f"_tomb_id {id_type}, _tomb_as_of long",
            ),
            "gen",
        )
    meta["sync"] = list(meta["sync"]) + sync_names
    meta["tombstones"] = (
        ledger_override
        if ledger_override is not None
        else list(meta["tombstones"])
    ) + tomb_names
    if epoch is not None:
        meta["last_epoch"] = int(epoch)
        if epoch_stream is not None:
            meta["epoch_stream"] = str(epoch_stream)
    M.commit(path, NEARDUP_META, meta, planned_from)
    return {
        "deleted": int(n_deleted),
        "replaced": int(n_replaced),
        "appended": len(up_ids),
    }


def neardup_probe(
    new_docs: DataFrame,
    index: DataFrame,
    min_bp: int = JACCARD_MIN_BP,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicates of ``new_docs`` against the indexed corpus, in two
    candidate-bounded phases (round 13, VERDICT r12 #3 — the one-phase
    probe carried the WIDE ``gh`` shingle arrays through the collision
    join for every index row, so a fixed window's cost grew with the
    corpus: ~7s at 5k docs, 15-30s at 500k):

    1. **narrow collision join** on (band_bucket, band_key) — 3 skinny
       columns, no shingle arrays — deduped to distinct (doc, dup_of)
       candidate pairs BEFORE any wide work;
    2. **bounded gh fetch + verify**: the index's shingle arrays are
       read ONLY for candidate neighbors — an ``isin`` literal under
       ``_NEARDUP_PROBE_ISIN_MAX`` (parquet row-group pushdown on the
       (bucket, id)-sorted base), a two-literal doc-id RANGE plus a
       broadcast semi-join past it — and Jaccard runs where the filtered
       index rows STREAM against the broadcast (candidate pair ×
       window-gh) frame. No keyed exchange ever carries a shingle array
       (the ``test_ann_family_no_wide_keyed_shuffle`` contract): window
       gh rides broadcasts, index gh stays map-side, and the final
       per-pair dedupe exchanges only the 3 narrow output columns
       (identical gh per (pair, band) ⇒ identical score ⇒ dedupe-safe).

    Emits (doc_id, dup_of, jaccard_bp), band-collision-bounded, never
    all-pairs; results are EXACTLY the one-phase probe's (same
    candidates, same verification — only the evaluation order moved).
    Candidates match the batch `minhash_lsh_pairs` on the union corpus
    for pairs that straddle new-vs-indexed.

    NOTE: construction EXECUTES Spark jobs (two eager localCheckpoints +
    the neighbor collect below) — a caller that merely builds this plan
    (plan dumps, registry warm-up) pays the window's candidate
    computation. That is inherent to the bounded two-phase design: the
    gh fetch is planned FROM the collected candidate ids."""
    # the window's shingles are computed EXACTLY ONCE per probe (round 14):
    # both consumers — the band keys feeding the collision join and the
    # gh_new arrays feeding the verify — read the materialized (id, gh)
    # blocks. Before this the two consumers each re-ran the window shingle
    # scan, and worse, the collision join's NARROW projection let Catalyst
    # collapse the gh expression INTO the 32-permutation signature lambda
    # (one shingle-scan evaluation per permutation — the HOF-lambda
    # duplication trap shingle_sets documents; measured at sf1: the narrow
    # band pass cost 12s vs 1.6s for the full-column pass). A checkpointed
    # gh is an attribute, not an expression — nothing to splice.
    # ``localCheckpoint`` rather than ``cache()`` ON PURPOSE: nothing is
    # registered in the CacheManager, so repeated calls (bench reps, sync
    # loops — each window a new frame) neither reuse a previous call's
    # result nor accumulate session-lifetime cache entries; the blocks die
    # with the returned plan.
    grams_new = shingle_sets(new_docs, text_col, id_col).localCheckpoint(
        eager=True
    )
    probe = minhash_bands(grams_new, id_col).withColumn(
        BAND_BUCKET_COL, hash_bucket("band_key", NEARDUP_INDEX_BUCKETS)
    )
    idx_narrow = index.select(
        F.col(id_col).alias("dup_of"), "band_key", BAND_BUCKET_COL
    )
    # the candidate frame is referenced four times downstream (the phase-1
    # nbr collect, the >cap path's bounds scalar and its broadcast
    # semi-join, and the final join); materialize it once (same
    # no-CacheManager discipline as above). The checkpointed rows are the
    # NARROW 2-column pair frame (two longs/row — no gh array is ever
    # materialized here). The collision join BROADCASTS the window's band
    # keys (window-bounded by the two-phase contract) against the index's
    # narrow columns, so the INDEX side never exchanges: at corpus scale
    # the previous shuffle-join re-partitioned every index band row per
    # probe — O(index) shuffle bytes for an O(window)-bounded question
    # (guide §3.1: broadcast the side that fits; §2.3 shuffle keys, not
    # corpora). The post-join dedupe exchanges only the collision-bounded
    # (id, dup_of) pairs.
    cand = (
        idx_narrow.join(
            F.broadcast(probe.select(id_col, "band_key", BAND_BUCKET_COL)),
            ["band_key", BAND_BUCKET_COL],
        )
        .where(F.col(id_col) != F.col("dup_of"))
        .select(id_col, "dup_of")
        .dropDuplicates([id_col, "dup_of"])
        .localCheckpoint(eager=True)
    )
    # gh-once fetch (round 14): the index carries each doc's gh on exactly
    # one band row (``minhash_bands``), so filtering ``gh IS NOT NULL``
    # yields ONE wide row per neighbor straight off the scan — the round-13
    # min-band_key pick (a narrow agg exchange + broadcast join-back) and
    # its ~8× duplicated gh fetch both disappear; IsNotNull reaches
    # PushedFilters next to the id predicates. Legacy per-band-gh rows
    # (pre-round-14 stream appends) only re-introduce duplicate pairs,
    # which the final dedupe already absorbs.
    idx_gh = index.select(
        F.col(id_col).alias("dup_of"), F.col("gh").alias("gh_old")
    ).where(F.col("gh_old").isNotNull())
    nbr_rows = cand.select("dup_of").distinct()
    nbrs = [
        r["dup_of"]
        for r in nbr_rows.limit(_NEARDUP_PROBE_ISIN_MAX + 1).collect()
    ]
    if not nbrs:
        idx_gh = idx_gh.where(F.lit(False))
    elif len(nbrs) <= _NEARDUP_PROBE_ISIN_MAX:
        idx_gh = idx_gh.where(F.col("dup_of").isin(nbrs))
    else:
        # large candidate sets: a thousands-long In-list costs seconds
        # of Catalyst planning (the sibling caps' lesson). Push a cheap
        # RANGE predicate instead — two literals reach the row-group
        # stats, and on the (bucket, id)-sorted base that skips most gh
        # bytes for range-clustered candidates (fresh inserts) — then a
        # semi-join restores exactness. Ids without an ordering (rare)
        # keep the pure semi-join.
        bounds = nbr_rows.agg(
            F.min("dup_of").alias("lo"), F.max("dup_of").alias("hi")
        ).first()
        if bounds["lo"] is not None:
            idx_gh = idx_gh.where(
                F.col("dup_of").between(
                    F.lit(bounds["lo"]), F.lit(bounds["hi"])
                )
            )
        # broadcast semi: the narrow id set moves, the wide index side
        # never exchanges
        idx_gh = idx_gh.join(F.broadcast(nbr_rows), "dup_of", "left_semi")
    # window-side shingle arrays from the checkpointed grams — one row
    # per doc by construction, so no wide dedupe (a dropDuplicates here
    # would put gh through a keyed exchange). Broadcast PER DOC next to
    # the narrow pair frame instead of pre-joined per pair (round 13): a
    # window doc with k indexed partners used to ship its gh k times in
    # the broadcast — measured 60 MB vs ~13 MB at sf1's 120k-candidate
    # probe. Both broadcasts are bounded by the window/candidate sizes
    # the two-phase design already assumes.
    gh_new = grams_new.select(id_col, F.col("gh").alias("gh_new"))
    return (
        idx_gh.join(F.broadcast(cand), "dup_of")
        .join(F.broadcast(gh_new), id_col)
        .select(
            id_col,
            "dup_of",
            jaccard_bp(F.col("gh_new"), F.col("gh_old")).alias("jaccard_bp"),
        )
        .where(F.col("jaccard_bp") >= min_bp)
        .dropDuplicates([id_col, "dup_of"])
    )
