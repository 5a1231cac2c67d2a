"""Engine-portable scalar functions.

The driver hash-compares Spark results against DuckDB, so every value a
query emits must be bit-identical across engines. These helpers define the
shared deterministic primitives:

* ``h60`` — a 60-bit positive integer hash (first 15 hex chars of md5),
  expressible in both engines (Spark ``conv(substr(md5(x),1,15),16,10)``,
  DuckDB ``('0x' || substr(md5(x),1,15))::BIGINT``). Used everywhere a
  "random but portable" value is needed: minhash permutations, simhash bit
  sources, LSH hyperplanes, fingerprints.
* ``cents`` — exact integer-cents money/quantity arithmetic (see
  entry_queries_generic docstring for the float-determinism rationale).

All JVM-side (no Python UDFs): ``md5``/``conv``/``substring`` stay inside
whole-stage codegen, so the hot path at 100 TB is pure Tungsten.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the cluster's default parallelism when
    the input arrives under-split (a small parquet file reads as ONE
    partition, serializing every downstream codegen/Arrow stage). Never
    reduces an already well-split input — at scale this is a no-op.

    Under-split detection uses the scan's file count (driver-side metadata
    from the file index), NOT ``df.rdd.getNumPartitions()``: converting the
    analyzed plan to an RDD just to count partitions forces plan translation
    on every call. Non-file inputs (in-memory test frames, post-shuffle
    lineage) report no files and pass through untouched."""
    if df.isStreaming:  # micro-batch sizing is the source's job; inputFiles
        return df  # is undefined on a streaming plan
    target = df.sparkSession.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    if 0 < n_files < target:
        return df.repartition(target)
    return df


#: explicit override for the chunked-window exchange width (tasks); unset →
#: derived from the input size estimate below
CHUNK_WIDTH_CONF = "spark.spark_graft.chunkedWindowWidth"
#: per-task byte target for the derivation; unset → Spark's own AQE
#: advisory partition size (the sizing AQE would have applied had the
#: exchange not been pinned against its byte-coalescing)
CHUNK_TARGET_BYTES_CONF = "spark.spark_graft.chunkedWindowTargetBytes"


def chunked_exchange_width(df: DataFrame) -> int:
    """Exchange width (task count) for the skew-safe chunked-window
    operators (``sessionize_chunked`` / ``asof_join_chunked``).

    Those operators pin their (key, chunk) exchange with
    REPARTITION_BY_NUM because AQE's byte-based coalescing folds the
    narrow, well-compressed window input into one task — reintroducing
    exactly the per-key serialization they exist to remove. A pinned
    width must therefore come from somewhere else; a fixed
    ``defaultParallelism * 2`` holds at bench scale but under-splits once
    the input outgrows ``2 × cores × target-partition-bytes``. Derivation:

    * ``spark.spark_graft.chunkedWindowWidth`` set → use it verbatim (the
      documented operational escape hatch);
    * else ``ceil(estimated input bytes / target)`` where target is
      ``spark.spark_graft.chunkedWindowTargetBytes`` or Spark's own AQE
      advisory partition size — i.e. the same per-task byte budget AQE
      applies when IT sizes an exchange;
    * clamped to [defaultParallelism × 2, defaultParallelism × 32]: the
      floor keeps small inputs at the measured-healthy bench width (and
      full cluster width under skew), the cap bounds the damage of a bad
      Catalyst size estimate (join/filter stats multiply, and an unknown
      size reads as 8 EB).

    The estimate is Catalyst's optimized-plan ``sizeInBytes`` — driver-side
    metadata (file sizes for scans, propagated estimates above them), no
    job is triggered."""
    spark = df.sparkSession
    explicit = spark.conf.get(CHUNK_WIDTH_CONF, None)
    if explicit:
        return max(1, int(explicit))
    dp = spark.sparkContext.defaultParallelism
    floor, cap = dp * 2, dp * 32
    target_conf = spark.conf.get(CHUNK_TARGET_BYTES_CONF, None)
    try:
        if target_conf:
            target = int(target_conf)
        else:
            advisory = spark.conf.get(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
            )
            target = int(
                spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                    advisory
                )
            )
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        if size >= 1 << 50:  # unknown/absurd estimate — fall back to floor
            return floor
        return max(floor, min(cap, -(-size // max(target, 1))))
    except Exception:  # py4j surface drift must never break the operator
        return floor


#: per-key row count above which the auto window operators switch to the
#: chunked (skew-safe) formulation; default is the measured local wall-time
#: crossover (~1M events/key, SCALING.md "Mega-key windows") — below it the
#: chunked rewrite's extra passes cost more than the serial window saves
HOT_KEY_THRESHOLD_CONF = "spark.spark_graft.hotKeyThresholdRows"
HOT_KEY_THRESHOLD_DEFAULT = 1_000_000
#: sample fraction for the hot-key pre-pass scan
HOT_KEY_SAMPLE_CONF = "spark.spark_graft.hotKeySampleFraction"
HOT_KEY_SAMPLE_DEFAULT = 0.01


def hot_key_estimate(
    df: DataFrame, keys: Sequence[str], fraction: float | None = None
) -> float:
    """Estimated row count of the HOTTEST key in ``df`` — the signal the
    ``*_auto`` window operators branch on (plain per-key window vs the
    skew-safe chunked rewrite).

    One sampling job: ``sample(f) → groupBy(keys).count → max``, scaled by
    1/f. Only the key columns reach the scan (column pruning), the per-key
    count partial-aggregates map-side, and sampling shrinks the shuffle by
    ~1/f, so the pre-pass is a cheap key-column scan even at 100 TB — the
    price of never handing a 100M-row bot key to a single-task sort.

    Accuracy is what the decision needs, no more: a key at the default
    1M-row threshold yields ~10k sampled rows at f=0.01 (relative error
    ~1%, Chernoff-tight), so true mega-keys are never missed; keys NEAR the
    threshold may land on either side, which is harmless — both strategies
    are correct and their costs cross over exactly there. Moderate keys
    whose sampled count is 0 read as estimate 0, also harmless."""
    spark = df.sparkSession
    if fraction is None:
        fraction = float(
            spark.conf.get(HOT_KEY_SAMPLE_CONF, None) or HOT_KEY_SAMPLE_DEFAULT
        )
    if not 0.0 < fraction <= 1.0:  # degenerate conf must not sink the query
        fraction = HOT_KEY_SAMPLE_DEFAULT
    row = (
        df.select(*keys)
        .sample(fraction=fraction, seed=42)
        .groupBy(*keys)
        .count()
        .agg(F.max("count").alias("mx"))
        .first()
    )
    mx = row["mx"] if row else None
    return (mx or 0) / fraction


def eager_cache(df: DataFrame) -> DataFrame:
    """``cache()`` + immediate materialization (one ``count`` job).

    A lazily-cached frame that feeds BOTH SIDES of a self-join (or any
    plan referencing it twice in one action) gives no sharing on the first
    action: the two subtrees race the first materialization and each
    computes the full uncached plan — measured at sf10, the banded
    minhash self-join ran the dominant shingle scan TWICE (~200
    executor-seconds per copy, stages side by side in the UI) with the
    cache populated only after the fact. Paying one upfront job pins the
    compute to exactly once; every later subtree reads blocks (0.1s for
    the 0.5 GB sf10 gram cache).

    Trade-offs, both deliberate: (a) building the plan now runs Spark
    jobs (plan-only tooling like gen_plans pays the materialization);
    (b) entries stay cached for the session — which is what makes
    repeated bench passes and multi-query reuse warm — bounded by the
    corpus-derived frames' size, and released per-session (the driver
    gate runs each round in a fresh session)."""
    df = df.cache()
    df.count()
    return df


def hot_key_threshold(spark) -> int:
    """The conf-overridable per-key row threshold for the auto operators."""
    return int(
        spark.conf.get(HOT_KEY_THRESHOLD_CONF, None) or HOT_KEY_THRESHOLD_DEFAULT
    )


#: modulus for portable modular arithmetic: largest prime < 2^31. Products
#: like ``(h % P) * 131`` stay < 2^38, far inside BIGINT in both engines.
P31 = 2147483647
#: prime modulus used for rolling fingerprints (same bound rationale).
P_FP = 1000000007


def hash_bucket(col: Column | str, n: int) -> Column:
    """``pmod(xxhash64(col), n)`` — the one partition function behind the
    keyed sink's buckets, the text index's term shards and the near-dup
    index's band buckets (JVM-native; not reproducible driver-side)."""
    return F.pmod(F.xxhash64(col), F.lit(n))


def h60(col: Column | str) -> Column:
    """Portable 60-bit hash of a string column (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    """Portable 60-bit hash (DuckDB side). ``expr`` is a SQL expression."""
    return f"CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15)) AS BIGINT)"


def cents(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")
