"""SparkSession builders.

Local test mode runs one JVM with N threads; the configs below are chosen
so the same code scales to a multi-executor cluster:

- ``spark.sql.shuffle.partitions`` sized to the DATA SCALE the session
  processes (like the AQE advisory below): local test/bench shuffles are
  kilobytes-to-tens-of-MB, where 8 buckets measured uniformly faster
  than 32 (round 10 — see get_spark); production keeps a cores-sized
  default and AQE coalesces post-shuffle partitions at runtime.
- AQE on: runtime re-planning (skew-join splitting, broadcast demotion/
  promotion, partition coalescing) is the 100-TB safety net.
- Arrow on: every pandas UDF / applyInPandas crossing is Arrow-batched.
- Constraint propagation off in local mode, on in production (see
  get_spark): with it off the optimizer infers no ``IsNotNull`` filters,
  so a scan's pushed filters hold only the query's own predicates.
- Session timezone pinned UTC so results compare bit-exactly with the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "hri-pipeline-core-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
    mode: str | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned local SparkSession.

    On a real cluster the ``master`` / memory settings come from
    spark-submit; everything under ``spark.sql.*`` here is
    cluster-appropriate as-is EXCEPT the AQE advisory partition size,
    which is sized to the data scale the session processes and
    therefore derives from ``mode`` (ADVICE r7/r8): ``local`` (the
    default) uses 2 MB — matched to local sf0.1's kilobyte-to-tens-of-MB
    shuffles — while ``production`` uses Spark's own 64 MB default,
    because the 2 MB value against multi-GB shuffles over-partitions
    every exchange (the scale-dependence is derived in BASELINE.md).
    ``mode`` falls back to $SPARK_GRAFT_MODE, then "local";
    $SPARK_GRAFT_ADVISORY_PARTITION still overrides the size directly.
    """
    mode = mode or os.environ.get("SPARK_GRAFT_MODE", "local")
    if mode not in ("local", "production"):
        # fail loudly: a typo ("Local", "prod") silently selecting the
        # 64 MB advisory on a local host is exactly the misconfiguration
        # this parameter exists to prevent (round-8 review finding)
        raise ValueError(
            f"SPARK_GRAFT_MODE/mode must be 'local' or 'production', got {mode!r}"
        )
    advisory_default = "2m" if mode == "local" else "64m"
    n = cpus or DEFAULT_CPUS
    # Shuffle bucket count is data-scale-sized, like the advisory
    # (round 10): at local bench scale every exchange is kilobytes to
    # tens of MB, and the per-bucket cost of the shuffle WRITE path
    # (one buffer + file segment per reduce bucket per map task)
    # dominates — 8 buckets beat 32 on a 24-query mixed subset in
    # same-epoch sweeps (35.6 -> 31.5 s, dedup/LSH family -20-35%,
    # worst regression <0.1 s; raising the AQE advisory instead, with
    # 32 buckets kept, recovered almost none of it, so the win is the
    # write path, not reduce-task count). Production keeps a
    # cores-sized initial count: at multi-GB shuffle scale, 8 would cap
    # reduce parallelism (AQE coalesce only MERGES partitions) — the
    # same scale-dependence as the advisory, derived in BASELINE.md.
    # $SPARK_GRAFT_SHUFFLE_PARTITIONS overrides directly (the sf~1
    # sweeps re-measure under it).
    shuffle_default = "8" if mode == "local" else str(n)
    # Catalyst constraint propagation is a pure OPTIMIZER-TIME cost:
    # it infers redundant predicates (IsNotNull on join keys, filter
    # transitivity) whose runtime BENEFIT is early pruning of data that
    # only exists at data scale, while its planning cost grows with
    # PLAN size (aliases x predicates — Spark's own docs flag it as
    # "expensive for certain kinds of query plans"). This engine's
    # plans are deep (LSH candidate trees, iterative CC/star rounds,
    # unrolled literal models) and rebuilt per invocation, so at local
    # bench scale the inference dominates: a same-session 20-key mixed
    # A/B (round 13) read 24.4-25.0 s base vs 22.1 s with propagation
    # off, with NO query slower and results bit-identical (the rule
    # only ADDS redundant predicates; the full 138-key oracle sweep is
    # re-verified under the off setting). Production keeps Spark's
    # default ON: at multi-GB scans an inferred IsNotNull pushed into
    # a parquet scan prunes real IO — the same overhead-vs-benefit
    # scale crossover as the AQE advisory above.
    # $SPARK_GRAFT_CONSTRAINT_PROP overrides directly ("true"/"false").
    constraint_default = "false" if mode == "local" else "true"
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", shuffle_default),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect the advisory size when coalescing instead of
        # maximizing parallelism: Spark's own guidance for non-idle
        # clusters — the default parallelismFirst=true splinters
        # kilobyte shuffles into per-core tasks whose scheduling
        # overhead dominates at the job floor. The advisory size is
        # sized to the DATA SCALE the session processes: local sf0.1
        # shuffles are kilobytes-to-tens-of-MB, so 2 MB keeps mid-size
        # CPU-dense exchanges (shingle distincts, vocabulary aggs)
        # parallel while one-task-ing the kilobyte ones (same-session
        # paired measurement, round 7: -24% across a 15-query
        # regression+floor mix vs parallelismFirst=true, with NO query
        # slower; the first attempt with the 64 MB production default
        # serialized a ~50 MB distinct onto one core — prefix_filter
        # +3.6 s — which is why this is env-tunable, production 64m).
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "false",
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", advisory_default),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.constraintPropagation.enabled",
            os.environ.get("SPARK_GRAFT_CONSTRAINT_PROP", constraint_default),
        )
        # PySpark 4's DataFrame-debugging wrapper captures a Python call
        # site for error enrichment on EVERY DataFrame API call: a
        # Python stack walk plus ~3 py4j round-trips per operation
        # (PySparkCurrentOrigin.set/clear + a conf read). This engine
        # builds expression-heavy plans per invocation (a cProfile of
        # one tracker query build showed 3,943 py4j round-trips = 1.0 s
        # of socket wait, the majority from this wrapper), so the
        # debug-UX feature costs ~5-7% of the bench suite (20-key mixed
        # A/B, round 13: 24.5/24.9 -> 22.5/23.7 s). Scale-INDEPENDENT
        # driver-side overhead — off in both modes; results and plans
        # are untouched (the wrapper only enriches error messages).
        # $SPARK_GRAFT_DF_DEBUGGING restores it for interactive
        # debugging sessions.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_GRAFT_DF_DEBUGGING", "false"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        # Throughput GC for the batch engine (round 9, paired A/B on a
        # host where JDK-17-default G1 inflated EVERY query): ParallelGC
        # won all 20 A/B'd queries across three paired rounds — heavy
        # shuffle/dedup keys 0.72-0.97x, scan-agg micro-queries
        # 0.59-0.80x, -18/-22% on the two subsets (ab_gc.py;
        # BASELINE.md round-9 GC section). Spark's allocation pattern
        # (short-lived task buffers, whole-young collections) is the
        # textbook ParallelGC case; G1's concurrent phases compete with
        # the 32 task threads for cores. Latency-sensitive streaming
        # deployments can override via $SPARK_GRAFT_GC_OPTS (e.g.
        # "-XX:+UseG1GC"); on a real cluster mirror the choice in
        # spark.executor.extraJavaOptions (local mode has one JVM, so
        # the driver flag covers everything here). NOTE: a reused live
        # session keeps its launch-time GC — this flag only applies to
        # the process that creates the JVM.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_GC_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate() silently reuses a live session WITH ITS ORIGINAL
    # configs — a caller passing mode='production' into a live
    # local-mode process would get the 2 MB advisory with no signal,
    # the same misconfiguration class the ValueError above guards
    # (ADVICE r8). Warn on mismatch; the advisory IS runtime-settable,
    # so also apply the requested value.
    # an explicit extra_conf advisory outranks env/mode — without this,
    # a FRESH session built with extra_conf={...advisory: '32m'} would
    # be warned about and force-reset to the mode default (round-9
    # review finding: profile_floor's 32m variants silently profiled 2m)
    _ADV_KEY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    want = (extra_conf or {}).get(
        _ADV_KEY, os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", advisory_default)
    )
    have = spark.conf.get(_ADV_KEY, want)
    if have != want:
        import warnings

        warnings.warn(
            f"reused live SparkSession has advisoryPartitionSizeInBytes="
            f"{have!r} but mode={mode!r} requested {want!r}; applying the "
            f"requested value (other builder configs stay as created)",
            stacklevel=2,
        )
        spark.conf.set(_ADV_KEY, want)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read a driver testdata parquet table (TESTDATA.md schema).

    Some testdata columns are TIMESTAMP(NANOS), which Spark's Parquet
    reader has no native type for; ``nanosAsLong`` reads them as epoch-ns
    LongType and we convert to microsecond TimestampType (truncating).
    DuckDB (the correctness oracle) performs the identical truncation when
    it reads TIMESTAMP_NS parquet into its micro-resolution TIMESTAMP, so
    both engines see bit-identical values.
    """
    per_session = _READ_CACHE.get(spark)
    if per_session is None:
        per_session = _READ_CACHE.setdefault(spark, {})
    cached = per_session.get((sf_dir, name))
    if cached is not None:
        return cached

    import pyarrow.parquet as pq

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    arrow_schema = pq.read_schema(path)
    from pyspark.sql import functions as F

    for field in arrow_schema:
        if str(field.type) == "timestamp[ns]":
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
            )
    per_session[(sf_dir, name)] = df
    return df


# DataFrames are immutable logical plans, so reusing one per
# (session, dir, table) is safe and skips the per-query footer/schema
# re-read plus plan re-construction — that fixed cost dominates sf0.01
# sweeps where the driver's correctness budget is wall-clock bound.
#
# Keyed WEAKLY by the SparkSession: entries die with their session, so a
# process that cycles sessions doesn't accumulate dead plans. Assumption
# made explicit: the testdata parquet under sf_dir is IMMUTABLE for the
# session's lifetime — the cached DataFrame pins the file listing from
# first read, so a rewritten sf_dir in the same live session would serve
# stale files (regenerate the dir => new session, or call
# clear_read_cache()).
import weakref

_READ_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def clear_read_cache(spark: SparkSession | None = None) -> None:
    """Drop cached table reads — all sessions, or one session's."""
    if spark is None:
        _READ_CACHE.clear()
    else:
        _READ_CACHE.pop(spark, None)


def ts_ns(ts: str) -> int:
    """Epoch-nanos for an ISO timestamp string (UTC) — the literal to
    compare against epoch-ns long columns."""
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(ts)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000_000 + dt.microsecond * 1000


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...]) -> dict:
    """Read several testdata tables at once."""
    return {name: read_table(spark, sf_dir, name) for name in names}


def spread(df, partitions: int | None = None):
    """Round-robin repartition a narrow scan up to full parallelism.

    A single small parquet file yields ONE input split, so every
    CPU-heavy per-row operator downstream (md5 shingling, simhash votes,
    cosine folds, pandas UDFs) would run on one core. Repartitioning
    first costs one tiny shuffle and buys #cores-way parallelism. On a
    real cluster the input arrives in many splits and this is a no-op:
    it only repartitions when the scan is below the target."""
    sc = df.sparkSession.sparkContext
    target = partitions or sc.defaultParallelism
    # inputFiles() is metadata-only (no RDD materialization / analysis
    # pass). It undercounts splits for files larger than
    # maxPartitionBytes, but a scan with >= target files is already
    # parallel enough that skipping the repartition is right anyway.
    if len(df.inputFiles()) < target:
        return df.repartition(target)
    return df
