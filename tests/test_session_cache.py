"""read_table cache: weak per-session keying + immutable-dir contract."""

import pytest

from hri_flink_pipeline_core_spark import session as S


def test_read_cache_is_per_session_and_clearable(spark):
    sf = "/root/testdata/sf0.001"
    a = S.read_table(spark, sf, "region")
    b = S.read_table(spark, sf, "region")
    assert a is b, "same session+dir+table must hit the cache"
    S.clear_read_cache(spark)
    c = S.read_table(spark, sf, "region")
    assert c is not a, "clear_read_cache must drop the entry"
    assert spark in S._READ_CACHE  # weakly keyed by the live session


def test_read_cache_entries_die_with_session(spark):
    # WeakKeyDictionary: no strong ref to the session from the cache
    import weakref

    assert isinstance(S._READ_CACHE, weakref.WeakKeyDictionary)


def test_get_spark_mode_validation():
    """mode derives the AQE advisory default (local -> 2m, production ->
    64m) and anything else fails loudly — a typo silently selecting the
    production advisory on a local host shifts every benchmark number
    (round-8 review finding)."""
    import pytest

    with pytest.raises(ValueError, match="local.*production"):
        S.get_spark("mode-bad", mode="Local")
    with pytest.raises(ValueError, match="local.*production"):
        S.get_spark("mode-bad", mode="prod")


class _NoSparkSession:
    """Stands in for SparkSession: reaching the builder fails the test
    at once instead of starting (or hanging) a JVM."""

    @property
    def builder(self):
        raise AssertionError("get_spark reached the SparkSession builder")


@pytest.mark.parametrize(
    "name", ["SPARK_GRAFT_CONSTRAINT_PROP", "SPARK_GRAFT_DF_DEBUGGING"]
)
def test_get_spark_rejects_empty_boolean_override(monkeypatch, name):
    """A set-but-empty boolean override fails before the builder runs;
    handed to Spark, the empty value makes session start hang."""
    monkeypatch.setattr(S, "SparkSession", _NoSparkSession())
    monkeypatch.setenv(name, "")
    with pytest.raises(ValueError, match=f"{name} must be 'true' or 'false'"):
        S.get_spark("bool-bad")


def test_get_spark_local_mode_advisory(spark):
    # the shared test session was built in (default) local mode
    assert (
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        == "2m"
    )


def test_get_spark_local_mode_constraint_propagation(spark):
    """Local mode disables Catalyst constraint propagation (round-13
    paired measurement: ~10% of the sf0.1 suite was optimizer-time
    inferring redundant IsNotNull predicates on plans rebuilt per
    invocation; results are unchanged by construction — the rule only
    ADDS predicates — and the full 138-key oracle sweep was re-verified
    under the off setting). Production keeps Spark's default ON so
    inferred pushdowns prune real IO at data scale;
    $SPARK_GRAFT_CONSTRAINT_PROP overrides either way. This pins the
    local default so the flag can't silently fall out of the builder."""
    import os

    expected = os.environ.get("SPARK_GRAFT_CONSTRAINT_PROP", "false")
    assert (
        spark.conf.get("spark.sql.constraintPropagation.enabled")
        == expected
    )


def test_get_spark_dataframe_debugging_off(spark):
    """PySpark's per-DataFrame-op call-site capture (error-message
    enrichment) is disabled: ~3 py4j round-trips + a Python stack walk
    per API call, measured at ~5-7% of the bench suite (round 13).
    Scale-independent driver overhead, so off in both modes;
    $SPARK_GRAFT_DF_DEBUGGING restores it for interactive debugging —
    only when set before the process's first DataFrame API call, since
    PySpark caches the setting there (a later change does nothing)."""
    import os

    expected = os.environ.get("SPARK_GRAFT_DF_DEBUGGING", "false")
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == expected
    )


def test_get_spark_gc_default(spark):
    """The driver JVM defaults to ParallelGC (round-9 paired A/B:
    JDK-17-default G1 taxed every benchmarked query 18-22%; BASELINE.md
    round-9 GC section). $SPARK_GRAFT_GC_OPTS overrides — this pins the
    DEFAULT so the flag can't silently fall out of the builder."""
    import os

    expected = os.environ.get("SPARK_GRAFT_GC_OPTS", "-XX:+UseParallelGC")
    assert spark.conf.get("spark.driver.extraJavaOptions") == expected
    # The conf string alone can't catch the flag failing to reach the
    # JVM (launch-time GC wins over a reused session's conf — round-10
    # review): also assert the RUNNING JVM's collector via the
    # management beans. ParallelGC's beans are "PS Scavenge"/"PS
    # MarkSweep"; only pin when the default applies and the live JVM is
    # reachable.
    if "SPARK_GRAFT_GC_OPTS" not in os.environ:
        try:
            beans = (
                spark._jvm.java.lang.management.ManagementFactory
                .getGarbageCollectorMXBeans()
            )
            names = [beans.get(i).getName() for i in range(beans.size())]
        except Exception:
            pytest.skip("JVM management beans unreachable")
        assert any("PS" in n for n in names), names
