"""Warm passes reuse generated code.

Spark keeps compiled codegen classes in one JVM-global cache.
``session.get_spark`` sizes it (``CODEGEN_CACHE_ENTRIES``) above the
working set of the headline queries, and each headline query must
generate the same code on every build. Together these make a repeated
pass compile nothing: at the default size of 100 every warm pass evicts
and recompiles about 140 classes.
"""

from __future__ import annotations

import re

from bench import HEADLINE_COLLECT, HEADLINE_COUNT
from tests.conftest import SF_SMALL
from threat_detection_nosql_spark.queries import all_queries
from threat_detection_nosql_spark.queries.threat import user_features


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _headline_pass(spark) -> None:
    queries = all_queries()
    for name in HEADLINE_COLLECT:
        queries[name](spark, SF_SMALL).collect()
    for name in HEADLINE_COUNT:
        queries[name](spark, SF_SMALL).count()


def test_warm_headline_pass_compiles_nothing(spark):
    _headline_pass(spark)
    before = _compiles(spark)
    _headline_pass(spark)
    assert _compiles(spark) - before == 0


def _masked_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+", "#", plan))


def test_user_features_plan_is_stable_across_builds(spark):
    # Spark's multi-countDistinct rewrite orders its Expand from a hash
    # map keyed on expression IDs, so two builds used to differ here
    first = _masked_plan(user_features(spark, SF_SMALL))
    assert _masked_plan(user_features(spark, SF_SMALL)) == first
