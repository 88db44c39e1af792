"""Session-factory behavior: cluster-master passthrough.

The factory must not pin ``local[n]`` over a master provided by
spark-submit (``--master`` in PYSPARK_SUBMIT_ARGS), a builder conf, or
``SPARK_GRAFT_MASTER`` — otherwise the "cluster-safe" entry points
would fight the cluster manager.  These tests exercise the decision
logic without starting a second SparkSession (getOrCreate would just
reuse the test session anyway).
"""

import warnings

import pytest
from pyspark.sql import SparkSession

from genie_spark import session as S


def test_external_master_detected_from_builder_conf():
    b = SparkSession.builder.config("spark.master", "yarn")
    assert S._external_master_present(b)


def test_external_master_detected_from_submit_args(monkeypatch):
    b = SparkSession.builder
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert not S._external_master_present(b)
    monkeypatch.setenv(
        "PYSPARK_SUBMIT_ARGS", "--master k8s://https://host:6443 pyspark-shell"
    )
    assert S._external_master_present(b)


def test_external_master_detected_from_gateway(monkeypatch):
    """spark-submit launches python under an existing JVM gateway (it
    sets PYSPARK_GATEWAY_PORT, not PYSPARK_SUBMIT_ARGS) whose conf
    already carries the resolved master — the factory must not pin
    local mode over it."""
    b = SparkSession.builder
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "42001")
    assert S._external_master_present(b)


def test_get_spark_local_default_unchanged(spark):
    """Locally (no submit args, no SPARK_GRAFT_MASTER) the session
    still runs a local master — the test fixture itself proves the
    factory's default path keeps working."""
    assert spark.sparkContext.master.startswith("local[")


def test_session_scale_confs(spark):
    """The factory's scale-critical confs survive into the session:
    AQE on, and the ObjectHashAggregate sort-fallback raised so
    collect_set-building aggs (signature store) stay hash-based
    (235 s → 89 s at 1 M docs, BASELINE.md round 9)."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.conf.get(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
        )
        == "65536"
    )


def test_local_rows_df_plans_local_relation_and_matches_pickle_path(spark):
    """r16: driver-built lookup tables must enter as ONE Arrow batch —
    a JVM LocalRelation with zero Python tasks downstream — and be
    row-and-schema-identical to the plain createDataFrame path for
    every shape the package uses (guide §4: the pickle parallelize
    path re-runs Python worker tasks inside EVERY consumer job;
    measured 4.8-7.5 s per downstream job for a 16-row table vs
    0.18 s via Arrow)."""
    from genie_spark.session import local_rows_df

    cases = [
        ([(1,), (2,)], ["value"]),
        ([(1, [1, 2, 3]), (2, [4, 5, 6])], "cid long, v array<long>"),
        ([(1, "ab"), (2, None)], "k long, s string"),
        ([(0.5,), (0.25,)], ["q"]),
        ([(1, 2, 3, 4, 5)], "query_id long, cell long, s int, cid long, d2 long"),
        # ValidationReport.to_df: array<string> examples, empty lists too
        (
            [("maf", "r1", "error", 3, ["a", "b"], "m"),
             ("maf", "r2", "warning", 0, [], None)],
            "file_type string, rule_id string, severity string, "
            "n_violations long, examples array<string>, message string",
        ),
        # all-string tables (assay YAML, oncotree, status rows) with NULLs,
        # including an all-NULL column
        ([("a", None, None), (None, "b", None)], "x string, y string, z string"),
    ]
    for rows, schema in cases:
        plain = spark.createDataFrame(rows, schema)
        arrow = local_rows_df(spark, rows, schema)
        assert arrow.schema == plain.schema
        assert sorted(map(tuple, arrow.collect()), key=repr) == sorted(
            map(tuple, plain.collect()), key=repr
        )
        assert (
            arrow._jdf.queryExecution().optimizedPlan().nodeName()
            == "LocalRelation"
        )
    # empty input plans a zero-partition relation: no task runs for it
    # in any consumer job (an empty list plans one pickle-path Python
    # task per default partition)
    empty = local_rows_df(spark, [], "a long, b string")
    assert empty.rdd.getNumPartitions() == 0
    assert empty.count() == 0 and len(empty.schema) == 2


def test_local_rows_df_fallback_warns_once(spark, monkeypatch):
    """When pandas/Arrow cannot take the rows, local_rows_df still
    returns them (via the pickle path) and warns once per process."""
    import pandas as pd

    from genie_spark import session

    def no_records(*args, **kwargs):
        raise ValueError("no pandas here")

    monkeypatch.setattr(pd.DataFrame, "from_records", no_records)
    monkeypatch.setattr(session, "_fallback_warned", False)
    with pytest.warns(RuntimeWarning, match="pickle path"):
        df = session.local_rows_df(spark, [(1, "a")], "k long, s string")
    assert [tuple(r) for r in df.collect()] == [(1, "a")]
    assert df._jdf.queryExecution().optimizedPlan().nodeName() != "LocalRelation"
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        again = session.local_rows_df(spark, [(2, "b")], "k long, s string")
    assert [tuple(r) for r in again.collect()] == [(2, "b")]
