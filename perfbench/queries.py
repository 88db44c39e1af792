"""The ``headline_queries`` workload: the ``bench.HEADLINE`` query set.

Each query is constructed (``fn(spark, dir)`` plus ``.schema``), then
executed to the noop sink, as ``bench.py`` does. The execution carries an
``Observation`` that digests the result rows in the same job, for the
output check. The observation adds about 1.3 s to the 22 executions,
about 3% of ``wall_s`` (a quarter of their warm execution time, from
interleaved passes on a 4-core host); digesting by a second, untimed
execution instead added about 14 s to every run, more than a run's time
budget allows. The result is
then released before the next query is built, as in ``bench.py``: many
queries persist intermediates, and a live cache entry would serve a later
query with the same sub-plan. ``bench.py``'s JVM ``System.gc`` between
queries is left out: 22 small queries leave little shuffle state behind.
The DuckDB oracle digests are computed once per run, after the timed
set-up and before the measured window.
"""

from __future__ import annotations

import gc
import os
import sys

import query_data
from digest import duckdb_digest, spark_digest_exprs

CONSTRUCT, EXEC = "queries_construct", "queries_exec"


def headline() -> list[str]:
    import bench  # the repo's headline list; read, never copied

    return list(bench.HEADLINE)


def make_inputs(work: str, seed: int) -> dict:
    data = os.path.join(work, "tables")
    return {"dir": data, "rows": query_data.write_tables(data, seed)}


def oracle_digests(inputs: dict) -> None:
    """Digest every query's DuckDB oracle into ``inputs["oracles"]``."""
    import duckdb
    from genie_spark.session import TESTDATA_TABLES
    from genie_spark.workload import ORACLES

    data = inputs["dir"]
    # spills stay in the work dir
    con = duckdb.connect(config={"temp_directory": f"{data}.duckdb_tmp"})
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = {}
    for name in headline():
        try:
            out[name] = duckdb_digest(con, ORACLES[name])
        except Exception as exc:
            out[name] = f"oracle raised {type(exc).__name__}: {exc}"
    con.close()
    inputs["oracles"] = out


def run_once(spark, tracer, inputs: dict) -> dict:
    """Construct and execute every query once, digesting each result as it
    is written."""
    from genie_spark.workload import QUERIES

    per_query, digests = {}, {}
    for name in headline():
        construct = execute = None
        try:
            with tracer.span(f"query.{name}.construct", CONSTRUCT) as c:
                df = QUERIES[name](spark, inputs["dir"])
                _ = df.schema
            construct = c.t1 - c.t0
            observed, obs, cols = _observed(df)
            with tracer.span(f"query.{name}.exec", EXEC) as e:
                observed.write.format("noop").mode("overwrite").save()
            execute = e.t1 - e.t0
            got = obs.get
            digests[name] = (int(got["n"]), cols, int(got["h"] or 0))
        except Exception as exc:  # a failed query is counted, never fatal
            print(f"query {name}: {type(exc).__name__}: {str(exc)[:300]}", file=sys.stderr)
        per_query[name] = (construct, execute)
        df = observed = None
        gc.collect()  # runs the finalizers that release its cached intermediates
    return {"queries": per_query, "digests": digests}


def _observed(df):
    """``df`` with an ``Observation`` that digests the rows it outputs."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    cols, n_sql, h_sql = spark_digest_exprs(df.schema)
    obs = Observation()
    return df.observe(obs, F.expr(n_sql).alias("n"), F.expr(h_sql).alias("h")), obs, cols


def check(inputs: dict, result: dict) -> tuple[int, int, list]:
    """(attempted, failed, problems): each query is one operation; it fails
    when it raised or its digest differs from its DuckDB oracle's."""
    oracles = inputs["oracles"]
    problems = []
    for name, (construct, execute) in result["queries"].items():
        got, want = result["digests"].get(name), oracles.get(name)
        if construct is None or execute is None:
            problems.append(f"{name}: raised")
        elif got != want:
            problems.append(f"{name}: digest {got} != oracle {want}")
    return len(result["queries"]), len(problems), problems
