import os
from functools import reduce

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from bmspark.session import get_session

    s = get_session("bmspark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def check_routed_equality(spark, input_df, sinks, key_cols=("url",)) -> dict[str, bool]:
    """Routing algebra (SURVEY.md O3, §5.2.4): ``sinks`` (sink name →
    written directory or DataFrame, deadletter included) partition the
    input. union(sinks) ≡ input via exceptAll both directions, so a row
    in two sinks or in none fails, and the sinks are pairwise disjoint.
    Returns named boolean checks."""
    def read(sink):
        return spark.read.parquet(sink) if isinstance(sink, str) else sink

    names = sorted(sinks)
    parts = {n: read(sinks[n]).select(*key_cols) for n in names}
    union = reduce(lambda a, b: a.unionByName(b), parts.values())
    inp = input_df.select(*key_cols)
    checks = {
        "no_lost_rows": inp.exceptAll(union).isEmpty(),
        "no_invented_rows": union.exceptAll(inp).isEmpty(),
    }
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            checks[f"disjoint_{a}_{b}"] = parts[a].intersect(parts[b]).isEmpty()
    return checks


def assert_broadcast_plan(df) -> None:
    """The physical plan must contain a BroadcastHashJoin (SURVEY.md
    §5.2.6)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "BroadcastHashJoin" not in plan:
        raise AssertionError(f"expected BroadcastHashJoin in plan:\n{plan}")


def sink_paths(result) -> dict[str, str]:
    """A PipelineResult's routed sinks (routes + deadletter) in either
    route mode: every path except the aggregate and the single_pass
    table root."""
    return {k: v for k, v in result.paths.items() if k not in ("agg_hourly", "routed")}
