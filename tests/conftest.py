import pytest

from sfa_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sfa-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def _drop_cache_after_heavy_fits(request):
    """Grid fits cache several tables; Python GC never unpersists them,
    so a session-scoped JVM accumulates blocks until the heap fills.
    Clear the cache after each golden/grid test."""
    yield
    if request.node.fspath.basename in ("test_goldens.py", "test_grid.py"):
        spark = request.getfixturevalue("spark") if "spark" in request.fixturenames else None
        if spark is not None:
            spark.catalog.clearCache()


@pytest.fixture(scope="session")
def plan_node_names():
    """df (or an executed SparkPlan) → Counter of the class names of
    every node of its executed plan, through the AQE wrapper and query
    stages (run the query first for the final adaptive plan). Plan
    tests match node classes, not plan strings. Given a `caches` set,
    the plan of each cached relation it scans is walked too, unless
    its id is in the set already: a cache read by several plans counts
    once."""
    from collections import Counter

    from pyspark import SparkContext
    from pyspark.sql import DataFrame

    def names(df, caches=None):
        root = df
        if isinstance(df, DataFrame):
            root = df._jdf.queryExecution().executedPlan()
        stack, out = [root], Counter()
        while stack:
            node = stack.pop()
            name = node.getClass().getSimpleName()
            out[name] += 1
            if name == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
            elif name.endswith("QueryStageExec"):
                stack.append(node.plan())
            else:
                kids = node.children()
                stack.extend(kids.apply(i) for i in range(kids.size()))
            if name == "InMemoryTableScanExec" and caches is not None:
                builder = node.relation().cacheBuilder()
                key = SparkContext._jvm.System.identityHashCode(builder)
                if key not in caches:
                    caches.add(key)
                    stack.append(builder.cachedPlan())
        return out

    return names


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
