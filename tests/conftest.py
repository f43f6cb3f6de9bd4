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
    """df → class names of every node of its executed plan, through the
    AQE wrapper and query stages (run the query first for the final
    adaptive plan). Plan tests match node classes, not plan strings."""

    def names(df):
        stack, out = [df._jdf.queryExecution().executedPlan()], set()
        while stack:
            node = stack.pop()
            name = node.getClass().getSimpleName()
            out.add(name)
            if name == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
            elif name.endswith("QueryStageExec"):
                stack.append(node.plan())
            else:
                kids = node.children()
                stack.extend(kids.apply(i) for i in range(kids.size()))
        return out

    return names


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
