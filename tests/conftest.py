import tempfile

import pytest

import _hyp  # noqa: F401  — registers + loads the hypothesis "gate" profile
             # (derandomize=True) before any test module is imported, so the
             # replay suites draw the same examples every run (deterministic
             # gate; set HYPOTHESIS_PROFILE=fuzz to explore fresh draws)
from powerdatapipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # warehouse dir is a STATIC conf — point it at a temp dir at session
    # creation so bucketed-table tests never write into the repo
    wh = tempfile.mkdtemp(prefix="spark-wh-")
    s = get_spark("tests", master="local[4]", shuffle_partitions=4,
                  extra_conf={"spark.sql.warehouse.dir": wh,
                              "spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def graph_distributed(monkeypatch):
    """Pin every graph operator to its distributed form: the one graph
    fast-path knob at 0."""
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_SMALL_MAX_ROWS", "0")
