import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# perfbench's probe (the status-store reader bench.py uses too);
# appended, so its module names never shadow an installed package
sys.path.append(os.path.join(REPO, "perfbench"))


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="include tests marked slow (long e2e tails)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long e2e tail excluded from the default run so the "
        "suite fits the verification window; include with --runslow "
        "or LANTERN_RUN_SLOW=1",
    )
    # a grouped-map function with an untyped ``key`` makes pyspark
    # guess its eval type; every site types it as Tuple[Any, ...]
    config.addinivalue_line(
        "filterwarnings",
        "error:Cannot infer the eval type from type hints:UserWarning",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow") or os.environ.get("LANTERN_RUN_SLOW"):
        return
    skip = pytest.mark.skip(
        reason="slow e2e tail — run with --runslow / LANTERN_RUN_SLOW=1"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)

SF_DIR = os.environ.get("LANTERN_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("lantern-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def tracer(spark):
    """The session's one perfbench ``Tracer``: it numbers its job groups
    from 1, so two tracers on one SparkContext read each other's jobs."""
    from probe import Tracer

    return Tracer(spark, enabled=True)


@pytest.fixture(scope="session")
def spark_jobs(tracer):
    """``spark_jobs(fn)`` → ``(fn(), jobs)``: the Spark jobs ``fn`` ran,
    read from the status store by ``tracer.call`` (one job group per
    call)."""

    def run(fn):
        value, rec = tracer.call("test", fn)
        return value, rec["jobs"]

    return run


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _canon(rows, columns, ndigits=6):
    """Order-insensitive canonical form: sort columns by name, round floats."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon_val(v):
        if isinstance(v, float):
            return round(v, ndigits)
        if isinstance(v, (list, tuple)):
            return tuple(canon_val(x) for x in v)
        return v

    # None-safe ordering: sort by string form (comparison only needs to
    # be consistent across both sides; equality still uses the values)
    canon_rows = sorted(
        (tuple(canon_val(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple(str(v) for v in t),
    )
    return [columns[i] for i in idx], canon_rows


def assert_matches_oracle(spark_df, duck_con, sql, ndigits=6):
    """Driver-style check: row count + column names + sorted rounded values."""
    sdata = spark_df.collect()
    scols = spark_df.columns
    res = duck_con.execute(sql)
    dcols = [d[0] for d in res.description]
    ddata = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"schema mismatch: {scols} vs {dcols}"
    assert len(sdata) == len(ddata), f"row count mismatch: {len(sdata)} vs {len(ddata)}"
    _, srows = _canon([tuple(r) for r in sdata], scols, ndigits)
    _, drows = _canon(ddata, dcols, ndigits)
    for i, (a, b) in enumerate(zip(srows, drows)):
        assert a == b, f"row {i} mismatch:\n spark={a}\n duck ={b}"


def plan_nodes(node):
    """Every node of a JVM logical or physical plan, depth first,
    descending into adaptive query stages and reused exchanges."""
    yield node
    name = node.nodeName()
    if name.endswith("QueryStage"):
        kids = [node.plan()]
    elif name == "ReusedExchange":
        kids = [node.child()]
    else:
        ch = node.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    for k in kids:
        yield from plan_nodes(k)
