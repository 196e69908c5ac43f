import uuid

import numpy as np
import pytest

from simple_data_workflow_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="sdw-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), n)``: ``n`` is the number of Spark jobs
    ``fn`` ran, AQE map-stage jobs included. The jobs are tagged with a
    fresh job group on this thread and counted through the status
    tracker."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def lineitem_6k(spark):
    """Seeded 6,000-row lineitem slice shaped like the benchmark's
    ``stats_flow`` input: four doubles (10% NULL quantity and discount)
    and two string flags."""
    rng = np.random.default_rng(6)
    n = 6_000
    qty = rng.integers(1, 51, n).astype(float)
    price = qty * rng.uniform(900.0, 1100.0, n)
    disc = np.round(rng.uniform(0.0, 0.1, n), 2)
    tax = np.round(rng.uniform(0.0, 0.08, n), 2)
    m_qty, m_disc = rng.random(n) < 0.1, rng.random(n) < 0.1
    rows = [
        (
            i,
            None if m_qty[i] else float(qty[i]),
            float(price[i]),
            None if m_disc[i] else float(disc[i]),
            float(tax[i]),
            "ANR"[i % 3],
            "FO"[i % 2],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "l_rowid long, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, l_linestatus string",
    )
