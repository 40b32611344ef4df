from __future__ import annotations

import os
import sys
from typing import NamedTuple

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from candy_store_etl_spark.session import build_session  # noqa: E402
from perfbench import gen  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_SF_CORRECTNESS", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = tmp_path_factory.mktemp("spark-warehouse")
    s = build_session(
        "candy-store-etl-tests",
        cpus=8,
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness() -> str:
    return SF_CORRECTNESS


class CandyHistory(NamedTuple):
    SHORT_DAYS = 3

    paths: list[str]  # day files, in day order
    products_csv: str  # stock sized for the whole history
    short_products_csv: str  # stock sized for the first SHORT_DAYS days


@pytest.fixture(scope="session")
def candy_history(tmp_path_factory) -> CandyHistory:
    """A seeded 34-day ``perfbench.gen`` candy history: more day files
    than the 32 paths past which Spark lists files with a parallel job.
    Four products run out inside the history; with
    ``short_products_csv`` they run out inside its first three days,
    so a short slice still cancels items."""
    d = str(tmp_path_factory.mktemp("candy_history"))
    _, paths = gen.write_candy(d, 11, 34)
    short = os.path.join(d, "short")
    os.makedirs(short)
    gen.CandyGenerator(11, CandyHistory.SHORT_DAYS).write_products(short)
    return CandyHistory(
        paths, os.path.join(d, "products.csv"), os.path.join(short, "products.csv")
    )
