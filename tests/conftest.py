from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from language_identification_spark.fixtures.pages import gen_pages  # noqa: E402
from language_identification_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4)
    yield s


@pytest.fixture(scope="session")
def pages_pdf():
    return gen_pages(n_rows=800, seed=42)


@pytest.fixture(scope="session")
def pages_df(spark, pages_pdf, tmp_path_factory):
    # round-trip through parquet so Spark sees the on-disk schema (binary,
    # timestamp) exactly as production would
    p = tmp_path_factory.mktemp("pages") / "pages.parquet"
    pages_pdf.to_parquet(p, index=False)
    return spark.read.parquet(str(p))


@pytest.fixture(scope="session")
def sf_dir():
    # SPARK_GRAFT_SF_NAME=sf0.01 runs the oracle gate at driver scale
    return os.path.join(TESTDATA, os.environ.get("SPARK_GRAFT_SF_NAME", "sf0.001"))


@pytest.fixture(scope="session")
def check_lineage_drops():
    """Asserts that each lineage row's ``drops`` equals the written
    output's first-failing-rule counts for the row's ``key`` value, and
    that ``n_kept`` plus the drops account for every input row."""
    from pyspark.sql import functions as F

    def check(lineage_rows, out, key):
        want = {}
        for r in (
            out.filter(F.col("drop_reason").isNotNull())
            .groupBy(key, "drop_reason").count().collect()
        ):
            want.setdefault(r[key], {})[r["drop_reason"]] = r["count"]
        assert want, "the fixture drops some docs"
        for r in lineage_rows:
            assert r["drops"] == want.get(r[key], {}), r[key]
            assert r["n_kept"] + sum(r["drops"].values()) == r["n_input"], r[key]

    return check
