from __future__ import annotations

import glob
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURE_DIR = "/root/reference/meus_pdfs"
FIXTURE_NAMES = (
    "oab_1", "oab_2", "oab_3", "tela_sistema_1", "tela_sistema_2", "tela_sistema_3",
)
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")

# The reference's fixture PDFs are not committed (FIXTURES.md records their
# spans, not their bytes), so tests that read them skip where any is absent.
requires_fixtures = pytest.mark.skipif(
    not all(os.path.isfile(f"{FIXTURE_DIR}/{n}.pdf") for n in FIXTURE_NAMES),
    reason=f"reference fixture PDFs not found in {FIXTURE_DIR}",
)


def fixture_pdfs() -> list[str]:
    return sorted(glob.glob(f"{FIXTURE_DIR}/*.pdf"))


@pytest.fixture(scope="session")
def spark():
    from pdf_extractor_spark.pipeline import build_session

    spark = build_session(master="local[4]", shuffle_partitions=4, app_name="tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TESTDATA
