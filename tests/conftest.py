from __future__ import annotations

import os

import pandas as pd
import pytest

from kgforge import synth
from kgforge.session import build_session


def _driver_memory() -> str:
    """``KGFORGE_DRIVER_MEM`` when set, else half the host's physical
    memory capped at the library's 32g default, so the test JVM's heap
    cannot outgrow a small host."""
    if os.environ.get("KGFORGE_DRIVER_MEM"):
        return os.environ["KGFORGE_DRIVER_MEM"]
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // 2**20
    return f"{min(half_mb, 32 * 1024)}m"


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        "kgforge-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": _driver_memory()},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_files_pdf() -> pd.DataFrame:
    return synth.synth_files_pdf(24)


@pytest.fixture(scope="session")
def small_files_pdf() -> pd.DataFrame:
    return synth.synth_files_pdf(300)


@pytest.fixture(scope="session")
def tiny_files(spark, tiny_files_pdf):
    return spark.createDataFrame(tiny_files_pdf)


@pytest.fixture(scope="session")
def small_files(spark, small_files_pdf):
    return spark.createDataFrame(small_files_pdf)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("KGFORGE_TEST_SF_DIR", "/root/testdata/sf0.001")
