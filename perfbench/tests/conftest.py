from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))


@pytest.fixture(scope="session")
def spark():
    from lakehouse_poc_spark.session import get_spark

    s = get_spark(
        "perfbench-tests",
        cpus=2,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.sql.shuffle.partitions": "2",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield s
