from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))
# Python workers import flaco_spark too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)


@pytest.fixture(scope="session")
def spark():
    from flaco_spark.session import get_session

    s = get_session(app_name="perfbench_tests", master="local[2]", shuffle_partitions=4,
                    extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()
