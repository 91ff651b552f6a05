import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path[:0] = [str(ROOT), str(ROOT / "tools")]

from perfbench import run  # noqa: E402


@pytest.fixture(scope="session")
def host():
    return run.host_fit()


@pytest.fixture(scope="session")
def spark(host):
    s = run.start_session(host["cores"], host["heap_mb"])
    yield s
    run.stop_session(s)
