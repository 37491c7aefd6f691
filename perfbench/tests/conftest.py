from __future__ import annotations

import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def work() -> str:
    """Inside the checkout, like every file a benchmark run writes."""
    path = os.path.join(ROOT, "perfbench", ".work", "tests")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="session")
def spark(work):
    from perfbench import run

    cores, _ = run._env(work)
    session = run._session(cores, work)
    yield session
    run._shutdown(session)
