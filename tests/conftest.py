from __future__ import annotations

import os
import sys

import pytest

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
# Spark python workers must be able to unpickle closures defined in
# test modules — put the repo root on their import path too.
os.environ["PYTHONPATH"] = _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

from simplemapreduce_spark.session import get_spark

# Default gate scale is the smallest fixture (fast); override with
# SMR_TEST_SF_DIR to replay the whole suite at the driver's sf0.01
# (or sf0.1) before a round lands.
SF_SMALL = os.environ.get("SMR_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # A fixed thread count whatever the host: test queries are tiny and
    # session startup dominates; correctness is independent of N.
    s = get_spark("smr-tests", cpus="8")
    yield s
    from simplemapreduce_spark.cache import clear_memo

    clear_memo()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session", autouse=True)
def scratch_fully_collectable():
    """Suite-end invariant (VERDICT r3 #7): everything the suite wrote
    under /tmp/smr_scratch must be removable by gc_scratch alone — no
    artifact may outlive its age window (a leaked open handle or a
    path outside the sweep would show up here as a leftover). The
    negative max_age pushes the cutoff a few seconds into the future
    so even artifacts written this second count as stale.

    autouse+session scope makes this fixture set up first and tear
    down last, i.e. after the Spark session has stopped releasing any
    files it held."""
    yield
    from simplemapreduce_spark.scratch import scratch_root
    from simplemapreduce_spark.session import gc_scratch

    gc_scratch(max_age_hours=-0.01)
    scratch = scratch_root()
    leftover = os.listdir(scratch) if os.path.isdir(scratch) else []
    assert not leftover, f"smr_scratch entries gc_scratch could not remove: {leftover}"
