from __future__ import annotations

import os
import sys

import pytest

# --- protobuf shim (test scaffolding; see vendor/pbshim/google/__init__.py)
# transformWithStateInPandas needs google.protobuf in BOTH the driver and
# Spark's python worker processes.  If the real package is absent but the
# cloud-sdk's vendored pure-python runtime exists, expose the repo shim on
# sys.path (driver) and PYTHONPATH (inherited by workers).  Must happen
# before the SparkSession is created so workers see the env var.
_PBSHIM = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "vendor", "pbshim")


def _enable_pbshim_if_needed() -> None:
    try:
        from google.protobuf import descriptor  # noqa: F401
        return  # real protobuf present — shim stays inert
    except ImportError:
        pass
    if not os.path.isdir("/usr/lib/google-cloud-sdk/lib/third_party"):
        return  # no backing runtime either; protobuf-gated tests skip
    if _PBSHIM not in sys.path:
        sys.path.insert(0, _PBSHIM)
    parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if _PBSHIM not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [_PBSHIM] + [p for p in parts if p])


_enable_pbshim_if_needed()

from openai_vector_search_demo_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # AQE stays ON even for tests: a micro-benchmark showed 2x on bare
    # tiny shuffles, but a real-module A/B showed no net win (UDF/setup
    # dominates).  No execution pin depends on AQE either way — the E3
    # once-per-candidate guarantee rests on the explicit localCheckpoint
    # boundary in plans/pipeline.py, AQE on or off.
    s = get_spark("engine-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def store_root(tmp_path, monkeypatch):
    """Publish this test's cached stores (``stores.open_or_build``) under
    its own tmp_path instead of the shared cache root."""
    from openai_vector_search_demo_spark import stores
    root = tmp_path / "stores"
    root.mkdir()
    monkeypatch.setattr(stores, "_ROOT", f"{root}/spark_graft_")
    return root


def pytest_collection_modifyitems(config, items):
    """Auto-tier: equivalence/parity/A-B-class tests (X equals Y, X
    matches Y, two paths agree, convergence-to-reference) are the SLOW
    tier — they re-run an operator twice (or against a naive twin /
    the full registry oracle) and dominate suite wall-clock.  Default
    CI tier is ``pytest -m "not slow"`` (< 5 min, every operator's
    functional invariants); the full suite (~15-30 min) runs before
    release and in the round driver.  Explicit @pytest.mark.slow
    decorators compose with this rule."""
    kws = ("equals", "matches", "agree", "parity", "converge",
           "_identical", "beats", "specs_match")
    for it in items:
        if any(k in it.name for k in kws):
            it.add_marker(pytest.mark.slow)
