import importlib.util
import os
import sys

import pytest

REFERENCE_SRC = "/root/reference/src"
SHIM_DIR = os.path.join(os.path.dirname(__file__), "_shim")


def load_reference_whoosh():
    """Import the reference Whoosh (read-only) for differential oracles.

    The reference needs the long-dead `cached_property` pypi module; we shim
    it with functools.cached_property.
    """
    os.makedirs(SHIM_DIR, exist_ok=True)
    shim = os.path.join(SHIM_DIR, "cached_property.py")
    if not os.path.exists(shim):
        with open(shim, "w") as f:
            f.write("from functools import cached_property as cached_property\n")
    for p in (SHIM_DIR, REFERENCE_SRC):
        if p not in sys.path:
            sys.path.insert(0, p)
    import whoosh  # noqa: F401

    return whoosh


@pytest.fixture(scope="session")
def spark():
    from whoosh_spark.session import get_spark

    s = get_spark("whoosh_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def whoosh_ref():
    """The reference Whoosh module; skips the requesting test when the
    reference checkout is absent and no `whoosh` is importable. Where the
    checkout exists, a failing import still errors."""
    if not os.path.exists(REFERENCE_SRC) and importlib.util.find_spec("whoosh") is None:
        pytest.skip(f"reference Whoosh checkout {REFERENCE_SRC} is absent "
                    "and no whoosh module is importable")
    return load_reference_whoosh()
