"""Fallback wiring for the vendored pure-Python protobuf runtime.

PySpark 4.1's `transformWithState` (like `transformWithStateInPandas`)
needs `google.protobuf` for its state-server wire protocol, and the
image this project runs in ships no `protobuf` wheel (BASELINE.md
"Round 6"). `vendor/google/protobuf` is the BSD-3
pure-Python 4.23.2 runtime bundled with the locally installed Google
Cloud SDK, with its import prefix restored and a `runtime_version`
shim (see vendor/google/protobuf/runtime_version.py for the
gencode-version rationale and the end-to-end test that stands in for
the skipped version check).

`ensure_protobuf()` is a strict FALLBACK: if a real `google.protobuf`
is importable (any properly provisioned deployment), the vendor copy
is never put on the path. Otherwise it is appended to BOTH `sys.path`
(driver) and `$PYTHONPATH` (inherited by Python workers — the state
server runs worker-side, so the driver path alone is not enough;
must run before the SparkSession is created).
"""

from __future__ import annotations

import importlib.util
import os
import sys

# The directory that holds the package; workers need it on their path
# whatever the driver's working directory (`session.get_spark`).
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VENDOR_DIR = os.path.join(PACKAGE_ROOT, "vendor")


def ensure_protobuf() -> bool:
    """Make `google.protobuf` importable, vendored copy as fallback.
    Returns True iff protobuf is available (real or vendored)."""
    try:
        if importlib.util.find_spec("google.protobuf") is not None:
            return True
    except (ImportError, ModuleNotFoundError, ValueError):
        pass
    if not os.path.isdir(os.path.join(VENDOR_DIR, "google", "protobuf")):
        return False
    if VENDOR_DIR not in sys.path:
        sys.path.append(VENDOR_DIR)  # append: a real install always wins
    add_worker_path(VENDOR_DIR)
    # Invalidate caches so the just-added path is honored, then confirm.
    importlib.invalidate_caches()
    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except (ImportError, ModuleNotFoundError, ValueError):
        return False


def add_worker_path(entry: str) -> None:
    """Append `entry` to the Python workers' $PYTHONPATH.

    `os.environ` reaches workers of a JVM launched after this call. A
    session built BEFORE it (the driver's bare session: it creates its
    SparkSession first, then imports __spark_entry__) has already
    captured its env, but Python workers and the TWS state server take
    their env from `sc.environment` at worker LAUNCH, which is mutable
    post-hoc. Setting it makes transformWithState work in a session
    that existed before the vendor path did: op206 runs in a bare
    session built before this package was imported."""
    pp = os.environ.get("PYTHONPATH", "")
    if entry in pp.split(os.pathsep):
        return
    os.environ["PYTHONPATH"] = (pp + os.pathsep + entry) if pp else entry
    try:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
    except Exception:  # pyspark absent/odd — nothing to wire
        return
    if sc is None:
        return
    pp = sc.environment.get("PYTHONPATH", "")
    if entry not in pp.split(os.pathsep):
        sc.environment["PYTHONPATH"] = (pp + os.pathsep + entry) if pp else entry
