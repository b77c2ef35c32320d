"""Process-scoped one-time builds: the one owner of "built once per
process" in the engine.

A shared intermediate — the dedup pair list and components, the
serving rollup, the exact-kNN ground truth, a txnlog table fixture, a
year-partitioned layout — is built the first time any consumer asks
for it and read by every later consumer, in any order: the way one
Spark job graph materializes a shared stage once.  Every catalog entry
stays runnable standalone; only the first one to run pays the build.

Files, not .persist/.localCheckpoint: bench.py calls release_barriers()
between entries, which frees cached/checkpointed blocks — a file
survives, costs one distributed write, and round-trips doubles
bit-exactly, so entry hashes are unchanged.  No driver-side collect:
the artifacts never leave the executors.

Every build lands in its own fresh directory under one process-private
root, removed at interpreter exit.  The root's name prefix
``spark_artifact_memo_`` is visible in the plans that scan an artifact.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession

from ..operators.util import barrier_scope, timed_phase

_ROOT: str | None = None
_ARTIFACTS: dict[tuple[str, str], str] = {}  # (abspath(sf_dir), name) -> dir
_KEY_LOCKS: dict[tuple[str, str], threading.Lock] = {}
# guards _ROOT and _KEY_LOCKS — prebuild_artifacts requests builds from
# a thread pool
_LOCK = threading.Lock()


def root() -> str:
    """The process-private directory all builds live under, made on
    first use and removed at interpreter exit."""
    global _ROOT
    with _LOCK:
        if _ROOT is None:
            _ROOT = tempfile.mkdtemp(prefix="spark_artifact_memo_")
            atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
        return _ROOT


def build_once(sf_dir: str, name: str, build) -> str:
    """Run ``build(path)`` once per (sf_dir, name) per process and
    return ``path``, a fresh directory that ``build`` fills.

    Concurrent callers of one key wait for the first one's build and
    share its result.  A build that raises records nothing, and a hit
    stays valid while its directory exists.  The build is timed as
    ``artifact:<name>`` (bench charges it once, as one-time setup), and
    the barriers it persists or checkpoints are freed when it returns.
    Callers treat the result as READ-ONLY: a consumer that commits to
    a txnlog fixture clones it first (txnfix.clone_to)."""
    key = (os.path.abspath(sf_dir), name)
    with _LOCK:
        key_lock = _KEY_LOCKS.setdefault(key, threading.Lock())
    with key_lock:
        path = _ARTIFACTS.get(key)
        if path is None or not os.path.isdir(path):
            # unique across keys and across rebuilds of a lost directory
            path = tempfile.mkdtemp(prefix=f"{name}_", dir=root())
            with timed_phase(f"artifact:{name}"), barrier_scope():
                build(path)
            _ARTIFACTS[key] = path
        return path


def _memo_artifact(
    spark: SparkSession, sf_dir: str, name: str, build
) -> DataFrame:
    """Materialize the frame ``build()`` returns once per (sf_dir,
    name) per process, as parquet, and read it back."""
    path = build_once(
        sf_dir, name, lambda out: build().write.mode("overwrite").parquet(out)
    )
    return spark.read.parquet(path)
