"""Ephemeral scratch-space placement (optimization guide §6: I/O layout).

Several gated queries and the streaming drains create *per-invocation*
scratch state — landing directories, stream checkpoints used only to prove
resume semantics inside one call, throwaway index/bucketed-table dirs — all
removed (``shutil.rmtree``) before the query returns. None of it needs
durability, so it belongs on the fastest local storage available, exactly
like Spark's own shuffle/spill files (``spark.local.dir``), which production
clusters point at node-local NVMe.

:func:`with_scratch` is the one lifecycle for such a directory: a registered
query that needs one takes it as a third argument, and the decorator
materializes the result and removes the directory.

Resolution order:

1. ``$SPARK_GRAFT_SCRATCH_DIR`` — explicit override (set this on a real
   cluster if the default is wrong for the node layout);
2. ``/dev/shm`` when it is a writable directory (Linux RAM-backed tmpfs:
   scratch-heavy queries run measurably faster than on a root-disk
   ``/tmp``, see OPTIMIZATION_r11.md);
3. ``tempfile.gettempdir()`` (the previous behavior).

DURABLE state never goes through this module: real streaming checkpoints
(caller-supplied paths in streaming/pipeline.py), warehouse tables the CLI
writes for the user, and every query OUTPUT path are untouched.
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_SHM = "/dev/shm"


def scratch_base() -> str:
    """Directory under which ephemeral per-invocation scratch is created."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if env:
        return env
    if os.path.isdir(_SHM) and os.access(_SHM, os.W_OK):
        return _SHM
    return tempfile.gettempdir()


def mkscratch(prefix: str) -> str:
    """``tempfile.mkdtemp`` rooted at :func:`scratch_base`.

    Callers own cleanup; :func:`with_scratch` does it for query bodies."""
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_base())


def with_scratch(prefix: str):
    """Give a query's body a throwaway directory: the body runs as
    ``body(spark, sf_dir, base)`` with ``base`` a fresh :func:`mkscratch`
    directory, its result is materialized (it may read files under
    ``base``) and ``base`` is removed on return and on raise. Goes under
    ``@query``."""

    def deco(body: Callable[[SparkSession, str, str], DataFrame]):
        @functools.wraps(body)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            base = mkscratch(prefix)
            try:
                return body(spark, sf_dir, base).localCheckpoint(eager=True)
            finally:
                shutil.rmtree(base, ignore_errors=True)

        return run

    return deco
