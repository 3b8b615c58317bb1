"""Stage-boundary lineage truncation with a durability switch.

The LM-model and curation quality boundaries truncate their logical
plans (a lineage of ~770 KB otherwise dominated driver time), but
`localCheckpoint` stores blocks on executors with NO replication and NO
recompute lineage — on a real cluster one lost executor kills the job.
The documented 100 TB fix is a durable stage-boundary write; this helper
makes the choice a configuration:

- ``local`` (default): `localCheckpoint(eager=False)` — zero I/O, the
  same executor holds the blocks. It is not fully lazy under AQE: the
  call plans the query and runs every shuffle and broadcast stage
  below the boundary at once; only the final stage waits for the first
  downstream action. The checkpoint's blocks are registered with the
  operator-cache registry, so `operator_cache_scope()` frees them on
  exit; the frame cannot be read after that.
- ``parquet``: an eager write-read through
  ``spark.manifold.stageBoundaryDir`` (default: a session-scoped temp
  dir) — the boundary survives executor loss and its read-back plan is
  a plain scan, so downstream lineage is equally truncated.

Set ``spark.manifold.stageBoundary=parquet`` (session conf) or
``MANIFOLD_STAGE_BOUNDARY=parquet`` (env, read at call time) for
cluster runs.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame

_CONF_MODE = "spark.manifold.stageBoundary"
_CONF_DIR = "spark.manifold.stageBoundaryDir"


def _mode(spark) -> str:
    try:
        mode = spark.conf.get(_CONF_MODE)
    except Exception:
        mode = None
    return mode or os.environ.get("MANIFOLD_STAGE_BOUNDARY", "local")


def stage_boundary(df: DataFrame, name: str) -> DataFrame:
    """Truncate ``df``'s lineage at a pipeline stage boundary.

    Local mode returns ``localCheckpoint(eager=False)``: under AQE the
    call already runs the shuffle and broadcast stages of ``df``, and
    the first downstream action runs the final stage and stores its
    blocks until the enclosing `operator_cache_scope()` exits. Parquet
    mode writes everything at the call and returns the read-back scan;
    rows are byte-identical either way (pinned in tests/test_plans.py)."""
    spark = df.sparkSession
    if _mode(spark) != "parquet":
        from manifold_spark.operators.dedup import _track

        checkpoint = df.localCheckpoint(eager=False)
        _track(_CheckpointBlocks(checkpoint._jdf.logicalPlan().rdd()))
        return checkpoint
    try:
        root = spark.conf.get(_CONF_DIR)
    except Exception:
        root = None
    if not root:
        root = os.path.join(tempfile.gettempdir(), "manifold-stage-boundaries")
    path = os.path.join(root, f"{name}-{uuid.uuid4().hex[:12]}")
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


class _CheckpointBlocks:
    """Registry entry for a local checkpoint: the frame's `unpersist()`
    does not reach the checkpointed RDD, so release unpersists the RDD."""

    def __init__(self, rdd):
        self._rdd = rdd

    def unpersist(self) -> None:
        self._rdd.unpersist(False)
