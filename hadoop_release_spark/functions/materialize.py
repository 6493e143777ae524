"""Scale-safe eager materialization for iterative/loop state.

``localCheckpoint`` is the right lineage-truncation tool in local
mode and on dedicated executors: it is eager, it truncates the
analyzed plan to a constant size (the CC-loop lesson — a persisted
loop frame still embeds the whole upstream tree and Spark
re-stringifies it per job), and it costs no external storage. But it
stores its blocks ONLY on executors with NO lineage left to
recompute them: on a cluster with dynamic allocation or preemption,
losing one executor makes the data unrecoverable and FAILS the job —
a documented Spark caveat. At 100 TB that is a
correctness-of-operation risk, not a perf nit.

:func:`eager_truncate` picks the safe tool per deployment: when the
SparkContext has a checkpoint directory configured
(``sc.setCheckpointDir`` — the operator's declaration that reliable
storage exists), it uses reliable ``checkpoint()`` (blocks in the
checkpoint dir, survive executor loss); otherwise it uses
``localCheckpoint()`` (local mode / ephemeral sessions, where driver
and executor share a process and executor loss IS job loss anyway).
Both forms are eager, truncate lineage, and return identical rows —
pinned by tests/test_contract.py::test_eager_truncate_modes_identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def eager_truncate(df: DataFrame) -> DataFrame:
    """Materialize ``df`` eagerly and truncate its lineage.

    Reliable ``checkpoint()`` when a checkpoint dir is configured,
    ``localCheckpoint()`` otherwise (see module docstring for the
    executor-loss trade). Blocks are released by the registry
    wrapper's unpersist sweep (localCheckpoint) or live in the
    checkpoint dir under the cluster's retention policy (reliable).
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint()
