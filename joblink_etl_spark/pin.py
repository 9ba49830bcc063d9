"""One primitive for every lineage pin in the package.

A pin is ``DataFrame.localCheckpoint``: it materializes its input to
executor-LOCAL block storage and severs the lineage above it. Two
things use that: plans that reference an expensive relation more than
once (the pin computes it once and keeps Catalyst's plan flat across
iterations), and the drain loop, whose side-effecting fetch and LLM
UDFs must fire exactly once per cycle.

Fault-tolerance tradeoff, stated once for every caller: with lineage
gone, losing an executor that holds pinned blocks fails the job
instead of recomputing, and the pinned blocks must fit local storage.
That is fine on ``local[n]``, for short jobs, and for relations far
smaller than the corpus; for long jobs on preemptible executors the
lineage-recoverable spellings are reliable checkpointing
(``sc.setCheckpointDir`` + ``.checkpoint()``) or an owner-managed
persist/unpersist.

Every pin therefore declares its scale where it is made:

- ``"bounded"``: k rows, a vocabulary, centroids, one fetch batch;
- ``"candidate"``: candidate-pair graphs, cut lists, fingerprints —
  far smaller than the corpus and cheap to re-derive;
- ``"corpus"``: one row per corpus row or more. Such a pin passes
  exactly one of ``enabled`` (the caller's opt-out flag, which
  defaults to True; False keeps the lineage-recoverable plan) or
  ``reason`` (why recomputation would be wrong, so the pin is
  mandatory).

``tests/test_pin_census.py`` counts the pins per function and scale.

A pin also drops the constraints Catalyst derives for the pinned plan
(its inferred ``isnotnull`` and equality predicates). Spark's
``localCheckpoint`` hands that whole derived set to the pinned
relation, and on a wide plan (the drain's decide tree) deriving it
cost several times the pin's own job. ``pin()`` therefore optimizes
its input first, under the caller's setting, so that the pinned plan
keeps its own inferred filters, and then checkpoints with
``spark.sql.constraintPropagation.enabled`` off, restoring the
caller's value afterwards. Plans over a pin see no constraints from
below it: they infer no filters from them, and keep filters those
constraints implied (an ``isnotnull`` on a pinned column; the rows are
the same). The setting is toggled on the session, so concurrent
queries on one session must not pin at the same time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

SCALES = ("bounded", "candidate", "corpus")
CONSTRAINTS_KEY = "spark.sql.constraintPropagation.enabled"


def pin(
    df: DataFrame,
    scale: str,
    *,
    eager: bool = False,
    enabled: bool | None = None,
    reason: str | None = None,
) -> DataFrame:
    """``df.localCheckpoint(eager=eager)``, or ``df`` itself when
    ``enabled`` is False. Runs no action of its own: a lazy pin
    materializes with the first action over it."""
    if scale not in SCALES:
        raise ValueError(f"pin scale must be one of {SCALES}, got {scale!r}")
    declared = (enabled is not None) + (reason is not None)
    if declared != (scale == "corpus"):
        raise ValueError(
            "a corpus-scale pin passes exactly one of enabled= / reason=; "
            f"a {scale}-scale pin passes neither"
        )
    if enabled is not None and not enabled:
        return df
    # optimized under the caller's setting: the pinned plan keeps its
    # inferred filters
    df._jdf.queryExecution().optimizedPlan()
    conf = df.sparkSession.conf
    caller = conf.getAll.get(CONSTRAINTS_KEY)
    conf.set(CONSTRAINTS_KEY, "false")
    try:
        # looked up per call, so a class-level wrapper (perfbench/trace.py)
        # sees every pin
        return df.localCheckpoint(eager=eager)
    finally:
        if caller is None:
            conf.unset(CONSTRAINTS_KEY)
        else:
            conf.set(CONSTRAINTS_KEY, caller)
