"""Cache-materialization discipline shared across the operator tier.

The caching rule: a subtree shared by several plan branches is
persisted and filled by its first consumer, and a metadata-scale
relation that more than one action or loop iteration reads is
checkpointed with ``localCheckpoint``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def eager_fill(df: DataFrame) -> DataFrame:
    """Materialize a lazily-persisted relation NOW (one ``count`` job),
    the exception to filling by first consumer. Use it only where the
    fill itself is the contract:

    * range-sampled repartitions: one fill pins one sampling run, so two
      branches can never see different split points (the pack_bins
      retry hazard);
    * a relation a streaming query re-reads every micro-batch;
    * a fill that an interleaved A/B measured as a win.

    Evidence behind the rule: the r10 profile caught AQE broadcast
    threads racing a cold cache, with duplicate 20–100 CPU-s stages
    re-running the identical MinHash/verify subtree side by side. The
    r11 quiet-host A/Bs (wall min-of-5 plus executor CPU, commit
    7d61777) found no such duplicate at the eleven fill sites it
    removed — AQE shuffle-stage reuse and per-block cache locking
    already share the subtree — and the dedicated fill job cost
    0.1–0.6 s of wall each (7 CPU-s added on the MinHash recall eval),
    so those fills were dropped. Duplicate evaluation under busy executors at larger scale
    was not re-measured after that change.
    """
    df.count()
    return df
