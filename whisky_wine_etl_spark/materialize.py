"""Materialization policy for multi-consumer intermediate frames.

The engine materializes a frame exactly when ≥2 downstream consumers
would otherwise re-run an expensive subtree (guide §2.4/§5 — every
call site carries its own A/B evidence). HOW to materialize is a
deployment decision, not a query decision (VERDICT r12 item 6):

- ``localCheckpoint`` (the default here, right for the bench box and
  for any frame that is PROVABLY small — frontiers, k·d model cells,
  node-scale labels): blocks live unreplicated on executors and the
  lineage is truncated, so on a multi-node cluster ONE executor loss
  kills the job unrecoverably, and the frame must fit executor
  memory+disk.
- ``persist`` (StorageLevel.MEMORY_AND_DISK): keeps the lineage, so a
  lost block is recomputed instead of failing the job — the guide-§5
  posture for FACT-SCALE frames (shingle/edge/chunk frames that grow
  with the input) at the 100 TB design point. Costs re-optimization of
  the longer plan and recompute-on-eviction.

``SPARK_GRAFT_MATERIALIZE`` selects the tier for the fact-scale call
sites (``fact_scale=True``); provably-small frames always use
localCheckpoint — replicating a 4 KB frontier to durable storage buys
nothing. The default keeps the bench's measured posture byte-for-byte.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_VALID = ("localCheckpoint", "persist")


def materialize(df: DataFrame, *, eager: bool = False, fact_scale: bool = False) -> DataFrame:
    """Materialize a multi-consumer frame per the deployment policy.

    eager=False rides the caller's next action (r13 job folding);
    fact_scale=True marks frames that grow with the input table —
    only these honor SPARK_GRAFT_MATERIALIZE (see module docstring).
    """
    mode = os.environ.get("SPARK_GRAFT_MATERIALIZE", "localCheckpoint")
    if mode not in _VALID:
        raise ValueError(
            f"SPARK_GRAFT_MATERIALIZE={mode!r}; expected one of {_VALID}"
        )
    if not fact_scale or mode == "localCheckpoint":
        return df.localCheckpoint(eager=eager)
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    if eager:
        out.count()
    return out
