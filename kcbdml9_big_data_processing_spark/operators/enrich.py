"""Fact x dimension enrichment join.

J1 in SURVEY.md §2.5 (batch/BatchJobImpl.scala:40-44): inner equi-join
of the device fact stream with the user_metadata dimension, dropping
the duplicate key.

Scale: by default we do NOT hint a join strategy; the planner works
from size estimates. A file-backed dimension under
``spark.sql.autoBroadcastJoinThreshold`` is broadcast; a larger one
gets sort-merge / shuffled-hash, which AQE may still turn into a
broadcast once the shuffle's runtime sizes are known. A JDBC dimension
has NO size statistics, so Catalyst broadcasts the other side instead:
in the batch layer the fact hour (``BroadcastHashJoin ... BuildLeft``
whenever the hour is under the threshold), and the join then runs as
one task over the dimension's single JDBC partition. A forced
``F.broadcast`` on a table that merely *looks* dimensional (e.g.
customer) is an executor OOM at 100×, so the hint is opt-in: pass
``broadcast_dim=True`` only for provably-bounded dims (the reference's
20-row user_metadata class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
    how: str = "inner",
    broadcast_dim: bool = False,
) -> DataFrame:
    """Join ``fact`` with ``dim`` on fact_key == dim_key, keeping one
    key column (the fact's)."""
    dim_key = dim_key if dim_key is not None else fact_key
    right = F.broadcast(dim) if broadcast_dim else dim
    joined = fact.join(right, fact[fact_key] == dim[dim_key], how)
    return joined.drop(dim[dim_key])
