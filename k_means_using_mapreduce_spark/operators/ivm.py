"""Incremental view maintenance for self-maintainable aggregates.

The batch twin of streaming/changefeed.py: a changefeed (or
``diff.snapshot_diff``) emits inserts and deletes; this module folds
them into an EXISTING grouped aggregate without rescanning the base
relation — the classic delta rule for distributive aggregates
(SUM/COUNT, with AVG = SUM/COUNT derived):

    agg(T ⊎ Δ⁺ ∖ Δ⁻)  =  merge(agg(T), +agg(Δ⁺) − agg(Δ⁻))

At 100 TB this is the difference between rescanning the world and a
shuffle of ``|changed groups|`` rows: ``delta_aggregate`` reduces the
(small) change set, ``merge_aggregate`` unions the two aggregate
relations and re-groups — ONE small-key shuffle, no join, no base
scan. Groups whose maintained count reaches zero are dropped, so the
maintained view is exactly what a full recompute over the new state
would produce (the contract pins this equivalence against a
recompute oracle).

Exactness note: with floating-point measures, a fully-deleted group
may leave a ~1 ulp residue in its sum before the count-zero filter
removes it; for money columns pre-cast to DECIMAL the maintenance is
bit-exact (the contract does exactly that, tpch_queries._dec_sum
style).

Reference scope note: the reference engine (master.py:27-150) is
K-Means only; IVM is extension scope per the build brief.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

INSERT_OP = "i"
DELETE_OP = "d"


def delta_aggregate(
    changes: DataFrame,
    keys: Sequence[str],
    value_col: str,
    *,
    op_col: str = "op",
    strict: bool = True,
) -> DataFrame:
    """Signed partial aggregate of a change set.

    ``changes`` rows carry ``op_col`` ∈ {'i', 'd'}; inserts
    contribute ``(+1, +v)``, deletes ``(−1, −v)``. Returns
    ``(keys..., n, sum_v)`` with possibly-negative entries — the
    delta relation ``merge_aggregate`` consumes. ``strict`` (default)
    spends one extra pass over the CHANGE SET (small by definition)
    to reject unknown op codes instead of silently dropping them.
    """
    op = F.col(op_col)
    if strict:
        # isEmpty, not limit(1).count(): one job instead of two, and a
        # plan whose generated code is the same on every call (a limit
        # names its counter by a global id, so it never hits the cache)
        if not changes.where(~op.isin(INSERT_OP, DELETE_OP)).isEmpty():
            raise ValueError(
                f"change set contains op codes outside "
                f"{{{INSERT_OP!r}, {DELETE_OP!r}}}"
            )
    sign = F.when(op == INSERT_OP, 1).otherwise(-1)
    v = F.col(value_col)
    return (
        changes.groupBy(*[F.col(c) for c in keys])
        .agg(
            F.sum(sign).cast("long").alias("n"),
            F.sum(sign * v).alias("sum_v"),
        )
    )


def merge_aggregate(
    base_agg: DataFrame,
    delta_agg: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Folds a signed delta into a base aggregate: union the two
    ``(keys..., n, sum_v)`` relations and re-group — one shuffle on
    the group key, with groups maintained down to zero count removed.
    Raises no error on a count that would go negative (an
    inconsistent change set); such groups are dropped by the same
    ``n > 0`` filter, keeping the operator total."""
    cols = [*keys, "n", "sum_v"]
    both = base_agg.select(*cols).unionAll(delta_agg.select(*cols))
    return (
        both.groupBy(*[F.col(c) for c in keys])
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_v").alias("sum_v"),
        )
        .where(F.col("n") > 0)
    )


def maintain_aggregate(
    base_agg: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    value_col: str,
    *,
    op_col: str = "op",
    strict: bool = True,
) -> DataFrame:
    """``merge_aggregate(base, delta_aggregate(changes))`` — the
    one-call path from (existing view, changefeed batch) to the
    maintained view."""
    return merge_aggregate(
        base_agg,
        delta_aggregate(
            changes, keys, value_col, op_col=op_col, strict=strict
        ),
        keys,
    )
