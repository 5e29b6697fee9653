"""Incremental view maintenance (IVM) over the lake's row-level change
feed (``sources.lakelog.merge_apply_cdc`` / ``read_row_changes``).

The maintained view here is the classic self-maintainable family:
GROUP BY with COUNT / SUM (and anything derivable from them — AVG,
presence). These aggregates are ABELIAN-GROUP-valued: every change-feed
row contributes a signed delta (+row for ``insert`` /
``update_postimage``, −row for ``update_preimage`` / ``delete``), so
maintaining the view is

    view ⊕ Σ signed-delta(changes)

— O(changed rows) per commit, never O(table). At 100 TB that is the
difference between a dashboard refresh that reads a commit's change
dir and one that re-aggregates the corpus. (MIN/MAX are deliberately
NOT offered: they are not group-valued — a delete of the current min
needs a rescan — which is exactly the boundary real IVM systems draw.)

Determinism: sums accumulate in DECIMAL (exact, order-independent) and
convert to double once at read-out, per the engine-wide float rule.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_POS = ("insert", "update_postimage")
_NEG = ("update_preimage", "delete")


def delta_aggregate(
    changes: DataFrame, group_cols: Sequence[str], sum_cols: Sequence[str] = ()
) -> DataFrame:
    """One commit range's signed partial aggregate:
    (group_cols..., n_rows, sum_<c>...) where every feed row counts
    +1/−1 by ``_change_type`` and each ``sum_cols`` entry accumulates
    the signed DECIMAL value. Map-side combinable like any sum."""
    sign = (
        F.when(F.col("_change_type").isin(*_POS), F.lit(1))
        .when(F.col("_change_type").isin(*_NEG), F.lit(-1))
        # an unknown type must fail the job, not silently skip the row
        .otherwise(
            F.raise_error(
                F.concat(F.lit("unknown _change_type: "), F.col("_change_type"))
            )
        )
    )
    aggs = [F.sum(sign).alias("n_rows")]
    for c in sum_cols:
        aggs.append(
            F.sum(sign.cast("decimal(18,2)") * F.col(c).cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias(f"sum_{c}")
        )
    return changes.groupBy(*group_cols).agg(*aggs)


def ivm_merge(
    view: DataFrame | None,
    delta: DataFrame,
    group_cols: Sequence[str],
) -> DataFrame:
    """Fold one signed delta into the maintained view (``None`` for the
    empty view). Groups whose maintained count reaches 0 are REMOVED —
    a group with no surviving rows must disappear exactly as it would
    from a recompute. Outer-merge on the group key: delta-sized
    shuffle, never table-sized."""
    if view is None:
        merged = delta
    else:
        gl = list(group_cols)
        measure_cols = [c for c in view.columns if c not in gl]
        v = view.select(*gl, F.struct(*measure_cols).alias("__v"))
        d = delta.select(*gl, F.struct(*measure_cols).alias("__d"))
        both = v.join(d, gl, "full")
        merged = both.select(
            *gl,
            *[
                (
                    F.coalesce(F.col(f"__v.{c}"), F.lit(0))
                    + F.coalesce(F.col(f"__d.{c}"), F.lit(0))
                ).alias(c)
                for c in measure_cols
            ],
        )
    return merged.filter(F.col("n_rows") != 0)
