"""Incremental view maintenance for additive rollups.

A 100 TB fact table with a maintained daily/group rollup should not
re-aggregate the world after a sync that touched 0.1% of rows. For
additive aggregates (SUM, COUNT — and means derivable from them), the
diff triple IS the delta stream:

- insert  → +value, +1 row to its group
- delete  → -value, -1 row from its group
- update  → two deltas: -(before value) from the BEFORE group and
  +(after value) to the AFTER group — so rows that *move between
  groups* (a group-key column changed) maintain both sides correctly.

``new_state = state ⟗ group_deltas`` is one shuffle over the DELTA
(diff-sized, not fact-sized) plus a join against the state table —
the fact table is never re-scanned. Groups whose row count reaches
zero are dropped, groups first seen in the delta are created.

Every maintained view here — the SUM/COUNT rollup, the min/max
rollup and the affected-key scopes of the join view and the bucketed
rollup — reads its delta from the diff's one classified frame
(``DiffResult.changes``) through one kernel, :func:`_signed_images`,
so each use runs one classification join, not one per leg. A caller
that only maintains views can pass
``DiffResult.of_changes(diff_changes(..., payload=[...]))`` with just
the columns the view reads, so that join's exchange carries the key,
the fingerprint and those columns only.

Exactness: values are summed as DECIMAL (same contract as the rest of
the engine — see contract.py's money-math rule), so maintained state
is bit-identical to a full recompute, which is exactly what the
``incremental_rollup`` contract query's oracle checks. That includes
SQL NULL-sum semantics: the state tracks the count of NON-NULL values
(``n_vals``) so a group holding only NULL values yields ``sum_val``
NULL — exactly what ``SUM`` over that group recomputes — instead of
the 0 a bare coalesce would fabricate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mydatasyncer_spark.operators.diff import (
    AFTER_COL,
    BEFORE_COL,
    KIND_COL,
    DiffResult,
)

_SUM = "sum_val"
_CNT = "n_rows"
_NNV = "n_vals"
_SIGN = "_sign"


def _signed_images(diff: DiffResult, cols: list[str]) -> DataFrame:
    """Every changed row of ``diff.changes`` as its signed images —
    the one delta derivation of every maintained view here. An
    insert is ``(+1, _after)``, a delete ``(-1, _before)``, an update
    both. Returns ``(_sign, cols...)``; only ``cols`` ride the
    explode, so a wide diff costs no more than a narrow-payload one.

    Each leg of a :meth:`DiffResult.of_changes` triple is a projection
    of the same frame, so the images are exactly the rows a union of
    the legs would see, duplicate and NULL keys included — from one
    classification join instead of one per leg."""
    if diff.changes is None:
        raise ValueError("IVM needs a DiffResult with its classified changes")
    cols = list(dict.fromkeys(cols))

    def image(sign: int, side: str) -> Column:
        return F.struct(
            F.lit(sign).alias(_SIGN),
            *[F.col(f"{side}.{c}").alias(c) for c in cols],
        )

    plus, minus = image(1, AFTER_COL), image(-1, BEFORE_COL)
    k = F.col(KIND_COL)
    return diff.changes.select(
        F.explode(
            F.when(k == "insert", F.array(plus))
            .when(k == "delete", F.array(minus))
            .otherwise(F.array(plus, minus))
        ).alias("_i")
    ).select("_i.*")


def rollup_state(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    precision: int = 18,
    scale: int = 2,
) -> DataFrame:
    """The full-recompute form of the maintained state:
    (group_cols..., sum_val DECIMAL, n_rows BIGINT, n_vals BIGINT).
    Run once to bootstrap; afterwards :func:`maintain_rollup` keeps it
    fresh from diffs."""
    return df.groupBy(*group_cols).agg(
        F.sum(F.col(value_col).cast(f"decimal({precision},{scale})")).alias(
            _SUM
        ),
        F.count(F.lit(1)).alias(_CNT),
        F.count(F.col(value_col)).alias(_NNV),
    )


def maintain_rollup(
    state_df: DataFrame,
    diff: DiffResult,
    group_cols: list[str],
    value_col: str,
    precision: int = 18,
    scale: int = 2,
) -> DataFrame:
    """Apply a diff's deltas to a rollup state (see module docstring).

    ``state_df`` must have the :func:`rollup_state` schema. Returns
    the new state with the same schema; groups with zero remaining
    rows are dropped. Cost: the diff's one classification join, then
    one aggregation + one full-outer join, both sized by the DIFF,
    never by the fact table.
    """
    dec = f"decimal({precision},{scale})"
    img = _signed_images(diff, [*group_cols, value_col])
    sign, v = F.col(_SIGN), F.col(value_col)
    deltas = img.select(
        *group_cols,
        (sign * v.cast(dec)).alias("_dv"),
        sign.cast("bigint").alias("_dn"),
        F.when(v.isNull(), F.lit(0))
        .otherwise(sign)
        .cast("bigint")
        .alias("_dz"),
    )
    return _merge_rollup_deltas(state_df, deltas, group_cols, dec)


def _merge_rollup_deltas(
    state_df: DataFrame,
    deltas: DataFrame,
    group_cols: list[str],
    dec: str,
) -> DataFrame:
    """Fold per-row signed deltas ``(group_cols..., _dv, _dn, _dz)``
    into a :func:`rollup_state`-shaped state (the tail of
    :func:`maintain_rollup`)."""
    grouped = deltas.groupBy(*group_cols).agg(
        F.sum("_dv").alias("_dv"),
        F.sum("_dn").alias("_dn"),
        F.sum("_dz").alias("_dz"),
    )
    # null-SAFE join keys: a plain `on=group_cols` treats NULL group
    # values as non-matching, splitting a NULL group into a stale
    # state row plus an unmerged delta row (groupBy treats NULL as a
    # regular group, the join must too)
    cond = None
    for c in group_cols:
        e = F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}"))
        cond = e if cond is None else cond & e
    joined = state_df.alias("s").join(
        grouped.alias("d"), on=cond, how="full_outer"
    )
    zero = F.lit(0).cast(dec)
    new_nnv = (
        F.coalesce(F.col(f"s.{_NNV}"), F.lit(0))
        + F.coalesce(F.col("d._dz"), F.lit(0))
    ).cast("bigint")
    return joined.select(
        *[
            F.coalesce(F.col(f"s.{c}"), F.col(f"d.{c}")).alias(c)
            for c in group_cols
        ],
        # SQL SUM semantics: no non-null values left -> NULL, not 0
        F.when(
            new_nnv > 0,
            (
                F.coalesce(F.col(f"s.{_SUM}"), zero)
                + F.coalesce(F.col("d._dv"), zero)
            ).cast(dec),
        )
        .otherwise(F.lit(None).cast(dec))
        .alias(_SUM),
        (
            F.coalesce(F.col(f"s.{_CNT}"), F.lit(0))
            + F.coalesce(F.col("d._dn"), F.lit(0))
        )
        .cast("bigint")
        .alias(_CNT),
        new_nnv.alias(_NNV),
    ).filter(F.col(_CNT) > 0)


_MIN = "min_val"
_MAX = "max_val"


def rollup_state_minmax(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Full-recompute form of the min/max rollup state:
    (group_cols..., min_val, max_val, n_rows BIGINT)."""
    return df.groupBy(*group_cols).agg(
        F.min(value_col).alias(_MIN),
        F.max(value_col).alias(_MAX),
        F.count(F.lit(1)).alias(_CNT),
    )


def _minmax_merge(
    state_df: DataFrame,
    diff: DiffResult,
    group_cols: list[str],
    value_col: str,
) -> tuple[DataFrame, Column]:
    """The min/max state full-outer-joined (null-safe on the group
    keys) to one aggregate of the diff's signed images per group —
    add min/max/count, removal count, and the removal value envelope
    — plus the one damage rule over it.

    A group is damaged iff some non-null removed value hits a stored
    bound, i.e. iff ``min(removed) <= stored_min OR max(removed) >=
    stored_max`` (the exists-quantifier collapsed to the envelope).
    NULL-safe by construction: a group with no state row, or whose
    removals are all NULL values, compares NULL -> not damaged."""
    img = _signed_images(diff, [*group_cols, value_col])
    is_add, v = F.col(_SIGN) > 0, F.col(value_col)
    g = img.groupBy(*group_cols).agg(
        F.min(F.when(is_add, v)).alias("_add_min"),
        F.max(F.when(is_add, v)).alias("_add_max"),
        F.sum(F.when(is_add, 1).otherwise(0)).cast("bigint").alias("_add_n"),
        F.sum(F.when(~is_add, 1).otherwise(0))
        .cast("bigint")
        .alias("_rem_n"),
        F.min(F.when(~is_add, v)).alias("_rem_vmin"),
        F.max(F.when(~is_add, v)).alias("_rem_vmax"),
    )
    cond = None
    for c in group_cols:
        e = F.col(f"s.{c}").eqNullSafe(F.col(f"g.{c}"))
        cond = e if cond is None else cond & e
    merged = state_df.alias("s").join(g.alias("g"), on=cond, how="full_outer")
    is_damaged = F.coalesce(
        (F.col("_rem_vmin") <= F.col(f"s.{_MIN}"))
        | (F.col("_rem_vmax") >= F.col(f"s.{_MAX}")),
        F.lit(False),
    )
    return merged, is_damaged


def damaged_groups(
    state_df: DataFrame,
    diff: DiffResult,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Groups whose stored extremum may have been REMOVED by the diff.

    MIN/MAX are not invertible: inserts only ever improve them
    monotonically, but deleting (or updating away) a row carrying the
    group's current extremum invalidates the stored value. A removed
    value strictly inside the (min, max) interval is provably
    harmless; one equal to either bound marks the group damaged.
    Returns the distinct damaged group keys — the ONLY groups whose
    rows the repair pass re-aggregates.
    """
    merged, is_damaged = _minmax_merge(state_df, diff, group_cols, value_col)
    return merged.filter(is_damaged).select(
        *[F.col(f"s.{c}").alias(c) for c in group_cols]
    )


def maintain_rollup_minmax(
    state_df: DataFrame,
    diff: DiffResult,
    new_fact_df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Maintain a min/max rollup from a diff, with group-targeted
    repair for the non-invertible cases.

    One aggregation of the diff's signed images and one null-safe
    full-outer join against the state (:func:`_minmax_merge`) both
    merge the monotone path and detect damage:

    1. **monotone pass** — inserts and update-AFTER values can only
       improve min/max; undamaged groups get ``least/greatest(state,
       added)`` plus the net row count, no fact access.
    2. **repair pass** — damaged groups (removals that hit a bound,
       see :func:`damaged_groups`) are re-aggregated from
       ``new_fact_df`` via a left-semi join on the damaged keys: cost
       ∝ rows of damaged groups, and with the fact stored
       partitioned/bucketed on the group key the semi join prunes at
       the scan. The 100 TB daily shape: a few groups repair, the
       rest never read the fact.
    3. groups whose net row count reaches zero drop out (the repair
       pass naturally emits nothing for them).

    Result is bit-identical to :func:`rollup_state_minmax` over the
    new fact (pinned by tests and the contract oracle).
    """
    merged, is_damaged = _minmax_merge(state_df, diff, group_cols, value_col)
    maintained = (
        merged.filter(~is_damaged)
        .select(
            *[
                F.coalesce(F.col(f"s.{c}"), F.col(f"g.{c}")).alias(c)
                for c in group_cols
            ],
            F.least(F.col(f"s.{_MIN}"), F.col("_add_min")).alias(_MIN),
            F.greatest(F.col(f"s.{_MAX}"), F.col("_add_max")).alias(_MAX),
            (
                F.coalesce(F.col(f"s.{_CNT}"), F.lit(0))
                + F.coalesce(F.col("_add_n"), F.lit(0))
                - F.coalesce(F.col("_rem_n"), F.lit(0))
            )
            .cast("bigint")
            .alias(_CNT),
        )
        .filter(F.col(_CNT) > 0)
    )
    damaged = merged.filter(is_damaged).select(
        *[F.col(f"s.{c}").alias(c) for c in group_cols]
    )
    fact_cond = None
    f = new_fact_df.alias("f")
    d2 = damaged.alias("d")
    for c in group_cols:
        e = F.col(f"f.{c}").eqNullSafe(F.col(f"d.{c}"))
        fact_cond = e if fact_cond is None else fact_cond & e
    repaired = rollup_state_minmax(
        f.join(d2, on=fact_cond, how="left_semi"), group_cols, value_col
    )
    return maintained.unionByName(repaired)


# --- maintained equi-join views -------------------------------------


def affected_rollup_groups(
    diff: DiffResult, group_cols: list[str]
) -> DataFrame:
    """The group values whose rollup rows a diff invalidates — the
    rollup twin of :func:`affected_join_keys`, feeding the BUCKETED
    streaming layout's recompute scope. An updated row contributes
    both its after- and before-group (a row that moved between groups
    dirties the group it left as well as the one it joined); inserts
    contribute their group, deletes the group of the removed db-side
    row. Delta-sized; NULL group values are regular groups here, as
    everywhere in the rollup family."""
    return _signed_images(diff, group_cols).select(*group_cols).distinct()


def join_view_state(
    left: DataFrame, right: DataFrame, join_key: str, how: str = "inner"
) -> DataFrame:
    """Full-recompute bootstrap of a maintained equi-join view
    (``left ⋈ right`` on ``join_key``; ``inner`` or ``left``). Run
    once; afterwards :func:`maintain_join_view` keeps it fresh from
    diffs."""
    return left.join(right, join_key, how)


def affected_join_keys(diff: DiffResult, join_key: str) -> DataFrame:
    """The join-key values whose view rows a diff invalidates — the
    delta-sized repair scope of :func:`maintain_join_view`.

    An updated row contributes BOTH its after-value and its
    before-value of ``join_key`` (a row that moved between join
    groups invalidates the group it left as well as the one it
    joined); inserts contribute their new key, deletes the key of
    the removed db-side row — NULL keys included. Read off the
    diff's classified frame, no snapshot re-scan."""
    return _signed_images(diff, [join_key]).select(join_key).distinct()


def maintain_join_view(
    state: DataFrame,
    left_new: DataFrame,
    right_new: DataFrame,
    join_key: str,
    affected_keys: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Incrementally maintained equi-join view (``inner`` or
    ``left``): rows of the materialized ``state`` whose join key is
    affected are dropped and recomputed from the NEW snapshots,
    semi-join pruned to exactly those keys. For a LEFT view the same
    repair is exact: a right-side delete that strands left rows has
    its key in ``affected_keys``, so the group recomputes to the
    null-padded form.

    The IVM identity behind it: for an equi join, a changed row can
    only alter view rows sharing its join-key value, so
    ``new_view = state − σ[k ∈ affected] ∪
    (left' ⋉ affected) ⋈ (right' ⋉ affected)``. Exact for duplicate
    join keys on either side (the whole key group is recomputed) and
    for key-moving updates (both groups are in ``affected_keys`` via
    :func:`affected_join_keys`). Changes on BOTH sides compose by
    passing the union of each side's affected keys.

    Scale shape: every leg is an equi/semi/anti join keyed on
    ``join_key`` and sized by the DELTA — AQE broadcasts the affected
    key set when small — and with snapshots stored bucketed on the
    join key the two semi joins prune at the scan, so maintenance
    never re-reads the unaffected bulk. The rollup twin for
    aggregates is :func:`maintain_rollup`; this is the same repair
    pattern applied to the join operator itself.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            "maintain_join_view supports how='inner' or 'left'"
        )
    # null-SAFE repair scope: a plain `on=join_key` never matches a
    # NULL key, which on a `left` view (where NULL-key left rows ARE
    # view rows, null-padded) would keep the stale pre-change row AND
    # drop its recompute — the same discipline maintain_rollup
    # applies to NULL group values above. The final lf⋈rf rejoin
    # stays plain equality on purpose: that IS the view's join
    # semantics (NULL keys never inner-join; a left join null-pads
    # them).
    ak = affected_keys.alias("ak")

    def scoped(df: DataFrame, mode: str) -> DataFrame:
        d = df.alias("d")
        cond = F.col(f"d.{join_key}").eqNullSafe(F.col(f"ak.{join_key}"))
        return d.join(ak, on=cond, how=mode)

    kept = scoped(state, "left_anti")
    lf = scoped(left_new, "left_semi")
    rf = scoped(right_new, "left_semi")
    return kept.unionByName(lf.join(rf, join_key, how))
