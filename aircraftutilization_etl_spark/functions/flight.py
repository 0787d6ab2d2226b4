"""Flight decision kernels as native Column expressions.

The reference implements these as per-row Python ``apply(axis=1)`` kernels
(src/plugins/scripts/complete_flights/transformers.py:37-81,136-143) —
an interpreted per-row loop that is its dominant cost at scale. Here each
kernel is a single ``when()`` chain over the source-schema columns:
whole-stage-codegen'd, vectorized, zero Python on the hot path
(SURVEY.md §2.7, §4.3).

Null semantics are matched deliberately (SURVEY.md §4.4.2): a SQL-null
comparison yields null, which ``when`` treats as false — the same outcome
as the pandas scalar comparisons (``np.nan > 0 == False``) and the
explicit ``pd.isna`` checks, which we translate to ``isNull()``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def is_takeoff_expr() -> Column:
    """Takeoff predicate.

    Reference ``_is_takeoff`` (complete_flights/transformers.py:37-42):
    first contact this cycle AND climbing.
    """
    return (F.col("is_first_contact") == F.lit(True)) & (F.col("vertical_rate") > 0)


def is_landing_expr() -> Column:
    """Landing predicate.

    Reference ``_is_landing`` (complete_flights/transformers.py:44-63):
    seen this batch (last_contact != 0), level-or-unknown vertical rate,
    and either (descending AND slow) or stopped/unknown velocity.
    ``pd.isna`` checks become ``isNull()``.
    """
    vr = F.col("vertical_rate")
    vel = F.col("velocity")
    return (
        (F.col("last_contact") != 0)
        & ((vr == 0) | vr.isNull())
        & (
            ((F.col("flight_trajectory") == "descend") & (vel < 10))
            | (vel == 0)
            | vel.isNull()
        )
    )


def flight_status_expr() -> Column:
    """U1 — status classification in {takeoff, landing, other}.

    Reference ``_determine_flight_status``
    (complete_flights/transformers.py:65-71): takeoff wins over landing,
    everything else is 'other'.
    """
    return (
        F.when(is_takeoff_expr(), F.lit("takeoff"))
        .when(is_landing_expr(), F.lit("landing"))
        .otherwise(F.lit("other"))
    )


def flight_trajectory_expr() -> Column:
    """U2 — trajectory in {climb, descend, other}; descend is sticky.

    Reference ``_determine_flight_trajectory``
    (complete_flights/transformers.py:73-81). A null vertical_rate fails
    both comparisons and falls to 'other' unless the prior trajectory was
    'descend' — identical to the pandas NaN behaviour.
    """
    vr = F.col("vertical_rate")
    return (
        F.when(vr > 0, F.lit("climb"))
        .when((vr < 0) | (F.col("flight_trajectory") == "descend"), F.lit("descend"))
        .otherwise(F.lit("other"))
    )


def flight_duration_minutes_expr() -> Column:
    """U3 — flight duration: ceil((last_contact − takeoff_at) / 60) minutes.

    Reference ``get_flight_duration_minutes``
    (complete_flights/transformers.py:136-143).
    """
    return F.ceil(
        (F.col("last_contact") - F.col("takeoff_at")) / F.lit(60.0)
    ).cast("int")
