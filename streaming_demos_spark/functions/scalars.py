"""Scalar-function catalog (SURVEY.md §2.8).

Column-expression helpers covering the reference's string / date-time /
math / conditional / JSON scalar surface. All JVM-side built-ins —
whole-stage-codegen-friendly, zero Python in the data path.

Citations into /root/reference:
- title_case:          product-demos/streamlit/utils.py:106 (replace('_',' ').title())
- sigmoid:             product-recommender/recsys-engine/src/bandit_simulator.py:82
- time-of-day buckets: bandit_simulator.py:36-47
- null_safe defaults:  orders-stats-streams/.../StreamsApp.kt:132-135 (?: "UNKNOWN")
- status timestamps:   cdc-local/src/models.py:171-198
- uri templating:      cdc-local/src/utils.py:236-242
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_us(col: Column | str) -> Column:
    """Epoch microseconds of the WALL CLOCK from TIMESTAMP or
    TIMESTAMP_NTZ — session-timezone-proof.

    Spark 4 reads parquet TIMESTAMP(NANOS) (the driver's ``events.ts``)
    as TIMESTAMP_NTZ, which ``unix_micros`` / ``cast('long')`` reject.
    The obvious bridge ``unix_micros(to_utc_timestamp(x, 'UTC'))`` is
    only correct under a UTC session: the implicit NTZ→TIMESTAMP cast
    goes through the SESSION zone, so a non-UTC harness shifts every
    epoch (and every derived bucket) by the zone offset. Wall-clock
    difference between two NTZ values is pure calendar arithmetic with
    no zone anywhere: ``timestamp_diff(MICROSECOND, NTZ epoch, x)`` —
    identical under UTC, Seoul, and New York for both input types, and
    matching DuckDB's ``epoch_us(CAST(ts AS TIMESTAMP))`` on the same
    naive value."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        c.cast("timestamp_ntz"),
    )


def epoch_sec(col: Column | str) -> Column:
    """Epoch seconds (truncating) from TIMESTAMP or TIMESTAMP_NTZ —
    the NTZ-safe replacement for ``ts.cast('long')``."""
    return F.floor(epoch_us(col) / F.lit(1000000)).cast("long")


def title_case(col: Column | str) -> Column:
    """``replace('_', ' ').title()`` — chart-title formatting."""
    return F.initcap(F.regexp_replace(F.col(col) if isinstance(col, str) else col, "_", " "))


def sigmoid(col: Column | str) -> Column:
    """1 / (1 + exp(-x)) — the simulator's click-probability squash."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-c))


def round_dp(x: Column, dp: int) -> Column:
    """Spark's HALF_UP ``round`` of a DOUBLE that keeps the sign of a
    zero result. Spark rounds through BigDecimal, which has no negative
    zero: ``round(-1e-9, 6)`` is 0.0 where DuckDB gives -0.0, and the
    two engines' rows then hash apart. ``x * 0.0`` is the zero with
    x's sign."""
    r = F.round(x, dp)
    return F.when(r == 0, x * F.lit(0.0)).otherwise(r)


def null_safe(col: Column | str, default) -> Column:
    """``value ?: default`` Kotlin elvis — null-safe extraction."""
    return F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(default))


def bucket_time_of_day(ts_col: Column | str):
    """Morning/afternoon/evening + weekend flags from a timestamp
    (bandit_simulator.py:36-47). Weekend = Saturday/Sunday; expressed
    via dayofweek (Spark: 1=Sunday..7=Saturday)."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    hour = F.hour(c)
    dow = F.dayofweek(c)
    return {
        "is_morning": ((hour >= 6) & (hour < 12)).cast("int"),
        "is_afternoon": ((hour >= 12) & (hour < 18)).cast("int"),
        "is_evening": ((hour >= 18) | (hour < 6)).cast("int"),
        "is_weekend": ((dow == 1) | (dow == 7)).cast("int"),
        "is_weekday": ((dow >= 2) & (dow <= 6)).cast("int"),
    }


def status_timestamps(status_col: Column | str, created_col: Column | str):
    """Status-dependent lifecycle timestamps (models.py:171-198):
    Returned => shipped+delivered+returned set; Complete => shipped+
    delivered; Shipped => shipped only; else all NULL. Offsets are
    deterministic (the reference draws random deltas; the engine takes
    fixed ones so results are oracle-checkable)."""
    s = F.col(status_col) if isinstance(status_col, str) else status_col
    c = F.col(created_col) if isinstance(created_col, str) else created_col
    shipped = c + F.expr("INTERVAL 1 DAY")
    delivered = c + F.expr("INTERVAL 3 DAYS")
    returned = c + F.expr("INTERVAL 7 DAYS")
    was_shipped = s.isin("Shipped", "Complete", "Returned")
    was_delivered = s.isin("Complete", "Returned")
    return {
        "shipped_at": F.when(was_shipped, shipped),
        "delivered_at": F.when(was_delivered, delivered),
        "returned_at": F.when(s == "Returned", returned),
    }


def product_uri(name_col: Column | str, product_id_col: Column | str) -> Column:
    """``/product/{lower(name).replace(' ','')}`` URI templating
    (cdc-local/src/utils.py:236-242)."""
    n = F.col(name_col) if isinstance(name_col, str) else name_col
    return F.concat(
        F.lit("/product/"),
        F.regexp_replace(F.lower(n), r"\s+", ""),
        F.lit("-"),
        (F.col(product_id_col) if isinstance(product_id_col, str) else product_id_col).cast(
            "string"
        ),
    )
