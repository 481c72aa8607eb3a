"""Slowly-changing-dimension history and CDC compaction.

The reference keeps mutable annotation/alignment databases current by
rebuilding them (metabase resources are versioned wholesale,
metabase.py:744-816 re-pickles the updated resource under a new
timestamp); a warehouse engine needs the finer-grained equivalents:

- ``scd2_from_changelog``: turn an append-only change log into a
  type-2 dimension history — one row per (key, state run) with
  ``valid_from`` / ``valid_to`` / ``is_current``. Consecutive
  duplicate states collapse (a change log often re-emits the current
  state; SCD2 only versions *changes*).
- ``cdc_compact``: compact a change log to the latest surviving row
  per key, honoring delete tombstones — the materialize step of any
  CDC ingest (Debezium-style upsert/delete streams).

Scale shape: both are single partitioned-window passes over the log —
``partitionBy(key)``, no global sort, no self-join. Skew is bounded
by the busiest key's change count, the same bound any per-key
stateful system carries. At 100 TB the log arrives partitioned by
key-hash and both operators keep that partitioning end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_from_changelog(
    log: DataFrame,
    key: str,
    ts: str,
    state_cols: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Build an SCD2 history from an append-only change log.

    Rows are ordered per ``key`` by ``ts`` (then ``tiebreak`` for
    equal timestamps); consecutive rows whose ``state_cols`` are all
    unchanged collapse into one validity run. Output columns:
    ``key, *state_cols, valid_from, valid_to, is_current`` where
    ``valid_from``/``valid_to`` carry ``ts``'s type, ``valid_to`` is
    null on the open (current) run and ``is_current`` is 0/1.

    Null-safe on state comparison (``<=>``): a null state is a state,
    not a wildcard.
    """
    order = [F.col(ts)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    # a row starts a new run iff any state column differs (null-safely)
    # from the previous row's
    changed = F.lit(False)
    for c in state_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    first = F.row_number().over(w) == 1
    runs = log.withColumn("_new_run", first | changed).filter("_new_run")
    # re-window over the collapsed run-start rows: each run is valid
    # until the next run starts
    w2 = Window.partitionBy(key).orderBy(*order)
    nxt = F.lead(ts).over(w2)
    return runs.select(
        key,
        *state_cols,
        F.col(ts).alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().cast("long").alias("is_current"),
    )


def cdc_compact(
    log: DataFrame,
    key: str,
    ts: str,
    op_col: str | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Compact a CDC change log to the latest row per ``key``.

    The newest row (by ``ts``, then ``tiebreak``) wins; if ``op_col``
    is given and the newest row's op equals ``"delete"`` the key is
    dropped entirely (tombstone). Returns the winning rows with their
    original columns.
    """
    order = [F.col(ts).desc()] + (
        [F.col(tiebreak).desc()] if tiebreak else []
    )
    w = Window.partitionBy(key).orderBy(*order)
    latest = (
        log.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if op_col is not None:
        latest = latest.filter(F.col(op_col) != F.lit("delete"))
    return latest
