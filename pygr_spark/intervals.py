"""Interval algebra — column-level, Catalyst-friendly.

The reference encodes strand orientation in the *sign* of interval
coordinates (SeqOriDescriptor, reference sequence.py:229-236; reverse
via __neg__, sequence.py:448-467): ``start >= 0`` means forward strand,
negative coords mean reverse strand of the same sequence, with
``(start, stop) = (-b, -a)`` denoting the reverse view of absolute
span ``[a, b)``.

We normalize at ingest to ``(start, stop, strand)`` with absolute
``0 <= start < stop`` and ``strand in {+1, -1}`` (SURVEY.md §7.3) and
keep sign-convention compatibility expressions for the reference's
golden tests (reference tests/nlmsa_test.py:14-22).

All functions here return Column expressions (no UDFs) so every rule
participates in predicate pushdown / codegen.

Semantics preserved from the reference:
  - intervals are half-open ``[start, stop)``;
  - empty intervals are forbidden (reference sequence.py:307-308) —
    relationally, callers filter ``start < stop``;
  - construction clips to sequence bounds (sequence.py:302-306) —
    ``greatest``/``least`` at the call site;
  - intersection of disjoint/different-seq intervals is NULL
    (sequence.py:426-442).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# sign-convention <-> normalized form
# ---------------------------------------------------------------------------


def signed_start(start: Column, stop: Column) -> Column:
    """Absolute start of a possibly sign-convention interval."""
    return F.when(start < 0, -stop).otherwise(start)


def signed_stop(start: Column, stop: Column) -> Column:
    return F.when(start < 0, -start).otherwise(stop)


def signed_strand(start: Column) -> Column:
    return F.when(start < 0, F.lit(-1)).otherwise(F.lit(1))


# ---------------------------------------------------------------------------
# predicates (reference sequence.py:405-424)
# ---------------------------------------------------------------------------


def overlaps(start1: Column, stop1: Column, start2: Column, stop2: Column) -> Column:
    """Half-open overlap: [s1,e1) ∩ [s2,e2) ≠ ∅."""
    return (start1 < stop2) & (start2 < stop1)


def contains(start1: Column, stop1: Column, start2: Column, stop2: Column) -> Column:
    """[s2,e2) ⊆ [s1,e1)  (reference __contains__, sequence.py:405-415)."""
    return (start1 <= start2) & (stop2 <= stop1)


# ---------------------------------------------------------------------------
# combining (reference sequence.py:426-505)
# ---------------------------------------------------------------------------


def intersect_start(start1: Column, start2: Column) -> Column:
    return F.greatest(start1, start2)


def intersect_stop(stop1: Column, stop2: Column) -> Column:
    return F.least(stop1, stop2)


def span_union_start(start1: Column, start2: Column) -> Column:
    """Span-union ``+`` (reference sequence.py:469-495): min/max cover."""
    return F.least(start1, start2)


def span_union_stop(stop1: Column, stop2: Column) -> Column:
    return F.greatest(stop1, stop2)


# ---------------------------------------------------------------------------
# coordinate transforms (reference IntervalTransform, sequence.py:26-132)
# ---------------------------------------------------------------------------


def xform_int(
    x: Column,
    src_start: Column,
    src_stop: Column,
    dst_start: Column,
    dst_stop: Column,
) -> Column:
    """Engine-portable IntervalTransform: floor-division linear map
    ``dst_start + floor((x - src_start)·dst_len / src_len)``. Exact
    for |numerator| < 2^53 (integer float64 division never rounds
    across an integer boundary there), and floor matches SQL ``//``
    on every engine including negative numerators (a round-half-up
    map would not be: engines round ties differently)."""
    num = ((x - src_start) * (dst_stop - dst_start)).cast("double")
    den = (src_stop - src_start).cast("double")
    return (dst_start + F.floor(num / den)).cast("long")
