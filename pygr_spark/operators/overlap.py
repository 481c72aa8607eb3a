"""Interval overlap join — the reference's workhorse operator (J1/J2).

Replaces the Nested Containment List engine (reference intervaldb.c:319-443
``find_overlap_start``/``find_intervals``; cnestedlist.pyx:49-162
``IntervalDB``) with declarative Spark joins. Two physical strategies:

``range``
    Equi-join on the sequence/partition id plus range predicates.
    Catalyst runs SMJ/shuffled-hash on the id key and post-filters the
    range — correct always, fast when per-id interval counts are modest
    or one side is broadcastable.

``binned``
    The Databricks-style range-join binning rewrite (SURVEY.md §4),
    expressed in pure DataFrame ops: each interval explodes onto the
    fixed-width bins it spans, the join becomes an equi-join on
    ``(id, bin)``, an overlap post-filter restores exactness, and a
    "bin owns the overlap start" predicate deduplicates — each
    qualifying pair is emitted exactly once, by the bin containing
    ``greatest(l.start, r.start)``. This is the 100 TB scale path: the
    shuffle key ``(id, bin)`` spreads a single hot sequence across
    many partitions, which the plain id-keyed range join cannot do.

The O(log n + k) NCList query bound becomes O(n/p) per partition with
p = number of (id, bin) partitions; Parquet min/max row-group stats on
(id, start) replace the on-disk IntervalIndex (intervaldb.c:589-666).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pygr_spark.intervals import overlaps

DEFAULT_BIN_WIDTH = 10_000


def _bins(start: Column, stop: Column, width: int) -> Column:
    """All bin ids a half-open interval [start, stop) touches."""
    return F.sequence(
        F.floor(start / width), F.floor((stop - F.lit(1)) / width)
    )


def auto_bin_width(
    df: DataFrame, start: str = "start", stop: str = "stop"
) -> int:
    """2× the median interval span, rounded up to a power of two
    (>= 8) — the rule that reproduces the hand-measured optima at
    sf0.1 (two_hop spans <= 14 → width 16 best; narrower duplicates
    rows ∝ span/width, wider inflates per-bucket candidates). One
    cheap approx-percentile over a bounded prefix, so the sizing pass
    stays O(small) even on a 100 TB table."""
    row = (
        df.select((F.col(stop) - F.col(start)).alias("_span"))
        .limit(100_000)
        .agg(F.percentile_approx("_span", 0.5).alias("m"))
        .first()
    )
    med = int(row["m"] or 1)
    width = 8
    while width < 2 * med:
        width *= 2
    return width


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str | None = "id",
    left_start: str = "start",
    left_stop: str = "stop",
    right_id: str | None = "id",
    right_start: str = "start",
    right_stop: str = "stop",
    strategy: str = "range",
    bin_width: int | str = DEFAULT_BIN_WIDTH,
    lsuffix: str = "",
    rsuffix: str = "_r",
    extra_condition: Column | None = None,
) -> DataFrame:
    """All pairs (l, r) with l.id == r.id (ids optional — None means a
    single shared coordinate axis) and [l.start,l.stop) ∩
    [r.start,r.stop) ≠ ∅. Columns from ``right`` that collide with
    ``left`` get ``rsuffix``.

    ``bin_width='auto'`` sizes the bins from the data: the median
    interval span of the (usually bigger) right side, rounded up to a
    power of two — the sweet spot measured at sf0.1 (too wide inflates
    per-bucket candidates, too narrow duplicates rows ∝ span/width).
    Costs one small aggregate job at plan time; at 100 TB that beats
    any hand-tuned constant going stale.

    Golden semantics: reference tests/nlmsa_test.py:14-22 (reproduced
    in tests/test_overlap.py via the sign-convention wrapper).
    """
    if bin_width == "auto":
        bin_width = auto_bin_width(right, right_start, right_stop)
    # Rename collisions up front so the output schema is deterministic.
    common = set(left.columns) & set(right.columns)
    for c in common:
        if lsuffix:
            left = left.withColumnRenamed(c, c + lsuffix)
        right = right.withColumnRenamed(c, c + rsuffix)

    def lc(name: str | None) -> str | None:
        if name is None:
            return None
        return name + lsuffix if name in common else name

    def rc(name: str | None) -> str | None:
        if name is None:
            return None
        return name + rsuffix if name in common else name

    l_id, l_s, l_e = lc(left_id), lc(left_start), lc(left_stop)
    r_id, r_s, r_e = rc(right_id), rc(right_start), rc(right_stop)

    ov = overlaps(F.col(l_s), F.col(l_e), F.col(r_s), F.col(r_e))
    if extra_condition is not None:
        ov = ov & extra_condition
    id_eq = F.col(l_id) == F.col(r_id) if l_id and r_id else F.lit(True)

    if strategy == "range":
        return left.join(right, id_eq & ov)

    if strategy == "binned":
        lb = left.withColumn("_bin", F.explode(_bins(F.col(l_s), F.col(l_e), bin_width)))
        rb = right.withColumn(
            "_binr", F.explode(_bins(F.col(r_s), F.col(r_e), bin_width))
        )
        joined = lb.join(rb, id_eq & (F.col("_bin") == F.col("_binr")) & ov)
        # exactly-once: the bin containing the overlap start owns the pair
        owner = F.floor(F.greatest(F.col(l_s), F.col(r_s)) / bin_width)
        return joined.filter(F.col("_bin") == owner).drop("_bin", "_binr")

    raise ValueError(f"unknown strategy {strategy!r}")


def overlap_join_signed(
    query: DataFrame,
    db: DataFrame,
    with_id: bool = False,
    strategy: str = "range",
    bin_width: int = DEFAULT_BIN_WIDTH,
) -> DataFrame:
    """Sign-convention overlap query reproducing the reference's
    ``IntervalDB.find_overlap_list`` semantics: overlap is decided on
    **absolute** coordinates, and each hit is reoriented so its source
    strand matches the query strand (reference cnestedlist.pyx:101-126,
    ``reorient_intervals`` intervaldb.c:398; goldens
    tests/nlmsa_test.py:14-22 — stored (-20,-5,2,300,315) answers the
    forward query [0,10) as (5,20,2,-315,-300)).

    ``query``: (start, stop) possibly signed, plus ``id`` if ``with_id``.
    ``db``:    (start, stop, target_id, target_start, target_stop)
               signed, plus ``id`` if ``with_id``.
    """
    q = query.select(
        *([F.col("id").alias("q_id")] if with_id else []),
        F.col("start").alias("q_start"),
        F.col("stop").alias("q_stop"),
    )
    # absolute coordinates on both sides
    q = (
        q.withColumn("q_strand", F.when(F.col("q_start") < 0, -1).otherwise(1))
        .withColumn(
            "q_astart",
            F.when(F.col("q_start") < 0, -F.col("q_stop")).otherwise(F.col("q_start")),
        )
        .withColumn(
            "q_astop",
            F.when(F.col("q_start") < 0, -F.col("q_start")).otherwise(F.col("q_stop")),
        )
    )
    d = (
        db.withColumn(
            "d_astart",
            F.when(F.col("start") < 0, -F.col("stop")).otherwise(F.col("start")),
        )
        .withColumn(
            "d_astop",
            F.when(F.col("start") < 0, -F.col("start")).otherwise(F.col("stop")),
        )
    )
    joined = overlap_join(
        q,
        d,
        left_id="q_id" if with_id else None,
        left_start="q_astart",
        left_stop="q_astop",
        right_id="id" if with_id else None,
        right_start="d_astart",
        right_stop="d_astop",
        strategy=strategy,
        bin_width=bin_width,
    )
    # reorient: if hit src strand != query strand, negate both sides
    flip = (F.col("start") < 0) != (F.col("q_strand") < 0)

    def ori(a: str, b: str) -> tuple[Column, Column]:
        return (
            F.when(flip, -F.col(b)).otherwise(F.col(a)),
            F.when(flip, -F.col(a)).otherwise(F.col(b)),
        )

    s, e = ori("start", "stop")
    ts, te = ori("target_start", "target_stop")
    return joined.select(
        *([F.col("q_id")] if with_id else []),
        F.col("q_start"),
        F.col("q_stop"),
        s.alias("start"),
        e.alias("stop"),
        F.col("target_id"),
        ts.alias("target_start"),
        te.alias("target_stop"),
    )


def closest_join(
    query: DataFrame,
    db: DataFrame,
    bin_width: int | str = "auto",
) -> DataFrame:
    """Nearest-feature join (bedtools-closest analog; the natural
    companion to J1 the reference answers by walking the NCList
    outward, intervaldb.c:319-443): for every query interval
    (qid, id, start, stop), the db interval (id, start, stop) on the
    same ``id`` with minimal gap distance —
    0 when overlapping or touching, else the base gap. Deterministic
    tiebreak (distance, db start, db stop). Inner semantics: queries
    whose id has no db interval are dropped.

    Scale shape — NO all-pairs anywhere:
    - overlap candidates come from the binned equi-join (distance 0);
    - BOTH flank neighbors (latest db stop <= query start, smallest
      db start >= query stop) come from ONE fused boundary sweep: db
      intervals emit a stop event and a start event, queries emit two
      probe rows, and a single sort by (id, pos, tiebreak) feeds two
      window frames over the same ordering — a backward
      last(ignorenulls) carry for the before-neighbor and a forward
      first(ignorenulls) carry for the after-neighbor. One shuffle of
      the db side total (the previous shape paid four: two dedup
      aggregations plus two as-of union windows), linear in |Q|+|DB|.
    Every query therefore sees at most (overlaps + 2) candidates.
    """
    q = query.select(
        "qid",
        F.col("id").alias("_qi"),
        F.col("start").cast("long").alias("qs"),
        F.col("stop").cast("long").alias("qe"),
    )
    d = db.select(
        F.col("id").alias("_di"),
        F.col("start").cast("long").alias("ds"),
        F.col("stop").cast("long").alias("de"),
    )

    ov = overlap_join(
        q,
        d,
        left_id="_qi",
        left_start="qs",
        left_stop="qe",
        right_id="_di",
        right_start="ds",
        right_stop="de",
        strategy="binned",
        bin_width=bin_width,
    ).select("qid", "_qi", "qs", "qe", "ds", "de", F.lit(0).cast("long").alias("dist"))

    # fused flank sweep. Event rows sort by (pos, sub); sub encodes
    # both the probe inclusivity and the per-kind tiebreak:
    #   stop events  (pos=de, sub=-ds): at equal de the LAST in
    #     ascending sub has the smallest ds — the backward carry then
    #     holds "greatest de <= qs, min ds" exactly;
    #   start events (pos=ds, sub=de): at equal ds the FIRST ahead has
    #     the smallest de — forward carry = "least ds >= qe, min de";
    #   probe_before (pos=qs, sub=+BIG) sorts after every stop event
    #     at qs (de == qs included, touching = distance 0);
    #   probe_after  (pos=qe, sub=-BIG) sorts before every start event
    #     at qe (ds == qe included).
    BIG = 1 << 62
    nl = F.lit(None).cast("long")
    stops = d.select(
        F.col("_di").alias("_qi"),
        F.col("de").alias("_pos"),
        (-F.col("ds")).alias("_sub"),
        F.col("ds").alias("_b_ds"),
        F.col("de").alias("_b_de"),
        nl.alias("_a_ds"),
        nl.alias("_a_de"),
        nl.alias("qid"),
        nl.alias("qs"),
        nl.alias("qe"),
        F.lit(0).alias("_probe"),
    )
    starts = d.select(
        F.col("_di").alias("_qi"),
        F.col("ds").alias("_pos"),
        F.col("de").alias("_sub"),
        nl.alias("_b_ds"),
        nl.alias("_b_de"),
        F.col("ds").alias("_a_ds"),
        F.col("de").alias("_a_de"),
        nl.alias("qid"),
        nl.alias("qs"),
        nl.alias("qe"),
        F.lit(0).alias("_probe"),
    )
    probe_cols = ["_b_ds", "_b_de", "_a_ds", "_a_de"]
    p_before = q.select(
        "_qi",
        F.col("qs").alias("_pos"),
        F.lit(BIG).alias("_sub"),
        *[nl.alias(c) for c in probe_cols],
        "qid",
        "qs",
        "qe",
        F.lit(1).alias("_probe"),
    )
    p_after = q.select(
        "_qi",
        F.col("qe").alias("_pos"),
        F.lit(-BIG).alias("_sub"),
        *[nl.alias(c) for c in probe_cols],
        "qid",
        "qs",
        "qe",
        F.lit(2).alias("_probe"),
    )
    events = stops.unionByName(starts).unionByName(p_before).unionByName(p_after)

    from pyspark.sql import Window

    # both carries are RUNNING frames (unboundedPreceding→currentRow):
    # Spark executes those in O(n); the tempting alternative — a
    # (currentRow→unboundedFollowing) frame for the forward carry —
    # re-aggregates the partition tail per row, O(n²) per partition
    # (measured 10× slower at sf0.1). The forward carry is therefore
    # a backward carry over the REVERSED ordering: same hash exchange
    # on the id (Catalyst keeps one shuffle), one extra in-partition
    # sort.
    w_back = (
        Window.partitionBy("_qi")
        .orderBy(F.col("_pos").asc(), F.col("_sub").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("_qi")
        .orderBy(F.col("_pos").desc(), F.col("_sub").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = events.select(
        "_qi",
        "qid",
        "qs",
        "qe",
        "_probe",
        F.last("_b_ds", ignorenulls=True).over(w_back).alias("bds"),
        F.last("_b_de", ignorenulls=True).over(w_back).alias("bde"),
        F.last("_a_ds", ignorenulls=True).over(w_fwd).alias("ads"),
        F.last("_a_de", ignorenulls=True).over(w_fwd).alias("ade"),
    )
    before = carried.filter(
        (F.col("_probe") == 1) & F.col("bde").isNotNull()
    ).select(
        "qid",
        "_qi",
        "qs",
        "qe",
        F.col("bds").alias("ds"),
        F.col("bde").alias("de"),
        (F.col("qs") - F.col("bde")).cast("long").alias("dist"),
    )
    after = carried.filter(
        (F.col("_probe") == 2) & F.col("ads").isNotNull()
    ).select(
        "qid",
        "_qi",
        "qs",
        "qe",
        F.col("ads").alias("ds"),
        F.col("ade").alias("de"),
        (F.col("ads") - F.col("qe")).cast("long").alias("dist"),
    )

    cand = ov.unionByName(before).unionByName(after)
    # partition by the full query row, not just the key: a reused
    # query_key with several intervals gets one answer per interval
    # (identical duplicate rows still collapse to one)
    w = Window.partitionBy("qid", "_qi", "qs", "qe").orderBy("dist", "ds", "de")
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "qid",
            F.col("_qi").alias("id"),
            F.col("qs").alias("q_start"),
            F.col("qe").alias("q_stop"),
            F.col("ds").alias("db_start"),
            F.col("de").alias("db_stop"),
            "dist",
        )
    )


def subtract_join(
    query: DataFrame,
    db: DataFrame,
    bin_width: int | str = "auto",
) -> DataFrame:
    """Interval subtraction (bedtools-subtract analog; the set
    complement U3 of pygr's interval algebra lifted to a join): each
    query interval (qid, id, start, stop) minus the union of all
    overlapping db intervals (id, start, stop) on the same id, emitted
    as the surviving fragments (qid, id, frag_start, frag_stop). Queries with no overlap pass
    through whole; fully-covered queries vanish.

    Scale shape: overlap candidates from the binned equi-join; per
    query the clipped hits are merged with one gaps-and-islands window
    pass (keyed on the query row — no skew wider than one query's hit
    list); fragments fall out of a lag() over the merged islands. The
    no-hit passthrough is a left_anti on the same join keys.
    """
    q = query.select(
        "qid",
        F.col("id").alias("_qi"),
        F.col("start").cast("long").alias("qs"),
        F.col("stop").cast("long").alias("qe"),
    )
    d = db.select(
        F.col("id").alias("_di"),
        F.col("start").cast("long").alias("ds"),
        F.col("stop").cast("long").alias("de"),
    )
    ov = overlap_join(
        q,
        d,
        left_id="_qi",
        left_start="qs",
        left_stop="qe",
        right_id="_di",
        right_start="ds",
        right_stop="de",
        strategy="binned",
        bin_width=bin_width,
    ).select(
        "qid",
        "_qi",
        "qs",
        "qe",
        F.greatest("ds", "qs").alias("cs"),
        F.least("de", "qe").alias("ce"),
    )

    from pyspark.sql import Window

    # merge the clipped hits per query row: materialize ONE row order
    # and drive both window passes from it (duplicate (cs, ce) keys
    # would otherwise fracture islands nondeterministically)
    keys = ["qid", "_qi", "qs", "qe"]
    wn = Window.partitionBy(*keys).orderBy("cs", "ce")
    numbered = ov.withColumn("_rn", F.row_number().over(wn))
    wrn = Window.partitionBy(*keys).orderBy("_rn")
    run = numbered.withColumn(
        "_maxce",
        F.max("ce").over(wrn.rowsBetween(Window.unboundedPreceding, -1)),
    ).withColumn(
        "_new", F.when(F.col("cs") > F.coalesce("_maxce", F.lit(-(1 << 62))), 1).otherwise(0)
    ).withColumn(
        "_island",
        F.sum("_new").over(wrn.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = run.groupBy(*keys, "_island").agg(
        F.min("cs").alias("is_"), F.max("ce").alias("ie")
    )
    wi = Window.partitionBy(*keys).orderBy("is_", "ie")
    mids = islands.withColumn(
        "_prev_ie", F.lag("ie").over(wi)
    ).select(
        *keys,
        F.coalesce("_prev_ie", F.col("qs")).alias("frag_start"),
        F.col("is_").alias("frag_stop"),
    )
    tails = islands.groupBy(*keys).agg(F.max("ie").alias("frag_start")).select(
        *keys, "frag_start", F.col("qe").alias("frag_stop")
    )
    no_hit = q.join(
        ov.select(*keys).distinct(), keys, "left_anti"
    ).select(*keys, F.col("qs").alias("frag_start"), F.col("qe").alias("frag_stop"))
    return (
        mids.unionByName(tails)
        .unionByName(no_hit)
        .filter(F.col("frag_start") < F.col("frag_stop"))
        .select(
            "qid",
            F.col("_qi").alias("id"),
            "frag_start",
            "frag_stop",
        )
    )
