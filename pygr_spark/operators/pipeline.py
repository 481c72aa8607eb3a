"""Training-data pipeline operators: benchmark decontamination,
corpus-wide chunk dedup (C4 line-dedup shape), repetition quality
signals (Gopher), deterministic stratified splits, weighted corpus
mixing, and PII extraction/redaction.

These extend the reference's query surface (the north-star LLM-data
ops, not pygr operators); the closest reference analog is the
id-munging + filter-chain plumbing around BLAST pipelines
(/root/reference/pygr/blast.py:64-70 ``pipeline=[f1, f2...]``), which
these transforms compose with via ``df.transform``.

Determinism rules (BASELINE.md §6.2): every score is exact-integer
arithmetic (counts, integer division, md5-derived hashes), so a DuckDB
oracle hash-matches bit-for-bit. No floats anywhere except ratios
derived from exact ints.

Scale notes are per-function; the common shape is: everything is an
equi-join or a groupBy on a high-cardinality derived key (shingle,
chunk hash, id) — no all-pairs, no driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pygr_spark.operators.dedup import md5_hash60, shingle_rows
from pygr_spark.tuning import spread

# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


def decontaminate(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at
    least one distinct word 8-gram with any benchmark
    document (the standard eval-set leak check run before training).

    Returns one row per contaminated corpus doc:
    ``(doc_id, n_hit_shingles, n_bench_docs, max_bench_overlap)``
    where ``n_hit_shingles`` counts (shingle × benchmark-doc) hit
    pairs — a shingle shared with k benchmark docs contributes k —
    ``n_bench_docs`` counts distinct benchmark docs hit, and
    ``max_bench_overlap`` is the largest per-benchmark-doc shared
    count (the usual report-triage columns).

    Scale shape: both sides shingle once (one shuffle each, see
    shingle_rows), then ONE equi-join on the n-gram string — the
    benchmark side is usually tiny (eval sets are ~1e3-1e6 rows) so
    Catalyst broadcasts it; at 100 TB the corpus side streams through
    map-side. No all-pairs, no collect.
    """
    c = shingle_rows(corpus, 8)
    b = shingle_rows(benchmark, 8).withColumnRenamed("_id", "_bid")
    hits = c.join(b, "_s")
    per_pair = hits.groupBy("_id", "_bid").agg(
        F.count(F.lit(1)).cast("long").alias("_shared")
    )
    out = per_pair.groupBy("_id").agg(
        F.sum("_shared").cast("long").alias("n_hit_shingles"),
        F.count(F.lit(1)).cast("long").alias("n_bench_docs"),
        F.max("_shared").cast("long").alias("max_bench_overlap"),
    )
    return out.withColumnRenamed("_id", "doc_id")


# ---------------------------------------------------------------------------
# corpus-wide chunk dedup (C4 line-dedup shape)
# ---------------------------------------------------------------------------


def chunk_dedup(docs: DataFrame, chunk_tokens: int = 8, max_docs: int = 1) -> DataFrame:
    """Corpus-wide duplicated-chunk removal — the C4 "three-sentence
    span dedup" / line-dedup shape: split every document into
    fixed-size token chunks (the unit a crawl pipeline would take from
    newlines/sentences; the driver's documents have neither, so the
    unit is ``chunk_tokens`` tokens), drop every chunk that occurs in
    more than ``max_docs`` distinct documents, and reassemble the
    surviving chunks in original order.

    Returns ``(doc_id, clean_text, n_chunks, n_kept)``; docs whose
    chunks are all dropped keep an empty ``clean_text`` (the caller
    filters, same contract as C4).

    Scale shape: posexplode → groupBy chunk string (count distinct
    docs ≈ a shuffle on a high-cardinality key) → join back on the
    chunk → groupBy doc reassemble. Three shuffles, all on keys that
    spread; duplicate-heavy chunks cap out at the distinct-doc count,
    not the pair count, so skew is bounded by the corpus's true
    duplication rate.
    """
    toks = spread(docs, "doc_id").select(
        F.col("doc_id").alias("_id"),
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("_p", "_t"),
    )
    chunks = toks.withColumn("_c", (F.col("_p") / F.lit(chunk_tokens)).cast("long"))
    # collect_list has no intra-group order guarantee under retries —
    # sort the (pos, token) structs before concatenating
    chunk_rows = chunks.groupBy("_id", "_c").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_t"))),
                lambda s: s.getField("_t"),
            ),
        ).alias("_chunk")
    )
    # chunk_rows feeds the corpus-wide frequency count AND the
    # mark-join — checkpoint so tokenize+regroup runs once, not twice
    chunk_rows = chunk_rows.localCheckpoint(eager=False)
    freq = chunk_rows.groupBy("_chunk").agg(
        F.countDistinct("_id").cast("long").alias("_ndocs")
    )
    marked = chunk_rows.join(freq, "_chunk").withColumn(
        "_keep", F.col("_ndocs") <= F.lit(max_docs)
    )
    out = marked.groupBy("_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("_c", "_chunk")).otherwise(
                            None
                        )
                    )
                ),
                lambda s: s.getField("_chunk"),
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.col("_keep").cast("long")).cast("long").alias("n_kept"),
    )
    return out.withColumnRenamed("_id", "doc_id")


# ---------------------------------------------------------------------------
# repetition quality signals (Gopher)
# ---------------------------------------------------------------------------


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    tokens accounted for by the most frequent token / bigram / trigram
    (repetitious machine text scores high; used as a quality filter
    with thresholds like top-2-gram-fraction > 0.18 → drop).

    All counts are exact ints; fractions ship as (numerator,
    denominator) pairs plus a derived double. One explode + windowed
    groupBys, all partitioned by doc — scales linearly, no cross-doc
    shuffle at all (the doc id is the only key).
    """
    toks = spread(docs, "doc_id").select(
        F.col("doc_id").alias("_id"),
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("_p", "_t"),
    )
    w = Window.partitionBy("_id").orderBy("_p")
    grams = toks.select(
        "_id",
        "_t",
        F.concat_ws(" ", "_t", F.lead("_t", 1).over(w)).alias("_t2"),
        F.concat_ws(" ", "_t", F.lead("_t", 1).over(w), F.lead("_t", 2).over(w)).alias(
            "_t3"
        ),
        F.lead("_t", 1).over(w).isNotNull().alias("_has2"),
        F.lead("_t", 2).over(w).isNotNull().alias("_has3"),
    )

    def top_count(col: str, guard: str | None) -> DataFrame:
        g = grams.filter(F.col(guard)) if guard else grams
        counted = g.groupBy("_id", col).agg(F.count(F.lit(1)).alias("_n"))
        return counted.groupBy("_id").agg(
            F.max("_n").cast("long").alias(f"top{col}"),
            F.sum("_n").cast("long").alias(f"tot{col}"),
        )

    t1 = top_count("_t", None)
    t2 = top_count("_t2", "_has2")
    t3 = top_count("_t3", "_has3")
    out = t1.join(t2, "_id", "left").join(t3, "_id", "left")
    return out.select(
        F.col("_id").alias("doc_id"),
        F.col("top_t").alias("top_token_n"),
        F.col("tot_t").alias("n_tokens"),
        (F.col("top_t") / F.col("tot_t")).alias("top_token_frac"),
        F.coalesce(F.col("top_t2"), F.lit(0)).cast("long").alias("top_bigram_n"),
        F.coalesce(F.col("tot_t2"), F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce(F.col("top_t3"), F.lit(0)).cast("long").alias("top_trigram_n"),
        F.coalesce(F.col("tot_t3"), F.lit(0)).cast("long").alias("n_trigrams"),
    )


# ---------------------------------------------------------------------------
# deterministic stratified split + weighted corpus mixing
# ---------------------------------------------------------------------------


def hash_split(df: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment: bucket =
    md5-hash(doc_id) mod 1000; buckets below 800 → train, below 900 →
    val, rest → test. Engine-portable (the same
    md5 expression runs in any SQL engine), reproducible across runs
    and cluster sizes — the property a training pipeline needs so a
    document never migrates between splits when the corpus grows.

    Pure per-row projection: no shuffle at all.
    """
    b = F.pmod(md5_hash60(F.col("doc_id").cast("string")), F.lit(1000))
    return df.withColumn("bucket", b.cast("long")).withColumn(
        "split",
        F.when(F.col("bucket") < 800, F.lit("train"))
        .when(F.col("bucket") < 900, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def corpus_mix(
    docs: DataFrame,
    rates: dict[str, int] | Column,
    default_rate: int = 0,
) -> DataFrame:
    """Weighted corpus mixing: keep each document iff its md5 bucket
    (md5-hash(doc_id) mod 1000) falls under its source's per-mille ``rates`` entry (e.g.
    ``{"wiki": 1000, "crawl": 150}`` oversamples wiki 6.7× relative
    to crawl). Deterministic — the mix is reproducible and stable
    under corpus growth, unlike ``df.sample``.

    ``rates`` is either a literal dict (enters the plan as a
    broadcast literal map via ``F.create_map`` — per-row projection,
    no shuffle, no join) or a Column computing the per-mille rate
    from the row itself (e.g. a formula over ``source``), for
    mixes defined by rule rather than enumeration.
    """
    if isinstance(rates, Column):
        rate = rates
    else:
        pairs: list[Column] = []
        for k, v in sorted(rates.items()):
            pairs += [F.lit(k), F.lit(int(v))]
        if pairs:
            rate = F.coalesce(
                F.create_map(*pairs)[F.col("source")],
                F.lit(int(default_rate)),
            )
        else:
            rate = F.lit(int(default_rate))
    b = F.pmod(md5_hash60(F.col("doc_id").cast("string")), F.lit(1000))
    return docs.withColumn("bucket", b.cast("long")).filter(F.col("bucket") < rate)


# ---------------------------------------------------------------------------
# PII extraction / redaction
# ---------------------------------------------------------------------------

#: conservative patterns valid in both Java regex (Spark) and RE2
#: (DuckDB) — no backreferences, no lookaround
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d[\d-]{7,14}\d",
}


def pii_stats(df: DataFrame) -> DataFrame:
    """Per-document PII hit counts for each PII_PATTERNS class plus
    the text with every match replaced by ``<CLASS>`` — the scrub
    step a pretraining pipeline runs before tokenization. Pure JVM-side regexp projections (regexp_count /
    regexp_replace): no shuffle, linear scan, codegen-friendly.
    """
    pats = sorted(PII_PATTERNS.items())
    cols: list[Column] = [F.col("doc_id")]
    for name, pat in pats:
        cols.append(
            F.regexp_count(F.col("text"), F.lit(pat)).cast("long").alias(f"n_{name}")
        )
    red = F.col("text")
    for name, pat in pats:
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    cols.append(red.alias("redacted"))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# incremental (snapshot) dedup
# ---------------------------------------------------------------------------


def snapshot_dedup(ref: DataFrame, new: DataFrame, bloom_bits: int = 65536) -> DataFrame:
    """Incremental fuzzy dedup of a NEW ingest batch against an
    already-ingested REFERENCE snapshot — the steady-state shape of a
    crawl pipeline, where every fresh dump is deduped against the
    accumulated corpus rather than re-clustering everything
    (reference parity: pygr's incremental resource updates,
    metabase.py; the chunk unit follows chunk_dedup above).

    Every document is split into 8-token chunks; a new document is
    KEPT iff strictly less than 4/5 of its distinct chunks already
    occur anywhere in the snapshot.
    Returns ``(doc_id, n_chunks, n_seen, kept)`` — exact longs, one
    row per new-batch document.

    Scale shape (the whole point at 100 TB, where the snapshot dwarfs
    every batch): the snapshot's distinct-chunk set is touched by ONE
    distinct and ONE semi-join; the new batch is pre-pruned by a
    broadcast Bloom filter (k=3 md5-portable bit positions in
    an m=``bloom_bits`` table built over snapshot chunks, the
    bloom_prune pattern) so only bloom-POSITIVE chunks — true
    duplicates plus the bounded false-positive mass of roughly
    n*fill^k — reach the exact confirm join. Bloom filters have no
    false negatives under a deterministic hash, so the prefilter
    cannot change the answer, only the shuffled volume; the
    definitely-novel majority of a typical batch never shuffles at
    all. Size ``bloom_bits`` proportional to the snapshot chunk count
    to hold the fill rate (the same sizing note as bloom_prune).
    """

    # chunking is a pure MAP: slice the per-doc token array into
    # 8-token windows with array higher-order functions —
    # no posexplode/regroup shuffle anywhere in the chunk build (the
    # per-doc distinct chunk set is array_distinct, also map-side).
    # Documents must have non-empty text (callers filter; an empty
    # token array would yield one empty-string chunk here).
    chunk_arr = F.array_distinct(
        F.expr(
            "transform(sequence(0, (size(_t) - 1) DIV 8),"
            " i -> array_join(slice(_t, i * 8 + 1, 8), ' '))"
        )
    )
    tagged = ref.select(
        F.col("doc_id").alias("_id"), F.col("text").alias("_tx"), F.lit(0).alias("_side")
    ).unionByName(
        new.select(
            F.col("doc_id").alias("_id"),
            F.col("text").alias("_tx"),
            F.lit(1).alias("_side"),
        )
    )
    base = tagged.select(
        "_id",
        "_side",
        F.split(F.trim(F.lower(F.col("_tx"))), r"\s+").alias("_t"),
    ).select("_id", "_side", chunk_arr.alias("_ca"))
    base = base.localCheckpoint(eager=False)  # feeds index, probe, denominator
    # feeds the bloom build AND the exact confirm join; the distinct
    # is the build's ONE shuffle over snapshot chunks
    ref_set = (
        base.filter(F.col("_side") == 0)
        .select(F.explode("_ca").alias("_chunk"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # per-doc distinct already guaranteed by array_distinct — the
    # explode is shuffle-free
    new_chunks = base.filter(F.col("_side") == 1).select(
        "_id", F.explode("_ca").alias("_chunk")
    )

    ks = F.explode(F.array(*[F.lit(j) for j in range(3)])).alias("_j")
    bit = F.pmod(
        md5_hash60(F.concat_ws(",", F.col("_j").cast("string"), F.col("_chunk"))),
        F.lit(bloom_bits),
    )
    bits = ref_set.select(ks, "_chunk").select(bit.alias("_bit")).distinct()
    probes = new_chunks.select("_id", "_chunk", ks).withColumn("_bit", bit)
    candidates = (
        probes.join(F.broadcast(bits), "_bit")
        .groupBy("_id", "_chunk")
        .agg(F.count(F.lit(1)).alias("_hits"))
        .filter(F.col("_hits") == 3)
        .select("_id", "_chunk")
    )
    seen = candidates.join(ref_set, "_chunk", "left_semi")
    # denominator straight off the per-doc chunk array — no shuffle
    per_doc = base.filter(F.col("_side") == 1).select(
        "_id", F.size("_ca").cast("long").alias("n_chunks")
    )
    seen_counts = seen.groupBy("_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_seen")
    )
    return per_doc.join(seen_counts, "_id", "left").select(
        F.col("_id").alias("doc_id"),
        "n_chunks",
        F.coalesce(F.col("n_seen"), F.lit(0)).cast("long").alias("n_seen"),
        (
            F.coalesce(F.col("n_seen"), F.lit(0)) * F.lit(5)
            < F.col("n_chunks") * F.lit(4)
        )
        .cast("long")
        .alias("kept"),
    )
