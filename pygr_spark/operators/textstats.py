"""Text analysis operators: token counting, quality scoring,
language-ID heuristic, document fingerprinting (north-star text ops).

All integer-first so the DuckDB oracle hashes identically; ratios are
emitted as exact-integer pairs plus a derived double (deterministic:
one division of exact ints).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny embedded stopword lists for the n-gram language heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht", "mit", "auf", "zu"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est", "pour", "que"],
    "es": ["el", "la", "de", "que", "los", "una", "es", "por", "con", "para"],
}

FP_P = 1_000_000_007  # fingerprint modulus (fits long under ANSI math)
FP_B = 131            # rolling-hash base


def tokens(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def token_stats(df: DataFrame) -> DataFrame:
    """Counts a tokenizer-level pipeline needs: chars, tokens, distinct
    tokens, mean token length (exact ints + derived double)."""
    t = tokens(F.col("text"))
    total_len = F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    return df.filter(F.length(F.trim(F.col("text"))) > 0).select(
        F.col("doc_id"),
        F.length("text").cast("long").alias("n_chars"),
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_types"),
        total_len.alias("sum_token_len"),
        (total_len.cast("double") / F.size(t)).alias("mean_token_len"),
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Heuristic quality signals (Gopher/C4-style): length, type/token
    ratio, punctuation density, longest word, all as exact ints."""
    t = tokens(F.col("text"))
    n_punct = F.length("text") - F.length(F.regexp_replace("text", r"[.,!?;:]", ""))
    longest = F.array_max(F.transform(t, F.length))
    return df.filter(F.length(F.trim(F.col("text"))) > 0).select(
        F.col("doc_id"),
        F.length("text").cast("long").alias("n_chars"),
        F.size(t).cast("long").alias("n_tokens"),
        n_punct.cast("long").alias("n_punct"),
        longest.cast("long").alias("longest_token"),
        F.size(F.array_distinct(t)).cast("long").alias("n_types"),
        (F.size(F.array_distinct(t)).cast("double") / F.size(t)).alias(
            "type_token_ratio"
        ),
    )


def language_scores(df: DataFrame) -> DataFrame:
    """Stopword-hit counts per candidate language + argmax label.
    A real pipeline would use char n-gram profiles; the relational
    shape (per-language token-membership counts + argmax) is identical
    and that is what the oracle certifies."""
    t = tokens(F.col("text"))
    out = df.filter(F.length(F.trim(F.col("text"))) > 0).select("doc_id", t.alias("_t"))
    for lang, words in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        out = out.withColumn(
            f"hits_{lang}",
            F.size(F.filter(F.col("_t"), lambda x: F.array_contains(arr, x))).cast(
                "long"
            ),
        )
    langs = list(STOPWORDS)
    # argmax with deterministic tiebreak: language order as listed
    best = F.greatest(*[F.col(f"hits_{la}") for la in langs])
    label = F.coalesce(
        *[F.when(F.col(f"hits_{la}") == best, F.lit(la)) for la in langs]
    )
    return out.select(
        "doc_id",
        *[f"hits_{la}" for la in langs],
        F.when(best > 0, label).otherwise(F.lit("und")).alias("lang_guess"),
    )


#: fixed-point scale for the exact-integer idf ratio
TFIDF_SCALE = 1_000_000


def tfidf_top_terms(df: DataFrame, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF rank.

    The idf factor is the exact integer ``(N * TFIDF_SCALE) DIV df``
    instead of a logarithm: ``ln`` differs across engines in the last
    ulp (libm vs StrictMath), which would break value-hash parity,
    and for *ranking within one corpus* any monotone-decreasing
    function of df yields an order consistent enough for top-k with a
    deterministic (score, term) tiebreak. score = tf * idf_scaled.

    Shape at scale: token explode is map-side; TF aggregates partially
    before one shuffle on (doc, term); DF is a second partial agg
    shuffled on term; the TF⋈DF equi-join shuffles on term (vocab is
    Zipf-skewed but the DF side is one row per term — no hot-row
    blowup); top-k is a per-doc window over k·docs rows.
    """
    base = df.filter(F.length(F.trim(F.col("text"))) > 0)
    tok = base.select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.length("term") > 0)
    # tf is dual-consumed (dfreq + scoring) and deliberately NOT
    # checkpointed: the tf⋈dfreq join shuffles on term (full-corpus
    # dfreq is NOT broadcast — vocabulary grows with the corpus), so
    # its two input stages are scheduled concurrently and a LAZY
    # checkpoint materializes once per sibling (measured 1.79s vs
    # 1.05s here), while an EAGER one pays a blocking doc×term
    # write-out that costs more than the second pipelined corpus
    # scan it saves (measured 1.69s). A df-count window over term
    # would drop the second scan entirely but forfeits AQE skew-join
    # splitting on Zipf-hot terms — the join keeps the 100 TB path
    # safe. (The keyword/bm25 paths DO lazily checkpoint their
    # query-filtered tf: their broadcast build serializes the
    # consumer stages, so the checkpoint materializes exactly once.)
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # corpus size as a broadcast 1-row side: keeps the whole op one
    # lazy plan (no driver action) — the scalar arrives at executors
    # as a broadcast, not a literal
    n_docs = base.agg(F.count_distinct(F.col("doc_id")).cast("long").alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("doc_id"),
            "term",
            "tf",
            "df",
            (F.col("tf") * F.expr(f"(_n * {TFIDF_SCALE}) DIV df"))
            .cast("long")
            .alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "df", "score")
    )


def vocab_coverage(df: DataFrame, vocab_k: int = 1000) -> DataFrame:
    """Per-document vocabulary coverage against the corpus top-k
    vocabulary: (n_tokens, n_in_vocab, oov_rate). The OOV rate against
    a frequency-ranked vocabulary is a standard pretraining quality
    filter (docs full of rare/garbage tokens score high OOV).

    Two passes over the exploded token stream — one global count to
    rank the vocabulary (map-side combine, tiny result), one broadcast
    membership join for the per-doc tally. The vocabulary (k rows)
    broadcasts; the token stream never joins anything bigger.
    """
    base = df.filter(F.length(F.trim(F.col("text"))) > 0)
    tok = base.select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.length("term") > 0)
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("_tc"))
    # orderBy+limit plans as a distributed TakeOrderedAndProject
    # (per-partition top-k, merge on driver); an unpartitioned
    # row_number window would funnel every distinct term through ONE
    # task. Same deterministic total order (count desc, term).
    vocab = counts.orderBy(F.col("_tc").desc(), F.col("term")).limit(
        vocab_k
    ).select("term")
    tagged = tok.join(
        F.broadcast(vocab.withColumn("_in", F.lit(1))), "term", "left"
    )
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.coalesce("_in", F.lit(0))).cast("long").alias("n_in_vocab"),
        (
            (F.count(F.lit(1)) - F.sum(F.coalesce("_in", F.lit(0)))).cast("double")
            / F.count(F.lit(1))
        ).alias("oov_rate"),
    )


def keyword_search_topk(df: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Keyword retrieval: top-k documents per query by summed
    tf·idf over the query's terms (exact-integer idf as in
    :func:`tfidf_top_terms`).

    The scalable shape is an inverted-index probe without building the
    index: the exploded token stream is semi-joined against the
    (small, broadcast) query-term table BEFORE any aggregation, so the
    full-corpus tf/df work happens only for terms some query mentions.
    idf still counts df over the whole corpus (per-term document
    frequency of the filtered stream IS the corpus df for that term).
    ``queries``: (query_id, term) rows.
    """
    base = df.filter(F.length(F.trim(F.col("text"))) > 0)
    qterms = queries.select("query_id", F.lower(F.col("term")).alias("term"))
    # dual-consumed (dfreq + scoring): checkpoint so the corpus
    # explode runs once, not once per consumer
    tf = query_tf(df, queries).localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = base.agg(F.count_distinct(F.col("doc_id")).cast("long").alias("_n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("idf", F.expr(f"(_n * {TFIDF_SCALE}) DIV df"))
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("tf") * F.col("idf")).cast("long").alias("score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Polynomial rolling hash over token xxhashes, mod FP_P — a
    64-bit-safe portable document fingerprint (same value computable
    in any engine with a left fold)."""
    t = tokens(F.col("text"))
    fp = F.aggregate(
        F.transform(t, lambda x: F.pmod(F.xxhash64(x), F.lit(FP_P))),
        F.lit(0).cast("long"),
        lambda acc, h: F.pmod(acc * FP_B + h, F.lit(FP_P)),
    )
    return df.filter(F.length(F.trim(F.col("text"))) > 0).select(
        F.col("doc_id"), fp.alias("fingerprint")
    )


def query_tf(df: DataFrame, queries: DataFrame) -> DataFrame:
    """Shared retrieval base: (doc_id, term, tf) over ONLY the query
    terms — the exploded token stream broadcast-semi-filtered before
    aggregation, so the full-corpus explode happens exactly once and
    everything downstream runs on docs x query-terms rows. Callers
    that feed several consumers (df-counts + scoring, or several
    retrieval legs as in rrf fusion) should pass this through ONE
    ``localCheckpoint(eager=False)``: Catalyst does not share common
    subtrees across joins, so each extra consumer would otherwise
    re-run the corpus explode."""
    base = df.filter(F.length(F.trim(F.col("text"))) > 0)
    qterms = queries.select(F.lower(F.col("term")).alias("term"))
    tok = base.select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.length("term") > 0)
    return (
        tok.join(F.broadcast(qterms.distinct()), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def bm25_topk(df: DataFrame, queries: DataFrame) -> DataFrame:
    """BM25 retrieval: top-10 documents per query, scored with the
    standard Okapi weighting at k1=1.2, b=0.75 — expressed entirely in
    exact integer arithmetic so any SQL engine reproduces the ranking
    bit-for-bit (same convention as :func:`tfidf_top_terms`: idf is
    ``(N*TFIDF_SCALE) DIV df``, no logarithm, order-preserving).

    The tf-saturation factor ``tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``
    is rationalized with k1=6/5, b=3/4, avgdl=total/N and scaled to
    per-mille::

        sat1000 = (22000*total*tf) DIV (10*total*tf + 3*total + 9*dl*N)
        score   = sum over query terms of idf * sat1000

    Intermediates stay under 2^63 for corpora up to ~1e12 tokens
    (22000·total·tf needs total·tf < 4e14).

    Scale shape mirrors keyword_search_topk: doc lengths come from one
    full-corpus pass (groupBy doc — one shuffle), the tf/df work runs
    only on the broadcast-filtered query-term stream, and the final
    per-query top-10 is a window over (query, score). No all-pairs.
    """
    from pyspark.sql import Window

    base = df.filter(F.length(F.trim(F.col("text"))) > 0)
    qterms = queries.select("query_id", F.lower(F.col("term")).alias("term"))
    # doc length is the token-array size — a projection, NOT an
    # explode+groupBy (split of trimmed non-empty text on \s+ yields
    # no empty tokens, so this equals count(*) over the token stream);
    # saves one full-corpus shuffle. Lazily checkpointed: it feeds
    # both the totals aggregate and the per-doc score join, and each
    # consumer would otherwise re-tokenize the corpus.
    dl = base.select(
        F.col("doc_id"), F.size(tokens(F.col("text"))).cast("long").alias("dl")
    ).localCheckpoint(eager=False)
    totals = dl.agg(
        F.sum("dl").cast("long").alias("_total"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    )
    # dual-consumed (dfreq + scoring): checkpoint so the corpus
    # explode runs once, not once per consumer
    tf = query_tf(df, queries).localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
        .withColumn("idf", F.expr(f"(_n * {TFIDF_SCALE}) DIV df"))
        .withColumn(
            "sat1000",
            F.expr(
                "(22000 * _total * tf) DIV "
                "(10 * _total * tf + 3 * _total + 9 * dl * _n)"
            ),
        )
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("idf") * F.col("sat1000")).cast("long").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "doc_id", "score")
    )


def word_tokens(text: str) -> Column:
    """Engine-portable word tokenizer: lowercase [a-z0-9]+ runs — the
    same regexp_extract_all both Spark and DuckDB evaluate identically
    (no empty tokens, no \\W locale surprises). ``text`` is a column
    NAME (spliced into an expr)."""
    return F.expr(f"regexp_extract_all(lower({text}), '[a-z0-9]+', 0)")


def bigram_transitions(
    df: DataFrame,
    top_heads: int = 20,
    top_next: int = 3,
) -> DataFrame:
    """Corpus bigram LM: for the ``top_heads`` most frequent head
    words, the ``top_next`` most frequent continuations with counts.

    Bigrams come from zipping each token array with its own tail
    (arrays_zip of two slices) — a per-row projection, NO self-join
    and no positional explode; the only shuffles are the (head, next)
    count and the tiny head roll-up. Head selection is
    orderBy().limit() (distributed TakeOrderedAndProject), never a
    global window; the continuation rank windows over ONE head's
    continuations (bounded by vocabulary, partitioned by head).
    """
    from pyspark.sql import Window

    tail_len = F.greatest(F.size(F.col("_ws")) - 1, F.lit(0))
    pairs = (
        df.select(word_tokens("text").alias("_ws"))
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("_ws"), 1, tail_len).alias("head"),
                    F.slice(F.col("_ws"), 2, tail_len).alias("next"),
                )
            ).alias("_z")
        )
        .select(
            F.col("_z.head").alias("head"),
            F.col("_z.next").alias("next"),
        )
    )
    counts = pairs.groupBy("head", "next").agg(
        F.count(F.lit(1)).cast("long").alias("n_pair")
    )
    heads = (
        counts.groupBy("head")
        .agg(F.sum("n_pair").cast("long").alias("n_head"))
        .orderBy(F.col("n_head").desc(), F.col("head"))
        .limit(top_heads)
    )
    w = Window.partitionBy("head").orderBy(
        F.col("n_pair").desc(), F.col("next")
    )
    return (
        counts.join(F.broadcast(heads), "head")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top_next)
        .select("head", "n_head", "rnk", F.col("next").alias("next_word"), "n_pair")
    )


def phrase_search(df: DataFrame, phrase: list[str]) -> DataFrame:
    """Exact phrase query over a positional posting list: docs (and
    0-based token offsets) where ``phrase``'s words occur at
    consecutive positions.

    The postings build is the inverted-index shape — (term, doc, pos)
    from one posexplode — immediately filtered to the phrase's own
    terms (a broadcast-size literal IN-list, so at 100 TB the
    filter prunes the postings BEFORE any shuffle). Each subsequent
    word is one equi-join on (doc, pos + i): k-word phrases cost k-1
    sparse joins over term-filtered postings, never a text rescan.
    """
    if len(phrase) < 1:
        raise ValueError("phrase must have at least one word")
    phrase = [w.lower() for w in phrase]
    post = (
        df.select(
            F.col("doc_id"), F.posexplode(word_tokens("text")).alias("pos", "term")
        )
        .filter(F.col("term").isin(phrase))
    )
    out = (
        post.filter(F.col("term") == phrase[0])
        .select("doc_id", F.col("pos").alias("start_pos"))
    )
    for i, wrd in enumerate(phrase[1:], start=1):
        nxt = post.filter(F.col("term") == wrd).select(
            F.col("doc_id").alias("_d"), F.col("pos").alias("_p")
        )
        out = out.join(
            nxt,
            (out["doc_id"] == nxt["_d"])
            & (nxt["_p"] == out["start_pos"] + i),
        ).select("doc_id", "start_pos")
    return out


def champion_topk(df: DataFrame, queries: DataFrame, r: int = 50) -> DataFrame:
    """Champion-list retrieval (Manning IR §7.1.3), top-10 documents
    per query: per term, keep
    only the ``r`` highest-tf docs (ties → lower doc id) as that
    term's champion list, then evaluate queries ONLY over champion
    postings — the classic index-pruning strategy that bounds
    per-term work at query time regardless of corpus size. A doc
    outside every query term's champion list cannot be returned
    (the deterministic approximation this trades for the bound).

    Scoring matches keyword_search_topk (integer tf·idf with df from
    the FULL postings, idf = (N·scale) DIV df) so the only difference
    vs exact retrieval is the champion restriction. Scale shape: the
    champion cut is a per-term window over the query-term postings;
    everything downstream runs on <= r rows per term. r12 (guide
    §2.4): df rides the SAME per-term window exchange as the champion
    rank (an unordered count over the partition) — the separate
    full-postings aggregate, its broadcast build, its join and the
    dual-consumer checkpoint of the postings are gone; the postings
    are now one straight single-consumer pipeline.
    """
    from pyspark.sql import Window

    base = df.filter(F.length(F.trim(F.col("text"))) > 0)
    qterms = queries.select("query_id", F.lower(F.col("term")).alias("term"))
    tf = query_tf(df, queries)
    n_docs = base.agg(F.count_distinct(F.col("doc_id")).cast("long").alias("_n"))
    wch = Window.partitionBy("term").orderBy(F.col("tf").desc(), F.col("doc_id"))
    champs = (
        tf.withColumn("_r", F.row_number().over(wch))
        .withColumn(
            "df",
            F.count(F.lit(1)).over(Window.partitionBy("term")).cast("long"),
        )
        .filter(F.col("_r") <= r)
    )
    scored = (
        champs.crossJoin(F.broadcast(n_docs))
        .withColumn("idf", F.expr(f"(_n * {TFIDF_SCALE}) DIV df"))
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("tf") * F.col("idf")).cast("long").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "doc_id", "score")
    )
