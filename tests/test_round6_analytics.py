"""Round-6 additions: suffix array, champion lists, largest-remainder
mix allocation, exact OLS trend."""

from pyspark.sql import functions as F


def test_suffix_ranks_match_python_sort(spark):
    from pygr_spark.operators.fmindex import lcp_table_per_doc

    seqs = {
        1: "banana",
        2: "acgtacgt",
        3: "aaaa",
        4: "mississippi",
        5: "a",
        6: "ab" * 40,      # repetitive: every 8-gram repeats
        7: "a" * 100,      # worst case: every 8-gram identical
    }
    df = spark.createDataFrame(list(seqs.items()), ["doc_id", "seq"])
    got = {
        (r.doc_id, r.pos): r.sa_rank
        for r in lcp_table_per_doc(df, compute_lcp=False).collect()
    }
    for d, s in seqs.items():
        order = sorted(range(1, len(s) + 1), key=lambda i: s[i - 1:])
        for rank, pos in enumerate(order, start=1):
            assert got[(d, pos)] == rank, (d, pos, s)


def test_champion_topk_excludes_non_champions(spark):
    from pygr_spark.operators.textstats import champion_topk

    # r=2 champions per term: doc 3 has the LOWEST tf for 'x' and must
    # be pruned even though it would score > 0 in exact retrieval
    docs = spark.createDataFrame(
        [(1, "x x x y"), (2, "x x z"), (3, "x q")],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame([(1, "x")], ["query_id", "term"])
    got = {r.doc_id for r in champion_topk(docs, queries, r=2).collect()}
    assert got == {1, 2}


def test_mix_allocation_sums_to_budget(spark, sf_dir):
    from pygr_spark.queries import q_mix_allocation

    out = q_mix_allocation(spark, sf_dir).toPandas()
    assert out.alloc.sum() == 10_000
    # every allocation is the floor quota or floor+1 (Hamilton property)
    total = out.n_docs.sum()
    base = (10_000 * out.n_docs) // total
    assert ((out.alloc - base).isin([0, 1])).all()


def test_ols_trend_matches_numpy_lstsq(spark, sf_dir):
    import numpy as np

    from pygr_spark.queries import q_ols_trend, read_events

    out = q_ols_trend(spark, sf_dir).collect()
    ev = (
        read_events(spark, sf_dir)
        .select(
            "event_type",
            F.expr("CAST(ts_sec DIV 86400 AS BIGINT)").alias("day"),
            F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("y"))
        .toPandas()
    )
    d0 = ev.day.min()
    for r in out:
        g = ev[ev.event_type == r.event_type]
        slope = np.polyfit(g.day - d0, g.y, 1)[0]
        assert abs(r.slope_num / r.slope_den - slope) < 1e-6 * max(1, abs(slope))


def test_gini_split_matches_bruteforce(spark, sf_dir):
    from pygr_spark.queries import q_gini_split

    out = {r.threshold: r for r in q_gini_split(spark, sf_dir).collect()}
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").toPandas()
    cents = (orders.o_totalprice * 100).round(0).astype("int64")
    buckets = cents // 100000
    pos = (orders.o_orderpriority == "1-URGENT").astype("int64")
    n, p = len(orders), int(pos.sum())
    hist = (
        pos.groupby(buckets)
        .agg(["count", "sum"])
        .rename(columns={"count": "n_b", "sum": "pos_b"})
        .sort_index()
    )
    n_l = p_l = 0
    checked = 0
    for bucket, row in hist.iterrows():
        n_l += int(row.n_b)
        p_l += int(row.pos_b)
        n_r, p_r = n - n_l, p - p_l
        if n_l == 0 or n_r == 0:
            assert bucket not in out
            continue
        # weighted impurity (n_l/n)*gini_l + (n_r/n)*gini_r
        gini_l = 1 - (p_l / n_l) ** 2 - ((n_l - p_l) / n_l) ** 2
        gini_r = 1 - (p_r / n_r) ** 2 - ((n_r - p_r) / n_r) ** 2
        want = (n_l / n) * gini_l + (n_r / n) * gini_r
        r = out[bucket]
        assert r.n_l == n_l and r.pos_l == p_l
        assert abs(r.gini - want) < 1e-9
        checked += 1
    assert checked == len(out) > 0


def test_four_cycles_matches_bruteforce(spark, sf_dir):
    from collections import Counter
    from itertools import combinations

    from pygr_spark.queries import q_four_cycles

    out = {r.part: r.rectangles for r in q_four_cycles(spark, sf_dir).collect()}
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    pair_c = Counter()
    for _, grp in li.groupby("l_orderkey"):
        parts = sorted(set(grp.l_partkey))
        if len(parts) > 50:
            continue
        pair_c.update(combinations(parts, 2))
    want = Counter()
    for (p1, p2), c in pair_c.items():
        r = c * (c - 1) // 2
        if r:
            want[p1] += r
            want[p2] += r
    assert out == dict(want)
    assert len(out) > 0


def test_hll_windows_merge_equals_direct_build(spark, sf_dir):
    """Daily registers merged to weeks must equal registers built
    directly from week-grouped events (the HLL merge law, at the
    catalog entry's exact parameters)."""
    from pygr_spark.operators.sketches import hll_estimate_terms, hll_registers
    from pygr_spark.queries import q_hll_windows, read_events

    got = sorted(
        (r.week, r.hll_l, r.hll_num)
        for r in q_hll_windows(spark, sf_dir).collect()
    )
    ev = read_events(spark, sf_dir).select(
        F.expr("CAST(ts_sec DIV 86400 DIV 7 AS BIGINT)").alias("week"),
        F.col("user_id").cast("string").alias("item"),
    )
    direct = hll_estimate_terms(hll_registers(ev, ["week"], m=64), ["week"])
    want = sorted((r.week, r.hll_l, r.hll_num) for r in direct.collect())
    assert got == want


def test_hll_windows_estimate_near_exact(spark, sf_dir):
    """The (n_regs, hll_l, hll_num) triple must decode to an estimate
    within HLL's error envelope. Decoding applies the standard
    small-range correction (Flajolet et al. 2007 §4): when the raw
    estimate E = alpha_m·m²·2^L/num is <= 2.5m and some registers are
    empty, use linear counting m·ln(m/V) on the V = m − n_regs empty
    registers — exactly why the entry emits n_regs."""
    import math

    from pygr_spark.queries import q_hll_windows, read_events

    alpha_m = 0.709  # alpha_64 from Flajolet et al. 2007
    m = 64
    est = {}
    for r in q_hll_windows(spark, sf_dir).collect():
        e = alpha_m * m * m * (2.0 ** r.hll_l) / r.hll_num
        if e <= 2.5 * m and r.n_regs < m:
            e = m * math.log(m / (m - r.n_regs))
        est[r.week] = e
    exact = {
        r.week: r.n
        for r in read_events(spark, sf_dir)
        .select(
            F.expr("CAST(ts_sec DIV 86400 DIV 7 AS BIGINT)").alias("week"),
            "user_id",
        )
        .groupBy("week")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for week, n in exact.items():
        assert abs(est[week] - n) <= 0.40 * n, (week, est[week], n)


def test_nb_train_matches_counter(spark, sf_dir):
    import re
    from collections import Counter

    from pygr_spark.queries import q_nb_train

    rows = q_nb_train(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    docs = docs[docs.text.str.strip().str.len() > 0]
    tok = re.compile(r"[a-z0-9]+")
    vocab = Counter()
    per_class = {}
    class_tokens = Counter()
    class_docs = Counter()
    for _, d in docs.iterrows():
        terms = tok.findall(d.text.lower())
        vocab.update(terms)
        per_class.setdefault(d.lang, Counter()).update(terms)
        class_tokens[d.lang] += len(terms)
        class_docs[d.lang] += 1
    top = {t for t, _ in sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))[:20]}
    want = {
        (lang, t): c
        for lang, ctr in per_class.items()
        for t, c in ctr.items()
        if t in top
    }
    got = {(r.lang, r.term): r.term_count for r in rows}
    assert got == want
    for r in rows:
        assert r.class_tokens == class_tokens[r.lang]
        assert r.class_docs == class_docs[r.lang]


def test_chi2_terms_matches_counter(spark, sf_dir):
    import re
    from collections import Counter

    from pygr_spark.queries import q_chi2_terms

    rows = q_chi2_terms(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    docs = docs[docs.text.str.strip().str.len() > 0]
    tok = re.compile(r"[a-z0-9]+")
    df_c = Counter()
    n_lt = Counter()
    n_class = Counter()
    for _, d in docs.iterrows():
        terms = set(tok.findall(d.text.lower()))
        df_c.update(terms)
        n_class[d.lang] += 1
        for t in terms:
            n_lt[(d.lang, t)] += 1
    top = {t for t, _ in sorted(df_c.items(), key=lambda kv: (-kv[1], kv[0]))[:30]}
    n = len(docs)
    want = {
        (lang, t): c for (lang, t), c in n_lt.items() if t in top
    }
    got = {(r.lang, r.term): r.n_lt for r in rows}
    assert got == want
    for r in rows:
        assert r.n_class == n_class[r.lang]
        assert r.n_term == df_c[r.term]
        assert r.n_docs == n
        assert r.assoc == r.n_lt * n - r.n_class * r.n_term


def test_link_prediction_matches_bruteforce(spark, sf_dir):
    from collections import defaultdict

    from pygr_spark.queries import q_link_prediction

    out = [
        (r.u, r.rnk, r.w, r.common, r.deg_u, r.deg_w)
        for r in q_link_prediction(spark, sf_dir).collect()
    ]
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").toPandas()
    nmod = max(499, len(orders) // 6)
    adj = defaultdict(set)
    for _, o in orders.iterrows():
        a, b = int(o.o_custkey) % nmod, int(o.o_orderkey) % nmod
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    want = []
    for u in adj:
        cands = defaultdict(int)
        for v in adj[u]:
            for w in adj[v]:
                if w != u and w not in adj[u]:
                    cands[w] += 1
        ranked = sorted(
            ((c, w) for w, c in cands.items() if c >= 2),
            key=lambda cw: (-cw[0], cw[1]),
        )[:3]
        for rnk, (c, w) in enumerate(ranked, start=1):
            want.append((u, rnk, w, c, len(adj[u]), len(adj[w])))
    assert sorted(out) == sorted(want)
    assert len(out) > 0


def test_pmi_collocations_matches_counter(spark, sf_dir):
    import re
    from collections import Counter

    from pygr_spark.queries import q_pmi_collocations

    rows = q_pmi_collocations(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    docs = docs[docs.text.str.strip().str.len() > 0]
    tok = re.compile(r"[a-z0-9]+")
    uni = Counter()
    bi = Counter()
    for _, d in docs.iterrows():
        ws = tok.findall(d.text.lower())
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
    total = sum(uni.values())
    want = {
        (w1, w2): c for (w1, w2), c in bi.items() if c * 5000 >= total
    }
    got = {(r.w1, r.w2): r.c12 for r in rows}
    assert got == want and len(got) > 0
    for r in rows:
        assert r.c1 == uni[r.w1] and r.c2 == uni[r.w2] and r.total == total
        assert r.pmi_num == r.c12 * total and r.pmi_den == r.c1 * r.c2


def test_containment_dups_matches_bruteforce(spark, sf_dir):
    import re

    from pygr_spark.queries import q_containment_dups

    rows = {
        (r.id_a, r.id_b): (r.inter, r.size_a, r.size_b)
        for r in q_containment_dups(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    sets = {}
    for _, d in docs.iterrows():
        ws = re.split(r"\s+", d.text.strip().lower())
        if len(ws) >= 5:
            sets[d.doc_id] = {
                " ".join(ws[i : i + 5]) for i in range(len(ws) - 4)
            }
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter * 10 >= 8 * min(len(sets[a]), len(sets[b])):
                want[(a, b)] = (inter, len(sets[a]), len(sets[b]))
    assert rows == want and len(rows) > 0


def test_containment_catches_subsumed_doc(spark):
    """A doc wholly contained in a longer one must be flagged even
    when its Jaccard vs the container is far below any symmetric
    threshold."""
    from pygr_spark.queries import Q_CONTAINMENT_DUPS_SQL  # noqa: F401 (gate exists)
    from pygr_spark.operators.dedup import shingle_rows

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"w{i}" for i in range(100))
    docs = spark.createDataFrame([(1, short), (2, long)], ["doc_id", "text"])
    sh = shingle_rows(docs, 5)
    a = {r._s for r in sh.filter("_id = 1").collect()}
    b = {r._s for r in sh.filter("_id = 2").collect()}
    inter = len(a & b)
    assert inter * 10 >= 8 * min(len(a), len(b))        # containment fires
    assert inter < 0.2 * (len(a) + len(b) - inter)      # jaccard would not


def test_k_anonymity_matches_pandas(spark, sf_dir):
    from pygr_spark.queries import q_k_anonymity

    got = {
        (r.nation, r.segment, r.bal_bucket): r.n
        for r in q_k_anonymity(spark, sf_dir).collect()
    }
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").toPandas()
    cents = (cust.c_acctbal * 100).round(0).astype("int64")
    # Spark DIV and DuckDB // truncate toward zero; Python // floors —
    # acctbal is negative for some customers, so mirror the truncation
    cust["bal_bucket"] = (cents.abs() // 100000) * cents.apply(
        lambda v: -1 if v < 0 else 1
    )
    sizes = cust.groupby(
        ["c_nationkey", "c_mktsegment", "bal_bucket"]
    ).size()
    want = {
        (int(k[0]), k[1], int(k[2])): int(v)
        for k, v in sizes.items()
        if v < 5
    }
    assert got == want and len(got) > 0


def test_lcp_array_matches_bruteforce(spark, sf_dir):
    import re

    from pygr_spark.queries import q_lcp_array

    got = {
        (r.doc_id, r.sa_rank): (r.pos, r.lcp)
        for r in q_lcp_array(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    want = {}
    for _, d in docs.iterrows():
        seq = re.sub(r"[^acgt]", "", d.text.lower())
        if not 4 <= len(seq) <= 512:
            continue
        order = sorted(range(1, len(seq) + 1), key=lambda i: seq[i - 1:])
        prev = None
        for rank, pos in enumerate(order, start=1):
            s = seq[pos - 1:]
            lcp = 0
            if prev is not None:
                while lcp < min(len(prev), len(s)) and prev[lcp] == s[lcp]:
                    lcp += 1
            want[(d.doc_id, rank)] = (pos, lcp)
            prev = s
    assert got == want and len(got) > 0


def test_lcp_climb_on_repetitive_strings(spark):
    """The oracle's binary climb (_LCP_STEPS) must be exact on
    adversarial inputs: long runs (every LCP near maximal) and
    period-2 repeats (climb steps land mid-period), including at
    non-power-of-two lengths. Ranks come from the kernel."""
    from pyspark.sql import Window

    from pygr_spark.operators.fmindex import lcp_table_per_doc
    from pygr_spark.queries import _LCP_STEPS

    cases = {1: "a" * 100, 2: "acacacacacac", 3: "aacaacaacaat", 4: "acgt" * 31}
    df = [(i, s) for i, s in cases.items()]
    docs = spark.createDataFrame(df, "doc_id long, seq string")
    ranks = lcp_table_per_doc(docs, compute_lcp=False)
    w = Window.partitionBy("doc_id").orderBy("sa_rank")
    steps = ", ".join(str(s) for s in _LCP_STEPS)
    climb = (
        f"aggregate(array({steps}), 0, (k, step) -> k + "
        "IF(substring(_a, k + 1, step) = substring(_b, k + 1, step) "
        "AND substring(_a, k + 1, step) <> '', step, 0))"
    )
    out = (
        ranks.withColumn("ppos", F.lag("pos").over(w))
        .join(docs, "doc_id")
        .selectExpr(
            "doc_id",
            "sa_rank",
            "substring(seq, ppos) AS _a",
            "substring(seq, pos) AS _b",
        )
        .selectExpr("doc_id", "sa_rank", f"IF(_a IS NULL, 0, {climb}) AS lcp")
        .collect()
    )
    got = {(r.doc_id, r.sa_rank): r.lcp for r in out}
    for i, s in cases.items():
        order = sorted(range(1, len(s) + 1), key=lambda p: s[p - 1:])
        prev = None
        for rank, pos in enumerate(order, start=1):
            suf = s[pos - 1:]
            lcp = 0
            if prev is not None:
                while lcp < min(len(prev), len(suf)) and prev[lcp] == suf[lcp]:
                    lcp += 1
            assert got[(i, rank)] == lcp, (i, rank, suf, lcp, got[(i, rank)])
            prev = suf


def test_novelty_scores_matches_bruteforce(spark, sf_dir):
    from pygr_spark.queries import q_novelty_scores

    got = {
        r.doc_id: (r.n_grams, r.n_first)
        for r in q_novelty_scores(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    sets = {}
    for _, d in docs.sort_values("doc_id").iterrows():
        s = d.text.lower()
        if len(s) >= 8:
            sets[d.doc_id] = {s[i : i + 8] for i in range(len(s) - 7)}
    seen = {}
    for doc in sorted(sets):
        for g in sets[doc]:
            seen.setdefault(g, doc)
    want = {
        doc: (len(gs), sum(1 for g in gs if seen[g] == doc))
        for doc, gs in sets.items()
    }
    assert got == want and len(got) > 0


def test_proximity_search_matches_bruteforce(spark, sf_dir):
    import re
    from collections import Counter

    from pygr_spark.queries import q_proximity_search

    got = {
        r.doc_id: r.n_prox_pairs
        for r in q_proximity_search(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    docs = docs[docs.text.str.strip().str.len() > 0]
    tok = re.compile(r"[a-z0-9]+")
    freq = Counter()
    toks = {}
    for _, d in docs.iterrows():
        ws = tok.findall(d.text.lower())
        toks[d.doc_id] = ws
        freq.update(ws)
    (t1, _), (t2, _) = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    want = {}
    for doc, ws in toks.items():
        n = sum(
            1
            for i, a in enumerate(ws)
            for j, b in enumerate(ws)
            if a == t1 and b == t2 and abs(i - j) <= 3
        )
        if n:
            want[doc] = n
    assert got == want and len(got) > 0


def test_term_burstiness_matches_counter(spark, sf_dir):
    import re
    from collections import Counter

    from pygr_spark.queries import q_term_burstiness

    rows = q_term_burstiness(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    docs = docs[docs.text.str.strip().str.len() > 0]
    tok = re.compile(r"[a-z0-9]+")
    per_doc = []
    total = Counter()
    for _, d in docs.iterrows():
        c = Counter(tok.findall(d.text.lower()))
        per_doc.append(c)
        total.update(c)
    top = {t for t, _ in sorted(total.items(), key=lambda kv: (-kv[1], kv[0]))[:20]}
    assert {r.term for r in rows} == top
    for r in rows:
        xs = [c[r.term] for c in per_doc if r.term in c]
        assert r.df == len(xs)
        assert r.n_total == sum(xs)
        assert r.sum_sq == sum(x * x for x in xs)
        assert r.n_docs == len(per_doc)


def test_stream_hll_equals_batch_registers(spark, sf_dir):
    """The streamed (window, register) max-state must equal a batch
    build over the same events — the HLL merge law applied by the
    micro-batch engine itself — and carry at most m=64 rows per
    window (the bounded-state property)."""
    from pygr_spark.operators.sketches import hll_estimate_terms, hll_registers
    from pygr_spark.queries import q_stream_hll, read_events

    out = q_stream_hll(spark, sf_dir).collect()
    got = sorted((r.win_start, r.hll_l, r.hll_num) for r in out)
    ev = read_events(spark, sf_dir).select(
        F.expr("CAST(ts_sec DIV 3600 * 3600 AS BIGINT)").alias("win_start"),
        F.col("user_id").cast("string").alias("item"),
    )
    direct = hll_estimate_terms(
        hll_registers(ev, ["win_start"], m=64), ["win_start"]
    )
    want = sorted((r.win_start, r.hll_l, r.hll_num) for r in direct.collect())
    assert got == want
    for r in out:
        assert r.n_regs <= 64
