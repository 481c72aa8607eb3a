from pygr_spark.operators.dedup import (
    exact_dedup,
    jaccard_join,
    minhash_near_dups,
    simhash_near_dups,
    word_shingles,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),   # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat again and again"),   # near dup of 1
    (4, "completely different text about spark query engines at scale"),
    (5, "another unrelated document mentioning parquet shuffle joins"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_word_shingles(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    out = df.select(word_shingles(F.col("text")).alias("sh")).collect()[0].sh
    assert out == ["a b c", "b c d"]


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark))
    rows = {r.doc_id: r.n_copies for r in out.collect()}
    assert rows[1] == 2 and 2 not in rows
    assert rows[3] == 1 and rows[4] == 1 and rows[5] == 1


def test_jaccard_join_finds_near_dup(spark):
    out = jaccard_join(_docs(spark), threshold=0.5)
    pairs = {(r.id_a, r.id_b): r for r in out.collect()}
    assert (1, 2) in pairs  # identical: jaccard 1.0
    assert pairs[(1, 2)].inter == pairs[(1, 2)].size_a
    assert (1, 3) in pairs  # near dup
    assert all(p in {(1, 2), (1, 3), (2, 3)} for p in pairs)


def test_minhash_matches_exact_on_strong_pairs(spark):
    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_join(_docs(spark), threshold=0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_near_dups(_docs(spark), threshold=0.5).collect()
    }
    # verification makes precision exact; banding with 32 perms / 8 bands
    # catches all >=0.5 pairs on this fixture
    assert lsh == exact


def test_simhash_near_dups(spark):
    out = simhash_near_dups(_docs(spark), max_hamming=16)
    pairs = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
    assert pairs[(1, 2)] == 0  # identical text, identical simhash
    assert (1, 3) in pairs     # one-token change: small hamming distance
    assert (1, 4) not in pairs


def test_jaccard_max_shingle_freq(spark):
    # the frequency cap drops ubiquitous shingles from the pair count
    out_capped = jaccard_join(
        _docs(spark), threshold=0.1, max_shingle_freq=2
    )
    out_plain = jaccard_join(_docs(spark), threshold=0.1)
    # capping never invents pairs
    capped = {(r.id_a, r.id_b) for r in out_capped.collect()}
    plain = {(r.id_a, r.id_b) for r in out_plain.collect()}
    assert capped <= plain
    # exact duplicates share only <=2-doc shingles, so they survive
    assert (1, 2) in capped


def test_md5_hash60_matches_python_and_duckdb(spark):
    import duckdb
    import hashlib

    from pyspark.sql import functions as F

    from pygr_spark.operators.dedup import md5_hash60

    vals = ["", "a", "hello world", "päö üñ", "123"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {r.s: r.h for r in df.select("s", md5_hash60(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    for v in vals:
        py = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
        duck = con.execute(
            "SELECT ('0x'||substr(md5(?),1,15))::BIGINT", [v]
        ).fetchone()[0]
        assert got[v] == py == duck
