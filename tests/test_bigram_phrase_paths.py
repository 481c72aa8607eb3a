"""Golden tests for bigram transitions, positional phrase search
(operators/textstats.py) and K-hop min-plus / max-plus relaxation
(operators/graphs.py relax_k)."""

from pygr_spark.operators.graphs import relax_k
from pygr_spark.operators.textstats import bigram_transitions, phrase_search


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestBigramTransitions:
    def test_golden(self, spark):
        df = _docs(
            spark,
            [(1, "the cat sat. The cat ran!"), (2, "the dog sat")],
        )
        out = bigram_transitions(df, top_heads=2, top_next=2).collect()
        got = {(r.head, r.rnk): (r.next_word, r.n_pair, r.n_head) for r in out}
        # "the" heads 3 bigrams: cat(2), dog(1); "cat" heads sat(1), ran(1)
        assert got[("the", 1)] == ("cat", 2, 3)
        assert got[("the", 2)] == ("dog", 1, 3)
        assert got[("cat", 1)] == ("ran", 1, 2)  # tie -> lexicographic
        assert got[("cat", 2)] == ("sat", 1, 2)

    def test_no_cross_doc_bigrams(self, spark):
        # last word of doc 1 + first of doc 2 is NOT a bigram
        df = _docs(spark, [(1, "alpha beta"), (2, "beta gamma")])
        out = bigram_transitions(df, top_heads=10, top_next=10).collect()
        pairs = {(r.head, r.next_word) for r in out}
        assert ("beta", "beta") not in pairs
        assert {("alpha", "beta"), ("beta", "gamma")} <= pairs

    def test_single_token_docs_no_rows(self, spark):
        df = _docs(spark, [(1, "lonely"), (2, "!!"), (3, "")])
        assert bigram_transitions(df).count() == 0


class TestPhraseSearch:
    def test_golden_positions(self, spark):
        df = _docs(
            spark,
            [(1, "a slow hash batch job"), (2, "slow hash, batch slow hash batch"), (3, "slow batch hash")],
        )
        out = phrase_search(df, ["slow", "hash", "batch"]).collect()
        got = {(r.doc_id, r.start_pos) for r in out}
        assert got == {(1, 1), (2, 0), (2, 3)}

    def test_overlapping_repeats(self, spark):
        # "a b a b a" matches "a b a" at positions 0 and 2
        df = _docs(spark, [(1, "a b a b a")])
        out = phrase_search(df, ["a", "b", "a"]).collect()
        assert {(r.doc_id, r.start_pos) for r in out} == {(1, 0), (1, 2)}

    def test_single_word(self, spark):
        df = _docs(spark, [(1, "x y x")])
        out = phrase_search(df, ["x"]).collect()
        assert {(r.doc_id, r.start_pos) for r in out} == {(1, 0), (1, 2)}

    def test_case_and_punct_insensitive(self, spark):
        df = _docs(spark, [(1, "Slow HASH: Batch")])
        assert phrase_search(df, ["slow", "hash", "batch"]).count() == 1


def _relax(spark, edges, init, k, better="min"):
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    i = spark.createDataFrame(init, "node long, value long")
    return {r.node: r.value for r in relax_k(e, i, k, better=better).collect()}


class TestBellmanFordK:
    def test_cheaper_longer_path_wins(self, spark):
        # 0->2 direct cost 10; 0->1->2 cost 2+3=5
        out = _relax(spark, [(0, 2, 10), (0, 1, 2), (1, 2, 3)], [(0, 0)], 6)
        assert out == {0: 0, 1: 2, 2: 5}

    def test_hop_bound(self, spark):
        # chain 0->1->2->3, k=2 reaches only depth 2
        out = _relax(spark, [(0, 1, 1), (1, 2, 1), (2, 3, 1)], [(0, 0)], 2)
        assert out == {0: 0, 1: 1, 2: 2}

    def test_cycle_terminates(self, spark):
        out = _relax(spark, [(0, 1, 1), (1, 0, 1)], [(0, 0)], 8)
        assert out == {0: 0, 1: 1}

    def test_multi_source_min(self, spark):
        # node 2 reachable from both seeds; min wins
        out = _relax(spark, [(0, 2, 9), (5, 2, 1)], [(0, 0), (5, 0)], 3)
        assert out == {0: 0, 5: 0, 2: 1}


class TestMaxChainK:
    # seeds carry each node's own weight, edges the DST node's weight

    def test_chain_accumulates_dst_weights(self, spark):
        # 1(w=5) -> 2(w=3) -> 3(w=4): best ending at 3 is 5+3+4
        out = _relax(
            spark, [(1, 2, 3), (2, 3, 4)], [(1, 5), (2, 3), (3, 4)], 6, "max"
        )
        assert out == {1: 5, 2: 8, 3: 12}

    def test_diamond_takes_max(self, spark):
        # 1->2->4 (5+1+2) vs 1->3->4 (5+9+2): max path wins at 4
        edges = [(1, 2, 1), (1, 3, 9), (2, 4, 2), (3, 4, 2)]
        nodes = [(1, 5), (2, 1), (3, 9), (4, 2)]
        assert _relax(spark, edges, nodes, 6, "max")[4] == 16

    def test_hop_bound_caps_chain(self, spark):
        edges = [(1, 2, 1), (2, 3, 1), (3, 4, 1)]
        nodes = [(1, 1), (2, 1), (3, 1), (4, 1)]
        out = _relax(spark, edges, nodes, 1, "max")
        # k=1: at most one extension — node 4's best is 3's seed + 1
        assert out == {1: 1, 2: 2, 3: 2, 4: 2}
