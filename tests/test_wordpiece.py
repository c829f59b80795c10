"""WordPiece tokenizer induction + greedy apply (operators/wordpiece.py)."""

from pyspark.sql import functions as F

from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.wordpiece import (
    UNK,
    _greedy_pieces,
    _vocab,
    wordpiece_learn,
    wordpiece_segment_corpus,
    wp_word_table,
)


def test_wp_word_table_representation(spark):
    """##-prefixed continuation symbols, no end marker, cap at 16."""
    df = spark.createDataFrame(
        [(1, "ab a " + "z" * 20)], "doc_id long, text string"
    )
    rows = {r["word"]: r["sym"] for r in wp_word_table(df).collect()}
    assert rows == {"ab": " a ##b ", "a": " a "}  # 20-char word capped out


def test_wordpiece_learn_likelihood_beats_frequency(spark):
    """The likelihood score prefers an exclusive pair over a more
    frequent but promiscuous one: with 'aa' appearing 30x and 'bc'
    20x but 'b'/'c' occurring ONLY together, count(b,c)/(u_b*u_c)
    > count(a,##a)/(u_a*u_{##a}) — raw-frequency BPE would merge the
    'a ##a' pair first."""
    rows = [(i, "aa " * 3 + "bc " * 2) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges, _ = wordpiece_learn(spark, df, num_merges=1)
    first = merges.collect()[0]
    assert (first["left"], first["right"]) == ("b", "##c")
    assert first["merged"] == "bc"
    # exact evidence columns reconstruct the score
    assert first["pair_count"] == 20
    assert first["left_count"] == 20 and first["right_count"] == 20


def test_wordpiece_merged_text_drops_inner_marker(spark):
    df = spark.createDataFrame(
        [(i, "banana band") for i in range(5)], "doc_id long, text string"
    )
    merges, _ = wordpiece_learn(spark, df, num_merges=4)
    for r in merges.collect():
        assert "##" not in r["merged"][2:], r
        if r["left"].startswith("##"):
            assert r["merged"].startswith("##")
        else:
            assert not r["merged"].startswith("##")


def test_greedy_segmentation_longest_match_and_unk(spark):
    df = spark.createDataFrame(
        [(i, "banana bandana ban lemon melon yellow") for i in range(10)],
        "doc_id long, text string",
    )
    seed = wp_word_table(df)
    runs = {}
    # 17 merges cross wordpiece_learn's rank-16 lineage checkpoint
    for num_merges in (6, 17):
        merges, _ = wordpiece_learn(spark, df, num_merges=num_merges)
        runs[num_merges] = [tuple(r) for r in merges.collect()]
        vocab = set(_vocab(seed, [r[3] for r in runs[num_merges]]))
        segs = {
            r["word"]: r["pieces"]
            for r in _greedy_pieces(seed.select("word", "c"), vocab).collect()
        }
        for word, pieces in segs.items():
            # lossless: concatenated contents reproduce the word
            joined = "".join(
                p[2:] if p.startswith("##") else p for p in pieces
            )
            assert joined == word, (word, pieces)
            # only the first piece is word-initial
            assert not pieces[0].startswith("##")
            assert all(p.startswith("##") for p in pieces[1:])
        # a word with a character the vocab never saw -> [UNK]
        segs2 = {
            r["word"]: r["pieces"]
            for r in _greedy_pieces(
                spark.createDataFrame([("qx", 1)], "word string, c long"),
                vocab,
            ).collect()
        }
        assert segs2["qx"] == [UNK]
    assert len(runs[17]) >= 17
    assert runs[17][:6] == runs[6]


def test_wordpiece_segment_corpus_contract(spark):
    long_word = "w" * 20
    df = spark.createDataFrame(
        [
            (1, "banana bandana"),
            (2, "banana " + long_word),
            (3, ""),
            (4, "bandana banana"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in wordpiece_segment_corpus(df).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["n_words"] == 2
    assert 2 <= out[1]["n_tokens"] <= len("bananabandana")
    # over-cap word is one [UNK] token
    assert out[2]["n_words"] == 2 and out[2]["n_tokens"] >= 2
    assert out[3]["n_words"] == 0 and out[3]["n_tokens"] == 0
    # order-sensitive fingerprint
    assert out[1]["token_fp"] != out[4]["token_fp"]


def test_wordpiece_learn_single_corpus_pass(spark):
    """With a precomputed word table, wordpiece_learn never touches
    the corpus DataFrame — segment_corpus therefore tokenizes the
    corpus exactly once (the BM25 single-pass rule). df=None would
    raise on any attempt to rebuild the word table."""
    df = spark.createDataFrame(
        [(i, "banana band") for i in range(5)], "doc_id long, text string"
    )
    seed = wp_word_table(df).localCheckpoint()
    merges, _ = wordpiece_learn(spark, None, num_merges=2, word_table=seed)
    ref, _ = wordpiece_learn(spark, df, num_merges=2)
    assert [tuple(r) for r in merges.collect()] == [
        tuple(r) for r in ref.collect()
    ]
