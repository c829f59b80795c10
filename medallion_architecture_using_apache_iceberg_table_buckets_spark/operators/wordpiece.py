"""WordPiece tokenizer induction and application (Schuster &
Nakajima 2012; Wu et al. 2016, arXiv:1609.08144) — the third
tokenizer family next to BPE (operators/bpe.py) and unigram-LM
(operators/unigram_lm.py), distributed Spark-first.

WordPiece differs from BPE in exactly two places, and this module
shares everything else with the BPE machinery:

- **Merge objective**: instead of raw pair frequency, each round
  merges the pair maximizing the likelihood gain
  ``count(l, r) / (count(l) * count(r))`` — the score of the
  original WordPiece formulation. The ratio is computed in IEEE-754
  doubles from exact BIGINT counts (both engines divide the same
  doubles, so the ordering replays exactly; ties break by pair
  text), and the emitted row carries the three EXACT counts rather
  than the float score, so the driver hash never touches a double.
- **Symbol representation**: no end-of-word marker; continuation
  symbols carry the ``##`` prefix (``banana`` seeds as
  ``b ##a ##n ##a ##n ##a``), and a merge concatenates the left
  symbol with the right symbol's content (``##a + ##n -> ##an``) —
  BERT's representation.

Application is BERT's WordpieceTokenizer verbatim: greedy
longest-match-first against the final symbol inventory (word-initial
symbols match at position 0, ``##`` symbols after it), whole word ->
``[UNK]`` when no symbol matches or the word exceeds the induction
cap. The greedy matcher runs as a broadcast-inventory Arrow
``pandas_udf`` over the DISTINCT-WORD table (the Zipf reduction all
three tokenizer families use — the corpus is touched once), the same
map-only shape as the unigram segmenter.

Scale design: each merge round costs one pair-count aggregation +
one symbol-count aggregation over the word table plus a driver-side
1-row argmax (inherently global and sequential — the BPE/Lloyd
precedent); application is map-only with a vocabulary-sized
broadcast and one corpus-sized broadcast join.

Reference parity note: the reference pipeline (scripts/raw-bronze.py,
bronze-silver.py) carries no tokenizer machinery; this module
belongs to the LLM-curation extension surface.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .bpe import WORD_RE

MAX_WORD_LEN = 16
UNK = "[UNK]"


def wp_word_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, sym, c): distinct lowercase alpha words (induction cap
    MAX_WORD_LEN like the unigram trainer), their WordPiece seed
    symbol string (first char plain, rest ##-prefixed,
    space-delimited with guard spaces), and corpus frequency."""
    return (
        df.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit(WORD_RE), 0
                )
            ).alias("word")
        )
        .filter(F.length("word") <= MAX_WORD_LEN)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("c"))
        .select(
            "word",
            F.concat(
                F.lit(" "),
                F.substring("word", 1, 1),
                F.when(
                    F.length("word") > 1,
                    F.concat(
                        F.lit(" ##"),
                        F.array_join(
                            F.regexp_extract_all(
                                F.expr("substring(word, 2)"),
                                F.lit("."),
                                0,
                            ),
                            " ##",
                        ),
                    ),
                ).otherwise(F.lit("")),
                F.lit(" "),
            ).alias("sym"),
            "c",
        )
    )


def _pair_counts(wf: DataFrame) -> DataFrame:
    """(l, r, cnt): adjacent-symbol pair frequencies over the current
    symbol table (bpe._pair_counts with this module's column names)."""
    syms = F.split(F.trim(F.col("sym")), " ")
    pairs = F.arrays_zip(
        syms.alias("l"),
        F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(1))).alias("r"),
    )
    return (
        wf.select(F.explode(pairs).alias("p"), "c")
        .filter(F.col("p.r").isNotNull())
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("c").alias("cnt"))
    )


def _sym_counts(wf: DataFrame) -> DataFrame:
    """(s, u): symbol occurrence frequencies over the current table."""
    return (
        wf.select(
            F.explode(F.split(F.trim("sym"), " ")).alias("s"), "c"
        )
        .groupBy("s")
        .agg(F.sum("c").alias("u"))
    )


def _merged_text(left: str, right: str) -> str:
    """WordPiece concatenation: the right symbol is never
    word-initial, so it always carries ## — drop it."""
    return left + right[2:]


def _apply_merge(wf: DataFrame, left: str, right: str) -> DataFrame:
    """One merge round on the symbol table: delimiter-safe replace to
    the per-round fixpoint, computed as two unconditional replaces in
    one projection — identical reasoning (and byte-identical output)
    to bpe._apply_merge: the replace can never create a new
    same-round occurrence, and pass-1 survivors (occurrences whose
    leading space pass 1 consumed) are never adjacent to each other,
    so pass 2 finishes the round with nothing blocked. Replaces the
    former localCheckpoint+count fixpoint loop (two jobs — two full
    word-table barriers — per merge round); with the ##-dropping
    WordPiece concatenation."""
    pat = F.lit(f" {left} {right} ")
    rep = F.lit(f" {_merged_text(left, right)} ")
    return wf.select(
        "word",
        F.replace(F.replace(F.col("sym"), pat, rep), pat, rep).alias("sym"),
        "c",
    )


def wordpiece_learn(
    spark: SparkSession,
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 6,
    word_table: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Learn ``num_merges`` likelihood-scored merges. Returns
    ``(merges_df, final_word_table)`` where merges_df has one row per
    merge: (rank, left, right, merged, pair_count, left_count,
    right_count) — exact integers only; the score that ordered the
    round is pair_count / (left_count * right_count), reconstructible
    from the row.

    ``word_table`` lets a caller that already built the
    ``wp_word_table`` pass it in so the corpus is tokenized exactly
    once (the BM25 single-pass rule: at scale the corpus pass
    dominates and the word table is the cheap part)."""
    wf = (
        word_table
        if word_table is not None
        else wp_word_table(df, text_col).localCheckpoint()
    )
    merges = []
    for rank in range(1, num_merges + 1):
        uni = _sym_counts(wf)
        best = (
            _pair_counts(wf)
            .join(uni.select(F.col("s").alias("l"), F.col("u").alias("ul")),
                  "l")
            .join(uni.select(F.col("s").alias("r"), F.col("u").alias("ur")),
                  "r")
            .select(
                "l", "r", "cnt", "ul", "ur",
                (
                    F.col("cnt").cast("double")
                    / (F.col("ul").cast("double") * F.col("ur").cast("double"))
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        b = best[0]
        merges.append(
            (rank, b["l"], b["r"], _merged_text(b["l"], b["r"]),
             b["cnt"], b["ul"], b["ur"])
        )
        wf = _apply_merge(wf, b["l"], b["r"])
        # lineage bound every 16 rounds (see bpe_learn): caps the
        # replace-chain each round's counts recompute; never fires at
        # the default num_merges=6
        if rank % 16 == 0:
            wf = wf.localCheckpoint()
    return (
        local_frame(
            spark, merges,
            "rank int, left string, right string, merged string, "
            "pair_count bigint, left_count bigint, right_count bigint",
        ),
        wf,
    )


def _vocab(seed_wf: DataFrame, merges: list[str]) -> list[str]:
    """Final symbol inventory: every symbol present in the SEED
    table plus the merged symbols, deterministic order."""
    seed_syms = [
        r["s"]
        for r in seed_wf.select(
            F.explode(F.split(F.trim("sym"), " ")).alias("s")
        )
        .distinct()
        .collect()
    ]
    return sorted(set(seed_syms) | set(merges))


def _greedy_pieces(words: DataFrame, vocab: set) -> DataFrame:
    """(word, c, pieces array<string>): BERT WordpieceTokenizer's
    greedy longest-match-first per distinct word — broadcast
    inventory, map-only, whole word -> [UNK] on any miss."""

    @F.pandas_udf("array<string>")
    def seg(col: pd.Series) -> pd.Series:
        out = []
        for w in col:
            pieces = []
            start, n = 0, len(w)
            ok = True
            while start < n:
                end = n
                cur = None
                while start < end:
                    s = w[start:end]
                    if start > 0:
                        s = "##" + s
                    if s in vocab:
                        cur = s
                        break
                    end -= 1
                if cur is None:
                    ok = False
                    break
                pieces.append(cur)
                start = end
            out.append(pieces if ok else [UNK])
        return pd.Series(out)

    return words.withColumn("pieces", seg("word"))


def wordpiece_segment_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_merges: int = 6,
) -> DataFrame:
    """Learn the WordPiece vocabulary, then greedy-segment every
    document under it. Emits order-sensitive per-doc evidence —
    (doc_id, n_words, n_tokens, token_fp) with token_fp an md5 of
    the in-order piece stream (## prefixes and [UNK]s included) —
    the unigram/BPE encode-evidence shape. Words over MAX_WORD_LEN
    are [UNK] (BERT's max_input_chars_per_word rule)."""
    spark = df.sparkSession
    seed = wp_word_table(df, text_col).localCheckpoint()
    merges_df, _ = wordpiece_learn(
        spark, df, text_col, num_merges, word_table=seed
    )
    merged = [r["merged"] for r in merges_df.collect()]
    vocab = set(_vocab(seed, merged))
    word_pieces = _greedy_pieces(seed.select("word", "c"), vocab).select(
        "word",
        F.array_join("pieces", "|").alias("pieces_str"),
        F.size("pieces").cast("long").alias("n_pieces"),
    )
    docw = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.expr(f"regexp_extract_all(lower({text_col}), '{WORD_RE}', 0)")
        ).alias("pos", "word"),
    )
    per = (
        docw.join(F.broadcast(word_pieces), "word", "left")
        .select(
            "doc_id",
            "pos",
            F.coalesce(F.col("pieces_str"), F.lit(UNK)).alias("s"),
            F.coalesce(F.col("n_pieces"), F.lit(1).cast("long")).alias("nt"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "s"))),
                        lambda x: x.getField("s"),
                    ),
                    "|",
                )
            ).alias("token_fp"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_words"), F.lit(0).cast("long")).alias(
                "n_words"
            ),
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias(
                "n_tokens"
            ),
            F.coalesce(F.col("token_fp"), F.md5(F.lit(""))).alias(
                "token_fp"
            ),
        )
    )
