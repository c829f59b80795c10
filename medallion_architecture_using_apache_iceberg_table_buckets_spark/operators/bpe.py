"""Distributed byte-pair-encoding (BPE) vocabulary induction.

The tokenizer-training step of an LLM data pipeline (Sennrich et al.
2016, arXiv:1508.07909): iteratively merge the most frequent adjacent
symbol pair. The classic formulation runs on the WORD-FREQUENCY
table, not the corpus — and that is exactly what makes it scale: a
100 TB corpus has a distinct-word table orders of magnitude smaller,
produced by one map+shuffle, after which each merge round costs one
aggregation over that table plus a driver-side 1-row argmax (the
merge decision is inherently global and sequential — the same
structure as Lloyd iterations in the IVF builder).

Everything stays in JVM expressions: words split to symbols with
regexp_extract_all, adjacent pairs via arrays_zip over sliced
arrays, and a learned merge applies as a delimiter-safe string
replace — ``replace(' a b ' -> ' ab ')`` on the space-padded symbol
string, whose left-to-right non-overlapping semantics IS standard
BPE merge order. No Python UDF anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

END_OF_WORD = "</w>"
WORD_RE = "[a-z]+"


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(sym, c): space-padded symbol string of each distinct word and
    its corpus frequency. The one corpus-sized pass."""
    words = F.explode(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), 0)
    ).alias("word")
    return (
        df.select(words)
        .groupBy("word")
        .agg(F.count("*").alias("c"))
        .select(
            F.concat(
                F.lit(" "),
                F.array_join(
                    F.regexp_extract_all(F.col("word"), F.lit("."), 0),
                    " ",
                ),
                F.lit(" " + END_OF_WORD + " "),
            ).alias("sym"),
            "c",
        )
    )


def _pair_counts(wf: DataFrame) -> DataFrame:
    syms = F.split(F.trim(F.col("sym")), " ")
    pairs = F.arrays_zip(
        syms.alias("l"),
        F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(1))).alias("r"),
    )
    return (
        wf.select(F.explode(pairs).alias("p"), "c")
        .filter(F.col("p.r").isNotNull())
        .groupBy(
            F.col("p.l").alias("left"), F.col("p.r").alias("right")
        )
        .agg(F.sum("c").alias("pair_count"))
    )


def bpe_learn(
    spark: SparkSession,
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
) -> DataFrame:
    """Learn ``num_merges`` BPE merges; returns one row per merge:
    (rank, left, right, merged, pair_count), deterministic (count
    desc, then lexicographic pair as the tie-break)."""
    wf = word_frequencies(df, text_col).localCheckpoint()
    merges = []
    for rank in range(1, num_merges + 1):
        best = (
            _pair_counts(wf)
            .orderBy(
                F.desc("pair_count"), F.asc("left"), F.asc("right")
            )
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right, cnt = (
            best[0]["left"], best[0]["right"], best[0]["pair_count"]
        )
        merges.append((rank, left, right, left + right, cnt))
        wf = _apply_merge(wf, left, right)
        # lineage bound: each round's _pair_counts recomputes every
        # prior round's replace from the last checkpointed base, so an
        # unbounded chain costs O(num_merges^2) replace work and a
        # linearly growing plan. A checkpoint every 16 rounds caps the
        # chain at 16 replaces per round; at the default num_merges=8
        # this never fires (the measured r12 two-pass win is unchanged).
        if rank % 16 == 0:
            wf = wf.localCheckpoint()
    return local_frame(
        spark, merges,
        "rank int, left string, right string, merged string, "
        "pair_count bigint",
    )


def _apply_merge(wf: DataFrame, left: str, right: str) -> DataFrame:
    """Apply one merge to the word table, EXACTLY matching the
    per-round replace-to-FIXPOINT semantics (and byte-identical
    output) of the previous loop implementation, as two unconditional
    delimiter-safe replaces in ONE projection — no action, no
    checkpoint, no driver round-trip per merge round.

    Why two passes always reach the fixpoint: a single delimiter-safe
    replace under-merges consecutive runs (' a a a a ': the first
    match consumes the shared middle space, blocking the second
    pair). Replacing ' l r ' -> ' lr ' can never create a NEW
    occurrence of the same round's pattern (the merged token is one
    symbol; neighbors become adjacent to IT, not to each other), so
    the only occurrences left after pass 1 are originally-present
    ones whose leading space pass 1 consumed. Those survivors are
    never adjacent to EACH OTHER — pass 1's scan alternates
    replace/block along any chain — so pass 2 replaces every survivor
    and can block nothing. Property-tested exhaustively against the
    iterated-replace fixpoint in tests/test_bpe.py.

    This was the former per-merge-round driver loop: 6-8 rounds each
    paid a localCheckpoint job plus a count job (two full barriers
    over the distinct-word table per round — pure scheduling overhead
    locally, and at 100 TB two cluster-wide barriers per round that
    this formulation simply deletes)."""
    pat, rep = F.lit(f" {left} {right} "), F.lit(f" {left}{right} ")
    return wf.select(
        F.replace(F.replace(F.col("sym"), pat, rep), pat, rep).alias("sym"),
        "c",
    )


def bpe_segment(
    df: DataFrame, text_col: str, merges: list[tuple], out_col: str = "tokens"
) -> DataFrame:
    """Apply a learned merge list to segment each row's words into
    BPE tokens (array of arrays: one token list per word). Map-only:
    the merge chain composes as K nested delimiter-safe replaces.

    Each merge applies as ONE replace pass (an expression cannot
    iterate data-dependently): exact textbook segmentation except for
    runs of >= 4 repetitions of one pair inside a single word, where
    the boundary-blocked occurrences stay unmerged — still a valid,
    lossless (just slightly less compressed) segmentation."""
    word_syms = F.transform(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), 0),
        lambda w: F.concat(
            F.lit(" "),
            F.array_join(F.regexp_extract_all(w, F.lit("."), 0), " "),
            F.lit(" " + END_OF_WORD + " "),
        ),
    )
    def _apply(sym):
        for _rank, left, right, _merged, _cnt in merges:
            sym = F.replace(
                sym, F.lit(f" {left} {right} "), F.lit(f" {left}{right} ")
            )
        return sym

    return df.withColumn(
        out_col,
        F.transform(word_syms, lambda s: F.split(F.trim(_apply(s)), " ")),
    )
