"""Distributed BPE vocabulary induction (operators/bpe.py)."""

from pyspark.sql import functions as F

from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.bpe import (
    bpe_learn,
    bpe_segment,
    word_frequencies,
)


def _docs(spark, texts):
    return spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id long, text string")


def _reference_bpe(texts, num_merges):
    """Pure-Python reference (the textbook algorithm)."""
    import collections
    import re

    wf = collections.Counter()
    for t in texts:
        for w in re.findall(r"[a-z]+", t.lower()):
            wf[tuple(list(w) + ["</w>"])] += 1
    merges = []
    for rank in range(1, num_merges + 1):
        pairs = collections.Counter()
        for syms, c in wf.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((rank, a, b, a + b, cnt))
        new_wf = collections.Counter()
        for syms, c in wf.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_wf[tuple(out)] += c
        wf = new_wf
    return merges


TEXTS = [
    "the cat sat on the mat",
    "the bat and the rat chat",
    "that hat is flat, the cat agrees",
    "low lower lowest newer newest wider widest",
]


def test_matches_textbook_reference(spark):
    # 8 stays below bpe_learn's rank-16 lineage checkpoint, 20 crosses it
    for num_merges in (8, 20):
        got = [
            (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
            for r in bpe_learn(spark, _docs(spark, TEXTS), num_merges=num_merges)
            .orderBy("rank").collect()
        ]
        assert got == _reference_bpe(TEXTS, num_merges)
    assert len(got) >= 17


def test_overlapping_runs_merge_left_to_right(spark):
    # 'aaaa' -> pairs (a,a) x3; merging (a,a) must give [aa, aa],
    # not [aa, a, a] or a double-merge
    texts = ["aaaa aaaa aaaa"]
    got = [
        (r["left"], r["right"], r["pair_count"])
        for r in bpe_learn(spark, _docs(spark, texts), num_merges=2)
        .orderBy("rank").collect()
    ]
    assert got == [(a, b, c) for _, a, b, _, c in _reference_bpe(texts, 2)]


def test_segment_roundtrip_and_compression(spark):
    docs = _docs(spark, TEXTS)
    merges = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_learn(spark, docs, num_merges=12)
        .orderBy("rank").collect()
    ]
    seg = bpe_segment(docs, "text", merges).collect()
    for row in seg:
        import re

        words = re.findall(r"[a-z]+", row["text"].lower())
        assert len(row["tokens"]) == len(words)
        for w, toks in zip(words, row["tokens"]):
            # lossless: tokens re-concatenate to the word + marker
            assert "".join(toks) == w + "</w>"
        # merges compress: token count never exceeds character count
        assert all(
            len(toks) <= len(w) + 1
            for w, toks in zip(words, row["tokens"])
        )
    # at least one multi-char token actually formed
    assert any(
        len(tok) > 1 and tok != "</w>"
        for row in seg for toks in row["tokens"] for tok in toks
    )


def test_word_frequencies_is_word_level(spark):
    wf = {
        r["sym"]: r["c"]
        for r in word_frequencies(_docs(spark, ["a a a b"])).collect()
    }
    assert wf == {" a </w> ": 3, " b </w> ": 1}


def test_bpe_encode_tokens_fingerprint_is_order_sensitive(spark):
    """Segmentation evidence must be order-sensitive: applying the
    learned merges to a tiny corpus reproduces the hand-derived
    token streams, and swapping two tokens changes the fingerprint."""
    import hashlib

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.bpe import (
        bpe_learn,
        bpe_segment,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "low low")],
        "doc_id long, text string",
    )
    merges = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_learn(spark, df, "text", num_merges=3).collect()
    ]
    seg = bpe_segment(df, "text", merges)
    out = {
        r["doc_id"]: r["fp"]
        for r in seg.select(
            "doc_id",
            F.md5(F.concat_ws("|", F.flatten("tokens"))).alias("fp"),
        ).collect()
    }
    # independently recompute: apply merges with python single-pass
    # left-to-right replace semantics per word
    def segment(text):
        toks = []
        import re

        for w in re.findall("[a-z]+", text.lower()):
            sym = " " + " ".join(w) + " </w> "
            for _rk, l, rr, _m, _c in merges:
                sym = sym.replace(f" {l} {rr} ", f" {l}{rr} ")
            toks.extend(sym.split())
        return toks

    for did, text in [(1, "low lower lowest"), (2, "low low")]:
        want = hashlib.md5("|".join(segment(text)).encode()).hexdigest()
        assert out[did] == want, did
    swapped = segment("low lower lowest")
    swapped[0], swapped[1] = swapped[1], swapped[0]
    assert out[1] != hashlib.md5("|".join(swapped).encode()).hexdigest()


def test_apply_merge_two_pass_equals_iterated_fixpoint(spark):
    """_apply_merge computes the per-round replace-to-FIXPOINT result
    with two unconditional replaces (no per-pass count/checkpoint
    jobs). This pins the equivalence on adversarial chains — long
    same-symbol runs and alternating l/r chains, where pass 1's
    consumed delimiter spaces block occurrences — by comparing the
    operator against a Python emulation of the ITERATED replace-all
    fixpoint (scan-resumes-after-replacement semantics, matching
    UTF8String.replace)."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.bpe import (
        _apply_merge,
    )

    def replace_all(s, pat, rep):
        out, i = [], 0
        while True:
            j = s.find(pat, i)
            if j < 0:
                out.append(s[i:])
                return "".join(out)
            out.append(s[i:j])
            out.append(rep)
            i = j + len(pat)

    def fixpoint(s, pat, rep):
        while True:
            t = replace_all(s, pat, rep)
            if t == s:
                return s
            s = t

    chains = [
        " a ", " a a ", " a a a ", " a a a a ", " a a a a a ",
        " a a a a a a a a a ",  # 9-run: pass-1 blocking alternates
        " l r ", " l r l r ", " l r l r l r ", " l r l r l r l r ",
        " x l r l r x ", " l r r l r ", " r l r l ", " l l r r ",
        " a l r a l r a ", " lr l r lr ",
    ]
    for left, right in [("a", "a"), ("l", "r"), ("r", "l")]:
        pat, rep = f" {left} {right} ", f" {left}{right} "
        # per-row association via the carried `c` column (the chain's
        # index): a bug that swapped two chains' outputs — or collapsed
        # duplicates — would pass a set comparison but fail this map
        df = spark.createDataFrame(
            [(s, i) for i, s in enumerate(chains)], "sym string, c long"
        )
        got = {r["c"]: r["sym"] for r in _apply_merge(df, left, right).collect()}
        assert len(got) == len(chains), (left, right)
        for i, s in enumerate(chains):
            assert got[i] == fixpoint(s, pat, rep), (left, right, i, s)
