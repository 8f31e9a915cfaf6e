"""Differential tests for operators/bpe.py: the distributed BPE trainer
against a flat pure-Python Sennrich-style reference (explicit greedy
left-to-right scan — the semantics the Spark fold must reproduce)."""

import random

import pytest
from pyspark.sql import functions as F

from readability_php_spark.operators import bpe
from readability_php_spark.operators.bpe import (
    END_OF_WORD,
    bpe_token_counts,
    bpe_train,
)


def _ref_apply(syms, a, b):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _ref_bpe(word_counts, merges, min_pair_count=2, eow=END_OF_WORD):
    vocab = {w: (list(w) + [eow], c) for w, c in word_counts.items()}
    table = []
    for rank in range(merges):
        pairs = {}
        for syms, c in vocab.values():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = (
                    pairs.get((syms[i], syms[i + 1]), 0) + c
                )
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair_count:
            break
        table.append((rank, a, b, n))
        vocab = {
            w: (_ref_apply(syms, a, b), c) for w, (syms, c) in vocab.items()
        }
    return table, {w: syms for w, (syms, c) in vocab.items()}


def _ref_word_counts(texts):
    wc = {}
    for t in texts:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    return wc


def _check(spark, texts, merges, min_pair_count=2):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    table, enc = bpe_train(
        docs, merges=merges, min_pair_count=min_pair_count
    )
    got_table = [
        (r.rank, r.left, r.right, r.pair_count) for r in table.collect()
    ]
    got_vocab = {r.word: list(r.syms) for r in enc.collect()}
    exp_table, exp_vocab = _ref_bpe(
        _ref_word_counts(texts), merges, min_pair_count
    )
    assert got_table == exp_table
    assert got_vocab == exp_vocab
    # encode: per-doc token counts under the trained vocab (merge table
    # passed — exercises the OOV union path with an empty OOV set)
    got_counts = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in bpe_token_counts(docs, enc, merge_table=table).collect()
    }
    exp_counts = {}
    for i, t in enumerate(texts):
        words = t.split()
        if words:
            exp_counts[i] = (
                len(words),
                sum(len(exp_vocab[w]) for w in words),
            )
    assert got_counts == exp_counts
    return got_table


def test_bpe_crafted_runs_and_overlaps(spark):
    # 'aaaa' exercises the left==right greedy run rule; 'abab' the
    # resume-after-merge rule; shared subwords force multi-step merges
    texts = [
        "aaaa aaaa aa abab abab",
        "lower lowest low low lower",
        "aaaa abab low",
    ]
    table = _check(spark, texts, merges=8, min_pair_count=2)
    assert len(table) == 8
    # first merge must be the most frequent pair, deterministically
    assert table[0][0] == 0 and table[0][3] >= 2


def test_bpe_single_char_words_and_empty_doc(spark):
    # single-char words start at 2 symbols (char + marker); empty and
    # whitespace-only docs contribute no words
    texts = ["a a a b", "", "   ", "a b a"]
    _check(spark, texts, merges=4, min_pair_count=2)


def test_bpe_early_stop_on_min_pair_count(spark):
    # all words distinct with distinct chars -> every pair is count 1;
    # min_pair_count=2 must stop before any merge
    texts = ["ab cd ef"]
    docs = spark.createDataFrame([(0, texts[0])], "doc_id int, text string")
    table, enc = bpe_train(docs, merges=5, min_pair_count=2)
    assert table.count() == 0
    assert {r.word: list(r.syms) for r in enc.collect()} == {
        "ab": ["a", "b", END_OF_WORD],
        "cd": ["c", "d", END_OF_WORD],
        "ef": ["e", "f", END_OF_WORD],
    }


def test_bpe_seeded_random_corpus(spark):
    rng = random.Random(42)
    alphabet = "abcdef"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
        for _ in range(40)
    ]
    texts = [
        " ".join(rng.choice(words) for _ in range(rng.randint(3, 25)))
        for _ in range(30)
    ]
    _check(spark, texts, merges=15, min_pair_count=1)


def test_bpe_token_counts_oov_applies_merges(spark):
    # scoring a different corpus: OOV words must be segmented by the
    # LEARNED merges (true open-vocab encode), checked against the
    # reference greedy application
    rng = random.Random(9)
    train_texts = [
        " ".join(rng.choice(["low", "lower", "lowest", "slow"])
                 for _ in range(12))
        for _ in range(10)
    ]
    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train_texts)],
        "doc_id int, text string",
    )
    table, enc = bpe_train(train, merges=6, min_pair_count=1)
    merges = [(r.left, r.right) for r in table.orderBy("rank").collect()]
    score_text = "low slowest glow zz"
    score = spark.createDataFrame(
        [(7, score_text)], "doc_id int, text string"
    )
    row = bpe_token_counts(score, enc, merge_table=table).collect()[0]

    def ref_encode(word):
        syms = list(word) + [END_OF_WORD]
        for a, b in merges:
            syms = _ref_apply(syms, a, b)
        return syms

    exp = sum(len(ref_encode(w)) for w in score_text.split())
    assert row.n_words == 4
    assert row.n_bpe_tokens == exp


def test_bpe_token_counts_fallback_without_merge_table(spark):
    train = spark.createDataFrame(
        [(0, "hello hello world")], "doc_id int, text string"
    )
    _, enc = bpe_train(train, merges=3, min_pair_count=1)
    score = spark.createDataFrame(
        [(7, "hello zzz")], "doc_id int, text string"
    )
    row = bpe_token_counts(score, enc).collect()[0]
    # without the merge table, unseen 'zzz' counts unmerged: chars+marker
    hello_tokens = next(
        len(r.syms) for r in enc.collect() if r.word == "hello"
    )
    assert row.n_words == 2
    assert row.n_bpe_tokens == hello_tokens + 4


def test_apply_merge_exhaustive_small_sequences(spark):
    """The greedy fold (apply_merge) equals the reference left-to-right
    scan on EVERY {a,b} symbol sequence up to length 6, for every merge
    pair over {a,b} — exhaustively covering all run/overlap patterns
    (aa-runs, abab chains, boundary merges) where greedy semantics can
    diverge.  One Spark job for all 378 cases."""
    from itertools import product

    from readability_php_spark.operators.bpe import apply_merge

    seqs = [
        list(p)
        for n in range(1, 7)
        for p in product("ab", repeat=n)
    ]
    pairs = [("a", "a"), ("a", "b"), ("b", "a")]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(seqs)], "i int, syms array<string>"
    )
    cols = [
        apply_merge(F.col("syms"), a, b).alias(f"m{j}")
        for j, (a, b) in enumerate(pairs)
    ]
    got = {r.i: r for r in df.select("i", *cols).collect()}
    for i, s in enumerate(seqs):
        for j, (a, b) in enumerate(pairs):
            assert list(got[i][f"m{j}"]) == _ref_apply(s, a, b), (
                s, (a, b)
            )


def test_bpe_rejects_bad_params(spark):
    docs = spark.createDataFrame([(0, "x y")], "doc_id int, text string")
    with pytest.raises(ValueError):
        bpe_train(docs, merges=-1)
    with pytest.raises(ValueError):
        bpe_train(docs, merges=1, min_pair_count=0)


def test_bpe_argmax_tiebreak_is_byte_order(spark):
    """A count-tied argmax involving a supplementary-plane symbol must
    break ties in UTF-8 BYTE order (= Python code-point order = DuckDB's
    binary collation), not Spark's native UTF-16 code-unit order, which
    sorts surrogate-pair characters BELOW U+E000..U+FFFF.  After merge 1
    ('a'+marker, count 2), merges for (U+10000, 'a</w>') and (U+FFFF,
    'a</w>') are tied at 1: byte order must pick U+FFFF (EF BF BF <
    F0 90 80 80); UTF-16 order would pick U+10000."""
    astral, bmp = "\U00010000", "￿"
    docs = spark.createDataFrame(
        [(0, f"{astral}a {bmp}a")], "doc_id int, text string"
    )
    table, _ = bpe_train(docs, merges=2, min_pair_count=1)
    rows = {r.rank: (r.left, r.right) for r in table.collect()}
    assert rows[0] == ("a", END_OF_WORD)
    assert rows[1] == (bmp, "a" + END_OF_WORD)
    # and the pure-Python reference agrees (it compares code points)
    ref_table, _ = _ref_bpe(
        _ref_word_counts([f"{astral}a {bmp}a"]), 2, min_pair_count=1
    )
    assert [(l, r) for _, l, r, _ in ref_table] == [rows[0], rows[1]]


def test_bpe_strategies_identical_trajectory(spark, monkeypatch):
    """The driver-local incremental-update trainer (the path under
    BPE_LOCAL_MAX_WORDS — one Spark job, constant driver round-trips)
    and the fully-distributed per-merge loop (a zero ceiling forces it)
    produce the IDENTICAL merge table and encoded vocab — on a crafted
    corpus covering runs/overlaps/ties and on random text.  Both are
    also checked against the flat pure-Python reference via _check below
    (which recomputes pair counts from scratch each iteration, so
    agreement also validates the local trainer's incremental pair-count
    delta updates)."""
    rng = random.Random(7)
    rand_texts = [
        " ".join(
            "".join(rng.choice("abcde") for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(3, 12))
        )
        for _ in range(20)
    ]
    for texts, merges, mpc in [
        (["aaaa aaaa aa abab abab", "lower lowest low low lower"], 8, 2),
        (rand_texts, 15, 1),
        (["a b", "", "  "], 5, 2),  # early stop / degenerate docs
    ]:
        got = {}
        for path in ("local", "distributed"):
            with monkeypatch.context() as m:
                if path == "distributed":
                    m.setattr(bpe, "BPE_LOCAL_MAX_WORDS", 0)
                _check(spark, texts, merges, min_pair_count=mpc)
                docs = spark.createDataFrame(
                    [(i, t) for i, t in enumerate(texts)],
                    "doc_id int, text string",
                )
                table, enc = bpe_train(
                    docs, merges=merges, min_pair_count=mpc
                )
                got[path] = (
                    [(r.rank, r.left, r.right, r.pair_count)
                     for r in table.collect()],
                    {r.word: (r.cnt, list(r.syms)) for r in enc.collect()},
                )
        assert got["local"] == got["distributed"]


def test_bpe_auto_goes_distributed_over_bound(spark, monkeypatch):
    """A corpus with more distinct words than BPE_LOCAL_MAX_WORDS never
    reaches the driver-local trainer: the per-merge Spark loop learns
    the same merges and the same segmentation."""
    texts = ["lower lowest low low lower", "newer newest new wider"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )

    def train():
        table, enc = bpe_train(docs, merges=8)
        return (
            [tuple(r) for r in table.orderBy("rank").collect()],
            sorted((r.word, r.cnt, list(r.syms)) for r in enc.collect()),
        )

    calls = []
    real = bpe._bpe_train_local
    monkeypatch.setattr(
        bpe, "_bpe_train_local", lambda *a: calls.append(1) or real(*a)
    )
    local = train()
    assert len(calls) == 1  # under the ceiling: the local trainer ran
    n_words = len({w for t in texts for w in t.split()})
    monkeypatch.setattr(bpe, "BPE_LOCAL_MAX_WORDS", n_words - 1)
    assert train() == local
    assert len(calls) == 1
