"""Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units") — the
learn-the-tokenizer-from-the-corpus step of an LLM data pipeline.

The classical algorithm counts symbol pairs over the corpus and greedily
merges the most frequent pair; its key scale property is that it never
needs the corpus after one pass — it trains on the **distinct-words
relation** (word, count), whose size is the vocabulary, not the corpus
(Heaps' law: ~10^6-10^7 rows at 100 TB vs ~10^13 tokens).  The Spark
shape mirrors that exactly:

- one corpus scan builds ``(word, cnt)`` (explode + map-side-combined
  groupBy — the only corpus-sized shuffle);
- each merge iteration is vocabulary-sized: adjacent-pair explode +
  sum(cnt) agg (map-side combined), a ONE-row deterministic argmax
  collect (``n`` desc, pair asc by UTF-8 BYTES — ``encode(l/r)``, since
  Spark's native string order is UTF-16 code units and disagrees with
  DuckDB's UTF-8 byte order for supplementary-plane characters),
  and a pure column-algebra fold that rewrites every word's symbol
  array in place (no shuffle);
- ``localCheckpoint`` per iteration caps lineage exactly like the
  pagerank/k-means loops.

Greedy merge application (left-to-right, non-overlapping — the
semantics of the reference implementation's ``re.sub`` scan) is a
single ``F.aggregate`` fold: a created token is ``left+right`` and can
never string-equal ``left``, so "tail == left and next == right" is
exactly the resume-after-replacement rule, including the ``left ==
right`` run case ("aaa" → "aa","a").

Encoding a corpus with the trained tokenizer is a broadcast-shaped join
of the corpus' words against the encoded vocabulary (``w_final``) — the
vocabulary side is the small side at any corpus scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import collect_at_most

#: Sennrich's end-of-word marker: appended as one terminal symbol so
#: merges distinguish word-final from word-internal contexts.
END_OF_WORD = "</w>"

#: Distinct-word ceiling for the driver-local merge loop of
#: :func:`bpe_train`: Heaps' law puts a 100 TB corpus at ~10^6-10^7
#: distinct words, so 10^6 (tens of MB of (word, cnt) rows) admits every
#: natural-language vocabulary up to that scale and nothing unbounded.
BPE_LOCAL_MAX_WORDS = 1_000_000


def _initial_symbols(
    word_col: str, end_of_word: str = END_OF_WORD
) -> Column:
    """Character symbols + the terminal marker for the string column
    NAMED ``word_col`` (a name, not a Column — the dynamic-position
    substring only exists as a SQL lambda, so the name is interpolated
    into an ``F.expr``).  ``substring`` is character-based (matching
    DuckDB's), so non-ASCII BMP text splits identically cross-engine."""
    chars = F.expr(
        f"transform(sequence(1, length({word_col})), "
        f"i -> substring({word_col}, i, 1))"
    )
    return F.concat(chars, F.array(F.lit(end_of_word)))


def apply_merge(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right application of ONE merge to a symbol array —
    the fold equivalent of the reference's non-overlapping ``re.sub``
    scan (see module docstring for why the tail test is exact)."""
    merged = F.lit(left + right)
    empty = F.array().cast("array<string>")

    def step(acc: Column, s: Column) -> Column:
        can = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right))
        )
        return F.when(
            can,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(syms, empty, step)


def word_counts(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The (word, cnt) relation BPE trains on — whitespace words,
    case-SENSITIVE (tokenizer training is exact; case folding is a
    corpus-prep decision upstream, not the tokenizer's)."""
    return (
        docs.select(
            F.explode(
                F.split(F.trim(F.col(text_col)), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _apply_merge_local(syms: list, left: str, right: str) -> list:
    """Driver-side twin of :func:`apply_merge` — the same greedy
    left-to-right, resume-after-replacement scan."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _bpe_train_local(
    wc: list, merges: int, min_pair_count: int, end_of_word: str
) -> tuple[list, list]:
    """Classical incremental-update BPE over an in-memory (word, cnt)
    list: maintain adjacent-pair counts and a pair→words index; each
    merge touches only the words containing the winning pair.  Exactly
    the greedy (count desc, pair asc by code points) trajectory of the
    per-merge Spark loop — code-point order == UTF-8 byte order, so the
    tie-break matches both the encode()-byte argmax and DuckDB's binary
    collation.  Returns ``(merge_rows, [(word, cnt, syms), ...])``."""
    words = []  # [syms, cnt] per distinct word
    pair_counts: dict = {}
    pair_words: dict = {}  # pair -> set of word indexes containing it

    def _pairs_of(syms: list) -> dict:
        d: dict = {}
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            d[p] = d.get(p, 0) + 1
        return d

    for wi, (word, cnt) in enumerate(wc):
        syms = list(word) + [end_of_word]
        words.append([syms, cnt])
        for p, k in _pairs_of(syms).items():
            pair_counts[p] = pair_counts.get(p, 0) + k * cnt
            pair_words.setdefault(p, set()).add(wi)

    merge_rows: list[tuple] = []
    for rank in range(merges):
        if not pair_counts:
            break
        (left, right), n = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if n < min_pair_count:
            break
        merge_rows.append((rank, left, right, int(n)))
        for wi in sorted(pair_words.get((left, right), ())):
            syms, cnt = words[wi]
            new_syms = _apply_merge_local(syms, left, right)
            old_p, new_p = _pairs_of(syms), _pairs_of(new_syms)
            for p in set(old_p) | set(new_p):
                delta = (new_p.get(p, 0) - old_p.get(p, 0)) * cnt
                if delta:
                    c = pair_counts.get(p, 0) + delta
                    if c > 0:
                        pair_counts[p] = c
                    else:
                        pair_counts.pop(p, None)
                if p in new_p and p not in old_p:
                    pair_words.setdefault(p, set()).add(wi)
                elif p in old_p and p not in new_p:
                    s = pair_words.get(p)
                    if s is not None:
                        s.discard(wi)
                        if not s:
                            pair_words.pop(p, None)
            words[wi][0] = new_syms
    return merge_rows, [
        (w, int(c), s) for (w, _), (s, c) in zip(wc, words)
    ]


def bpe_train(
    docs: DataFrame,
    merges: int = 100,
    text_col: str = "text",
    min_pair_count: int = 2,
    end_of_word: str = END_OF_WORD,
) -> tuple[DataFrame, DataFrame]:
    """Train ``merges`` BPE merges on the corpus.  Returns
    ``(merge_table, encoded_vocab)``:

    - ``merge_table``: ``(rank int, left string, right string,
      pair_count bigint)`` — the learned merges in application order;
    - ``encoded_vocab``: ``(word, cnt, syms array<string>)`` — every
      distinct word already segmented by the full merge sequence (what
      an encoder needs; ``len(syms)`` is the word's token count).

    Stops early when the best remaining pair occurs fewer than
    ``min_pair_count`` times (merging hapax pairs memorizes the corpus).

    Input size picks where the merge LOOP runs; both paths produce the
    identical greedy trajectory (differentially tested), and both train
    on the distinct-words relation built by the one corpus-sized shuffle
    of :func:`word_counts`:

    - local, when there are at most :data:`BPE_LOCAL_MAX_WORDS` distinct
      words: one limited collect (:func:`collect_at_most`) brings the
      Heaps'-bounded (word, cnt) relation to the driver and the
      classical incremental-update merge loop runs in memory — ONE Spark
      job for the whole training run, driver round-trips CONSTANT in the
      merge count.  This is the industrial shape (HuggingFace
      tokenizers, SentencePiece: distributed/streamed word counting, a
      local learner over the word-count table): at 100 TB the distinct
      words are ~10^6-10^7 rows (Heaps' law) ≈ tens-to-hundreds of MB
      driver-side, while a 64k-merge vocabulary under the per-merge
      loop would be ~64k sequential vocabulary-sized Spark jobs —
      days of pure scheduler latency no cluster size can buy down.
    - distributed, over the ceiling: the per-merge loop (adjacent-pair
      explode → map-side-combined agg → ONE-row argmax collect → pure
      column-algebra fold, ``localCheckpoint`` per iteration).  One
      Spark job + one 1-row collect PER MERGE — the right envelope only
      when the distinct-word relation itself cannot fit driver memory
      (e.g. no usable word boundary, so "words" grow with the corpus).

    Determinism: the argmax orders by (count desc, left asc, right asc)
    — total, so the trajectory is reproducible cross-run and replayable
    relationally (the DuckDB gate unrolls this loop exactly like the
    logreg/pagerank/k-means oracles).  The pair tie-break compares UTF-8
    BYTES (Python code-point order locally, ``F.encode`` in the
    distributed argmax): Python code-point order, DuckDB's default binary
    collation, and UTF-8 byte order all agree, while Spark's native string
    comparison is UTF-16 code units — which sorts supplementary-plane
    characters (surrogate range) BELOW U+E000..FFFF and would diverge
    from the oracle on a count-tied astral pair."""
    if merges < 0:
        raise ValueError("merges must be >= 0")
    if min_pair_count < 1:
        raise ValueError("min_pair_count must be >= 1")
    spark = docs.sparkSession
    rows = collect_at_most(word_counts(docs, text_col), BPE_LOCAL_MAX_WORDS)
    if rows is not None:
        # deterministic collect order not required (counts are sums and
        # the argmax is a global min over the dict), but sort anyway so
        # the encoded_vocab DataFrame's row order is reproducible
        wc = sorted((r.word, int(r.cnt)) for r in rows)
        merge_rows, seg = _bpe_train_local(
            wc, merges, min_pair_count, end_of_word
        )
        merge_table = spark.createDataFrame(
            merge_rows,
            "rank int, left string, right string, pair_count bigint",
        )
        enc = spark.createDataFrame(
            seg, "word string, cnt bigint, syms array<string>"
        )
        return merge_table, enc
    w = (
        word_counts(docs, text_col)
        .select(
            "word",
            "cnt",
            _initial_symbols("word", end_of_word).alias("syms"),
        )
        .localCheckpoint()
    )
    merge_rows: list[tuple] = []
    for rank in range(merges):
        # filter BEFORE building pair structs: sequence(1, size-1) steps
        # BACKWARDS for a fully-merged single-symbol word (Spark infers
        # step -1 when start > stop) and element_at(syms, 0) is an error
        pairs = w.filter(F.size("syms") > 1).select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(element_at(syms, i) AS l, "
                    "element_at(syms, i + 1) AS r))"
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("n"))
            .orderBy(
                F.desc("n"),
                F.asc(F.encode("l", "UTF-8")),
                F.asc(F.encode("r", "UTF-8")),
            )
            .limit(1)
            .collect()
        )
        if not best or best[0].n < min_pair_count:
            break
        left, right, n = best[0].l, best[0].r, int(best[0].n)
        merge_rows.append((rank, left, right, n))
        w = w.select(
            "word", "cnt", apply_merge(F.col("syms"), left, right).alias("syms")
        ).localCheckpoint()
    merge_table = spark.createDataFrame(
        merge_rows, "rank int, left string, right string, pair_count bigint"
    )
    return merge_table, w


def bpe_encode_words(
    words: DataFrame,
    merges: list,
    end_of_word: str = END_OF_WORD,
    checkpoint_every: int = 16,
) -> DataFrame:
    """Segment each distinct ``(word)`` row by applying the learned
    merges in rank order — the open-vocabulary encode path for words
    unseen at training time.  Returns ``(word, syms)``.  Each merge is
    one fold projection (no shuffle); ``localCheckpoint`` every
    ``checkpoint_every`` merges bounds expression depth for large merge
    tables.  ``merges`` is a list of ``(left, right)`` pairs (bounded:
    it is the tokenizer, not data)."""
    out = words.select(
        "word", _initial_symbols("word", end_of_word).alias("syms")
    )
    for i, (left, right) in enumerate(merges):
        out = out.select(
            "word", apply_merge(F.col("syms"), left, right).alias("syms")
        )
        if (i + 1) % checkpoint_every == 0:
            out = out.localCheckpoint()
    return out


def bpe_word_cost_vocab(
    docs: DataFrame,
    encoded_vocab: DataFrame,
    merge_table: "DataFrame | None" = None,
    text_col: str = "text",
    end_of_word: str = END_OF_WORD,
) -> DataFrame:
    """The per-word token-cost relation ``(word, word_tokens)`` a
    BPE-budgeted consumer joins against: trained-vocab words cost their
    trained segmentation size; corpus words OUTSIDE the trained vocab
    are segmented by applying the learned merges when ``merge_table`` is
    given (the true open-vocabulary encode), else fall back to their
    unmerged symbol count (chars + marker — a conservative upper bound).

    Scale shape: one corpus word scan → distinct (vocabulary-sized,
    Heaps'-bounded) → anti-join against the trained vocab → the OOV fold
    chain runs over OOV words only.  The result is vocabulary-sized by
    construction — always the broadcast side of any corpus join.  Used
    by :func:`bpe_token_counts` and by the training-prep pipeline's
    BPE-budgeted chunking/packing (``run_training_prep(tokenizer=...)``).
    ``end_of_word`` must match the marker the tokenizer was TRAINED
    with — marker-adjacent merges never fire on a mismatched marker."""
    dw = docs.select(
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    vocab = encoded_vocab.select(
        "word", F.size("syms").alias("word_tokens")
    )
    if merge_table is None:
        return (
            dw.distinct()
            .join(vocab, "word", "left")
            .select(
                "word",
                F.coalesce(
                    F.col("word_tokens"), F.length("word") + F.lit(1)
                ).alias("word_tokens"),
            )
        )
    # k rows — the tokenizer itself, bounded by construction
    merges = [
        (r.left, r.right) for r in merge_table.orderBy("rank").collect()
    ]
    oov = (
        dw.distinct().join(vocab.select("word"), "word", "left_anti")
    )
    oov_vocab = bpe_encode_words(
        oov, merges, end_of_word=end_of_word
    ).select("word", F.size("syms").alias("word_tokens"))
    return vocab.unionByName(oov_vocab)


def bpe_token_counts(
    docs: DataFrame,
    encoded_vocab: DataFrame,
    merge_table: "DataFrame | None" = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    end_of_word: str = END_OF_WORD,
) -> DataFrame:
    """Per-document BPE token counts under a trained tokenizer:
    ``(id_col, n_words, n_bpe_tokens)``.  One corpus scan exploded to
    words; the distinct-words relation anti-joins the trained vocab to
    find out-of-vocabulary words, which are segmented by applying the
    learned merges (``merge_table`` — the real open-vocabulary encode);
    then one broadcast join of the corpus words against the unioned
    vocab.  With ``merge_table=None`` OOV words fall back to their
    UNMERGED symbol count (characters + marker) — a conservative
    upper bound, not a true BPE segmentation; pass the merge table
    whenever scoring text the tokenizer wasn't trained on.
    ``end_of_word`` must match the marker the tokenizer was TRAINED
    with — marker-adjacent merges never fire on a mismatched marker."""
    dw = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    if merge_table is not None:
        full_vocab = bpe_word_cost_vocab(
            docs,
            encoded_vocab,
            merge_table,
            text_col=text_col,
            end_of_word=end_of_word,
        )
        joined = dw.join(F.broadcast(full_vocab), "word").select(
            id_col, "word_tokens"
        )
    else:
        vocab = encoded_vocab.select(
            "word", F.size("syms").alias("word_tokens")
        )
        joined = dw.join(F.broadcast(vocab), "word", "left").select(
            id_col,
            F.coalesce(
                F.col("word_tokens"), F.length("word") + F.lit(1)
            ).alias("word_tokens"),
        )
    return joined.groupBy(id_col).agg(
        F.count("*").alias("n_words"),
        F.sum("word_tokens").alias("n_bpe_tokens"),
    )
