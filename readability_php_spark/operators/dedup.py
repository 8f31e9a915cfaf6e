"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH.

Scale shapes (the part that matters at 100 TB):

- **exact**: one hash-aggregate on a 32-byte key — the cheapest possible
  shuffle; partial aggregation (map-side combine) kicks in automatically.
- **MinHash-LSH**: signatures are computed scan-side (JVM-native md5 over
  shingle arrays — no UDF), then candidates come from a *band-bucket
  self-join*: explode k bands → shuffle on (band, band_hash) → pairs only
  within buckets.  The full O(n²) similarity join never happens; the only
  quadratic work is within-bucket, which LSH keeps tiny.
- **n-gram Jaccard**: exact verifier for candidate pairs (used after LSH
  bucketing, or standalone on a bounded pair set).

md5 is used wherever the DuckDB oracle must reproduce values; xxhash64
(cheaper) where the check is structural (rows-only).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from . import collect_at_most
from .text_analysis import fingerprint


# --- exact ------------------------------------------------------------------

def exact_dedup(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-``id_col`` representative of each fingerprint group.
    The id may be any orderable unique column — the composed training
    pipeline keys on ``url`` (globally unique by construction) rather than
    a 64-bit hash, so a hash collision can never merge distinct docs."""
    # NULL text (e.g. failed extractions carried forward) fingerprints to
    # NULL, and groupBy treats NULLs as one group — which would silently
    # delete all-but-one of documents that were never actually compared.
    # Null-text rows become their own single-row fingerprint groups via a
    # synthetic per-row key (NUL-prefixed, so it can never collide with an
    # md5 hex fingerprint) — each survives as its own keeper.  ONE pass,
    # one semi-join: the earlier null-branch union scanned ``documents``
    # three times, and inside fuzzy_dedup's multi-consumer plan that
    # subtree replays per consumer (round-5 perf note: this restructure,
    # not the shingle filter, was most of the training_prep_fuzzy 8→13 s
    # regression).
    fp = F.when(
        F.col(text_col).isNotNull(), fingerprint(F.col(text_col))
    ).otherwise(F.concat(F.lit("\x00null:"), F.col(id_col).cast("string")))
    w = (
        documents.select(id_col, fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return documents.join(w.select(id_col), id_col, "left_semi")


# --- shingles / n-grams -------------------------------------------------------

def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram strings, JVM-native: split → transform over a
    sequence of start offsets → slice+join → dedup."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    cnt = F.size(words)
    num = F.greatest(cnt - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(num, F.lit(1))),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )
    return F.when(num > 0, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def ngram_jaccard(a: Column, b: Column) -> Column:
    """Jaccard over two shingle arrays, rounded for hash stability."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 4)


def ngram_jaccard_pairs(
    documents: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact Jaccard for given candidate (doc_a, doc_b) pairs.

    Shingling happens on the DOCUMENT side, before the pair join, over
    only the docs that actually appear in a pair: a semi-join against the
    distinct pair ids prunes the corpus (so the full documents table is
    never shingled), and projecting the shingle array below the join
    materializes it once per distinct doc per join side — at the exchange
    for a sort-merge join, in the build table for a broadcast join, or
    once per streamed input row under whole-stage codegen.  A doc
    appearing in thousands of LSH pairs is shingled twice (doc_a side +
    doc_b side), not once per pair — the previous join-text-then-shingle
    shape evaluated the shingle expression in the post-join projection,
    i.e. per PAIR, which went quadratic-ish on high-fan-out docs."""
    ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        documents.select("doc_id", F.col(text_col).alias("_t"))
        .join(ids, "doc_id", "left_semi")
        .select("doc_id", word_shingles(F.col("_t"), n).alias("_sh"))
    )
    joined = (
        pairs.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("_sha")),
            "doc_a",
        ).join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("_shb")),
            "doc_b",
        )
    )
    return joined.select(
        "doc_a",
        "doc_b",
        ngram_jaccard(F.col("_sha"), F.col("_shb")).alias("jaccard"),
    )


# --- MinHash + LSH ------------------------------------------------------------

#: Edge-count ceiling for the driver-local union-find path of
#: :func:`connected_components`.  LSH/pHash/audio candidate-pair sets are
#: tiny next to their corpora (that is the point of candidate generation),
#: so the post-filter edge relation usually fits in driver memory with
#: room to spare; past the ceiling the distributed label-propagation loop
#: runs unchanged.
CC_LOCAL_MAX_EDGES = 500_000


def _cc_local_labels(edge_rows) -> dict:
    """Union-find min-label over collected (a, b) edge rows: every node
    maps to the minimum id reachable through the pair graph — exactly the
    fixpoint of the distributed min-label propagation.  Union attaches the
    larger root under the smaller, so a root is always its component's
    minimum; path compression keeps finds near O(1)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        # path compression
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for a, b in edge_rows:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    return {n: find(n) for n in nodes}


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 50,
) -> DataFrame:
    """(doc_id, cluster_id) from candidate near-dup pairs: cluster_id is the
    minimum doc_id reachable through the pair graph — the keeper under
    keep-lowest-id dedup.  Turning pairwise matches into clusters is the
    step after LSH candidate generation in every dedup pipeline
    (A ~ B ~ C must collapse to ONE representative even when (A, C) never
    collided).

    Input size picks the path: when the edge relation has at most
    :data:`CC_LOCAL_MAX_EDGES` rows, one limited collect
    (:func:`collect_at_most`) fetches it and a driver-side union-find
    clusters it, in place of the O(log diameter) loop's ~2 Spark jobs
    per round (shuffle joins + checkpoint + convergence aggregate).
    Candidate-pair relations are small by construction — that is what
    LSH/banding is for — so production waves take this path too; a
    verified-pair graph over the ceiling runs the distributed loop.
    Both paths produce the identical (node → component-minimum)
    labeling; a differential test pins them together.

    Distributed path: iterative min-label propagation with pointer
    jumping: each round every node takes the min of (its label, its
    neighbors' labels, its label's OWN label).  The last term is path
    compression — labels chase their representative transitively, so
    convergence is O(log diameter) rounds instead of O(diameter); both
    terms only ever move a label to a smaller id inside the same
    component, so the fixpoint is the component minimum.  The loop is
    bounded by ``max_iterations`` as a safety net and raises rather than
    returning a half-converged clustering.  Each round is two doc_id-keyed
    shuffles (neighbor min + label lookup)."""
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        # one neighbor join per round reads the edge set every iteration —
        # without this, the (potentially expensive) candidate-generation
        # lineage above re-executes O(log diameter) times
        .persist()
    )
    rows = collect_at_most(edges, CC_LOCAL_MAX_EDGES)
    if rows is not None:
        id_type = edges.schema["a"].dataType
        labels_map = _cc_local_labels([(r.a, r.b) for r in rows])
        out_schema = StructType([
            StructField("doc_id", id_type, True),
            StructField("cluster_id", id_type, True),
        ])
        out = pairs.sparkSession.createDataFrame(
            sorted(labels_map.items()), out_schema
        )
        edges.unpersist()
        return out
    labels = (
        edges.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        # labels feed three joins per round; materialize the start state
        .localCheckpoint()
    )
    # try/finally so the non-convergence raise doesn't leak the cached
    # edge set for the rest of the session
    try:
        for _ in range(max_iterations):
            neighbor_min = (
                edges.join(labels, edges.b == labels.doc_id)
                .groupBy("a")
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            label_of_label = (
                labels.alias("l1")
                .join(labels.alias("l2"), F.col("l1.cluster_id") == F.col("l2.doc_id"))
                .select(F.col("l1.doc_id").alias("jid"), F.col("l2.cluster_id").alias("jump"))
            )
            new_cid = F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                F.coalesce(F.col("jump"), F.col("cluster_id")),
            )
            # carry the moved flag IN the update row: convergence then
            # reads it back with a scan-only aggregate over the checkpoint
            # instead of re-joining old and new label sets — one fewer
            # doc_id shuffle join per round (round-5 perf pass)
            new_labels = (
                labels.join(neighbor_min, labels.doc_id == neighbor_min.a, "left")
                .join(label_of_label, labels.doc_id == label_of_label.jid, "left")
                .select(
                    "doc_id",
                    new_cid.alias("cluster_id"),
                    (new_cid != F.col("cluster_id")).alias("_moved"),
                )
            )
            # checkpoint FIRST (eager — truncates the growing lineage so
            # round N never re-executes rounds 1..N-1), THEN aggregate
            # convergence over the materialized rows: counting before
            # checkpointing executed every round's plan twice
            new_labels = new_labels.localCheckpoint()
            changed = new_labels.agg(
                F.sum(F.col("_moved").cast("int")).alias("n")
            ).first()["n"]
            labels = new_labels.select("doc_id", "cluster_id")
            if not changed:
                return labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    finally:
        edges.unpersist()


#: Affine minhash family modulus (2^31 - 1, prime); the empty-set sentinel
#: is the modulus itself — unreachable by any real (… mod p) value.
MINHASH_MOD = 2147483647


def minhash_signature(text: Column, num_hashes: int = 16, shingle_n: int = 3) -> Column:
    """Array of ``num_hashes`` minhash values (bigint).

    Hash family: ONE md5 per shingle, split into its two leading 32-bit
    halves (h1, h2); permutation i is the affine mix
    ``((12289 + 24593·i)·h1 + (4099 + 8209·i)·h2 + i) mod (2^31-1)``.
    Fully reproducible in any engine with md5/substr (the DuckDB oracle
    mirrors it digit-by-digit), and 16× fewer digest computations than the
    md5-per-(i,shingle) family — the signature pass dominates corpus-scale
    dedup.  Empty shingle set → array of MINHASH_MOD sentinels."""
    sh = word_shingles(text, shingle_n)
    # inner transform materializes md5 once per shingle; the halves are
    # then cheap substring/conv over the materialized hex string
    halves = F.transform(
        F.transform(sh, lambda s: F.md5(s)),
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 8), 16, 10).cast("bigint").alias("h1"),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("bigint").alias("h2"),
        ),
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.coalesce(
            F.array_min(
                F.transform(
                    halves,
                    lambda p: (
                        (F.lit(12289) + F.lit(24593) * i) * p.getField("h1")
                        + (F.lit(4099) + F.lit(8209) * i) * p.getField("h2")
                        + i
                    )
                    % F.lit(MINHASH_MOD),
                )
            ),
            F.lit(MINHASH_MOD).cast("bigint"),
        ),
    )


def minhash_bands(
    documents: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, band, band_hash): md5 of each band's concatenated minhashes.
    This is the LSH bucketing relation — near-dups collide on ≥1 band."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}); the trailing {num_hashes % bands} minhash values "
            "would silently drop out of every band, changing LSH "
            "sensitivity without an error"
        )
    rows = num_hashes // bands
    sig = minhash_signature(F.col(text_col), num_hashes, shingle_n)
    docs = documents.select("doc_id", sig.alias("sig"))
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice(F.col("sig"), b * rows + 1, rows),
                        lambda v: v.cast("string"),
                    ),
                    "|",
                )
            ).alias("band_hash"),
        ),
    )
    return docs.select(
        "doc_id", F.explode(band_arr).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))


def minhash_lsh_candidates(
    documents: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b) from band-bucket collisions.

    Bucket-local pair generation (groupBy band key → sorted id array →
    in-array pair expansion) instead of a bands self-join: the expensive
    minhash signature is computed ONCE per document and shuffled once on
    (band, band_hash).  A self-join would recompute the signature on both
    sides — Spark's ReusedExchange does not fire across broadcast sides,
    and at corpus scale the signature dominates.  Skew note: a mega-bucket
    (thousands of byte-identical docs) lands in one task either way — the
    pair output is quadratic in bucket size by construction; run exact
    dedup first."""
    bb = minhash_bands(documents, text_col, num_hashes, bands, shingle_n)
    return _pairs_from_bands(bb)


def _pairs_from_bands(band_rows: DataFrame) -> DataFrame:
    """Bucket-local candidate pairs (doc_a < doc_b) from precomputed
    (doc_id, band, band_hash) rows — the pair-expansion half of
    :func:`minhash_lsh_candidates`, shared with the incremental path so
    wave signatures are computed exactly once."""
    buckets = band_rows.groupBy("band", "band_hash").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ids")
    )
    return (
        buckets.filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def fuzzy_dedup(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate removal, composed end-to-end: MinHash-LSH candidate
    pairs → exact n-gram Jaccard verification (≥ ``threshold``) →
    connected components over the verified pair graph → keep the
    min-``id_col`` representative of every cluster.  This is the fuzzy
    stage every production pretraining prep runs between exact dedup and
    quality filtering; returns the surviving ``documents`` rows.

    ``id_col`` may be any orderable unique column (the training pipeline
    passes ``url``); rows never in a verified pair always survive.

    Scale shape: signature pass once per doc (scan-side), bucket-local
    pair generation, Jaccard only on LSH candidates (pre-shingled once per
    distinct doc), O(log diameter) clustering rounds, one final anti-join
    on the id.  Nothing all-pairs; run exact dedup first so byte-identical
    mega-groups never reach the quadratic-in-bucket pair expansion."""
    base = documents.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    # Docs with NO shingles (< shingle_n words) can never verify as
    # near-dups — but they all share the sentinel minhash signature, so
    # every band would funnel ALL of them into one quadratic LSH bucket
    # (100k stub pages → ~5e9 candidate pairs in one task).  They are
    # excluded from candidate generation and survive via the final
    # anti-join, same as any other never-paired row.  The predicate
    # "has at least one shingle" is exactly "word count >= shingle_n"
    # (word_shingles emits cnt-(n-1) grams), so test that directly —
    # one split, no O(tokens*n) gram construction discarded after a
    # size check.
    lsh_in = base.filter(
        F.size(F.split(F.trim(F.col("text")), r"\s+")) >= F.lit(shingle_n)
    )
    cands = minhash_lsh_candidates(lsh_in, "text", num_hashes, bands, shingle_n)
    verified = ngram_jaccard_pairs(base, cands, "text", shingle_n).filter(
        F.col("jaccard") >= threshold
    )
    clusters = connected_components(verified.select("doc_a", "doc_b"))
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return documents.join(losers, id_col, "left_anti")


# --- line-level corpus dedup (C4/CCNet-style) --------------------------------

def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    sep: str = "\n",
    max_lines: int = 200_000,
) -> DataFrame:
    """Remove every line that occurs >= ``min_count`` times ACROSS the corpus
    (boilerplate killer: nav bars, cookie banners, footers repeat verbatim on
    thousands of pages — C4/CCNet drop them at the line level before document
    dedup).  Returns (id, text_clean, n_lines, n_lines_removed, line_capped).

    Scale shape: explode → one md5-keyed groupBy for global line counts →
    anti-join → one id-keyed groupBy to reassemble.  The count agg map-side
    combines (boilerplate keys collapse per partition); the anti-join keys
    are 32-hex strings, never the line text itself twice.  No all-pairs
    anything; skew on a mega-line (empty string) is bounded because the
    count table carries one row per distinct line.

    The reassembly collects every surviving line of a doc into one
    aggregation buffer — bounded by document size, so a pathological
    multi-GB "document" would OOM the task.  ``max_lines`` guards that:
    docs with more lines bypass the dedup entirely (text passes through
    unchanged, ``line_capped=True``) and contribute nothing to the global
    line counts, keeping both the explode volume and the per-doc buffer
    bounded by an upstream knob instead of by adversarial input."""
    # F.split takes a Java regex while array_join (reassembly below) takes
    # the literal string — escape the split side so a metacharacter sep
    # ('|', '.') splits on the same boundaries it rejoins on.  Python's
    # re.escape output is Java-compatible: it only backslashes
    # non-alphanumerics, and Java regex treats an escaped non-alphabetic
    # character as that literal character.
    # NULL text splits to NULL (size -1): such a row would land in
    # NEITHER branch and silently vanish from the corpus — coalesce to ''
    # so failed-extraction rows ride through like empty documents
    base = docs.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
    ).select(
        "id",
        "_t",
        F.split(F.col("_t"), re.escape(sep)).alias("_arr"),
    ).withColumn("_nl", F.size("_arr"))
    capped = base.filter(F.col("_nl") > max_lines).select(
        "id",
        F.col("_t").alias("text_clean"),
        F.col("_nl").cast("long").alias("n_lines"),
        F.lit(0).cast("long").alias("n_lines_removed"),
        F.lit(True).alias("line_capped"),
    )
    lines = (
        base.filter(F.col("_nl") <= max_lines)
        .select("id", F.posexplode("_arr").alias("pos", "line"))
        .withColumn("lk", F.md5(F.encode(F.trim(F.col("line")), "UTF-8")))
    )
    dup_keys = (
        lines.groupBy("lk")
        .count()
        .filter(F.col("count") >= min_count)
        .select("lk", F.lit(True).alias("is_dup"))
    )
    marked = lines.join(dup_keys, "lk", "left")
    rebuilt = marked.groupBy("id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_lines_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.coalesce(F.col("is_dup"), F.lit(False)),
                            F.struct(F.col("pos"), F.col("line")),
                        )
                    )
                ),
                lambda s: s.getField("line"),
            ),
            sep,
        ).alias("text_clean"),
    )
    rebuilt = rebuilt.select(
        "id",
        "text_clean",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_lines_removed").cast("long").alias("n_lines_removed"),
        F.lit(False).alias("line_capped"),
    )
    return rebuilt.unionByName(capped).withColumnRenamed("id", id_col)


# --- benchmark decontamination ------------------------------------------------

def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_hits: int = 1,
) -> DataFrame:
    """Flag training documents that share word ``n``-grams with a benchmark
    corpus (test-set decontamination — the standard pre-training hygiene
    step: any doc carrying a benchmark 8-gram leaks evaluation data).

    Returns (id, n_hits, contaminated) for EVERY doc (n_hits = distinct
    benchmark n-grams present).

    Scale shape: benchmark n-grams are distinct-reduced first (benchmarks
    are tiny next to the corpus — typically broadcastable, and Spark's AQE
    will pick the broadcast join automatically); the corpus side explodes
    to (id, gram) and joins on ``xxhash64(gram)`` — an 8-byte join key
    instead of a ~50-byte 8-gram string, which shrinks the exploded
    corpus-side shuffle ~6× (the dominant cost of decontamination).  A
    64-bit collision between a corpus gram and a DIFFERENT benchmark gram
    could over-flag one doc; at benchmark scale (millions of grams, not
    2^32) that is vanishingly unlikely and strictly conservative (flags,
    never clears).

    The DuckDB oracle joins on the raw gram; equality of the two paths is
    itself collision-evidence."""
    bench_grams = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("gram")
        )
        .select(F.xxhash64("gram").alias("gk"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("gram"),
    ).select("id", F.xxhash64("gram").alias("gk"))
    hits = (
        doc_grams.join(bench_grams, "gk")
        .groupBy("id")
        .agg(F.count_distinct("gk").alias("n_hits"))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


# --- within-corpus duplicated spans -------------------------------------------

def duplicated_spans(
    docs: DataFrame,
    n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Within-corpus duplicated-substring signal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"; the
    RefinedWeb/FineWeb pipelines run the same span-level pass after
    document-level dedup): for every document, the fraction of its
    distinct word ``n``-grams that also appear in at least ``min_docs``
    documents corpus-wide.  High ``dup_fraction`` = the doc is largely
    stitched from text that exists elsewhere (mirror fragments, quoted
    boilerplate) even when no WHOLE document matches it.

    Returns (id, n_grams, n_dup_grams, dup_fraction) for every doc;
    docs shorter than ``n`` tokens get (0, 0, 0.0).  Cross-DOCUMENT
    duplication only — within-doc repetition is ``repetition_signals``'
    job (text_analysis.py).

    Scale shape: grams are distinct per doc already (word_shingles), so
    the exploded relation is (id, gram)-unique; one map-side-combined
    count per gram key, a join back on the same 8-byte ``xxhash64`` key
    (the gram string never shuffles twice), then a per-doc agg.  The
    gram-frequency table is bounded by total distinct grams; a 64-bit
    collision can only over-count one gram's doc frequency (strictly
    conservative for a removal filter).  The DuckDB oracle joins raw
    strings — equality evidences collision absence."""
    doc_grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("gram"),
    ).select("id", F.xxhash64("gram").alias("gk"))
    # Only grams that clear min_docs matter to the join: filtering the
    # frequency table BEFORE the join shrinks the build side from every
    # distinct gram in the corpus (~1 row per corpus gram — a multi-hundred-
    # MB broadcast at sf1.0, built single-threaded on the driver) to just
    # the duplicated ones.  A left join + null-check on the marker gives
    # the same per-doc (n_grams, n_dup_grams) as joining the full table:
    # every doc gram matched the full table anyway (its own count row), so
    # count(*) per id is unchanged, and the dup predicate is now the match
    # itself.
    dup_keys = (
        doc_grams.groupBy("gk")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gk", F.lit(True).alias("_dup"))
    )
    per_doc = (
        doc_grams.join(dup_keys, "gk", "left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("_dup"), 1).otherwise(0)
            ).alias("n_dup_grams"),
        )
    )
    ng = F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
    nd = F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long")
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            ng.alias("n_grams"),
            nd.alias("n_dup_grams"),
            F.round(
                F.when(ng > 0, nd.cast("double") / ng).otherwise(F.lit(0.0)), 6
            ).alias("dup_fraction"),
        )
    )


def exact_substring_dedup(
    docs: DataFrame,
    n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_copies: int = 2,
    keep: str = "first",
) -> DataFrame:
    """Exact duplicated-substring REMOVAL (the ExactSubstr pass of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better"
    §4.1, as run by the RefinedWeb/FineWeb pipelines after document-level
    dedup): every corpus-wide duplicated word ``n``-gram run is cut from
    all but one copy.  ``duplicated_spans`` (above) *measures* this
    signal; this operator performs the edit.

    Semantics (token-level approximation of the suffix-array original): a
    token position is removed iff some ``n``-gram occurrence covering it
    (a) occurs ≥ ``min_copies`` times corpus-wide — within-document
    repeats count, exactly as a suffix array sees them — and (b) is not
    the gram's keeper occurrence.  ``keep="first"`` keeps the globally
    smallest ``(doc_id, pos)`` occurrence per gram (deterministic: the
    earliest document keeps its text); ``keep="none"`` cuts every copy
    (C4-style boilerplate excision).  A duplicated region of length
    L ≥ n is covered by its L−n+1 grams, so the whole region is cut
    from non-keeper copies.

    Returns one row per input doc: ``(id, n_tokens, n_removed, text)``.
    Untouched docs (no cuts, fewer than ``n`` tokens, NULL text) pass
    their text through VERBATIM; edited docs are rebuilt by joining the
    surviving tokens with single spaces (original inter-token whitespace
    is not recoverable from the token relation — the same normalization
    ``chunk_documents`` documents).  Tokenization is case-SENSITIVE
    whitespace splitting: exact-substring dedup is exact.

    Scale shape: the positioned-gram relation is O(corpus tokens) — the
    same order as the suffix array the reference algorithm builds — keyed
    by 8-byte ``xxhash64`` gram hashes (a 64-bit collision could merge
    two gram groups and over-cut one occurrence — the DuckDB oracle
    joins raw grams, so gate equality evidences collision absence).  Three O(tokens) hash shuffles: gram
    stats (count + min-struct keeper, map-side combined), cut-start
    collection per doc, and the starts→docs join.  The per-doc edit is
    pure array algebra: sorted cut starts fold into DISJOINT merged
    spans (adjacent/overlapping [q, q+n) intervals coalesce), then one
    ``filter`` pass masks tokens via ``exists`` over the merged spans —
    O(tokens × disjoint_dup_regions) per doc, linear for the common
    fully-duplicated / few-regions cases.  Nothing all-pairs, nothing
    driver-side."""
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    if n < 1 or min_copies < 2:
        raise ValueError("need n >= 1 and min_copies >= 2")
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != F.lit("")
    )
    base = docs.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        toks.alias("toks"),
    )
    eligible = base.filter(F.size("toks") >= n).select("id", "toks")
    gram_at = lambda i: F.array_join(F.slice(F.col("toks"), i, n), " ")
    occ = eligible.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - F.lit(n - 1)), gram_at
            )
        ).alias("pos", "gram"),
    ).select("id", "pos", F.xxhash64("gram").alias("gk"))
    gstats = occ.groupBy("gk").agg(
        F.count("*").alias("cnt"),
        F.min(F.struct("id", "pos")).alias("keeper"),
    )
    cut = occ.join(
        gstats.filter(F.col("cnt") >= min_copies).select("gk", "keeper"), "gk"
    )
    if keep == "first":
        cut = cut.filter(F.struct("id", "pos") != F.col("keeper"))
    starts = cut.groupBy("id").agg(
        F.sort_array(F.collect_set("pos")).alias("starts")
    )
    # sorted starts → disjoint spans: q overlapping/touching the open span
    # extends it (q ≤ last.e ⇒ new end q+n ≥ last.e since starts ascend)
    empty_spans = F.array().cast("array<struct<s:int,e:int>>")
    span_of = lambda q: F.array(
        F.struct(q.alias("s"), (q + F.lit(n)).cast("int").alias("e"))
    )
    spans = F.aggregate(
        F.col("starts"),
        empty_spans,
        lambda acc, q: F.when(
            (F.size(acc) > 0) & (q <= F.element_at(acc, -1)["e"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        (q + F.lit(n)).cast("int").alias("e"),
                    )
                ),
            ),
        ).otherwise(F.concat(acc, span_of(q))),
    )
    joined = base.join(starts, "id", "left").select(
        "id", "text", "toks", spans.alias("spans")
    )
    # materialize the masked-token array in its own projection so the
    # span-exists filter runs once per row, not once per consumer column
    kept_step = joined.select(
        "id",
        "text",
        "toks",
        "spans",
        F.filter(
            F.col("toks"),
            lambda x, i: ~F.exists(
                F.col("spans"), lambda sp: (sp["s"] <= i) & (i < sp["e"])
            ),
        ).alias("kept"),
    )
    # size(NULL) is config-dependent: NULL under ANSI (coalesce catches
    # it), -1 under spark.sql.legacy.sizeOfNull — the > 0 guard
    # normalizes BOTH to 0, so null-text rows report 0 tokens either way
    n_tokens = F.coalesce(F.size("toks"), F.lit(0))
    return kept_step.select(
        F.col("id").alias(id_col),
        F.when(n_tokens > 0, n_tokens).otherwise(F.lit(0)).alias("n_tokens"),
        F.when(
            F.col("spans").isNull(), F.lit(0)
        ).otherwise(n_tokens - F.size("kept")).alias("n_removed"),
        F.when(F.col("spans").isNull(), F.col("text"))
        .otherwise(F.array_join("kept", " "))
        .alias("text"),
    )


def incremental_fuzzy_dedup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    corpus_bands: "DataFrame | None" = None,
) -> "tuple[DataFrame, DataFrame]":
    """Dedup a NEW ingestion wave against an already-ingested corpus
    without re-LSHing the corpus — the per-wave shape of fuzzy dedup an
    append-only pipeline actually runs (a snapshot-committed table grows
    wave by wave; recomputing corpus signatures per wave is O(corpus)
    every time, this is O(wave + matches)).

    Returns ``(kept_new, append_bands)``:

    - ``kept_new`` — rows of ``new_docs`` that survive.  Near-dup
      clusters are formed over intra-wave AND wave↔corpus verified pairs
      jointly (one connected-components pass), so a wave doc linked to
      the corpus only THROUGH a discarded wave sibling still dies — the
      same transitive closure batch :func:`fuzzy_dedup` over
      corpus ∪ wave would find.  Cluster rule: a cluster containing ANY
      corpus doc keeps no wave docs (EXISTING docs always win — they are
      already ingested and immutable, even when a wave id sorts lower);
      a wave-only cluster keeps its min id.  This corpus-wins rule is
      the one deliberate divergence from batch keep-min-id.
    - ``append_bands`` — ``(id, band, band_hash)`` signature rows for the
      caller to APPEND to its maintained signature table.  With a warm
      ``corpus_bands`` these are the kept wave docs' bands (the delta);
      on the bootstrap path (``corpus_bands=None``) they additionally
      include the corpus bands computed here, so the full-corpus
      signature pass runs exactly once and the caller's table is
      complete either way.

    ``corpus_bands`` is that maintained signature table (``id_col``,
    ``band``, ``band_hash``).  **Invariant: it must have been built with
    the SAME num_hashes/bands/shingle_n as this call** — band hashes are
    md5 over signature slices, so mismatched parameters join to nothing
    and every corpus near-dup silently ingests.  Persist the parameters
    with the table.

    ``corpus_docs`` is still required: Jaccard VERIFICATION needs the
    matched candidates' text.  It is semi-joined down to the candidate
    ids before shingling (``ngram_jaccard_pairs`` prunes internally), so
    the corpus is scanned but never re-shingled wholesale.  Ids must be
    unique across corpus ∪ wave (the pipeline keys on url; run url/exact
    dedup first), and the corpus itself is assumed already deduped.

    Scale shape (plan-audited): the wave's minhash signatures feed both
    intra-wave bucketing and the corpus join from ONE band relation;
    physically they materialize once inside the clustering pass (whose
    localCheckpoint truncates lineage — ``kept_new``'s plan contains no
    signature expression at all) and once more when the caller writes
    ``append_bands`` — at most twice, each O(wave), never O(corpus).
    ONE (band, band_hash) join against the signature table (sort-merge +
    AQE skew-split); verification and clustering cost ∝ verified
    matches, not corpus size.
    """
    wave_base = new_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    # docs with no shingles share the sentinel minhash signature and can
    # never verify — exclude them from candidate generation entirely
    # (same guard as fuzzy_dedup); they survive via the final anti-join
    lsh_ready = F.size(
        F.split(F.trim(F.col("text")), r"\s+")
    ) >= F.lit(shingle_n)
    nb = minhash_bands(
        wave_base.filter(lsh_ready), "text", num_hashes, bands, shingle_n
    )
    bootstrap = corpus_bands is None
    if bootstrap:
        corpus_bands = minhash_bands(
            corpus_docs.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            ).filter(lsh_ready),
            "text",
            num_hashes,
            bands,
            shingle_n,
        ).select(F.col("doc_id").alias(id_col), "band", "band_hash")
    cb = corpus_bands.select(
        F.col(id_col).alias("_cid"), "band", "band_hash"
    )
    intra = _pairs_from_bands(nb)
    cross = (
        nb.select(F.col("doc_id").alias("_nid"), "band", "band_hash")
        .join(cb, ["band", "band_hash"])
        .select(F.col("_nid").alias("doc_a"), F.col("_cid").alias("doc_b"))
        .distinct()
    )
    cand = intra.unionByName(cross)
    # verification text: wave ∪ corpus — ngram_jaccard_pairs semi-joins
    # both sides down to the candidate ids before shingling
    corpus_base = corpus_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    verified = ngram_jaccard_pairs(
        wave_base.unionByName(corpus_base), cand, "text", shingle_n
    ).filter(F.col("jaccard") >= threshold)
    clusters = connected_components(verified.select("doc_a", "doc_b"))
    wave_clustered = clusters.join(
        wave_base.select("doc_id"), "doc_id", "left_semi"
    )
    has_corpus = (
        clusters.join(corpus_base.select("doc_id"), "doc_id", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    # corpus-linked cluster: every wave member dies; wave-only cluster:
    # cluster_id IS the min wave id (no corpus member to undercut it)
    dead_cross = wave_clustered.join(
        has_corpus, "cluster_id", "left_semi"
    ).select("doc_id")
    dead_intra = (
        wave_clustered.join(has_corpus, "cluster_id", "left_anti")
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    dead = dead_cross.unionByName(dead_intra).select(
        F.col("doc_id").alias(id_col)
    )
    kept = new_docs.join(dead, id_col, "left_anti")
    kept_bands = nb.select(
        F.col("doc_id").alias(id_col), "band", "band_hash"
    ).join(kept.select(id_col), id_col, "left_semi")
    append_bands = (
        corpus_bands.unionByName(kept_bands) if bootstrap else kept_bands
    )
    return kept, append_bands
