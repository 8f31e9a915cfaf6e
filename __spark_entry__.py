"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction job on sf0.001.
``queries()`` — one entry per operator family from SURVEY.md §2 + the
training-data operators (dedup / similarity / text analysis / multimodal).
``oracle_sql()`` — exact DuckDB twins.  The extraction round-trip queries are
the strongest checks: DuckDB never runs the extractor — it just returns the
ground-truth text/title that our full Spark extraction pipeline must
reproduce byte-for-byte after wrapping the documents in boilerplate HTML.
"""

from __future__ import annotations

import hashlib
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from readability_php_spark.config import Configuration  # noqa: E402
from readability_php_spark.operators.dedup import (  # noqa: E402
    connected_components,
    exact_dedup,
    exact_substring_dedup,
    minhash_lsh_candidates,
)
from readability_php_spark.operators.extract import extract_operator  # noqa: E402
from readability_php_spark.operators.multimodal import (  # noqa: E402
    extract_media_features,
)
from readability_php_spark.operators.similarity import (  # noqa: E402
    ann_topk,
    cosine_topk,
    embedding_near_dups,
    ivf_topk,
)
from readability_php_spark.operators.text_analysis import analyze  # noqa: E402
from readability_php_spark.operators.urls import url_dedup  # noqa: E402
from readability_php_spark.plans.pipeline import tune_session_for_extraction  # noqa: E402
from readability_php_spark.sources.pages import (  # noqa: E402
    documents_corpus_df,
    load_table,
)

EXTRACT_CONFIG = Configuration(
    fix_relative_urls=True, article_byline=True, substitute_entities=True
)

#: The round-trip corpus runs with char_threshold=150 (docs in the synthetic
#: tables top out at ~558 stripped chars).  Docs above the threshold succeed
#: on attempt 1 and extract exactly; below it the kernel's flag-relaxation
#: retry may legitimately keep boilerplate (same as the reference).  The
#: filter margin (250 > threshold + max boilerplate leak ≈ 70 chars) makes
#: the included set identical on both sides.
ROUNDTRIP_THRESHOLD = 150
MIN_STRIPPED = 250
ROUNDTRIP_CONFIG = EXTRACT_CONFIG.with_overrides(char_threshold=ROUNDTRIP_THRESHOLD)


_extract_cache: dict = {}


def _extracted(
    spark: SparkSession, sf_dir: str, config: Configuration = None
) -> DataFrame:
    """Extraction result for the documents corpus, persisted per
    (session, sf_dir, config) so the driver's per-query runs don't re-run
    the kernel three times over the same rows."""
    cfg = config or EXTRACT_CONFIG
    key = (id(spark), sf_dir, cfg)
    cached = _extract_cache.get(key)
    if cached is not None:
        return cached[1]
    tune_session_for_extraction(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # see load_table
    pages = documents_corpus_df(spark, sf_dir)
    out = extract_operator(pages, cfg).withColumn(
        "doc_id", F.regexp_extract("url", r"/doc/(\d+)\.html", 1).cast("long")
    )
    out = out.persist()
    # the cache entry holds the SESSION too: id(spark) is an address that
    # CPython recycles after a stopped session is collected, and an
    # aliased key would hand a later session a DataFrame bound to a dead
    # SparkContext.  Keeping the reference pins the address for the
    # cache's lifetime.
    _extract_cache[key] = (spark, out)
    return out


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def _fixture_tag(sf_dir: str) -> str:
    """Cache key for the on-disk WET/WARC/PDF gate fixtures: the corpus
    directory's identity PLUS the documents table's (mtime, size), so a
    regenerated corpus — or a different corpus whose directory shares the
    same basename — invalidates the /tmp fixture instead of serving stale
    shards whose md5s can no longer match the oracle."""
    docs_path = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(docs_path)
        stamp = f"{int(st.st_mtime)}_{st.st_size}"
    except OSError:
        stamp = "nostat"
    base = os.path.basename(os.path.normpath(sf_dir))
    digest = hashlib.md5(
        os.path.abspath(sf_dir).encode() + b"|" + stamp.encode()
    ).hexdigest()[:10]
    return f"{base}_{digest}"



def _range_parallel(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Range-partition by the query's final sort key BEFORE the expensive
    per-row projection (optimization round: guide §2.4 — share one
    exchange).  The trailing ``orderBy(key)`` then needs no extra exchange
    (the range distribution already satisfies it), and — decisively — its
    range-boundary sampling pass no longer re-executes the heavy
    projection: it samples the cheap scan side of the exchange instead.
    Replaces the round-robin scan repair for queries that end in
    ``orderBy(key)``; explicit numPartitions pins the parallelism so AQE
    cannot coalesce the post-exchange stage below the core count."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(par, key)

def q_extract_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full extraction pipeline must recover each document's text exactly
    (whitespace-insensitive: paragraph structure replaces newline runs)
    AND its metadata title — one row per document: ``title`` checked for
    every doc, ``text_nows`` null for docs below the roundtrip length
    floor.  (The former extract_title_roundtrip gate folded in, freeing
    a registry slot for the storage-layer gate within the 50-query cap.)"""
    out = _extracted(spark, sf_dir, ROUNDTRIP_CONFIG)
    stripped = F.regexp_replace(F.col("extracted_text"), r"[\s ]+", "")
    return (
        out.select(
            "doc_id",
            "title",
            F.when(F.length(stripped) >= MIN_STRIPPED, stripped).alias(
                "text_nows"
            ),
        )
        .orderBy("doc_id")
    )


def q_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition metrics aggregation (the manifest shape): doc counts +
    error counts by language."""
    pages = documents_corpus_df(spark, sf_dir)
    out = _extracted(spark, sf_dir)
    joined = out.join(pages.select("doc_id", "lang"), "doc_id")
    return (
        joined.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
        )
        .orderBy("lang")
    )


def q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layer gate: the Iceberg-pattern snapshot log's as-of reads,
    change feed, and compaction exercised end-to-end every run — two
    waves of documents committed as snapshots 1 and 2, a small-file
    compaction committed as snapshot 3, then three views returned:

    - ``asof1``   — read_snapshot(..., 1): must be exactly wave 1, even
      though waves 2's files and the compacted rewrites are on disk;
    - ``latest``  — read_snapshot(...): the post-compaction view, which
      must still be all rows (compaction rewrites files, never rows);
    - ``delta12`` — diff_snapshots(1, 2) rows with change='added': must
      be exactly wave 2 (and the 'removed' side empty for pure appends).

    The DuckDB twin computes the same three views straight off the
    documents table, so a hash match proves snapshot isolation, row
    conservation under compaction, and the change feed jointly.  The
    scratch table is rebuilt from scratch each call (no fixture caching)
    so the gate always exercises the LIVE commit/read/compact/diff code.
    """
    import shutil
    import tempfile

    from readability_php_spark.plans.snapshots import (
        commit_snapshot,
        compact_snapshots,
        diff_snapshots,
        read_snapshot,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            "lang",
            F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5"),
            F.pmod(F.col("doc_id"), F.lit(4)).cast("int").alias("part_id"),
        )
    )
    # unique scratch per call: a shared deterministic path would let two
    # concurrent harness/bench processes rmtree each other's in-flight
    # table; results are materialized EAGERLY (bounded: 250 rows) so the
    # scratch can be deleted before returning — no leftover /tmp state
    scratch = tempfile.mkdtemp(prefix="snap_gate_")
    try:
        table = os.path.join(scratch, "table")
        part_ids = [0, 1, 2, 3]
        for lo, hi in ((0, 50), (50, 100)):
            (
                docs.filter(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
                )
                .coalesce(1)
                .write.mode("append")
                .partitionBy("part_id")
                .parquet(table)
            )
            commit_snapshot(spark, table, part_ids)
        compact_snapshots(spark, table, min_files=2)
        cols = ["doc_id", "lang", "text_md5"]
        asof1 = read_snapshot(spark, table, 1).select(*cols).withColumn(
            "view", F.lit("asof1")
        )
        latest = read_snapshot(spark, table).select(*cols).withColumn(
            "view", F.lit("latest")
        )
        # key_col: the scratch table has no url column; doc_id is its key
        delta = (
            diff_snapshots(spark, table, 1, 2, key_col="doc_id")
            .filter(F.col("change") == "added")
            .select(*cols)
            .withColumn("view", F.lit("delta12"))
        )
        rows = (
            asof1.unionByName(latest)
            .unionByName(delta)
            .orderBy("view", "doc_id")
            .collect()
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(
        rows, "doc_id long, lang string, text_md5 string, view string"
    ).orderBy("view", "doc_id")


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring removal (Lee et al. 2022 ExactSubstr,
    operators/dedup.py exact_substring_dedup) over a deterministically
    augmented corpus: every 3rd doc gets a shared 12-token boilerplate
    tail (cut from all but the earliest copy), every 7th doc is also
    present as a whole-document duplicate under doc_id+100000 (fully
    excised — every gram's keeper is the original).  The oracle replays
    tokenization, positioned 8-grams, the global keeper rule
    (row_number over (gram ORDER BY doc_id, pos)), covered-position
    expansion and text rebuild as plain relational SQL."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 250)
        .select("doc_id", "text")
    )
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" " + _SUBSTR_BOILER)),
        ).otherwise(F.col("text")).alias("text"),
    )
    dupes = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text"
    )
    out = exact_substring_dedup(aug.unionByName(dupes), n=8)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
        "text",
    ).orderBy("doc_id")


#: shared boilerplate tail for q_substring_dedup (12 tokens > n=8)
_SUBSTR_BOILER = (
    "subscribe to our newsletter for updates and follow us on social media"
)


# The former lang_stats gate (per-lang count / mean / max / continuous
# median) is folded into rollup_stats — same aggregates at the (lang,
# source) rollup's lang level — freeing its registry slot for
# substring_dedup under the driver's 50-query cap.


def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _range_parallel(load_table(spark, sf_dir, "documents"))
    return analyze(docs).orderBy("doc_id")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over synthetic candidate pairs: a 30-node chain
    (0-1, 1-2, … 28-29 — transitive closure without direct pairs) plus
    fifty 2-node pairs (i, i+1_000_000). Every chain node must land in
    cluster 0; every pair in cluster i."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    chain = (
        docs.filter(F.col("doc_id") < 29)
        .select(F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 1).alias("doc_b"))
    )
    pairs = (
        docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
        .select(F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 1_000_000).alias("doc_b"))
    )
    return connected_components(chain.unionByName(pairs)).orderBy("doc_id")


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup over synthetic crawl-variant URLs: each doc yields
    its canonical URL plus a tracking-params+fragment variant, an
    uppercase-host:80 variant, and a trailing-slash variant — all four must
    canonicalize to one key (operators/urls.py)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    base = docs.select(
        "doc_id",
        F.concat(F.lit("http://synth.test/doc/"), F.col("doc_id"), F.lit(".html")).alias("url"),
    )
    v1 = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("url"), F.lit("?utm_source=feed&utm_medium=x#top")).alias("url"),
    )
    v2 = base.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(
            F.lit("HTTP://SYNTH.TEST:80/doc/"), F.col("doc_id"), F.lit(".html")
        ).alias("url"),
    )
    v3 = base.select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(F.col("url"), F.lit("/")).alias("url"),
    )
    pages = base.unionByName(v1).unionByName(v2).unionByName(v3)
    return url_dedup(pages).orderBy("keeper_id")


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023): hashed unigram+bigram
    bucket distributions over a 40-doc target and the 400-doc raw pool,
    Laplace-smoothed log-ratio weights, per-doc importance score.  The
    oracle replays featurization (md5-prefix buckets), both distributions,
    the weight formula and the weighted per-doc sum; scores round-4 so the
    order-dependent double summation can't flap the hash.  dsir_select's
    top-k cut over these scores is pytest-law-covered
    (test_dsir_select_matches_independent_topk)."""
    from readability_php_spark.operators.importance import (
        dsir_scores,
        dsir_weights,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").filter(
        (F.col("doc_id") < 400) & F.col("text").isNotNull()
    )
    target = docs.filter(F.col("doc_id") < 40)
    w = dsir_weights(target, docs, buckets=4096, hash_fn="md5")
    s = dsir_scores(docs, w, buckets=4096, hash_fn="md5")
    return s.select(
        "doc_id",
        F.round(F.col("dsir_score"), 4).alias("dsir_score"),
        "n_grams",
    ).orderBy("doc_id")


def q_minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates over the synthetic-duplicate corpus: each
    (doc, doc+1M) pair must collide on every band (identical text)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 100
    )
    dupes = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    both = docs.unionByName(dupes)
    return minhash_lsh_candidates(both, num_hashes=8, bands=2).orderBy(
        "doc_a", "doc_b"
    )


def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher + C4 rule sets over a deterministically ENRICHED corpus
    (the synthetic text is single-line and punctuation-free, so rule-
    relevant structure — extra lines ending in punctuation, bullet lines,
    ellipsis lines, #symbols — is appended by doc_id arithmetic that the
    DuckDB twin replays verbatim).  Checks every measured value, every
    per-rule flag, both composite keeps, and the md5 of C4's rewritten
    text.  (Replaces the retired ngram_jaccard_consecutive gate: its
    rounded-Jaccard law is replayed verbatim inside training_prep_fuzzy's
    oracle; pytest keeps direct coverage.)"""
    from readability_php_spark.operators.text_analysis import (
        c4_quality_rules,
        gopher_quality_rules,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 300
    )
    t2 = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("\nThis extra line ends with terminal punctuation.")
               ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0,
               F.lit("\n- bullet line with enough words here.")
               ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit("\nthis line just trails off...")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit(" #tag #tag")).otherwise(F.lit("")),
    )
    enriched = docs.select("doc_id", t2.alias("text"))
    g = gopher_quality_rules(enriched).select(
        "doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
        "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
        F.col("n_required_stopwords").cast("long").alias("n_stop"),
        F.col("keep").alias("gopher_keep"),
    )
    c = c4_quality_rules(enriched).select(
        "doc_id",
        F.col("n_lines_in").cast("long").alias("c4_lines_in"),
        F.col("n_lines_kept").cast("long").alias("c4_lines_kept"),
        F.md5("text_clean").alias("c4_md5"),
        F.col("keep").alias("c4_keep"),
    )
    return g.join(c, "doc_id").orderBy("doc_id")


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wave-incremental dedup chain — the per-wave shape
    ``jobs/dedup_job.py`` runs against a growing corpus: verbatim-row
    collapse → intra-wave exact dedup (min-id keeper per fingerprint) →
    Bloom-pruned exact verification against the corpus (bit-identical to
    a plain fingerprint anti-join, which is exactly how the oracle
    replays it) → bootstrap ``incremental_fuzzy_dedup`` (MinHash bands
    for the corpus computed ONCE, wave↔corpus band-collision candidates,
    intra-wave bucket pairs, n-gram Jaccard verification, JOINT
    connected components with the corpus-wins keeper rule) returning the
    kept wave and the complete signature table.

    The crafted wave covers every decision class: exact cross-corpus
    dups (ids +1e6), near cross-corpus dups (+2e6, ' extra near dup
    token' suffix), fresh docs (100-149), an intra-wave exact dup of a
    wave doc (3000100, ingested as a verbatim DOUBLE row), and an
    intra-wave near dup (4000110).

    Output: one row per corpus ∪ wave id — (doc_id, source, kept,
    n_sig_rows), where n_sig_rows is the id's row count in the
    append_bands signature table (2 = the bands=2 rows of every kept
    shingle-ready doc; corpus rows included, evidencing bootstrap
    completeness; 0 for dropped or shingle-less docs).  The oracle
    replays every stage relationally with the same CTE family as
    training_prep_fuzzy (fingerprint row_number, exact anti-join,
    minhash/band/Jaccard, recursive-CTE closure) plus the corpus-wins
    cluster rule."""
    from readability_php_spark.operators.bloom import (
        bloom_incremental_exact_dedup,
    )
    from readability_php_spark.operators.dedup import (
        exact_dedup,
        incremental_fuzzy_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 100)
    near_sfx = F.concat(F.col("text"), F.lit(" extra near dup token"))
    wave = (
        docs.filter(F.col("doc_id") < 10)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        .unionByName(
            docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20))
            .select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                near_sfx.alias("text"),
            )
        )
        .unionByName(
            docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
        )
        .unionByName(
            docs.filter(F.col("doc_id") == 100)
            .crossJoin(spark.range(2))  # verbatim double ingestion
            .select(
                F.lit(3000100).cast("long").alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") == 110).select(
                F.lit(4000110).cast("long").alias("doc_id"),
                near_sfx.alias("text"),
            )
        )
    )
    # stage checkpoints mirror jobs/dedup_job.py: without them the
    # union+dropDuplicates wave lineage (and the bloom probe chain)
    # replays inside every downstream consumer.  `intra` lost its
    # checkpoint in the optimization round — it feeds only the bloom
    # chain, and folding it in measured ~1.5 s faster; the other two
    # are load-bearing (replacing them with lazy persists measured
    # 7.5-9.9 s → 16-25 s, so they stay).
    wave = wave.dropDuplicates(["doc_id", "text"]).localCheckpoint()
    intra = exact_dedup(wave, id_col="doc_id")
    after_exact = (
        bloom_incremental_exact_dedup(
            intra, corpus, m_bits=1 << 16, k=5, id_col="doc_id"
        )
        .filter(~F.col("is_dup"))
        .drop("bloom_candidate", "is_dup")
        .localCheckpoint()
    )
    kept, bands = incremental_fuzzy_dedup(
        after_exact,
        corpus,
        id_col="doc_id",
        num_hashes=8,
        bands=2,
        shingle_n=3,
        threshold=0.8,
        corpus_bands=None,
    )
    sig = bands.groupBy("doc_id").agg(F.count("*").alias("n"))
    out_corpus = corpus.select("doc_id").join(sig, "doc_id", "left").select(
        "doc_id",
        F.lit("corpus").alias("source"),
        F.lit(True).alias("kept"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_sig_rows"),
    )
    out_wave = (
        wave.select("doc_id")
        .join(
            kept.select("doc_id").withColumn("k", F.lit(True)),
            "doc_id",
            "left",
        )
        .join(sig, "doc_id", "left")
        .select(
            "doc_id",
            F.lit("wave").alias("source"),
            F.coalesce("k", F.lit(False)).alias("kept"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_sig_rows"),
        )
    )
    return out_corpus.unionByName(out_wave).orderBy("source", "doc_id")


def q_cosine_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k AND its sign-LSH approximate variant in one
    gate (tagged by ``algo``) — merged from the former cosine_topk /
    ann_topk gates to free a registry slot under the driver's 50-query cap
    while keeping both value checks (the oracle UNION ALLs both twins)."""
    emb = load_table(spark, sf_dir, "embeddings", parallel=True)
    exact = cosine_topk(emb, query_ids=[0, 1, 2, 3, 4], k=10).withColumn(
        "algo", F.lit("exact")
    )
    ann = ann_topk(emb, query_ids=[0, 1, 2, 3, 4], k=10, bits=8).withColumn(
        "algo", F.lit("ann")
    )
    return exact.unionByName(ann).orderBy("algo", "query_id", "rank")


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (deterministic k-means coarse quantizer, 2-cell probe).
    Approximate vs brute force by design, but the *algorithm* is exactly
    reproducible (deterministic init + rounded means), so the oracle is a
    full value check via unrolled-Lloyd SQL (see ``_ivf_sql``)."""
    emb = load_table(spark, sf_dir, "embeddings", parallel=True)
    return ivf_topk(emb, query_ids=[0, 1, 2], k=10, n_centroids=8, n_probe=2).orderBy(
        "query_id", "rank"
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection over a corpus with synthetic
    duplicates (every vector copied at vec_id+10000): each (i, i+10000)
    pair must surface with cosine 1.0."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").filter(
        F.col("vec_id") < 100
    )
    dupes = emb.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    both = emb.unionByName(dupes)
    return embedding_near_dups(both, threshold=0.99, bits=4).orderBy("id_a", "id_b")


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over a corpus with synthetic exact
    copies (each vector re-emitted at vec_id+10000 and vec_id+20000):
    every source must form a ≥3-member semantic cluster whose keeper is
    the lowest-centroid_sim member (id tie-break picks the original when
    copies are exact).  Full relational replay: unrolled-Lloyd cells,
    within-cell round-4 cosine pairs, recursive-CTE transitive closure,
    keeper window."""
    from readability_php_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).filter(F.col("vec_id") < 100)
    both = emb
    for off in (10_000, 20_000):
        both = both.unionByName(
            emb.select((F.col("vec_id") + off).alias("vec_id"), "embedding")
        )
    res = semdedup(both, threshold=0.95, n_centroids=8)
    return res.select(
        "vec_id",
        "sem_cluster",
        "centroid_sim",
        F.col("is_keeper").cast("int").alias("is_keeper"),
    ).orderBy("vec_id")


def q_training_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pipeline: quality/lang/token filters + exact
    dedup — the one-liner a corpus curator runs before tokenization."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    kept = exact_dedup(docs)  # min-doc_id representative per fingerprint
    # lang rides through analyze as a passthrough column instead of a
    # join-back to kept: the join shape duplicated the whole
    # exact_dedup + regex-projection subtree (one copy per join branch),
    # and the pushed-down quality/n_tokens filter re-evaluated the regex
    # expressions a third time below the join.  persist() makes the
    # filter read the materialized stats columns — one regex pass total;
    # identical rows either way (the join was 1:1 on doc_id).
    stats = analyze(kept, passthrough=("lang",)).persist()
    return (
        stats.filter(
            (F.col("quality") >= 0.5)
            & (F.col("n_tokens") >= 30)
            & (F.col("lang_pred") == F.col("lang"))
        )
        .select("doc_id", "lang", "n_tokens", "quality")
        .orderBy("doc_id")
    )


def q_training_prep_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed dedup chain of run_training_prep (exact fingerprint
    dedup → MinHash-LSH candidates → n-gram-Jaccard verification →
    connected components → keep the min-id representative): planted exact
    dups must die in stage 1, planted near-dups (text + a few extra
    tokens) and the corpus's own natural near-dup clusters must collapse
    to one keeper in the fuzzy stage.  The oracle replays every stage —
    md5 fingerprints, the affine minhash family, band hashes, rounded
    Jaccard, and a recursive-CTE connected components."""
    from readability_php_spark.operators.dedup import fuzzy_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 150
    )
    near = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra near dup token")).alias("text"),
    )
    exact = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(near).unionByName(exact)
    kept = fuzzy_dedup(
        # the gate's corpus is ~350 rows built from a 3-branch union; the
        # eager checkpoint materializes scan+union+exact-dedup ONCE so the
        # fuzzy chain's 4 consumers (LSH input, both Jaccard sides, final
        # anti-join) stop replaying that subtree per job
        exact_dedup(corpus).localCheckpoint(), num_hashes=8, bands=2,
        threshold=0.8
    )
    return kept.select("doc_id").orderBy("doc_id")


def q_wet_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source gate: documents → WET shards (WARC conversion records,
    half of them gzipped) on local disk → ``read_wet_directory`` (one task
    per archive) → per-record projection.  The oracle computes the same
    rows straight off the documents table, so a hash match proves the
    WARC-container writer/reader round-trips every record: url, timestamp,
    and utf-8 text byte-faithfully (md5), through both the plain and the
    gzip path."""
    import tempfile

    from readability_php_spark.sources.warc import read_wet_directory, write_wet

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 300
    )
    tag = _fixture_tag(sf_dir)
    wdir = os.path.join(tempfile.gettempdir(), f"wet_gate_{tag}")
    marker = os.path.join(wdir, "_done")
    if not os.path.exists(marker):
        os.makedirs(wdir, exist_ok=True)
        shards: dict[int, list] = {i: [] for i in range(4)}
        for r in docs.collect():  # fixture construction, 300 rows, one-time
            shards[r.doc_id % 4].append(
                (f"http://synth.test/doc/{r.doc_id}.html",
                 "2024-03-01T00:00:00Z", r.text)
            )
        for i, batch in shards.items():
            name = f"shard-{i}.wet" + (".gz" if i % 2 else "")
            write_wet(os.path.join(wdir, name), batch, compress=bool(i % 2))
        open(marker, "w").close()
    pages = read_wet_directory(spark, wdir)
    return pages.select(
        F.regexp_extract("url", r"/doc/(\d+)\.html", 1).cast("long").alias("doc_id"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5"),
        F.col("warc_ts").cast("timestamp").alias("warc_ts"),
    ).orderBy("doc_id")


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC-source gate (response records + HTTP envelope + per-shard
    gzip): documents written as WARC response records whose payload is the
    doc text behind an HTTP/1.1 envelope, read back through
    ``read_warc_directory``.  md5 of the recovered payload vs md5 of the
    table text proves envelope stripping and record framing are
    byte-faithful."""
    import tempfile

    from readability_php_spark.sources.warc import read_warc_directory, write_warc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 200
    )
    tag = _fixture_tag(sf_dir)
    wdir = os.path.join(tempfile.gettempdir(), f"warc_gate_{tag}")
    marker = os.path.join(wdir, "_done")
    if not os.path.exists(marker):
        os.makedirs(wdir, exist_ok=True)
        shards: dict[int, list] = {i: [] for i in range(4)}
        for r in docs.collect():  # fixture construction, 200 rows, one-time
            shards[r.doc_id % 4].append(
                (f"http://synth.test/doc/{r.doc_id}.html",
                 "2024-03-02T00:00:00Z", r.text.encode("utf-8"))
            )
        for i, batch in shards.items():
            name = f"shard-{i}.warc" + (".gz" if i % 2 else "")
            write_warc(os.path.join(wdir, name), batch, compress=bool(i % 2))
        open(marker, "w").close()
    pages = read_warc_directory(spark, wdir)
    return pages.select(
        F.regexp_extract("url", r"/doc/(\d+)\.html", 1).cast("long").alias("doc_id"),
        F.md5(F.col("html")).alias("payload_md5"),
        F.col("warc_ts").cast("timestamp").alias("warc_ts"),
    ).orderBy("doc_id")


def q_pdf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF-source gate: documents laid out one page per doc (single span at
    (72, 720)) through the deterministic PDF writer, read back through the
    span extractor (one task per file).  md5 of the span text vs the table
    proves the content-stream parse (Td/Tj operators, string escapes) is
    faithful."""
    import tempfile

    from readability_php_spark.sources.pdf import read_pdf_directory, write_pdf

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", "\n", " ").alias("text")
    ).filter(F.col("doc_id") < 100)
    tag = _fixture_tag(sf_dir)
    pdir = os.path.join(tempfile.gettempdir(), f"pdf_gate_{tag}")
    marker = os.path.join(pdir, "_done")
    if not os.path.exists(marker):
        os.makedirs(pdir, exist_ok=True)
        shards: dict[int, list] = {i: [] for i in range(4)}
        for r in sorted(docs.collect(), key=lambda r: r.doc_id):
            shards[r.doc_id % 4].append([(72.0, 720.0, r.text)])
        for i, pages_i in shards.items():
            write_pdf(os.path.join(pdir, f"shard-{i}.pdf"), pages_i)
        open(marker, "w").close()
    spans = read_pdf_directory(spark, pdir)
    shard = F.regexp_extract("url", r"shard-(\d)\.pdf", 1).cast("long")
    return spans.select(
        (shard + 4 * (F.col("page") - 1)).alias("doc_id"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5"),
        F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
    ).orderBy("doc_id")


def q_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-diversity cap: urls rotate over 7 synthetic hosts; at most 10
    docs per host survive, lowest doc_id first."""
    from readability_php_spark.operators.urls import cap_per_host

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("http://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example/doc/"), F.col("doc_id").cast("string"),
            F.lit(".html"),
        ).alias("url"),
    )
    return cap_per_host(pages, 10).select("doc_id", "host").orderBy("doc_id")


def q_lang_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual temperature resampling (T=2): per-lang keep rates
    (n_min/n_l)^0.5 applied via the md5-threshold sampler — deterministic,
    replayable outside Spark."""
    from readability_php_spark.operators.sampling import temperature_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.concat(F.lit("http://synth.test/doc/"), F.col("doc_id").cast("string"),
                 F.lit(".html")).alias("url"),
    )
    out = temperature_sample(docs, group_col="lang", key_col="url",
                             temperature=2.0, seed=42)
    return out.select("doc_id", "lang").orderBy("doc_id")


def q_hashed_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text → vector without external embeddings: feature-hashed TF
    vectors (dim 16, md5 dimension hash) with consecutive-doc cosine.
    Proves the whole text→vector→similarity path end-to-end — the oracle
    replays dimension hashing, the zero-filled count profile, L2
    normalization (component round-6), and index-order cosine."""
    from readability_php_spark.operators.similarity import cosine
    from readability_php_spark.operators.text_analysis import hashed_tf_embedding

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 200
    )
    emb = hashed_tf_embedding(docs, dim=16, hash_fn="md5")
    a = emb.select(F.col("doc_id").alias("doc_a"), F.col("embedding").alias("va"))
    b = emb.select(
        (F.col("doc_id") - 1).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.col("embedding").alias("vb"),
    )
    return (
        a.join(b, "doc_a")
        .select(
            "doc_a", "doc_b",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos_sim"),
        )
        .orderBy("doc_a")
    )


def q_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM quality score over the first 200 docs: the
    corpus trains the smoothed bigram model, every doc is scored by mean
    bigram log-prob (round-4).  The oracle replays counts on raw strings
    (evidencing the xxhash64 join-key path collision-free)."""
    from readability_php_spark.operators.text_analysis import ngram_lm_score

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 200
    )
    return ngram_lm_score(docs).orderBy("doc_id")



def _linked_pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic crawl pages (url, html binary) whose anchors
    exercise every href class links.py handles: relative (nav), single-
    quoted, protocol-relative, absolute with :port and uppercase <A HREF,
    mailto:, and fragment-only.  Mirrored in SQL by _LINKED_PAGES_SQL."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 400
    )
    i = F.col("doc_id").cast("string")
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 17).cast("string"), F.lit(".synth.test")
    )
    a = ((F.col("doc_id") * 3 + 1) % 23).cast("string")
    b = ((F.col("doc_id") * 7 + 2) % 23).cast("string")
    c = ((F.col("doc_id") * 11 + 5) % 23).cast("string")
    html = F.concat(
        F.lit("<html><head><title>Page "), i, F.lit("</title></head><body>"),
        F.lit('<div class="nav"><a href="/">Home</a> <a href=\'/about\'>About</a></div>'),
        F.lit('<p>See <a href="http://h'), a, F.lit('.synth.test/p/'), i,
        F.lit('.html">one</a>, '),
        F.lit('<a href="//h'), b, F.lit('.synth.test/x">two</a>, '),
        F.lit('<A HREF="https://h'), c, F.lit('.synth.test:8080/q?u=1#f">three</a>, '),
        F.lit('<a href="mailto:x@y.example">mail</a>, <a href="#frag">frag</a>.</p>'),
        F.lit("</body></html>"),
    )
    return docs.select(
        F.concat(F.lit("http://"), host, F.lit("/page/"), i, F.lit(".html")).alias(
            "url"
        ),
        F.encode(html, "UTF-8").alias("html"),
    )


def q_outlink_hostgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl HTML → aggregated host link graph, self-loops kept so the
    relative-href resolution (nav links → own host) is hash-visible."""
    from readability_php_spark.operators.links import host_link_graph

    return host_link_graph(
        _linked_pages_df(spark, sf_dir), drop_self_loops=False
    ).orderBy("src_host", "dst_host")


def q_outlink_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition: outlink extraction from raw HTML → host edges (self-
    loops dropped) → 5-iteration PageRank; the oracle replays the regex
    extraction AND the unrolled rank trajectory in one SQL statement."""
    from readability_php_spark.operators.graph import pagerank
    from readability_php_spark.operators.links import extract_outlinks

    edges = (
        extract_outlinks(_linked_pages_df(spark, sf_dir))
        .filter(F.col("src_host") != F.col("dst_host"))
        .select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    )
    return (
        pagerank(edges, iterations=5)
        .select(F.col("node").alias("host"), F.col("rank").alias("pagerank"))
        .orderBy("host")
    )


def q_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio round trip (the WET-gate technique): synthesize 16-bit PCM
    WAV payloads from document codepoints in Arrow batches, parse them
    back with the REAL stdlib RIFF/WAVE parser, and emit per-doc audio
    stats; the oracle computes the same stats from the text directly, so
    equality proves the container encode→parse round trip."""
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") < 200) & (F.length("text") > 0))
    )

    def batches(it):
        from readability_php_spark.operators.multimodal import (
            decode_wav,
            pcm16_wav_bytes,
        )

        for pdf in it:
            out = {"doc_id": [], "sample_rate": [], "channels": [],
                   "n_samples": [], "rms": []}
            for i in range(len(pdf)):
                t = pdf["text"].iat[i]
                samples = [min(ord(c), 32767) for c in t[:4096]]
                sr, ch, n, rms = decode_wav(pcm16_wav_bytes(samples, 16000, 1))
                out["doc_id"].append(pdf["doc_id"].iat[i])
                out["sample_rate"].append(sr)
                out["channels"].append(ch)
                out["n_samples"].append(n)
                out["rms"].append(rms)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        batches,
        schema="doc_id long, sample_rate long, channels long, n_samples long, rms double",
    ).orderBy("doc_id")


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet composition: bigram-LM score → head/middle/tail assignment by
    exact tercile-boundary elements (rank-fetched, tuple-compared — no
    float quantile interpolation, so the oracle replays it exactly)."""
    from readability_php_spark.operators.text_analysis import (
        ngram_lm_score,
        score_buckets,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 200
    )
    return (
        score_buckets(ngram_lm_score(docs))
        .select("doc_id", "lm_score", "bucket")
        .orderBy("doc_id")
    )


def q_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk→pack composition run_training_prep offers ("chunk down,
    then pack up"): 64-token windows at stride 48, then deterministic
    prefix-sum packing of the CHUNKS into 256-token sequences per lang.
    The unit key is doc_id*1000+chunk_id — numeric, dense, and replayable
    in the oracle, which chains the chunk CTE into the three-line packing
    law.  chunk_md5 (md5 of each window's text) rides along so this one
    gate also pins exact window CONTENTS — it subsumes the retired
    chunk_documents gate, whose oracle was this one's chunk CTE."""
    from readability_php_spark.operators.packing import chunk_documents, pack_documents

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    ).filter(F.col("doc_id") < 200)
    ch = chunk_documents(docs, max_tokens=64, stride=48).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    units = ch.select(
        "lang",
        (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("unit_id"),
        F.col("n_chunk_tokens").alias("n_tokens"),
        F.md5("chunk_text").alias("chunk_md5"),
    )
    packed = pack_documents(
        units.select("lang", "unit_id", "n_tokens"),
        budget=256, group_cols=("lang",), order_col="unit_id",
        tokens_col="n_tokens",
    )
    return packed.join(units.select("unit_id", "chunk_md5"), "unit_id").select(
        "lang",
        F.col("unit_id").cast("long").alias("unit_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "chunk_md5",
        "pack_id",
        "oversize",
    ).orderBy("lang", "unit_id")


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text corpus per target host (snippet-paired href+text, inner
    markup stripped): the oracle replays snippet extraction, text
    cleanup, and host resolution with the same RE2 patterns."""
    from readability_php_spark.operators.links import anchor_texts

    at = anchor_texts(_linked_pages_df(spark, sf_dir))
    return (
        at.groupBy("dst_host")
        .agg(
            F.count("*").alias("n_anchors"),
            F.count_distinct("anchor_text").alias("n_texts"),
            F.min("anchor_text").alias("sample_text"),
        )
        .orderBy("dst_host")
    )


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine model-based quality filtering: train a logistic-regression
    classifier (3 full-batch GD steps, rounded trajectory) on hashed-TF
    features against a deterministic long-document label, then score every
    doc.  The oracle replays feature hashing, every gradient step, and the
    final sigmoid as one unrolled SQL statement."""
    from readability_php_spark.operators.classify import score_logreg, train_logreg
    from readability_php_spark.operators.text_analysis import hashed_tf_embedding

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 300
    )
    ntok = F.size(
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda t: t != F.lit(""),
        )
    )
    labels = docs.select(
        "doc_id", (ntok >= 56).cast("long").alias("label")
    )
    feats = hashed_tf_embedding(docs, dim=16, hash_fn="md5").join(labels, "doc_id")
    w, b = train_logreg(feats, dim=16, iterations=3, lr=1.0)
    return (
        score_logreg(feats, w, b)
        .select("doc_id", "label", "score", "keep")
        .orderBy("doc_id")
    )


def q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-corpus duplicated word-20-gram fraction per document (the
    Lee-et-al. span-dedup signal; the synthetic corpus' natural near-dup
    pairs give nonzero fractions)."""
    from readability_php_spark.operators.dedup import duplicated_spans

    docs = load_table(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")
    return duplicated_spans(docs, n=20).orderBy("doc_id")



def q_rollup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets rollup over (lang, source): subtotal rows NULL-filled —
    the cube/rollup surface of the relational layer.  Carries the former
    lang_stats gate's aggregates (max + exact continuous median) so that
    fold loses no coverage."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count("*").alias("docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.max("n_chars").alias("max_chars"),
            F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("median_chars"),
        )
        .orderBy(F.asc_nulls_first("lang"), F.asc_nulls_first("source"))
    )



def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training + encode + BPE-BUDGETED
    chunk→pack (Sennrich et al. 2016; the composition
    ``run_training_prep(tokenizer=...)`` runs): 12 merges learned on the
    distinct-words relation of the corpus, every doc's token count under
    the trained vocab, then the corpus chunked into 64-BPE-token windows
    by the cost-prefix law (``chunk_documents_by_cost``) and the chunks
    packed into 256-BPE-token sequences per lang — token budgets
    measured in TRAINED-TOKENIZER tokens end to end.  The oracle unrolls
    the full training loop relationally (pair-count argmax per
    iteration; greedy non-overlapping merge application via the
    gaps-and-islands position-parity law — equivalent to the Spark
    fold), derives the per-word cost relation from the trained vocab,
    and chains it into the positioned-word prefix-sum chunk law and the
    packing law — so a divergence in ANY merge decision, merge
    application, word cost, window boundary, or pack assignment flips
    some row.  min_pair_count=1 pins exactly 12 iterations, matching
    the fixed unroll.  chunk_md5 pins exact window CONTENTS.  The
    merge_table is omitted from the encode deliberately: scoring the
    training corpus has no OOV words, so the trained vocab IS the cost
    model; the OOV encode path is differential-tested in tests/
    test_bpe.py (test_bpe_token_counts_oov_applies_merges) and the
    pipeline e2e (test_training_prep_bpe_tokenizer_budgets)."""
    from readability_php_spark.operators.bpe import bpe_token_counts, bpe_train
    from readability_php_spark.operators.packing import (
        chunk_documents_by_cost,
        pack_documents,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    ).filter(F.col("doc_id") < 150)
    _, enc = bpe_train(docs, merges=12, min_pair_count=1)
    counts = bpe_token_counts(docs, enc)
    cost_vocab = enc.select("word", F.size("syms").alias("word_tokens"))
    chunks = chunk_documents_by_cost(
        docs, cost_vocab, max_tokens=64, id_col="doc_id"
    )
    units = chunks.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "chunk_id",
        "lang",
        (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("unit_id"),
        F.col("n_chunk_tokens").alias("n_tokens"),
        F.md5("chunk_text").alias("chunk_md5"),
    )
    packed = pack_documents(
        units.select("lang", "unit_id", "n_tokens"),
        budget=256, group_cols=("lang",), order_col="unit_id",
        tokens_col="n_tokens",
    )
    return (
        packed.join(
            units.select("unit_id", "doc_id", "chunk_id", "chunk_md5"),
            "unit_id",
        )
        .join(counts, "doc_id")
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
            F.col("n_tokens").cast("long").alias("n_chunk_tokens"),
            "chunk_md5",
            "pack_id",
        )
        .orderBy("doc_id", "chunk_id")
    )


def q_pack_documents_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical packing (window key = (group, bucket)) — the shape that
    keeps any single language from serializing through one window task at
    10^12 docs.  The gate precomputes a DuckDB-replayable bucket (doc_id %
    8); production uses the default xxhash64 content bucketing."""
    from readability_php_spark.operators.packing import pack_documents_bucketed

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    ).withColumn("bucket", (F.col("doc_id") % 8).cast("int"))
    return pack_documents_bucketed(
        docs, budget=20_000, buckets=8, group_cols=("lang",),
        tokens_col="n_chars", bucket_col="bucket",
    ).orderBy("lang", "bucket", "doc_id")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic keep rates (md5-threshold, no join)."""
    from readability_php_spark.operators.sampling import hash_sample_by

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.concat(F.lit("http://synth.test/doc/"), F.col("doc_id").cast("string"),
                 F.lit(".html")).alias("url"),
    )
    out = hash_sample_by(
        docs, {"en": 0.5, "de": 1.0, "fr": 0.1}, group_col="lang",
        key_col="url", seed=7, default_rate=0.25,
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


def q_blocked_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist curation: hosts rotate over 4 synthetic domains;
    evil.test and its subdomains must vanish."""
    from readability_php_spark.operators.urls import filter_blocked_domains

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    host = (
        F.when(F.col("doc_id") % 4 == 0, "synth.test")
        .when(F.col("doc_id") % 4 == 1, "evil.test")
        .when(F.col("doc_id") % 4 == 2, "sub.evil.test")
        .otherwise("ok.example")
    )
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("http://"), host, F.lit("/doc/"),
                 F.col("doc_id").cast("string"), F.lit(".html")).alias("url"),
    )
    blocklist = docs.sparkSession.createDataFrame([("evil.test",)], "domain string")
    return filter_blocked_domains(pages, blocklist).orderBy("doc_id")


def q_quality_rollup_by_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/ingest.py::streaming_quality_rollup — the
    same windowed (event-hour, lang) quality aggregate over EXTRACTION
    OUTPUT, on metrics the oracle can compute: whitespace-stripped length
    is byte-preserved by extraction for the >= MIN_STRIPPED set (the
    extract_roundtrip gate proves that), so DuckDB reproduces the rollup
    from the ground-truth text.  warc_ts is constant in the corpus, so both
    engines synthesize ts = 2024-01-01 + (doc_id %% 48) hours."""
    out = _extracted(spark, sf_dir, ROUNDTRIP_CONFIG)
    pages = documents_corpus_df(spark, sf_dir)
    joined = out.join(pages.select("doc_id", "lang"), "doc_id")
    stripped_len = F.length(
        F.regexp_replace(F.col("extracted_text"), r"[\s ]+", "")
    )
    ts = F.expr(
        "timestamp'2024-01-01 00:00:00' "
        "+ make_interval(0, 0, 0, 0, cast(doc_id % 48 as int), 0, 0)"
    )
    return (
        joined.select("lang", stripped_len.alias("slen"), ts.alias("ts"))
        .filter(F.col("slen") >= MIN_STRIPPED)
        .groupBy(F.window("ts", "1 hour").getField("start").alias("hour"), "lang")
        .agg(
            F.count("*").alias("docs"),
            F.round(F.avg("slen"), 4).alias("avg_stripped"),
        )
        .orderBy("hour", "lang")
    )


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF top-5 keywords per doc (6-decimal-rounded scores,
    term-ascending ties) over the first 100 docs."""
    from readability_php_spark.operators.text_analysis import tfidf_keywords

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return tfidf_keywords(docs, k=5).orderBy("doc_id", "rank")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: docs 0-19 play the benchmark (their text
    verbatim), so exactly those training docs (plus any true random 8-gram
    collisions, identical on both engines) must flag as contaminated."""
    from readability_php_spark.operators.dedup import contamination_flags

    docs = load_table(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")
    benchmark = docs.filter(F.col("doc_id") < 20).select("text")
    return contamination_flags(docs, benchmark, n=8).orderBy("doc_id")


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals; the text is seeded with a
    duplicated line on both engines so dup_line_frac is exercised."""
    from readability_php_spark.operators.text_analysis import repetition_signals

    docs = _range_parallel(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.col("text"),
            F.concat(F.lit("unique "), F.col("doc_id").cast("string")),
        ).alias("text"),
    )
    return repetition_signals(docs).orderBy("doc_id")


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line dedup (C4/CCNet boilerplate killer) over text
    seeded with shared boilerplate lines on both engines: the shared lines
    must vanish from every doc, the unique ones must survive."""
    from readability_php_spark.operators.dedup import line_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("SUBSCRIBE to our newsletter"),
            F.col("text"),
            F.concat(F.lit("unique tail "), F.col("doc_id").cast("string")),
            F.lit("(c) synthcorp all rights reserved"),
        ).alias("text"),
    )
    out = line_dedup(docs, min_count=2)
    return out.select(
        "doc_id",
        F.md5(F.encode(F.col("text_clean"), "UTF-8")).alias("clean_md5"),
        "n_lines",
        "n_lines_removed",
    ).orderBy("doc_id")


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over synthetic PII-seeded text (the corpus text is
    clean, so the query plants one email + one IPv4 per doc determinist-
    ically on both sides — the scrubber must find and redact exactly
    those)."""
    from readability_php_spark.operators.scrub import scrub_pii

    docs = _range_parallel(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact doc"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 now"),
        ).alias("text"),
    )
    out = scrub_pii(docs, text_col="text", out_col="scrubbed")
    return out.select(
        "doc_id", "n_emails", "n_ipv4",
        F.md5(F.encode(F.col("scrubbed"), "UTF-8")).alias("scrubbed_md5"),
    ).orderBy("doc_id")


def q_sessions_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch twin of the streaming
    applyInPandasWithState operator in streaming/sessions.py — same
    strict->gap, microsecond-precision split), oracle-checked via DuckDB
    gaps-and-islands SQL."""
    from readability_php_spark.streaming.sessions import sessionize_batch

    events = load_table(spark, sf_dir, "events")
    return sessionize_batch(events, gap_seconds=1800).orderBy(
        "user_id", "session_no"
    )


def q_sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING event-time sessionization path itself (not its batch
    twin): drain an events subset through
    ``sessionize_event_time`` (applyInPandasWithState, EventTimeTimeout,
    append mode) with an availableNow parquet stream, and oracle the
    emitted CLOSED sessions against DuckDB gaps-and-islands SQL.

    Determinism: a sentinel event per user 10+ days after the corpus
    maximum guarantees every real session is closed by a successor DURING
    data processing — no dependence on whether a final empty micro-batch
    fires watermark timeouts.  The sentinel's own session can never time
    out (watermark = max_ts − delay < sentinel + gap) and is excluded by
    the start-time cutoff either way."""
    import tempfile
    import uuid

    from readability_php_spark.streaming.sessions import sessionize_event_time

    events = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "value")
        .filter(F.col("user_id") < 40)
    )
    cutoff = F.lit("2030-01-01 00:00:00").cast("timestamp")
    sentinels = events.select("user_id").distinct().select(
        "user_id", cutoff.alias("ts"), F.lit(0.0).alias("value")
    )
    src = tempfile.mkdtemp(prefix="sess_stream_src_")
    # one file → one micro-batch → per-user event order is globally sorted
    # inside the single applyInPandasWithState call
    events.unionByName(sentinels).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).parquet(src)
    qname = f"sessions_stream_{uuid.uuid4().hex[:8]}"
    q = (
        sessionize_event_time(stream, gap_seconds=1800)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    import shutil

    try:
        if not q.awaitTermination(300):
            raise RuntimeError(
                "sessions_stream gate: stream did not drain in 300s"
            )
    finally:
        # stop a still-running query on ANY exit path, and drop the
        # staged source parquet — the memory sink already holds the
        # results in the driver
        if q.isActive:
            q.stop()
        shutil.rmtree(src, ignore_errors=True)
    return (
        spark.table(qname)
        .filter(F.col("session_start") < cutoff)
        .select(
            "user_id",
            "session_start",
            "session_end",
            F.col("events").cast("long").alias("events"),
            F.round("value_sum", 4).alias("value_sum"),
            "closed",
        )
        .orderBy("user_id", "session_start")
    )


def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (an operator Spark lacks natively, composed from a union +
    window — SURVEY §2.9 'custom operator as composition'): for each
    'purchase' event, the most recent prior 'click' by the same user."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    # union-tag trick: sort by time within user, carry the last click forward
    tagged = purchases.select(
        "user_id", F.col("pts").alias("ts"), F.lit(None).cast("long").alias("click_id"),
        F.col("purchase_id"), F.lit(1).alias("is_p"),
    ).unionByName(
        clicks.select(
            "user_id", F.col("cts").alias("ts"), F.col("click_id"),
            F.lit(None).cast("long").alias("purchase_id"), F.lit(0).alias("is_p"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_p"), F.col("click_id").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = tagged.withColumn("last_click", F.last("click_id", ignorenulls=True).over(w))
    return (
        joined.filter(F.col("is_p") == 1)
        .select("user_id", "purchase_id", F.col("last_click").alias("prior_click_id"))
        .orderBy("purchase_id")
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational layer demo: 3-way join with broadcast dims + agg."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count("*").alias("items"),
        )
        .orderBy("n_name")
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregate over lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode round trip (the WET/WAV-gate technique): Arrow
    batches synthesize genuine PNG / GIF / baseline-JPEG payloads from
    document codepoints, ``extract_media_features(fake_decode=False)``
    decodes them with the stdlib decoders, and the gate surfaces the
    decoded width/height and the exact DECODED-pixel byte sum.  The
    oracle recomputes all three in closed form (PNG is lossless, GIF is a
    palette lookup, and the JPEG payloads are solid-gray images whose
    DC-step-8 quantization reconstructs the input value exactly) — a hash
    match therefore proves the pixel values came out of
    decode_png/decode_gif/decode_jpeg, not header or byte-length
    arithmetic."""
    import pandas as pd

    from readability_php_spark.operators.multimodal import MEDIA_SCHEMA

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") < 120) & (F.length("text") > 0))
    )

    def batches(it):
        from readability_php_spark.operators.jpeg import encode_jpeg
        from readability_php_spark.operators.multimodal import (
            encode_gif,
            encode_png,
        )

        pal = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 200, 210, 220])
        for pdf in it:
            out = {"media_id": [], "kind": [], "payload": []}
            for i in range(len(pdf)):
                did = int(pdf["doc_id"].iat[i])
                cps = [ord(ch) % 256 for ch in pdf["text"].iat[i][:48]]
                L = len(cps)
                sel = did % 3
                if sel == 0:
                    w, h = 4 + did % 5, 3 + did % 4
                    pix = bytes(cps[j % L] for j in range(w * h * 3))
                    payload = encode_png(w, h, pix, color_type=2)
                elif sel == 1:
                    w, h = 5 + did % 4, 4 + did % 3
                    idx = bytes(cps[j % L] % 4 for j in range(w * h))
                    payload = encode_gif(w, h, pal, idx)
                else:
                    v = (did * 7) % 256
                    w, h = 9 + did % 8, 7 + did % 5
                    payload = encode_jpeg(w, h, bytes([v]) * (w * h), channels=1)
                out["media_id"].append(did)
                out["kind"].append("image")
                out["payload"].append(payload)
            yield pd.DataFrame(out)

    media = docs.mapInPandas(batches, schema=MEDIA_SCHEMA)
    fmt = F.element_at(
        F.array(F.lit("png"), F.lit("gif"), F.lit("jpeg")),
        (F.col("media_id") % 3).cast("int") + 1,
    )
    return (
        extract_media_features(media, fake_decode=False)
        .select(
            "media_id", fmt.alias("fmt"), "width", "height", "pixel_sum", "error"
        )
        .orderBy("media_id")
    )


def q_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup end-to-end on REAL codecs: each document
    becomes the SAME picture in three formats — PNG (RGB), GIF (palette),
    and baseline JPEG (lossy!) — and the chain (decode → DCT pHash →
    8-block pigeonhole candidates → connected components → keep-lowest-id)
    must collapse exactly the per-document triples.  The oracle states the
    ground truth directly (triples cluster by doc, keeper = the PNG row):
    a hash match proves the lossy JPEG re-encode landed within Hamming 6 of
    its PNG/GIF siblings AND no cross-document images collided — i.e. the
    perceptual hash actually discriminates.  doc_id is mixed into the
    pixels so exact-duplicate TEXTS still yield distinct pictures (text
    dedup is a different gate's job)."""
    import pandas as pd

    from readability_php_spark.operators.image_dedup import phash_image_dedup
    from readability_php_spark.operators.multimodal import MEDIA_SCHEMA

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") < 80) & (F.length("text") > 0))
    )

    def batches(it):
        from readability_php_spark.operators.jpeg import encode_jpeg
        from readability_php_spark.operators.multimodal import (
            encode_gif,
            encode_png,
        )

        levels = [0, 85, 170, 255]
        pal = bytes(v for v in levels for _ in range(3))
        for pdf in it:
            out = {"media_id": [], "kind": [], "payload": []}
            for i in range(len(pdf)):
                did = int(pdf["doc_id"].iat[i])
                cps = [ord(ch) for ch in pdf["text"].iat[i][:64]] or [0]
                L = len(cps)
                w, h = 24 + did % 9, 20 + did % 7
                vals = [
                    levels[(cps[j % L] + did * 31 + j // L) % 4]
                    for j in range(w * h)
                ]
                rgb = bytes(v for v in vals for _ in range(3))
                payloads = [
                    encode_png(w, h, rgb, color_type=2),
                    encode_gif(w, h, pal, bytes(v >> 6 for v in vals)),
                    encode_jpeg(w, h, bytes(vals), channels=1),
                ]
                for v_i, payload in enumerate(payloads):
                    out["media_id"].append(did * 10 + v_i)
                    out["kind"].append("image")
                    out["payload"].append(payload)
            yield pd.DataFrame(out)

    media = docs.mapInPandas(batches, schema=MEDIA_SCHEMA)
    return (
        phash_image_dedup(media, max_hamming=6, blocks=8)
        .select("media_id", "keeper", "is_keeper")
        .orderBy("media_id")
    )


# --------------------------------------------------------------------------
# contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline over the sf0.001 documents corpus."""
    return _extracted(spark, "/root/testdata/sf0.001").select(
        "doc_id", "url", "title", "extracted_text", "excerpt", "error",
        "attempts", "partition_id",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 gate queries — sized to the driver's correctness window
    so EVERY registry entry gets an oracle row each round.  Round-4
    consolidation: docs_per_lang + median_chars_by_lang merged into
    lang_stats; minhash_bands (transitively validated by
    minhash_lsh_dups), top_docs_by_chars / events_hourly (trivial shapes
    duplicated by host_cap / quality_rollup_by_window), pack_documents
    (law covered by pack_documents_bucketed + chunk_pack) and
    host_pagerank (same operator gated by outlink_pagerank over real
    extracted edges) retired to pytest-only coverage.  Round-5: 
    extract_title_roundtrip folded into extract_roundtrip and
    ngram_jaccard_consecutive retired (its rounded-Jaccard law is
    replayed verbatim inside training_prep_fuzzy's oracle) to seat the
    snapshot_time_travel and quality_rules gates; exact_dup_groups
    retired (its md5-fingerprint grouping law is stage 1 of
    training_prep_fuzzy's oracle; the exact_duplicates operator itself
    was later deleted, unreached) to seat dsir_importance; lang_stats
    folded into rollup_stats (same count/mean/max/continuous-median
    aggregates at the rollup's lang level) to seat substring_dedup; chunk_documents
    folded into chunk_pack (the pack gate's oracle already chained the
    chunk CTE — chunk_md5 now rides through it, so window contents stay
    pinned) to seat semdedup; hash_split retired (its md5-prefix →
    uint32 threshold law is replayed verbatim in the stratified_sample
    and lang_temperature_sample oracles, plus direct pytest) to seat
    bpe_tokenize.  Round-6: simhash_candidates retired to a pytest
    differential (the simhash operators and that differential were later
    deleted, unreached) to seat incremental_dedup — the wave-incremental
    chain dedup_job runs (intra-wave exact → Bloom-pruned corpus verify
    → incremental fuzzy with the corpus-wins keeper), previously the only
    operator family without an oracle row.  Newest / riskiest gates lead."""
    return {
        "incremental_dedup": q_incremental_dedup,
        "extract_roundtrip": q_extract_roundtrip,
        "extract_stats": q_extract_stats,
        "substring_dedup": q_substring_dedup,
        "snapshot_time_travel": q_snapshot_time_travel,
        "media_features": q_media_features,
        "phash_dedup": q_phash_dedup,
        "sessions_stream": q_sessions_stream,
        "chunk_pack": q_chunk_pack,
        "asof_join_events": q_asof_join_events,
        "revenue_by_nation": q_revenue_by_nation,
        "pricing_summary": q_pricing_summary,
        "training_prep_fuzzy": q_training_prep_fuzzy,
        "text_analysis": q_text_analysis,
        "dedup_clusters": q_dedup_clusters,
        "url_dedup": q_url_dedup,
        "dsir_importance": q_dsir_importance,
        "minhash_lsh_dups": q_minhash_lsh_dups,
        "quality_rules": q_quality_rules,
        "cosine_ann_topk": q_cosine_ann_topk,
        "ivf_topk": q_ivf_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "training_filter": q_training_filter,
        "wet_ingest": q_wet_ingest,
        "warc_ingest": q_warc_ingest,
        "pdf_ingest": q_pdf_ingest,
        "host_cap": q_host_cap,
        "lang_temperature_sample": q_lang_temperature_sample,
        "hashed_embedding_cosine": q_hashed_embedding_cosine,
        "ngram_lm_score": q_ngram_lm_score,
        "outlink_hostgraph": q_outlink_hostgraph,
        "outlink_pagerank": q_outlink_pagerank,
        "duplicated_spans": q_duplicated_spans,
        "anchor_texts": q_anchor_texts,
        "semdedup": q_semdedup,
        "perplexity_buckets": q_perplexity_buckets,
        "wav_features": q_wav_features,
        "quality_classifier": q_quality_classifier,
        "rollup_stats": q_rollup_stats,
        "bpe_tokenize": q_bpe_tokenize,
        "pack_documents_bucketed": q_pack_documents_bucketed,
        "scrub_pii": q_scrub_pii,
        "line_dedup": q_line_dedup,
        "repetition_signals": q_repetition_signals,
        "decontaminate": q_decontaminate,
        "tfidf_keywords": q_tfidf_keywords,
        "quality_rollup_by_window": q_quality_rollup_by_window,
        "stratified_sample": q_stratified_sample,
        "blocked_domains": q_blocked_domains,
        "sessions_by_user": q_sessions_by_user,
    }


# DuckDB SQL fragments shared by several oracles
_FP = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"
_WORDS = "string_split_regex(lower(trim(text)), '\\s+')"


def _ngram_sql(n: int, src: str = "text") -> str:
    """Distinct word ``n``-gram list of ``src`` (mirrors
    dedup.word_shingles, including the <n-words → empty-list guard:
    Spark's num>0 gate means a too-short text has NO shingles, not one
    truncated shingle)."""
    words = f"string_split_regex(lower(trim({src})), '\\s+')"
    return f"""
      CASE WHEN len({words}) < {n} THEN []::VARCHAR[]
      ELSE list_distinct(
        list_transform(
          range(1, len({words}) - {n - 1} + 1),
          i -> array_to_string(list_slice({words}, i, i + {n - 1}), ' ')
        )
      ) END"""


def _shingle_sql(src: str = "text") -> str:
    """Word-3-gram shingles (the minhash/jaccard operators' unit)."""
    return _ngram_sql(3, src)


#: squared-L2 between an embedding row aliased ``e`` and a centroid row
#: aliased ``c`` — the assignment metric every unrolled-Lloyd CTE uses.
_KMEANS_D2_SQL = (
    "list_sum(list_transform(range(1, len(e.embedding) + 1), "
    "i -> (e.embedding[i]::DOUBLE - c.cvec[i]) "
    "* (e.embedding[i]::DOUBLE - c.cvec[i])))"
)


def _kmeans_ctes(k_cent: int, iters: int, src: str = "embeddings") -> tuple:
    """Shared unrolled-Lloyd CTE chain — the DuckDB twin of
    operators/similarity.py::kmeans_centroids (init = k lowest-id vectors,
    per-iteration means rounded to 6 decimals, argmin ties to the lower
    cid).  ``src`` is the (vec_id, embedding) relation to train on.
    Returns (cte_list, final_centroid_cte_name)."""
    d2 = _KMEANS_D2_SQL
    ctes = [f"""
            c0 AS (
              SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid,
                     list_transform(embedding, x -> x::DOUBLE) AS cvec
              FROM (SELECT vec_id, embedding FROM {src}
                    ORDER BY vec_id LIMIT {k_cent}))"""]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        ctes.append(f"""
            a{it} AS (
              SELECT vec_id, embedding, cid FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {d2}, c.cid) AS rn
                FROM {src} e CROSS JOIN {prev} c)
              WHERE rn = 1),
            m{it} AS (
              SELECT cid, list(m ORDER BY d) AS cvec FROM (
                SELECT cid, d, round(avg(v), 6) AS m FROM (
                  SELECT cid,
                         unnest(range(1, len(embedding) + 1)) AS d,
                         unnest(list_transform(embedding, x -> x::DOUBLE)) AS v
                  FROM a{it})
                GROUP BY cid, d)
              GROUP BY cid),
            c{it} AS (
              SELECT p.cid, coalesce(m.cvec, p.cvec) AS cvec
              FROM {prev} p LEFT JOIN m{it} m USING (cid))""")
    return ctes, f"c{iters}"


def _ivf_sql(
    k_cent: int = 8,
    iters: int = 3,
    n_probe: int = 2,
    topk: int = 10,
    query_ids: tuple = (0, 1, 2),
) -> str:
    """DuckDB twin of operators/similarity.py::ivf_topk — Lloyd's k-means
    unrolled to ``iters`` fixed iterations (see ``_kmeans_ctes``), then the
    1-cell corpus assignment × ``n_probe``-cell query probe join, exactly
    mirroring the Spark plan."""
    d2 = _KMEANS_D2_SQL
    ids = ", ".join(str(i) for i in query_ids)
    ctes, final = _kmeans_ctes(k_cent, iters)
    ctes.append(f"""
            corpus AS (
              SELECT vec_id, embedding, cid FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {d2}, c.cid) AS rn
                FROM embeddings e CROSS JOIN {final} c)
              WHERE rn = 1),
            qprobe AS (
              SELECT vec_id AS query_id, embedding AS qvec, cid FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {d2}, c.cid) AS rn
                FROM embeddings e CROSS JOIN {final} c
                WHERE e.vec_id IN ({ids}))
              WHERE rn <= {n_probe}),
            scored AS (
              SELECT DISTINCT q.query_id, co.vec_id AS neighbor_id,
                     round(list_cosine_similarity(
                       q.qvec::DOUBLE[], co.embedding::DOUBLE[]), 4) AS cos_sim
              FROM corpus co JOIN qprobe q
                ON co.cid = q.cid AND co.vec_id <> q.query_id),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
              FROM scored)""")
    return (
        "WITH" + ",".join(ctes)
        + f"""
            SELECT query_id, neighbor_id, cos_sim, rank::INT AS rank
            FROM ranked WHERE rank <= {topk} ORDER BY query_id, rank"""
    )


def _semdedup_sql(
    k_cent: int = 8,
    iters: int = 3,
    threshold: float = 0.95,
    max_id: int = 100,
    dup_offsets: tuple = (10_000, 20_000),
) -> str:
    """DuckDB twin of operators/similarity.py::semdedup over a corpus
    deterministically augmented with exact copies (every vec_id < max_id
    re-emitted at vec_id + offset — cosine 1.0 with its source, so each
    source spawns a known |offsets|+1-member duplicate group).  Replays
    the full chain relationally: unrolled-Lloyd cells (``_kmeans_ctes``),
    within-cell round-4 cosine pairs at ≥ threshold, transitive closure
    via the recursive min-label CTE (the dedup_clusters pattern), then
    the paper's keeper rule — lowest centroid_sim (farthest from the
    prototype) per group, id tie-break."""
    union = "\n              UNION ALL\n".join(
        [f"              SELECT vec_id, embedding FROM embeddings "
         f"WHERE vec_id < {max_id}"]
        + [f"              SELECT vec_id + {off}, embedding FROM embeddings "
           f"WHERE vec_id < {max_id}" for off in dup_offsets]
    )
    ctes = [f"""
            emb AS (
{union})"""]
    km, final = _kmeans_ctes(k_cent, iters, src="emb")
    ctes.extend(km)
    ctes.append(f"""
            asn AS (
              SELECT vec_id, embedding, cid, centroid_sim FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                       round(list_cosine_similarity(
                         list_transform(e.embedding, x -> x::DOUBLE),
                         c.cvec), 4) AS centroid_sim,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {_KMEANS_D2_SQL}, c.cid) AS rn
                FROM emb e CROSS JOIN {final} c)
              WHERE rn = 1),
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM asn a JOIN asn b
                ON a.cid = b.cid AND a.vec_id < b.vec_id
              WHERE round(list_cosine_similarity(
                      a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
                    >= {threshold}),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
            reach(node, label) AS (
              SELECT DISTINCT a, a FROM edges
              UNION
              SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node),
            cc AS (
              SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
            members AS (
              SELECT asn.vec_id,
                     coalesce(cc.cluster_id, asn.vec_id) AS sem_cluster,
                     asn.centroid_sim
              FROM asn LEFT JOIN cc ON cc.node = asn.vec_id)"""
    )
    return (
        "WITH RECURSIVE" + ",".join(ctes)
        + """
            SELECT vec_id, sem_cluster, centroid_sim,
                   (row_number() OVER (PARTITION BY sem_cluster
                      ORDER BY centroid_sim ASC, vec_id ASC) = 1)::INT
                     AS is_keeper
            FROM members ORDER BY vec_id"""
    )


def _bpe_sql(iters: int = 12, max_id: int = 150) -> str:
    """DuckDB twin of operators/bpe.py::bpe_train + bpe_token_counts —
    the full BPE training loop unrolled to ``iters`` fixed merges (the
    logreg/pagerank/k-means oracle pattern).  Per iteration: pair counts
    over the vocabulary, the (count desc, pair asc) one-row argmax, then
    greedy non-overlapping merge application expressed relationally via
    gaps-and-islands position parity — within each maximal run of
    consecutive matching positions, odd-ranked positions merge and the
    position after a merge is consumed.  For left ≠ right, runs are
    singletons (consecutive matches would force left = right), so every
    match merges — together exactly the Spark fold's greedy scan.

    Every per-iteration vocabulary CTE is AS MATERIALIZED: DuckDB
    inlines CTEs by default, and w{i} is referenced twice per following
    iteration (pair counts + position expansion), so an inlined chain
    re-evaluates w0's tree 2^iters times."""
    ctes = [f"""
            wc AS (
              SELECT word, count(*) AS cnt FROM (
                SELECT unnest(list_filter(
                         string_split_regex(trim(text), '\\s+'),
                         x -> x <> '')) AS word
                FROM documents WHERE doc_id < {max_id})
              GROUP BY word),
            w0 AS MATERIALIZED (
              SELECT word, cnt,
                     list_append(list_transform(range(1, length(word) + 1),
                                                i -> substring(word, i, 1)),
                                 '</w>') AS syms
              FROM wc)"""]
    for i in range(1, iters + 1):
        prev = f"w{i - 1}"
        ctes.append(f"""
            p{i} AS (
              SELECT syms[j] AS l, syms[j + 1] AS r, sum(cnt) AS n
              FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS j
                    FROM {prev})
              GROUP BY 1, 2),
            b{i} AS (SELECT l, r FROM p{i} ORDER BY n DESC, l ASC, r ASC
                     LIMIT 1),
            q{i} AS (
              SELECT w.word, w.cnt, w.syms, w.j, b.l AS ml, b.r AS mr,
                     (w.j < len(w.syms) AND w.syms[w.j] = b.l
                      AND w.syms[w.j + 1] = b.r) AS mtch
              FROM (SELECT word, cnt, syms,
                           unnest(range(1, len(syms) + 1)) AS j
                    FROM {prev}) w
              CROSS JOIN b{i} b),
            s{i} AS (
              SELECT *, CASE WHEN mtch THEN
                       (row_number() OVER (PARTITION BY word, grp
                                           ORDER BY j)) % 2 = 1
                     ELSE FALSE END AS picked
              FROM (SELECT *, CASE WHEN mtch THEN
                             j - row_number() OVER (PARTITION BY word, mtch
                                                    ORDER BY j) END AS grp
                    FROM q{i})),
            w{i} AS MATERIALIZED (
              SELECT word, any_value(cnt) AS cnt,
                     list(CASE WHEN picked THEN ml || mr ELSE syms[j] END
                          ORDER BY j) AS syms
              FROM (SELECT *, coalesce(lag(picked) OVER (PARTITION BY word
                                                         ORDER BY j),
                                       FALSE) AS consumed
                    FROM s{i})
              WHERE NOT consumed
              GROUP BY word)""")
    ctes.append(f"""
            final AS (
              SELECT word, len(syms) AS word_tokens FROM w{iters}),
            dw AS (
              SELECT doc_id, unnest(list_filter(
                       string_split_regex(trim(text), '\\s+'),
                       x -> x <> '')) AS word
              FROM documents WHERE doc_id < {max_id}),
            doc_counts AS (
              SELECT doc_id, count(*)::BIGINT AS n_words,
                     sum(word_tokens)::BIGINT AS n_bpe_tokens
              FROM dw JOIN final USING (word)
              GROUP BY doc_id),
            toks AS (
              SELECT doc_id, lang, list_filter(
                       string_split_regex(trim(text), '\\s+'),
                       x -> x <> '') AS a
              FROM documents WHERE doc_id < {max_id}),
            pw AS (
              SELECT doc_id, lang, a, unnest(range(1, len(a) + 1)) AS pos
              FROM toks WHERE len(a) > 0),
            pc AS (
              SELECT p.doc_id, p.lang, p.pos, p.a[p.pos] AS word,
                     f.word_tokens
              FROM pw p JOIN final f ON f.word = p.a[p.pos]),
            pre AS (
              SELECT *, sum(word_tokens) OVER (PARTITION BY doc_id
                          ORDER BY pos ROWS UNBOUNDED PRECEDING)
                        - word_tokens AS prefix
              FROM pc),
            ch AS (
              SELECT doc_id, any_value(lang) AS lang,
                     (prefix // 64) AS chunk_id,
                     sum(word_tokens)::BIGINT AS n_chunk_tokens,
                     md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_md5
              FROM pre GROUP BY doc_id, (prefix // 64)),
            u AS (SELECT *, doc_id * 1000 + chunk_id AS unit_id FROM ch),
            pk AS (
              SELECT *, sum(n_chunk_tokens) OVER (PARTITION BY lang
                          ORDER BY unit_id ROWS UNBOUNDED PRECEDING)
                        - n_chunk_tokens AS pprefix
              FROM u)""")
    return (
        "WITH" + ",".join(ctes)
        + """
            SELECT k.doc_id, k.chunk_id::BIGINT AS chunk_id,
                   d.n_words, d.n_bpe_tokens, k.n_chunk_tokens,
                   k.chunk_md5, (k.pprefix // 256)::BIGINT AS pack_id
            FROM pk k JOIN doc_counts d USING (doc_id)
            ORDER BY k.doc_id, k.chunk_id"""
    )


def _minhash_sql(num_hashes: int) -> str:
    """Minhash signature list over the shingles of ``text`` — mirrors
    dedup.minhash_signature: ((12289+24593·h)·h1 + (4099+8209·h)·h2 + h)
    mod (2^31-1), where h1/h2 are the two leading 32-bit halves of
    md5(shingle), decoded digit-by-digit (DuckDB has no hex conv)."""
    h1 = (
        "list_reduce(list_transform(range(1, 9), "
        "j -> (strpos('0123456789abcdef', substr(md5(s), j, 1)) - 1)::BIGINT), "
        "(a, b) -> a * 16 + b)"
    )
    h2 = (
        "list_reduce(list_transform(range(9, 17), "
        "j -> (strpos('0123456789abcdef', substr(md5(s), j, 1)) - 1)::BIGINT), "
        "(a, b) -> a * 16 + b)"
    )
    return f"""
      list_transform(range(0, {num_hashes}),
        h -> coalesce(list_min(list_transform(sh,
               s -> ((12289 + 24593*h) * {h1} + (4099 + 8209*h) * {h2} + h) % 2147483647)),
             2147483647::BIGINT))"""


#: RE2/Java-portable regexes for outlink parsing — the same patterns the
#: Spark operator uses (operators/links.py), embedded in the DuckDB
#: oracles below so link parsing itself is cross-engine-checked.
_HREF_SQL_RE = r'(?i)<a\s[^>]*?href\s*=\s*"([^"]*)"'
_AUTH_SQL_RE = r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//(?:[^/?#@]*@)?([^/?#:]+)"
#: single-quoted href → double-quoted, as a DuckDB expression ('' = escaped ').
_LINKED_CANON_SQL = (
    "regexp_replace(html, '"
    + r"(?i)(<a\s[^>]*?href\s*=\s*)'([^']*)'".replace("'", "''")
    + "', '\\1\"\\2\"', 'g')"
)
#: DuckDB replica of _linked_pages_df: deterministic crawl pages with
#: relative, protocol-relative, absolute(+port), uppercase-tag, mailto:
#: and fragment hrefs.
_LINKED_PAGES_SQL = """
              SELECT 'h' || (doc_id % 17) || '.synth.test' AS src_host,
                     '<html><head><title>Page ' || doc_id || '</title></head><body>'
                     || '<div class="nav"><a href="/">Home</a> <a href=''/about''>About</a></div>'
                     || '<p>See <a href="http://h' || ((doc_id * 3 + 1) % 23)
                     || '.synth.test/p/' || doc_id || '.html">one</a>, '
                     || '<a href="//h' || ((doc_id * 7 + 2) % 23) || '.synth.test/x">two</a>, '
                     || '<A HREF="https://h' || ((doc_id * 11 + 5) % 23)
                     || '.synth.test:8080/q?u=1#f">three</a>, '
                     || '<a href="mailto:x@y.example">mail</a>, <a href="#frag">frag</a>.</p>'
                     || '</body></html>' AS html
              FROM documents WHERE doc_id < 400"""


def _pagerank_sql(
    edges_sql: str,
    iterations: int = 5,
    damping: float = 0.85,
) -> str:
    """Unrolled PageRank trajectory for DuckDB (the IVF replay technique):
    ranks are round-6 after every iteration in Spark, so replaying the
    same arithmetic layer-by-layer is hash-exact.  ``edges_sql`` is any
    SELECT producing (src, dst) with multiplicity.  Float literals are
    embedded via repr() with ::DOUBLE casts — DuckDB's bare 0.85 parses
    as DECIMAL(3,2), whose arithmetic differs from Python/Spark doubles
    in the last ulp."""
    one_minus_d = 1.0 - damping
    sql = f"""
            WITH edges AS ({edges_sql}),
            nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
            outd AS (SELECT src, count(*)::DOUBLE AS od FROM edges GROUP BY 1),
            nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
            r0 AS (SELECT node, round(1.0::DOUBLE / (SELECT n FROM nn), 6) AS pr
                   FROM nodes)"""
    prev = "r0"
    for i in range(1, iterations + 1):
        sql += f""",
            d{i} AS (SELECT coalesce(sum(r.pr), 0.0::DOUBLE) AS ds
                   FROM {prev} r LEFT JOIN outd o ON r.node = o.src
                   WHERE o.src IS NULL),
            m{i} AS (SELECT e.dst AS node, sum(r.pr / o.od) AS m
                   FROM edges e
                   JOIN {prev} r ON r.node = e.src
                   JOIN outd o ON o.src = e.src
                   GROUP BY 1),
            r{i} AS (SELECT nodes.node,
                          round({one_minus_d!r}::DOUBLE / (SELECT n FROM nn)
                                + {damping!r}::DOUBLE
                                  * (coalesce(m.m, 0.0::DOUBLE)
                                     + (SELECT ds FROM d{i}) / (SELECT n FROM nn)),
                                6) AS pr
                   FROM nodes LEFT JOIN m{i} m ON m.node = nodes.node)"""
        prev = f"r{i}"
    sql += f"""
            SELECT node AS host, pr AS pagerank FROM {prev} ORDER BY host"""
    return sql


#: the ngram_lm_score oracle body, reused by perplexity_buckets.
_LM_SCORE_SQL = """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 x -> x <> '') AS a
              FROM documents WHERE doc_id < 200),
            big AS (
              SELECT doc_id,
                     unnest(list_slice(a, 1, len(a) - 1)) AS w1,
                     unnest(list_slice(a, 2, len(a))) AS w2
              FROM toks WHERE len(a) >= 2),
            bc AS (SELECT w1, w2, count(*)::DOUBLE AS c12 FROM big GROUP BY 1, 2),
            cc AS (SELECT w1, count(*)::DOUBLE AS c1 FROM big GROUP BY 1),
            vv AS (SELECT count(DISTINCT tok)::DOUBLE AS v
                   FROM (SELECT unnest(a) AS tok FROM toks)),
            scored AS (
              SELECT b.doc_id,
                     ln((bc.c12 + 1.0::DOUBLE)
                        / (cc.c1 + 1.0::DOUBLE * (SELECT v FROM vv))) AS lp
              FROM big b
              JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
              JOIN cc ON cc.w1 = b.w1)
            SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 4) AS lm_score
            FROM scored GROUP BY doc_id ORDER BY doc_id
        """


def _logreg_sql(
    dim: int = 16,
    iterations: int = 3,
    lr: float = 1.0,
    label_thresh: int = 56,
    max_id: int = 300,
) -> str:
    """Unrolled logistic-regression training trajectory for DuckDB: replays
    md5-hashed TF features, each rounded gradient step (z, sigmoid, per-dim
    gradient sums, weight updates all round-6 — mirroring
    operators/classify.py), and the final round-4 sigmoid score."""
    sql = f"""
            WITH docs AS (
              SELECT doc_id, text FROM documents WHERE doc_id < {max_id}),
            toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
              FROM docs),
            tf AS (
              SELECT doc_id,
                     list_reduce(list_transform(range(1, 9),
                       j -> (strpos('0123456789abcdef', substr(md5(tok), j, 1)) - 1)::BIGINT),
                       (a, b) -> a * 16 + b) % {dim} AS d,
                     count(*)::DOUBLE AS c
              FROM toks WHERE tok <> '' GROUP BY 1, 2),
            dims AS (
              SELECT doc_id, unnest(range(0, {dim})) AS d
              FROM (SELECT DISTINCT doc_id FROM tf)),
            vec0 AS (
              SELECT dims.doc_id, dims.d, coalesce(tf.c, 0.0) AS c
              FROM dims LEFT JOIN tf ON tf.doc_id = dims.doc_id AND tf.d = dims.d),
            nrm AS (
              SELECT doc_id, sqrt(sum(c * c)) AS norm FROM vec0 GROUP BY doc_id),
            ve AS (
              SELECT v.doc_id, v.d, round(v.c / n.norm, 6) AS x
              FROM vec0 v JOIN nrm n USING (doc_id)),
            labels AS (
              SELECT doc_id,
                     CASE WHEN len(list_filter(
                            string_split_regex(lower(trim(text)), '\\s+'),
                            t -> t <> '')) >= {label_thresh}
                          THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS y
              FROM docs),
            nn AS (SELECT count(*)::DOUBLE AS n FROM nrm),
            w0 AS (SELECT unnest(range(0, {dim})) AS d, 0.0::DOUBLE AS w),
            b0 AS (SELECT 0.0::DOUBLE AS b)"""
    for i in range(1, iterations + 1):
        p = i - 1
        sql += f""",
            z{i} AS (
              SELECT ve.doc_id,
                     round((SELECT b FROM b{p}) + sum(w.w * ve.x), 6) AS z
              FROM ve JOIN w{p} w USING (d) GROUP BY ve.doc_id),
            r{i} AS (
              SELECT z.doc_id,
                     round(1.0::DOUBLE / (1.0::DOUBLE + exp(-z.z)), 6) - l.y AS r
              FROM z{i} z JOIN labels l USING (doc_id)),
            g{i} AS (
              SELECT ve.d, round(sum(r.r * ve.x), 6) AS g
              FROM ve JOIN r{i} r USING (doc_id) GROUP BY ve.d),
            gb{i} AS (SELECT round(sum(r), 6) AS g FROM r{i}),
            w{i} AS (
              SELECT w.d,
                     round(w.w - {lr!r}::DOUBLE * g.g / (SELECT n FROM nn), 6) AS w
              FROM w{p} w JOIN g{i} g USING (d)),
            b{i} AS (
              SELECT round((SELECT b FROM b{p})
                           - {lr!r}::DOUBLE * (SELECT g FROM gb{i})
                             / (SELECT n FROM nn), 6) AS b)"""
    last = iterations
    sql += f""",
            zf AS (
              SELECT ve.doc_id,
                     round((SELECT b FROM b{last}) + sum(w.w * ve.x), 6) AS z
              FROM ve JOIN w{last} w USING (d) GROUP BY ve.doc_id)
            SELECT z.doc_id, l.y::BIGINT AS label,
                   round(1.0::DOUBLE / (1.0::DOUBLE + exp(-z.z)), 4) AS score,
                   round(1.0::DOUBLE / (1.0::DOUBLE + exp(-z.z)), 4) >= 0.5 AS keep
            FROM zf z JOIN labels l USING (doc_id)
            ORDER BY z.doc_id"""
    return sql


def oracle_sql() -> dict[str, str]:
    quality = """
      round(
        0.4 * least(length(text) / 2000.0, 1.0)
      + 0.3 * least(
          (case when n_tokens > 0
                then len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in)\\b'))::DOUBLE / n_tokens
                else 0.0 end) * 8.0, 1.0)
      + 0.3 * greatest(0.0, 1.0 - least(
          (case when length(text) > 0
                then length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))::DOUBLE / length(text)
                else 0.0 end) * 4.0, 1.0))
      , 4)"""

    lang_hits = {
        "en": "(the|and|of|to|in)",
        "de": "(der|die|und|das|nicht)",
        "fr": "(le|la|les|et|des)",
        "es": "(el|los|las|una|y)",
    }
    hit = {
        k: f"len(regexp_extract_all(lower(text), '\\b{v}\\b'))"
        for k, v in lang_hits.items()
    }
    best = f"greatest({hit['en']}, {hit['de']}, {hit['fr']}, {hit['es']})"
    lang_pred = f"""
      case when {best} = 0 then 'und'
           when {hit['en']} = {best} then 'en'
           when {hit['de']} = {best} then 'de'
           when {hit['fr']} = {best} then 'fr'
           else 'es' end"""

    return {
        "extract_roundtrip": f"""
            WITH nws AS (
              SELECT doc_id,
                     'Document ' || doc_id || ' - SynthCorp' AS title,
                     regexp_replace(text, '[\\s ]+', '', 'g') AS t
              FROM documents)
            SELECT doc_id, title,
                   CASE WHEN length(t) >= {MIN_STRIPPED} THEN t END AS text_nows
            FROM nws ORDER BY doc_id
        """,
        # snapshot_time_travel: the oracle is the ground truth the three
        # snapshot views must reconstruct — wave 1 (as-of-1 isolation),
        # all rows (post-compaction latest), wave 2 (the 1->2 change feed)
        "snapshot_time_travel": """
            WITH d AS (
              SELECT doc_id, lang, md5(text) AS text_md5
              FROM documents WHERE doc_id < 100)
            SELECT doc_id, lang, text_md5, 'asof1' AS view
            FROM d WHERE doc_id < 50
            UNION ALL
            SELECT doc_id, lang, text_md5, 'latest' FROM d
            UNION ALL
            SELECT doc_id, lang, text_md5, 'delta12' FROM d WHERE doc_id >= 50
            ORDER BY view, doc_id
        """,
        "extract_stats": """
            SELECT lang, count(*) AS docs, 0::BIGINT AS errors
            FROM documents GROUP BY lang ORDER BY lang
        """,
        # substring_dedup: full relational replay of exact_substring_dedup
        # (n=8, min_copies=2, keep='first') — positioned 8-grams via list
        # slicing, duplicated-gram keeper = row_number 1 over (gram ORDER
        # BY doc_id, pos), non-keeper occurrences expand to covered token
        # positions, kept tokens re-join with single spaces; untouched
        # docs pass text through verbatim.  Raw gram strings here vs
        # xxhash64 keys in the operator: equality evidences collision
        # absence.
        "substring_dedup": f"""
            WITH corpus AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                          THEN text || ' {_SUBSTR_BOILER}' ELSE text END AS text
              FROM documents WHERE doc_id < 250
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, text
              FROM documents WHERE doc_id < 250 AND doc_id % 7 = 0),
            base AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '') AS toks
              FROM corpus),
            gsrc AS (
              SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
              FROM base WHERE len(toks) >= 8),
            grams AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(toks[i:i+7], ' ') AS gram
              FROM gsrc),
            ranked AS (
              SELECT doc_id, pos,
                     count(*) OVER (PARTITION BY gram) AS cnt,
                     row_number() OVER (PARTITION BY gram
                                        ORDER BY doc_id, pos) AS rn
              FROM grams),
            cut AS (SELECT doc_id, pos FROM ranked WHERE cnt >= 2 AND rn > 1),
            toks AS (
              SELECT doc_id, unnest(toks) AS word,
                     generate_subscripts(toks, 1) - 1 AS pos
              FROM base),
            removed AS (
              SELECT DISTINCT t.doc_id, t.pos
              FROM toks t JOIN cut c
                ON t.doc_id = c.doc_id
               AND t.pos >= c.pos AND t.pos < c.pos + 8),
            rm_stats AS (
              SELECT doc_id, count(*) AS n_removed FROM removed GROUP BY doc_id),
            rebuilt AS (
              SELECT t.doc_id, string_agg(t.word, ' ' ORDER BY t.pos) AS text_clean
              FROM toks t LEFT JOIN removed r
                ON t.doc_id = r.doc_id AND t.pos = r.pos
              WHERE r.doc_id IS NULL
              GROUP BY t.doc_id)
            SELECT b.doc_id,
                   coalesce(len(b.toks), 0) AS n_tokens,
                   coalesce(s.n_removed, 0) AS n_removed,
                   CASE WHEN s.n_removed IS NULL THEN b.text
                        ELSE coalesce(rb.text_clean, '') END AS text
            FROM base b
            LEFT JOIN rm_stats s USING (doc_id)
            LEFT JOIN rebuilt rb USING (doc_id)
            ORDER BY doc_id
        """,
        "text_analysis": f"""
            WITH base AS (
              SELECT doc_id, text,
                     case when trim(text) = '' then 0
                          else len(string_split_regex(trim(text), '\\s+')) end AS n_tokens,
                     len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS n_bpe_tokens,
                     {_FP} AS fp
              FROM documents)
            SELECT doc_id, n_tokens, n_bpe_tokens,
                   {quality} AS quality,
                   {lang_pred} AS lang_pred,
                   fp
            FROM base ORDER BY doc_id
        """,
        # Connected components via recursive CTE: reach(node, label) holds
        # every label reachable from node through symmetrized edges; UNION
        # dedup terminates the recursion; min(label) = cluster id.
        "dedup_clusters": """
            WITH RECURSIVE
            chain AS (
                SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id < 29
            ),
            pairs AS (
                SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
                WHERE doc_id >= 100 AND doc_id < 150
            ),
            edges AS (
                SELECT a, b FROM chain UNION ALL SELECT b, a FROM chain
                UNION ALL SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs
            ),
            reach(node, label) AS (
                SELECT DISTINCT a, a FROM edges
                UNION
                SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node
            )
            SELECT node AS doc_id, min(label) AS cluster_id
            FROM reach GROUP BY node ORDER BY doc_id
        """,
        # URL canonicalization mirrors operators/urls.py step-for-step;
        # DuckDB regexp_replace needs the 'g' flag where Spark is global by
        # default, and \\1-style backrefs where Spark uses $1.
        "url_dedup": """
            WITH base AS (
                SELECT doc_id, 'http://synth.test/doc/' || doc_id || '.html' AS url
                FROM documents WHERE doc_id < 200
            ),
            variants AS (
                SELECT doc_id, url FROM base
                UNION ALL
                SELECT doc_id + 1000000, url || '?utm_source=feed&utm_medium=x#top' FROM base
                UNION ALL
                SELECT doc_id + 2000000, 'HTTP://SYNTH.TEST:80/doc/' || doc_id || '.html' FROM base
                UNION ALL
                SELECT doc_id + 3000000, url || '/' FROM base
            ),
            canon AS (
                SELECT doc_id,
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(
                            regexp_replace(
                              regexp_replace(
                                regexp_replace(
                                  CASE WHEN regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) = ''
                                       THEN url
                                       ELSE lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))
                                            || regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$', 1)
                                  END,
                                  '#.*$', ''),
                                '([?&])(utm_[a-z]+|fbclid|gclid)=[^&#]*', '\\1', 'g'),
                              '\\?&+', '?', 'g'),
                            '&&+', '&', 'g'),
                          '[?&]+$', ''),
                        '^(http://[^/:?#]*):80(/|\\?|$)', '\\1\\2'),
                      '^(https://[^/:?#]*):443(/|\\?|$)', '\\1\\2'),
                    '^([a-z][a-z0-9+.-]*://[^/]+/.+?)/$', '\\1') AS canonical_url
                FROM variants
            )
            SELECT canonical_url, min(doc_id) AS keeper_id, count(*) AS n_variants
            FROM canon
            GROUP BY canonical_url
            HAVING count(*) >= 2
            ORDER BY keeper_id
        """,
        # dsir_importance: replay featurization (unigrams + space-joined
        # bigrams of the lowercased whitespace tokenization), md5-prefix
        # 4096-bucketing, Laplace(α=1) target/raw distributions, the
        # log-ratio weight and the per-doc weighted sum.  Every raw
        # bucket is in rdist by construction, so the LEFT JOIN side
        # mirrors Spark's full-join + broadcast-left-join coalesce.
        "dsir_importance": """
            WITH docs AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id < 400 AND text IS NOT NULL),
            toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> t <> '') AS ts
              FROM docs),
            grams AS (
              SELECT doc_id, unnest(ts) AS g FROM toks
              UNION ALL
              SELECT doc_id,
                     unnest(list_transform(range(1, len(ts)),
                            i -> ts[i] || ' ' || ts[i + 1])) AS g
              FROM toks),
            bucketed AS (
              SELECT doc_id,
                     list_reduce(list_transform(range(1, 9),
                       j -> (strpos('0123456789abcdef', substr(md5(g), j, 1)) - 1)::BIGINT),
                       (a, b) -> a * 16 + b) % 4096 AS bucket
              FROM grams),
            doccnt AS (
              SELECT doc_id, bucket, count(*)::BIGINT AS c
              FROM bucketed GROUP BY 1, 2),
            tdist AS (
              SELECT bucket, count(*)::BIGINT AS ct
              FROM bucketed WHERE doc_id < 40 GROUP BY 1),
            rdist AS (
              SELECT bucket, count(*)::BIGINT AS cr
              FROM bucketed GROUP BY 1),
            w AS (
              SELECT r.bucket,
                     ln((coalesce(t.ct, 0) + 1.0)
                        / ((SELECT sum(ct) FROM tdist) + 1.0 * 4096))
                   - ln((r.cr + 1.0)
                        / ((SELECT sum(cr) FROM rdist) + 1.0 * 4096)) AS weight
              FROM rdist r LEFT JOIN tdist t USING (bucket))
            SELECT d.doc_id,
                   round(sum(d.c * w.weight), 4) AS dsir_score,
                   sum(d.c)::BIGINT AS n_grams
            FROM doccnt d JOIN w USING (bucket)
            GROUP BY d.doc_id ORDER BY doc_id
        """,
        "minhash_lsh_dups": f"""
            WITH both_docs AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 100
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 100),
            sh AS (SELECT doc_id, {_shingle_sql()} AS sh FROM both_docs),
            sig AS (SELECT doc_id, {_minhash_sql(8)} AS sig FROM sh),
            bands AS (
              SELECT doc_id, unnest(range(0, 2)) AS band, sig FROM sig),
            bb AS (
              SELECT doc_id, band,
                     md5(array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), '|')) AS band_hash
              FROM bands)
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bb a JOIN bb b
              ON a.band = b.band AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
            ORDER BY doc_a, doc_b
        """,
        # quality_rules: Gopher + C4 replayed value-exact — word/line
        # metrics via list algebra, the same deterministic enrichment by
        # doc_id arithmetic, C4's rewritten text compared by md5
        "quality_rules": """
            WITH enr AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 3 = 0 THEN chr(10) ||
                          'This extra line ends with terminal punctuation.'
                        ELSE '' END
                     || CASE WHEN doc_id % 4 = 0 THEN chr(10) ||
                          '- bullet line with enough words here.'
                        ELSE '' END
                     || CASE WHEN doc_id % 5 = 0 THEN chr(10) ||
                          'this line just trails off...' ELSE '' END
                     || CASE WHEN doc_id % 7 = 0 THEN ' #tag #tag'
                        ELSE '' END AS t
              FROM documents WHERE doc_id < 300),
            base AS (
              SELECT doc_id, t,
                     list_filter(string_split_regex(trim(t), '\\s+'),
                                 x -> x <> '') AS words,
                     list_filter(string_split(t, chr(10)),
                                 l -> trim(l) <> '') AS lines
              FROM enr),
            m AS (
              SELECT doc_id, t, words, lines,
                     len(words) AS n_words,
                     CASE WHEN len(words) > 0 THEN
                       list_sum(list_transform(words, w -> length(w)))::DOUBLE
                       / len(words) ELSE 0.0 END AS mean_wl,
                     (len(string_split(t, '#')) - 1
                      + len(string_split(t, '...')) - 1
                      + len(string_split(t, '…')) - 1) AS n_sym,
                     CASE WHEN len(lines) > 0 THEN
                       len(list_filter(lines, l -> regexp_matches(trim(l),
                           '^(•|‣|▪|\\*|-)\\s')))::DOUBLE / len(lines)
                       ELSE 0.0 END AS bullet_frac,
                     CASE WHEN len(lines) > 0 THEN
                       len(list_filter(lines, l -> regexp_matches(rtrim(l),
                           '(\\.\\.\\.|…)$')))::DOUBLE / len(lines)
                       ELSE 0.0 END AS ellipsis_frac,
                     CASE WHEN len(words) > 0 THEN
                       len(list_filter(words, w -> regexp_matches(w,
                           '[A-Za-z]')))::DOUBLE / len(words)
                       ELSE 0.0 END AS alpha_frac,
                     len(list_filter(
                       ['the','be','to','of','and','that','have','with'],
                       s -> list_contains(
                         list_transform(words, w -> lower(w)), s)))
                       AS n_stop,
                     list_filter(lines, l ->
                       regexp_matches(rtrim(l), '[.!?"]$')
                       AND len(list_filter(string_split_regex(trim(l), '\\s+'),
                               x -> x <> '')) >= 5
                       AND NOT regexp_matches(lower(l), 'javascript'))
                       AS kept_lines
              FROM base)
            SELECT doc_id,
                   n_words::BIGINT AS n_words,
                   round(mean_wl, 4) AS mean_word_len,
                   round(CASE WHEN n_words > 0
                         THEN n_sym::DOUBLE / n_words ELSE 0.0 END, 4)
                     AS symbol_word_ratio,
                   round(bullet_frac, 4) AS bullet_line_frac,
                   round(ellipsis_frac, 4) AS ellipsis_line_frac,
                   round(alpha_frac, 4) AS alpha_word_frac,
                   n_stop::BIGINT AS n_stop,
                   (n_words BETWEEN 50 AND 100000
                    AND round(mean_wl, 4) BETWEEN 3.0 AND 10.0
                    AND round(CASE WHEN n_words > 0
                          THEN n_sym::DOUBLE / n_words ELSE 0.0 END, 4) <= 0.1
                    AND round(bullet_frac, 4) <= 0.9
                    AND round(ellipsis_frac, 4) <= 0.3
                    AND round(alpha_frac, 4) >= 0.8
                    AND n_stop >= 2) AS gopher_keep,
                   len(lines)::BIGINT AS c4_lines_in,
                   len(kept_lines)::BIGINT AS c4_lines_kept,
                   md5(coalesce(array_to_string(kept_lines, chr(10)), '')) AS c4_md5,
                   (len(kept_lines) >= 3
                    AND NOT contains(lower(t), 'lorem ipsum')
                    AND NOT contains(t, '{')) AS c4_keep
            FROM m ORDER BY doc_id
        """,
        "cosine_ann_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qvec
              FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.qvec::DOUBLE[], e.embedding::DOUBLE[]), 4) AS cos_sim
              FROM embeddings e CROSS JOIN q
              WHERE e.vec_id <> q.query_id),
            ranked AS (
              SELECT *, row_number() OVER
                (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
              FROM scored),
            exact AS (
              SELECT query_id, neighbor_id, cos_sim, rank::INT AS rank
              FROM ranked WHERE rank <= 10),
            b AS (
              SELECT vec_id, embedding,
                     (case when embedding[1] >= 0 then 1 else 0 end)
                   + (case when embedding[2] >= 0 then 2 else 0 end)
                   + (case when embedding[3] >= 0 then 4 else 0 end)
                   + (case when embedding[4] >= 0 then 8 else 0 end)
                   + (case when embedding[5] >= 0 then 16 else 0 end)
                   + (case when embedding[6] >= 0 then 32 else 0 end)
                   + (case when embedding[7] >= 0 then 64 else 0 end)
                   + (case when embedding[8] >= 0 then 128 else 0 end) AS bucket
              FROM embeddings),
            q2 AS (
              SELECT vec_id AS query_id, embedding AS qvec, bucket AS qbucket
              FROM b WHERE vec_id IN (0,1,2,3,4)),
            ann_scored AS (
              SELECT q2.query_id, e.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q2.qvec::DOUBLE[], e.embedding::DOUBLE[]), 4) AS cos_sim
              FROM b e JOIN q2 ON e.bucket = q2.qbucket AND e.vec_id <> q2.query_id),
            ann_ranked AS (
              SELECT *, row_number() OVER
                (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
              FROM ann_scored),
            ann AS (
              SELECT query_id, neighbor_id, cos_sim, rank::INT AS rank
              FROM ann_ranked WHERE rank <= 10)
            SELECT 'exact' AS algo, * FROM exact
            UNION ALL
            SELECT 'ann' AS algo, * FROM ann
            ORDER BY algo, query_id, rank
        """,
        "embedding_near_dups": """
            WITH both_vecs AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100
              UNION ALL
              SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 100),
            b AS (
              SELECT vec_id AS id, embedding AS vec,
                     (case when embedding[1] >= 0 then 1 else 0 end)
                   + (case when embedding[2] >= 0 then 2 else 0 end)
                   + (case when embedding[3] >= 0 then 4 else 0 end)
                   + (case when embedding[4] >= 0 then 8 else 0 end) AS bucket
              FROM both_vecs)
            SELECT a.id AS id_a, b.id AS id_b,
                   round(list_cosine_similarity(a.vec::DOUBLE[], b.vec::DOUBLE[]), 4) AS cos_sim
            FROM b a JOIN b b ON a.bucket = b.bucket AND a.id < b.id
            WHERE round(list_cosine_similarity(a.vec::DOUBLE[], b.vec::DOUBLE[]), 4) >= 0.99
            ORDER BY id_a, id_b
        """,
        "training_filter": f"""
            WITH kept AS (
              SELECT * FROM (
                SELECT *, row_number() OVER
                  (PARTITION BY {_FP} ORDER BY doc_id) AS rn
                FROM documents) WHERE rn = 1),
            base AS (
              SELECT doc_id, lang, text,
                     case when trim(text) = '' then 0
                          else len(string_split_regex(trim(text), '\\s+')) end AS n_tokens
              FROM kept)
            SELECT doc_id, lang, n_tokens, {{quality}} AS quality
            FROM base
            WHERE {{quality}} >= 0.5 AND n_tokens >= 30
              AND ({{lang_pred}}) = lang
            ORDER BY doc_id
        """.format(quality=quality, lang_pred=lang_pred),
        # training_prep_fuzzy: full replay of the composed dedup chain —
        # exact (md5 fingerprint keep-min) → minhash bands (8 hashes, 2
        # bands) → band-bucket candidate pairs → Jaccard ≥ 0.8 (rounded to
        # 4, same single IEEE division) → recursive-CTE connected
        # components → keep cluster minimum + all unpaired docs
        "training_prep_fuzzy": f"""
            WITH RECURSIVE
            corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 150
              UNION ALL
              SELECT doc_id + 1000000, text || ' extra near dup token'
              FROM documents WHERE doc_id < 50
              UNION ALL
              SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 50),
            uniq AS (
              SELECT doc_id, text FROM (
                SELECT doc_id, text,
                       row_number() OVER (PARTITION BY {_FP} ORDER BY doc_id) AS rn
                FROM corpus) WHERE rn = 1),
            sh AS (SELECT doc_id, {_shingle_sql()} AS sh FROM uniq),
            sig AS (SELECT doc_id, {_minhash_sql(8)} AS sig FROM sh),
            bands AS (
              SELECT doc_id, unnest(range(0, 2)) AS band, sig FROM sig),
            bb AS (
              SELECT doc_id, band,
                     md5(array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), '|')) AS band_hash
              FROM bands),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bb a JOIN bb b
                ON a.band = b.band AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id),
            verified AS (
              SELECT c.doc_a, c.doc_b
              FROM cand c
              JOIN sh a ON a.doc_id = c.doc_a
              JOIN sh b ON b.doc_id = c.doc_b
              WHERE round(CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
                    THEN len(list_intersect(a.sh, b.sh))::DOUBLE
                         / len(list_distinct(a.sh || b.sh))
                    ELSE 0.0 END, 4) >= 0.8),
            edges AS (
              SELECT doc_a AS a, doc_b AS b FROM verified
              UNION ALL SELECT doc_b, doc_a FROM verified),
            reach(node, label) AS (
              SELECT DISTINCT a, a FROM edges
              UNION
              SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node),
            clusters AS (
              SELECT node AS doc_id, min(label) AS cluster_id
              FROM reach GROUP BY node)
            SELECT u.doc_id FROM uniq u LEFT JOIN clusters c USING (doc_id)
            WHERE c.doc_id IS NULL OR c.cluster_id = u.doc_id
            ORDER BY u.doc_id
        """,
        # wet_ingest: the Spark side writes documents out as WET shards and
        # reads them back through sources/warc.py; DuckDB reads the table
        # directly — equality proves the container round-trip is faithful
        "wet_ingest": """
            SELECT doc_id,
                   md5(text) AS text_md5,
                   TIMESTAMP '2024-03-01 00:00:00' AS warc_ts
            FROM documents WHERE doc_id < 300 ORDER BY doc_id
        """,
        "warc_ingest": """
            SELECT doc_id,
                   md5(text) AS payload_md5,
                   TIMESTAMP '2024-03-02 00:00:00' AS warc_ts
            FROM documents WHERE doc_id < 200 ORDER BY doc_id
        """,
        "pdf_ingest": """
            SELECT doc_id,
                   md5(replace(text, chr(10), ' ')) AS text_md5,
                   72.0 AS x, 720.0 AS y
            FROM documents WHERE doc_id < 100 ORDER BY doc_id
        """,
        "host_cap": """
            WITH pages AS (
              SELECT doc_id,
                     'h' || (doc_id % 7) || '.example' AS host
              FROM documents),
            ranked AS (
              SELECT doc_id, host,
                     row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rn
              FROM pages)
            SELECT doc_id, host FROM ranked WHERE rn <= 10 ORDER BY doc_id
        """,
        # temperature resampling: identical rate arithmetic (rates rounded
        # to 6 decimals before thresholding; *2^32 is an exact exponent
        # shift so floor agrees bit-for-bit) + the md5-threshold sampler
        "lang_temperature_sample": """
            WITH d AS (
              SELECT doc_id, lang,
                     'http://synth.test/doc/' || doc_id || '.html#42' AS ks
              FROM documents),
            c AS (SELECT lang, count(*) AS n FROM d GROUP BY lang),
            m AS (SELECT min(n) AS n_min FROM c),
            r AS (
              SELECT lang,
                     round(pow(n_min::DOUBLE / n, 0.5), 6) AS rate
              FROM c CROSS JOIN m),
            h AS (
              SELECT doc_id, lang,
                     list_reduce(list_transform(range(1, 9),
                       j -> (strpos('0123456789abcdef', substr(md5(ks), j, 1)) - 1)::BIGINT),
                       (a, b) -> a * 16 + b) AS u
              FROM d)
            SELECT h.doc_id, h.lang
            FROM h JOIN r USING (lang)
            WHERE u < floor(rate * 4294967296)::BIGINT
            ORDER BY doc_id
        """,
        # hashed_embedding_cosine: md5-leading-8-hex dimension hash (same
        # digit decode as the minhash family), zero-filled count profile,
        # L2 normalize with component round-6, index-order cosine round-4
        "hashed_embedding_cosine": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
              FROM documents WHERE doc_id < 200),
            tf AS (
              SELECT doc_id,
                     list_reduce(list_transform(range(1, 9),
                       j -> (strpos('0123456789abcdef', substr(md5(tok), j, 1)) - 1)::BIGINT),
                       (a, b) -> a * 16 + b) % 16 AS d,
                     count(*)::DOUBLE AS c
              FROM toks WHERE tok <> '' GROUP BY 1, 2),
            dims AS (
              SELECT doc_id, unnest(range(0, 16)) AS d
              FROM (SELECT DISTINCT doc_id FROM tf)),
            vec0 AS (
              SELECT dims.doc_id, dims.d, coalesce(tf.c, 0.0) AS c
              FROM dims LEFT JOIN tf ON tf.doc_id = dims.doc_id AND tf.d = dims.d),
            vecs AS (
              SELECT doc_id, list(c ORDER BY d) AS v FROM vec0 GROUP BY doc_id),
            norm AS (
              SELECT doc_id,
                     list_transform(v, x -> round(
                       x / sqrt(list_sum(list_transform(v, y -> y * y))), 6)) AS e
              FROM vecs)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(list_cosine_similarity(a.e::DOUBLE[], b.e::DOUBLE[]), 4) AS cos_sim
            FROM norm a JOIN norm b ON b.doc_id = a.doc_id + 1
            ORDER BY doc_a
        """,
        # ngram_lm_score: add-1-smoothed bigram LM trained on the corpus,
        # mean log-prob per doc round-4; joins on raw strings (the Spark
        # side joins on xxhash64 keys — equality evidences no collisions)
        "ngram_lm_score": _LM_SCORE_SQL,
        # wav_features: expected audio stats computed from the text itself;
        # samples = codepoints (capped 32767), 16-bit PCM sum is exact in
        # doubles (< 2^53) so the rms round-4 is order-independent
        "wav_features": """
            WITH d AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id < 200 AND length(text) > 0),
            s AS (
              SELECT doc_id,
                     list_transform(range(1, least(length(text), 4096) + 1),
                       i -> least(unicode(substr(text, i, 1)), 32767)) AS sm
              FROM d)
            SELECT doc_id, 16000::BIGINT AS sample_rate, 1::BIGINT AS channels,
                   len(sm)::BIGINT AS n_samples,
                   round(sqrt(list_sum(list_transform(sm, x -> (x * x)::DOUBLE))
                              / len(sm)), 4) AS rms
            FROM s ORDER BY doc_id
        """,
        # perplexity_buckets: rank desc by (score, id), boundary elements
        # at ceil(n/3)/ceil(2n/3), tuple-compare assignment (CCNet h/m/t)
        "perplexity_buckets": f"""
            WITH sc AS ({_LM_SCORE_SQL}),
            ranked AS (
              SELECT doc_id, lm_score,
                     row_number() OVER (ORDER BY lm_score DESC, doc_id DESC) AS r
              FROM sc),
            nn AS (SELECT count(*) AS n FROM sc),
            b1 AS (SELECT lm_score AS s, doc_id AS i FROM ranked
                   WHERE r = ((SELECT n FROM nn) + 2) // 3),
            b2 AS (SELECT lm_score AS s, doc_id AS i FROM ranked
                   WHERE r = (2 * (SELECT n FROM nn) + 2) // 3)
            SELECT doc_id, lm_score,
                   CASE WHEN lm_score > (SELECT s FROM b1)
                          OR (lm_score = (SELECT s FROM b1)
                              AND doc_id >= (SELECT i FROM b1)) THEN 'head'
                        WHEN lm_score > (SELECT s FROM b2)
                          OR (lm_score = (SELECT s FROM b2)
                              AND doc_id >= (SELECT i FROM b2)) THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM sc ORDER BY doc_id
        """,
        # chunk_documents: stride-overlapped token windows; list_slice's
        # inclusive 1-based [s+1, s+64] == Spark slice(a, s+1, 64)
        # semdedup: full relational replay — unrolled-Lloyd cells, within-
        # cell round-4 cosine pairs, recursive-CTE transitive closure,
        # farthest-from-centroid keeper (Abbas et al. 2023 rule)
        "semdedup": _semdedup_sql(
            k_cent=8, iters=3, threshold=0.95, max_id=100,
            dup_offsets=(10_000, 20_000),
        ),
        "quality_classifier": _logreg_sql(
            dim=16, iterations=3, lr=1.0, label_thresh=56, max_id=300
        ),
        # anchor_texts: whole-anchor snippet extraction keeps href and
        # visible text paired; inner markup stripped, whitespace collapsed
        "anchor_texts": f"""
            WITH pages AS ({_LINKED_PAGES_SQL}),
            sn AS (
              SELECT src_host, unnest(regexp_extract_all(
                       {_LINKED_CANON_SQL},
                       '(?is)(<a\\s[^>]*?href\\s*=\\s*"[^"]*"[^>]*>.*?</a>)', 1)) AS snippet
              FROM pages),
            pa AS (
              SELECT src_host,
                     regexp_extract(snippet, '{_HREF_SQL_RE}', 1) AS href,
                     trim(regexp_replace(regexp_replace(snippet,
                            '(?s)<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')) AS anchor_text
              FROM sn),
            res AS (
              SELECT CASE WHEN regexp_matches(href, '{_AUTH_SQL_RE}')
                          THEN lower(regexp_extract(href, '{_AUTH_SQL_RE}', 1))
                          ELSE src_host END AS dst_host,
                     anchor_text
              FROM pa
              WHERE NOT (regexp_matches(href, '^[a-zA-Z][a-zA-Z0-9+.-]*:')
                         AND NOT regexp_matches(href, '{_AUTH_SQL_RE}'))
                AND href NOT LIKE '#%' AND href <> '')
            SELECT dst_host, count(*) AS n_anchors,
                   count(DISTINCT anchor_text) AS n_texts,
                   min(anchor_text) AS sample_text
            FROM res WHERE anchor_text <> ''
            GROUP BY 1 ORDER BY dst_host
        """,
        "outlink_hostgraph": f"""
            WITH hrefs AS (
              SELECT src_host, unnest(regexp_extract_all(
                       {_LINKED_CANON_SQL}, '{_HREF_SQL_RE}', 1)) AS href
              FROM ({_LINKED_PAGES_SQL})),
            resolved AS (
              SELECT src_host,
                     CASE WHEN regexp_matches(href, '{_AUTH_SQL_RE}')
                          THEN lower(regexp_extract(href, '{_AUTH_SQL_RE}', 1))
                          ELSE src_host END AS dst_host,
                     href
              FROM hrefs
              WHERE NOT (regexp_matches(href, '^[a-zA-Z][a-zA-Z0-9+.-]*:')
                         AND NOT regexp_matches(href, '{_AUTH_SQL_RE}'))
                AND href NOT LIKE '#%' AND href <> '')
            SELECT src_host, dst_host, count(*) AS n_links
            FROM resolved GROUP BY 1, 2 ORDER BY src_host, dst_host
        """,
        "outlink_pagerank": _pagerank_sql(
            f"""
              SELECT src_host AS src, dst_host AS dst FROM (
                WITH hrefs AS (
                  SELECT src_host, unnest(regexp_extract_all(
                           {_LINKED_CANON_SQL}, '{_HREF_SQL_RE}', 1)) AS href
                  FROM ({_LINKED_PAGES_SQL}))
                SELECT src_host,
                       CASE WHEN regexp_matches(href, '{_AUTH_SQL_RE}')
                            THEN lower(regexp_extract(href, '{_AUTH_SQL_RE}', 1))
                            ELSE src_host END AS dst_host
                FROM hrefs
                WHERE NOT (regexp_matches(href, '^[a-zA-Z][a-zA-Z0-9+.-]*:')
                           AND NOT regexp_matches(href, '{_AUTH_SQL_RE}'))
                  AND href NOT LIKE '#%' AND href <> ''
              ) WHERE src_host <> dst_host""",
            iterations=5,
            damping=0.85,
        ),
        # duplicated_spans: per-doc fraction of distinct word-20-grams that
        # appear in >= 2 documents corpus-wide (Spark joins on xxhash64
        # gram keys; raw-string joins here evidence collision absence)
        "duplicated_spans": f"""
            WITH dg AS (
              SELECT doc_id, unnest({_ngram_sql(20)}) AS gram FROM documents),
            gd AS (SELECT gram, count(*) AS n_docs FROM dg GROUP BY 1),
            per_doc AS (
              SELECT dg.doc_id, count(*) AS n_grams,
                     sum(CASE WHEN gd.n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup
              FROM dg JOIN gd USING (gram) GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(p.n_grams, 0)::BIGINT AS n_grams,
                   coalesce(p.n_dup, 0)::BIGINT AS n_dup_grams,
                   round(CASE WHEN coalesce(p.n_grams, 0) > 0
                              THEN coalesce(p.n_dup, 0)::DOUBLE / p.n_grams
                              ELSE 0.0::DOUBLE END, 6) AS dup_fraction
            FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
            ORDER BY d.doc_id
        """,
        "rollup_stats": """
            SELECT lang, source, count(*) AS docs,
                   round(avg(n_chars), 4) AS avg_chars,
                   max(n_chars) AS max_chars,
                   round(quantile_cont(n_chars, 0.5), 4) AS median_chars
            FROM documents GROUP BY ROLLUP (lang, source)
            ORDER BY lang NULLS FIRST, source NULLS FIRST
        """,
        # bpe_tokenize: the BPE training loop unrolled to 12 merges +
        # relational greedy merge application (see _bpe_sql)
        "bpe_tokenize": _bpe_sql(iters=12, max_id=150),
        # packing: same prefix-sum // budget as operators/packing.py
        # chunk→pack composition: the chunk CTE (with the suffix-window
        # filter) chained into the same prefix-sum // budget packing law
        "chunk_pack": """
            WITH toks AS (
              SELECT doc_id, lang,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '') AS a
              FROM documents WHERE doc_id < 200),
            st AS (
              SELECT doc_id, lang, a, unnest(range(0, len(a), 48)) AS s
              FROM toks WHERE len(a) > 0),
            st2 AS (
              SELECT * FROM st WHERE s = 0 OR s + (64 - 48) < len(a)),
            u AS (
              SELECT lang, doc_id * 1000 + (s // 48) AS unit_id,
                     len(list_slice(a, s + 1, s + 64)) AS n_tokens,
                     md5(array_to_string(list_slice(a, s + 1, s + 64), ' '))
                       AS chunk_md5
              FROM st2),
            p AS (
              SELECT lang, unit_id, n_tokens, chunk_md5,
                     sum(n_tokens) OVER (PARTITION BY lang ORDER BY unit_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens AS prefix
              FROM u)
            SELECT lang, unit_id::BIGINT AS unit_id, n_tokens::BIGINT AS n_tokens,
                   chunk_md5,
                   (prefix // 256)::BIGINT AS pack_id,
                   n_tokens > 256 AS oversize
            FROM p ORDER BY lang, unit_id
        """,
        # hierarchical packing: same prefix-sum law per (lang, bucket)
        "pack_documents_bucketed": """
            WITH p AS (
              SELECT lang, (doc_id % 8)::INT AS bucket, doc_id, n_chars,
                     sum(n_chars) OVER (PARTITION BY lang, doc_id % 8
                                        ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) - n_chars AS prefix
              FROM documents)
            SELECT lang, bucket, doc_id, n_chars,
                   (prefix // 20000)::BIGINT AS pack_id,
                   n_chars > 20000 AS oversize
            FROM p ORDER BY lang, bucket, doc_id
        """,
        # stratified_sample / blocked_domains: same md5 thresholds, same
        # host-suffix logic
        "stratified_sample": """
            WITH d AS (
              SELECT doc_id, lang,
                     'http://synth.test/doc/' || doc_id || '.html#7' AS ks
              FROM documents),
            h AS (SELECT doc_id, lang, list_reduce(list_transform(range(1, 9), j -> (strpos('0123456789abcdef', substr(md5(ks), j, 1)) - 1)::BIGINT), (a, b) -> a * 16 + b) AS u FROM d)
            SELECT doc_id, lang FROM h
            WHERE u < CASE lang WHEN 'en' THEN 2147483648
                                WHEN 'de' THEN 4294967296
                                WHEN 'fr' THEN 429496729
                                ELSE 1073741824 END
            ORDER BY doc_id
        """,
        "blocked_domains": """
            WITH hosts AS (
              SELECT doc_id,
                     CASE doc_id % 4 WHEN 0 THEN 'synth.test'
                                     WHEN 1 THEN 'evil.test'
                                     WHEN 2 THEN 'sub.evil.test'
                                     ELSE 'ok.example' END AS host
              FROM documents)
            SELECT doc_id,
                   'http://' || host || '/doc/' || doc_id || '.html' AS url
            FROM hosts
            WHERE host <> 'evil.test' AND NOT host LIKE '%.evil.test'
            ORDER BY doc_id
        """,
        # quality_rollup_by_window: stripped length is extraction-invariant
        # (byte-exact roundtrip above MIN_STRIPPED), so ground-truth text
        # reproduces the extraction-output rollup
        "quality_rollup_by_window": f"""
            WITH base AS (
              SELECT doc_id, lang,
                     length(regexp_replace(text, '[\\s ]+', '', 'g')) AS slen,
                     TIMESTAMP '2024-01-01 00:00:00'
                       + to_hours(doc_id % 48) AS ts
              FROM documents)
            SELECT date_trunc('hour', ts) AS hour, lang,
                   count(*)::BIGINT AS docs,
                   round(avg(slen), 4) AS avg_stripped
            FROM base WHERE slen >= {MIN_STRIPPED}
            GROUP BY 1, 2 ORDER BY hour, lang
        """,
        # tfidf_keywords: same smoothed idf, same round-before-rank
        "tfidf_keywords": """
            WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
            n AS (SELECT count(*) AS n_docs FROM sub),
            words AS (
              SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
              FROM sub),
            wf AS (SELECT doc_id, term FROM words WHERE term <> ''),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM wf GROUP BY doc_id, term),
            nw AS (SELECT doc_id, count(*) AS n_words FROM wf GROUP BY doc_id),
            dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            scored AS (
              SELECT t.doc_id, t.term,
                     round((t.tf::DOUBLE / nw.n_words)
                           * (ln((n.n_docs + 1.0) / (dfx.df + 1.0)) + 1.0), 6) AS score
              FROM tf t JOIN nw USING (doc_id) JOIN dfx USING (term) CROSS JOIN n),
            ranked AS (
              SELECT *, row_number() OVER
                (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
              FROM scored)
            SELECT doc_id, term, score, rank::INT AS rank
            FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank
        """,
        # decontaminate: same distinct word-8-grams (with the <n guard),
        # same distinct-hit counting
        "decontaminate": """
            WITH grams AS (
              SELECT doc_id,
                     CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) < 8
                          THEN []::VARCHAR[]
                          ELSE list_distinct(list_transform(
                            range(1, len(string_split_regex(lower(trim(text)), '\\s+')) - 7 + 1),
                            i -> array_to_string(list_slice(
                                   string_split_regex(lower(trim(text)), '\\s+'), i, i + 7), ' ')))
                     END AS gs
              FROM documents),
            bench AS (
              SELECT DISTINCT unnest(gs) AS gram FROM grams WHERE doc_id < 20),
            doc_grams AS (
              SELECT doc_id, unnest(gs) AS gram FROM grams),
            hits AS (
              SELECT doc_id, count(DISTINCT d.gram) AS n_hits
              FROM doc_grams d JOIN bench b ON d.gram = b.gram
              GROUP BY doc_id)
            SELECT g.doc_id,
                   coalesce(h.n_hits, 0)::BIGINT AS n_hits,
                   coalesce(h.n_hits, 0) >= 1 AS contaminated
            FROM (SELECT DISTINCT doc_id FROM grams) g
            LEFT JOIN hits h USING (doc_id)
            ORDER BY g.doc_id
        """,
        # repetition_signals: same array/lambda algebra over the same
        # seeded 3-line text (line 1 == line 2)
        "repetition_signals": """
            WITH seeded AS (
              SELECT doc_id,
                     text || chr(10) || text || chr(10) || 'unique ' || doc_id AS text
              FROM documents),
            base AS (
              SELECT doc_id,
                     string_split(text, chr(10)) AS lines,
                     string_split_regex(lower(trim(text)), '\\s+') AS words
              FROM seeded),
            bg AS (
              SELECT doc_id, lines, words,
                     list_transform(range(1, len(words)),
                                    i -> words[i] || ' ' || words[i + 1]) AS bigrams
              FROM base)
            SELECT doc_id,
                   round(1.0 - len(list_distinct(lines))::DOUBLE / len(lines), 4)
                     AS dup_line_frac,
                   CASE WHEN len(words) > 0
                        THEN round(1.0 - len(list_distinct(words))::DOUBLE / len(words), 4)
                        ELSE 0.0 END AS dup_word_frac,
                   CASE WHEN len(bigrams) > 0
                        THEN round(list_max(list_transform(list_distinct(bigrams),
                               x -> len(list_filter(bigrams, y -> y = x))))::DOUBLE
                             / len(bigrams), 4)
                        ELSE 0.0 END AS top_bigram_frac
            FROM bg ORDER BY doc_id
        """,
        # line_dedup: same md5(trim(line)) counting, same reassembly order
        "line_dedup": """
            WITH seeded AS (
              SELECT doc_id,
                     'SUBSCRIBE to our newsletter' || chr(10) || text || chr(10)
                       || 'unique tail ' || doc_id || chr(10)
                       || '(c) synthcorp all rights reserved' AS text
              FROM documents),
            lines AS (
              SELECT doc_id,
                     unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos,
                     unnest(string_split(text, chr(10))) AS line
              FROM seeded),
            keyed AS (SELECT doc_id, pos, line, md5(trim(line)) AS lk FROM lines),
            dups AS (SELECT lk, TRUE AS is_dup FROM keyed GROUP BY lk HAVING count(*) >= 2),
            marked AS (
              SELECT k.doc_id, k.pos, k.line, coalesce(d.is_dup, FALSE) AS is_dup
              FROM keyed k LEFT JOIN dups d USING (lk)),
            rebuilt AS (
              SELECT doc_id,
                     count(*)::BIGINT AS n_lines,
                     sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_lines_removed,
                     coalesce(array_to_string(
                       list(line ORDER BY pos) FILTER (WHERE NOT is_dup), chr(10)), '') AS text_clean
              FROM marked GROUP BY doc_id)
            SELECT doc_id, md5(text_clean) AS clean_md5, n_lines, n_lines_removed
            FROM rebuilt ORDER BY doc_id
        """,
        # scrub_pii: identical regexes (RE2/Java-common subset) + identical
        # synthetic PII seeding; compare redaction counts + md5 of the
        # scrubbed text
        "scrub_pii": """
            WITH seeded AS (
              SELECT doc_id,
                     text || ' contact doc' || doc_id || '@example.com or 10.0.'
                          || (doc_id % 256) || '.1 now' AS text
              FROM documents),
            scrubbed AS (
              SELECT doc_id,
                     len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS no_email
              FROM seeded)
            SELECT doc_id, n_emails::INT AS n_emails,
                   len(regexp_extract_all(no_email,
                     '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))::INT AS n_ipv4,
                   md5(regexp_replace(no_email,
                     '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
                     '<IP>', 'g')) AS scrubbed_md5
            FROM scrubbed ORDER BY doc_id
        """,
        # gaps-and-islands: session boundary where the per-user gap exceeds
        # 1800s (strict >, microsecond precision — mirrors streaming/
        # sessions.py).  Cumulative sum uses the default RANGE frame so
        # tied timestamps share a session number, same as Spark.
        "sessions_by_user": """
            WITH lagged AS (
              SELECT user_id, ts, value,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
              FROM events),
            flagged AS (
              SELECT user_id, ts, value,
                     CASE WHEN prev_ts IS NULL
                          OR date_diff('microsecond', prev_ts, ts) > 1800000000
                          THEN 1 ELSE 0 END AS new_session
              FROM lagged),
            numbered AS (
              SELECT user_id, ts, value,
                     sum(new_session) OVER
                       (PARTITION BY user_id ORDER BY ts) AS session_no
              FROM flagged)
            SELECT user_id, session_no::INT AS session_no,
                   min(ts) AS session_start, max(ts) AS session_end,
                   count(*)::BIGINT AS events,
                   round(sum(value), 4) AS value_sum
            FROM numbered GROUP BY user_id, session_no
            ORDER BY user_id, session_no
        """,
        # sessions_stream: same gaps-and-islands law over the subset plus
        # the per-user sentinel that closes every real session; only
        # sessions starting before the sentinel count
        "sessions_stream": """
            WITH base AS (
              SELECT user_id, ts, value FROM events WHERE user_id < 40
              UNION ALL
              SELECT DISTINCT user_id,
                     TIMESTAMP '2030-01-01 00:00:00' AS ts, 0.0 AS value
              FROM events WHERE user_id < 40),
            lagged AS (
              SELECT user_id, ts, value,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
              FROM base),
            flagged AS (
              SELECT user_id, ts, value,
                     CASE WHEN prev_ts IS NULL
                          OR date_diff('microsecond', prev_ts, ts) > 1800000000
                          THEN 1 ELSE 0 END AS new_session
              FROM lagged),
            numbered AS (
              SELECT user_id, ts, value,
                     sum(new_session) OVER
                       (PARTITION BY user_id ORDER BY ts) AS session_no
              FROM flagged),
            sess AS (
              SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                     count(*)::BIGINT AS events,
                     round(sum(value), 4) AS value_sum
              FROM numbered GROUP BY user_id, session_no)
            SELECT user_id, session_start, session_end, events, value_sum,
                   'gap' AS closed
            FROM sess WHERE session_start < TIMESTAMP '2030-01-01 00:00:00'
            ORDER BY user_id, session_start
        """,
        "asof_join_events": """
            WITH purchases AS (
              SELECT user_id, event_id AS purchase_id, ts FROM events
              WHERE event_type = 'purchase'),
            clicks AS (
              SELECT user_id, event_id AS click_id, ts FROM events
              WHERE event_type = 'click')
            SELECT p.user_id, p.purchase_id,
                   (SELECT c.click_id FROM clicks c
                    WHERE c.user_id = p.user_id AND c.ts <= p.ts
                    ORDER BY c.ts DESC, c.click_id DESC LIMIT 1) AS prior_click_id
            FROM purchases p ORDER BY p.purchase_id
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        # incremental_dedup: full relational replay of the wave chain —
        # distinct rows → fingerprint row_number (intra exact) → exact
        # anti-join vs the corpus (the Bloom prune is result-invariant by
        # contract, so the oracle replays its SEMANTICS) → the
        # minhash/band/Jaccard CTE family shared with training_prep_fuzzy
        # over wave ∪ corpus → recursive closure → corpus-wins keeper.
        "incremental_dedup": f"""
            WITH RECURSIVE
            corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 100),
            wave_raw AS (
              SELECT doc_id + 1000000 AS doc_id, text
              FROM documents WHERE doc_id < 10
              UNION ALL
              SELECT doc_id + 2000000, text || ' extra near dup token'
              FROM documents WHERE doc_id >= 10 AND doc_id < 20
              UNION ALL
              SELECT doc_id, text
              FROM documents WHERE doc_id >= 100 AND doc_id < 150
              UNION ALL
              SELECT 3000100, text FROM documents WHERE doc_id = 100
              UNION ALL
              SELECT 3000100, text FROM documents WHERE doc_id = 100
              UNION ALL
              SELECT 4000110, text || ' extra near dup token'
              FROM documents WHERE doc_id = 110),
            wave AS (SELECT DISTINCT doc_id, text FROM wave_raw),
            intra AS (
              SELECT doc_id, text FROM (
                SELECT doc_id, text,
                       row_number() OVER (PARTITION BY {_FP}
                                          ORDER BY doc_id) AS rn
                FROM wave) WHERE rn = 1),
            cfp AS (SELECT {_FP} AS fp FROM corpus),
            after_exact AS (
              SELECT doc_id, text FROM (
                SELECT doc_id, text, {_FP} AS fp FROM intra)
              WHERE fp NOT IN (SELECT fp FROM cfp)),
            pool AS (
              SELECT doc_id, text, TRUE AS is_wave FROM after_exact
              WHERE len(string_split_regex(trim(text), '\\s+')) >= 3
              UNION ALL
              SELECT doc_id, text, FALSE FROM corpus
              WHERE len(string_split_regex(trim(text), '\\s+')) >= 3),
            sh AS (SELECT doc_id, is_wave, {_shingle_sql()} AS sh FROM pool),
            sig AS (SELECT doc_id, is_wave, {_minhash_sql(8)} AS sig FROM sh),
            bands AS (
              SELECT doc_id, is_wave, unnest(range(0, 2)) AS band, sig
              FROM sig),
            bb AS (
              SELECT doc_id, is_wave, band,
                     md5(array_to_string(
                       list_slice(sig, band*4 + 1, band*4 + 4), '|'))
                       AS band_hash
              FROM bands),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bb a JOIN bb b
                ON a.band = b.band AND a.band_hash = b.band_hash
               AND a.is_wave AND b.is_wave AND a.doc_id < b.doc_id
              UNION ALL
              SELECT DISTINCT a.doc_id, c.doc_id
              FROM bb a JOIN bb c
                ON a.band = c.band AND a.band_hash = c.band_hash
               AND a.is_wave AND NOT c.is_wave),
            verified AS (
              SELECT c.doc_a, c.doc_b
              FROM cand c
              JOIN sh a ON a.doc_id = c.doc_a
              JOIN sh b ON b.doc_id = c.doc_b
              WHERE round(CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
                    THEN len(list_intersect(a.sh, b.sh))::DOUBLE
                         / len(list_distinct(a.sh || b.sh))
                    ELSE 0.0 END, 4) >= 0.8),
            edges AS (
              SELECT doc_a AS a, doc_b AS b FROM verified
              UNION ALL SELECT doc_b, doc_a FROM verified),
            reach(node, label) AS (
              SELECT DISTINCT a, a FROM edges
              UNION
              SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node),
            clusters AS (
              SELECT node AS doc_id, min(label) AS cluster_id
              FROM reach GROUP BY node),
            has_corpus AS (
              SELECT DISTINCT cluster_id FROM clusters
              JOIN corpus USING (doc_id)),
            dead AS (
              SELECT cl.doc_id FROM clusters cl
              JOIN after_exact ae ON ae.doc_id = cl.doc_id
              WHERE cl.cluster_id IN (SELECT cluster_id FROM has_corpus)
                 OR cl.doc_id <> cl.cluster_id),
            kept_wave AS (
              SELECT doc_id FROM after_exact
              WHERE doc_id NOT IN (SELECT doc_id FROM dead))
            SELECT doc_id, 'corpus' AS source, TRUE AS kept,
                   (CASE WHEN doc_id IN (SELECT doc_id FROM pool
                                         WHERE NOT is_wave)
                         THEN 2 ELSE 0 END)::BIGINT AS n_sig_rows
            FROM corpus
            UNION ALL
            SELECT w.doc_id, 'wave',
                   w.doc_id IN (SELECT doc_id FROM kept_wave),
                   (CASE WHEN w.doc_id IN (SELECT doc_id FROM kept_wave)
                          AND w.doc_id IN (SELECT doc_id FROM pool
                                           WHERE is_wave)
                         THEN 2 ELSE 0 END)::BIGINT
            FROM wave w
            ORDER BY source, doc_id
        """,
        # ivf_topk: the Spark k-means is fully deterministic (lowest-id
        # init, 6-decimal-rounded means, lower-cid tie-break), so the oracle
        # replays the identical Lloyd trajectory as unrolled SQL.
        "ivf_topk": _ivf_sql(k_cent=8, iters=3, n_probe=2, topk=10,
                             query_ids=(0, 1, 2)),
        # phash_dedup: ground truth stated directly — the three format
        # renditions (PNG/GIF/JPEG) of each document's picture MUST form
        # exactly one cluster with the PNG row (media_id = doc_id*10) as
        # keeper, and nothing else may merge.  The Spark side only matches
        # if the real decoders + DCT pHash put every lossy JPEG within
        # Hamming 6 of its siblings and no cross-document pair collides.
        "phash_dedup": """
            SELECT d.doc_id * 10 + v.v AS media_id,
                   d.doc_id * 10 AS keeper,
                   (v.v = 0) AS is_keeper
            FROM documents d
            CROSS JOIN (VALUES (0), (1), (2)) AS v(v)
            WHERE d.doc_id < 80 AND length(d.text) > 0
            ORDER BY media_id
        """,
        # media_features: closed-form replay of the REAL decode.  PNG is
        # lossless (pixel bytes = cycled text codepoints % 256); GIF is a
        # 4-entry palette lookup (per-index RGB triplet sums 60/150/240/
        # 630); the JPEG fixtures are solid-gray images whose DC-step-8
        # quantization reconstructs the input value v exactly, so
        # pixel_sum = v·w·h.  Matching sums prove decoded pixels, not
        # header arithmetic.
        "media_features": """
            WITH d AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id < 120 AND length(text) > 0),
            c AS (
              SELECT doc_id,
                     list_transform(range(1, least(length(text), 48) + 1),
                       i -> unicode(substr(text, i, 1)) % 256) AS cps
              FROM d),
            g AS (
              SELECT doc_id, cps, len(cps) AS L, doc_id % 3 AS sel,
                     CASE doc_id % 3 WHEN 0 THEN 4 + doc_id % 5
                                     WHEN 1 THEN 5 + doc_id % 4
                                     ELSE 9 + doc_id % 8 END AS w,
                     CASE doc_id % 3 WHEN 0 THEN 3 + doc_id % 4
                                     WHEN 1 THEN 4 + doc_id % 3
                                     ELSE 7 + doc_id % 5 END AS h
              FROM c)
            SELECT doc_id AS media_id,
                   CASE sel WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                            ELSE 'jpeg' END AS fmt,
                   w::INTEGER AS width, h::INTEGER AS height,
                   (CASE sel
                     WHEN 0 THEN list_sum(list_transform(range(0, w * h * 3),
                                   i -> cps[(i % L) + 1]))
                     WHEN 1 THEN list_sum(list_transform(range(0, w * h),
                                   i -> CASE cps[(i % L) + 1] % 4
                                        WHEN 0 THEN 60 WHEN 1 THEN 150
                                        WHEN 2 THEN 240 ELSE 630 END))
                     ELSE ((doc_id * 7) % 256) * w * h
                    END)::BIGINT AS pixel_sum,
                   NULL::VARCHAR AS error
            FROM g ORDER BY media_id
        """,
    }


if __name__ == "__main__":
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    df = entry(spark)
    n = df.count()
    errs = df.filter("error is not null").count()
    print(f"entry(): {n} rows, {errs} errors")
    df.show(5, truncate=60)
    spark.stop()
