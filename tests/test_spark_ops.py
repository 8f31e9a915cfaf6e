"""Spark-layer tests: pipeline, operators, streaming.

One shared local[4] session (pytest session scope) — these verify plumbing
and semantics at tiny scale; the DuckDB oracle gate (tools/check_oracles.py,
driver-run) covers value-exactness at sf0.01.
"""

import os
import shutil

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from readability_php_spark.config import Configuration  # noqa: E402
from readability_php_spark.operators.dedup import (  # noqa: E402
    exact_dedup,
    minhash_lsh_candidates,
)
from readability_php_spark.operators.extract import extract_operator  # noqa: E402
from readability_php_spark.operators.multimodal import (  # noqa: E402
    extract_media_features,
    synthetic_media_df,
)
from readability_php_spark.operators.similarity import ann_topk, cosine_topk  # noqa: E402
from readability_php_spark.plans.pipeline import run_extract_job  # noqa: E402
from readability_php_spark.sources.pages import (  # noqa: E402
    documents_corpus_df,
    load_table,
)
from readability_php_spark.streaming.ingest import (  # noqa: E402
    run_stream_to_parquet,
    streaming_quality_rollup,
    read_page_stream,
)

SF = "/root/testdata/sf0.001"
CFG = Configuration(
    fix_relative_urls=True, article_byline=True, substitute_entities=True
)

#: rows in :func:`generated_pages_df`, the pipeline tests' corpus
GEN_DOCS = 48

_GEN_WORDS = (
    "harbor council budget river station museum archive engineer "
    "weather season market report village bridge library garden "
    "festival teacher journey history climate railway orchard summit "
    "lantern meadow quarry ferry canal workshop "
    "the the the and and of of to with that"
).split()


def generated_pages_df(spark, n: int = GEN_DOCS):
    """A small deterministic corpus built in the test itself: ``n`` pages
    ``(url, html, lang)``.  Most are an article of a few paragraphs inside
    nav/sidebar/footer boilerplate; every seventh has too little text for
    the article threshold (so it runs the retry ladder), and every
    eleventh is unparseable markup (an ``error`` row).  The prose mixes
    English stop words into the vocabulary and puts each paragraph on its
    own line, so the extracted text passes the C4 and Gopher rules."""
    import random

    rng = random.Random(20261017)
    rows = []
    for i in range(n):
        if i % 11 == 5:
            html = "<html>"
        else:
            paras = 1 if i % 7 == 3 else rng.randint(3, 6)
            body = "\n".join(
                "<p>" + ", ".join(
                    " ".join(rng.choice(_GEN_WORDS) for _ in range(8))
                    for _ in range(rng.randint(2, 5))
                ) + ".</p>"
                for _ in range(paras)
            )
            html = (
                f"<!DOCTYPE html><html><head><title>Page {i} - Gen</title>"
                '<meta name="author" content="Gen Writer"></head><body>'
                '<div class="nav"><a href="/">Home</a> <a href="/a">About</a>'
                "</div>"
                f'<div class="article"><h1>Page {i}</h1>{body}</div>'
                '<div class="sidebar"><a href="/x">More</a></div>'
                '<div class="footer">(c) Gen</div></body></html>'
            )
        rows.append(
            (f"http://gen.test/{i}.html", html.encode(), "en" if i % 3 else "de")
        )
    return spark.createDataFrame(rows, "url string, html binary, lang string")


# the session-scoped `spark` fixture lives in conftest.py (shared with
# test_jpeg.py and any future Spark-touching test module)


def test_extract_operator_roundtrip(spark):
    pages = documents_corpus_df(spark, SF).filter(F.col("doc_id") < 20)
    out = extract_operator(pages, CFG.with_overrides(char_threshold=150))
    rows = out.collect()
    assert len(rows) == 20
    assert all(r.error is None for r in rows)
    assert all(r.title.startswith("Document ") for r in rows)


def test_extract_operator_carry(spark):
    pages = documents_corpus_df(spark, SF).filter(F.col("doc_id") < 5)
    out = extract_operator(pages, CFG, carry=("warc_ts", "lang"))
    assert "warc_ts" in out.columns and "lang" in out.columns
    assert out.filter(F.col("lang").isNull()).count() == 0


def test_extract_operator_bad_rows_dont_kill_job(spark):
    rows = [
        ("http://x/1", b"<html><body><p>ok content here, long enough,"
                       b" with commas, etc.</p></body></html>"),
        ("http://x/2", b"\x00\xff\xfegarbage"),
        ("http://x/3", None),
        ("http://x/4", b"<html>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    out = extract_operator(pages, CFG).collect()
    assert len(out) == 4
    by_url = {r.url: r for r in out}
    assert by_url["http://x/3"].error == "invalid_html"
    assert by_url["http://x/4"].error == "invalid_html"


def test_pipeline_resume(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    pages = generated_pages_df(spark)
    res1 = run_extract_job(spark, pages, out_dir, num_buckets=8, config=CFG)
    assert res1.buckets_done == 8 and res1.buckets_skipped == 0
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == GEN_DOCS
    res2 = run_extract_job(spark, pages, out_dir, num_buckets=8, config=CFG)
    assert res2.buckets_skipped == 8
    # output unchanged after no-op resume
    assert spark.read.parquet(out_dir).count() == GEN_DOCS
    # manifest has metrics for every partition
    manifest = spark.read.parquet(res1.manifest_path)
    assert manifest.select("part_id").distinct().count() == 8
    assert manifest.agg(F.sum("docs")).first()[0] == GEN_DOCS


def test_pipeline_partial_resume(spark, tmp_path):
    """Simulate a crashed run: manifest records only half the partitions →
    resume recomputes exactly the missing ones."""
    out_dir = str(tmp_path / "out2")
    manifest_path = out_dir + "_manifest"
    pages = generated_pages_df(spark)
    run_extract_job(spark, pages, out_dir, num_buckets=8, config=CFG)
    # drop half the manifest (simulate a crash between the data append and
    # the manifest append: data committed, completion record lost)
    m = spark.read.parquet(manifest_path)
    kept = m.filter(F.col("part_id") < 4).collect()
    shutil.rmtree(manifest_path)
    spark.createDataFrame(kept, m.schema).write.parquet(manifest_path)
    res = run_extract_job(spark, pages, out_dir, num_buckets=8, config=CFG)
    assert res.buckets_skipped == 4
    # exactly-once: the already-committed rows of the "lost" buckets must
    # not be duplicated by the resume
    assert spark.read.parquet(out_dir).count() == GEN_DOCS
    assert spark.read.parquet(out_dir).select("url").distinct().count() == GEN_DOCS
    m2 = spark.read.parquet(manifest_path)
    assert m2.select("part_id").distinct().count() == 8


def test_pack_documents_matches_python_reference(spark):
    """Differential test: pack assignment equals a pure-Python prefix-sum
    reference on a seeded random corpus (groups, gaps, oversize docs)."""
    import random

    from readability_php_spark.operators.packing import pack_documents

    rng = random.Random(1234)
    rows = [
        (rng.choice(["a", "b", "c"]), i, rng.choice([1, 50, 900, 2500]))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_tokens long")
    got = {
        (r.lang, r.doc_id): r.pack_id
        for r in pack_documents(df, budget=1000, group_cols=("lang",)).collect()
    }
    prefix: dict = {}
    for lang, doc_id, n in sorted(rows, key=lambda r: (r[0], r[1])):
        p = prefix.get(lang, 0)
        assert got[(lang, doc_id)] == p // 1000, (lang, doc_id)
        prefix[lang] = p + n


def test_hash_uniform_matches_python_md5(spark):
    import hashlib

    from readability_php_spark.operators.sampling import hash_uniform

    keys = [f"k-{i}-{'x' * (i % 7)}" for i in range(50)]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {r.k: r.u for r in df.select("k", hash_uniform(F.col("k"), 42).alias("u")).collect()}
    for k in keys:
        want = int(hashlib.md5(f"{k}#42".encode()).hexdigest()[:8], 16)
        assert got[k] == want, k


def test_scrub_pii_idempotent(spark):
    """Redaction is a fixpoint: scrubbing scrubbed text changes nothing and
    finds nothing (placeholders must not look like PII)."""
    from readability_php_spark.operators.scrub import scrub_pii

    rows = [(i, f"w{i} a{i}@b{i}.org 10.{i % 256}.0.{i % 9} <EMAIL> end")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = scrub_pii(df).select("doc_id", F.col("scrubbed").alias("text"))
    twice = scrub_pii(once)
    bad = twice.filter(
        (F.col("n_emails") > 0) | (F.col("n_ipv4") > 0)
        | (F.col("scrubbed") != F.col("text"))
    )
    assert bad.count() == 0


def test_connected_components_matches_union_find(spark):
    """Differential test vs a pure-Python union-find on a seeded random
    graph (mix of chains, stars, and isolated pairs)."""
    import random

    from readability_php_spark.operators.dedup import connected_components

    rng = random.Random(99)
    edges = set()
    for _ in range(120):
        a, b = rng.randrange(200), rng.randrange(200)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(edges), "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in connected_components(df).collect()}

    parent: dict = {}
    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in {x for e in edges for x in e}}
    assert got == want


def test_connected_components_local_matches_distributed(spark, monkeypatch):
    """Path differential: the driver-local union-find (edge count under
    the ceiling) and the distributed min-label loop (a zero ceiling
    forces it) must emit identical labelings and schemas — on long ids
    and on string ids (fuzzy_dedup clusters by url)."""
    from readability_php_spark.operators import dedup
    from readability_php_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (21, 20), (5, 4), (4, 3)],
        "doc_a long, doc_b long",
    )
    spairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string"
    )
    loc = connected_components(pairs)
    sloc = sorted(map(tuple, connected_components(spairs).collect()))
    monkeypatch.setattr(dedup, "CC_LOCAL_MAX_EDGES", 0)
    dist = connected_components(pairs)
    assert sorted(map(tuple, loc.collect())) == sorted(
        map(tuple, dist.collect())
    )
    assert loc.schema == dist.schema
    sdist = sorted(map(tuple, connected_components(spairs).collect()))
    assert sloc == sdist == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")
    ]


def test_kmeans_local_matches_distributed(spark, monkeypatch):
    """Path differential: the driver-local Lloyd (one bounded collect)
    must reproduce the distributed per-iteration loop bit-for-bit — same
    init, same ties-to-lower-cid assignment, same HALF_UP round-6 means —
    including an empty-cell iteration (k > distinct points keeps the
    previous centroid) and k > n."""
    from readability_php_spark.operators import similarity
    from readability_php_spark.operators.similarity import kmeans_centroids

    rows = [
        (i, [float((i * 7 + d * 3) % 11) / 7.0 + (0.001 * i) for d in range(6)])
        for i in range(40)
    ]
    # planted exact duplicates → some cells go empty at k=16
    rows += [(100 + i, rows[i][1]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for k, iters in ((4, 3), (16, 5), (64, 2)):
        loc = kmeans_centroids(df, k, iters=iters)
        lc = sorted((r.cid, tuple(r.cvec)) for r in loc.collect())
        with monkeypatch.context() as m:
            m.setattr(similarity, "KMEANS_LOCAL_MAX_ROWS", 0)
            dist = kmeans_centroids(df, k, iters=iters)
            dc = sorted((r.cid, tuple(r.cvec)) for r in dist.collect())
        assert lc == dc, f"k={k} iters={iters}"


def test_analyze_passthrough_columns(spark):
    """analyze(passthrough=...) carries input columns unchanged and leaves
    every computed column identical to the no-passthrough call."""
    from readability_php_spark.operators.text_analysis import analyze

    df = spark.createDataFrame(
        [(1, "the quick brown fox", "en"), (2, "", "de"), (3, None, "fr")],
        "doc_id long, text string, lang string",
    )
    plain = {r.doc_id: r.asDict() for r in analyze(df).collect()}
    passed = {r.doc_id: r.asDict() for r in
              analyze(df, passthrough=("lang",)).collect()}
    assert set(passed[1]) == set(plain[1]) | {"lang"}
    for i, lang in ((1, "en"), (2, "de"), (3, "fr")):
        assert passed[i].pop("lang") == lang
        assert passed[i] == plain[i]


def test_pagerank_local_matches_distributed(spark, monkeypatch):
    """Path differential: driver-local PageRank (bounded collect) vs
    the per-iteration Spark loop — identical ranks including duplicate-
    edge multiplicity and dangling-mass redistribution."""
    from readability_php_spark.operators import graph
    from readability_php_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"),
         ("e", "e2"), ("a", "b")],
        "src string, dst string",
    )
    loc = sorted(map(tuple, pagerank(edges).collect()))
    monkeypatch.setattr(graph, "PAGERANK_LOCAL_MAX_EDGES", 0)
    dist = sorted(map(tuple, pagerank(edges).collect()))
    assert loc == dist
    assert abs(sum(r for _, r in loc) - 1.0) < 1e-4  # mass conservation


def test_training_prep_end_to_end(spark, tmp_path):
    """The composed prep pipeline on the sf0.001 corpus (+ planted exact
    duplicates AND a planted near-duplicate): conservation, exact + fuzzy
    dedup, split partitioning, PII-free output."""
    from readability_php_spark.plans.training_pipeline import run_training_prep

    pages = documents_corpus_df(spark, SF).filter(F.col("doc_id") < 120).select(
        "url", "html"
    )
    dupes = pages.filter(F.col("url").endswith("/doc/5.html") | F.col("url").endswith("/doc/7.html")) \
        .withColumn("url", F.concat(F.col("url"), F.lit("?copy=1")))
    # note: ?copy urls canonicalize differently, so these are exact-TEXT dups
    # near-dup: doc 21's page with a few extra words injected INSIDE the
    # article body — survives exact dedup (text differs) and must be
    # collapsed by the fuzzy stage (89 words → jaccard ≈ 0.93)
    near = (
        pages.filter(F.col("url").endswith("/doc/21.html"))
        .withColumn("url", F.concat(F.col("url"), F.lit("?near=1")))
        .withColumn(
            "html",
            F.encode(
                F.regexp_replace(
                    F.decode(F.col("html"), "UTF-8"),
                    "</p></div></div>",
                    " extra appended words for the near dup</p></div></div>",
                ),
                "UTF-8",
            ),
        )
    )
    out_dir = str(tmp_path / "prep_out")
    res = run_training_prep(
        spark, pages.unionByName(dupes).unionByName(near), out_dir,
        min_tokens=10, pack_budget=500,
    )
    assert res.docs_in == 123 and res.docs_extracted == 123
    # two planted text-dups + one planted near-dup collapsed, PLUS the
    # corpus's own natural near-dups (the synthetic generator emits e.g.
    # {0,50,82} with pairwise jaccard ≥ 0.9): deterministic content-keyed
    # pipeline → a stable count
    assert res.docs_after_dedup == 118
    assert res.docs_final > 0 and set(res.split_counts) <= {"train", "val", "test"}
    out = spark.read.parquet(out_dir)
    assert {d for d in os.listdir(out_dir) if d.startswith("split=")}
    # the kept representative of the near-dup cluster is the min url
    # (doc/21.html sorts before doc/21.html?near=1)
    kept_21 = [r.url for r in out.filter(F.col("url").contains("/doc/21.html")).collect()]
    assert kept_21 == [] or all("?near=" not in u for u in kept_21)
    # no unredacted PII survives (none present in synth corpus, but the
    # scrubbed column must exist and packs must respect the budget shape)
    assert out.filter(F.col("n_tokens") < 10).count() == 0
    packs = out.groupBy("split", "lang", "pack_id").agg(F.sum("n_tokens").alias("t"))
    assert packs.filter(F.col("t") >= 2 * 500 + 1000).count() == 0


def test_training_prep_fuzzy_off(spark, tmp_path):
    """fuzzy=False keeps a planted near-duplicate (knob contract)."""
    from readability_php_spark.plans.training_pipeline import run_training_prep

    pages = documents_corpus_df(spark, SF).filter(F.col("doc_id") < 30).select(
        "url", "html"
    )
    near = (
        pages.filter(F.col("url").endswith("/doc/21.html"))
        .withColumn("url", F.concat(F.col("url"), F.lit("?near=1")))
        .withColumn(
            "html",
            F.encode(
                F.regexp_replace(
                    F.decode(F.col("html"), "UTF-8"),
                    "</p></div></div>",
                    " extra appended words for the near dup</p></div></div>",
                ),
                "UTF-8",
            ),
        )
    )
    out_dir = str(tmp_path / "prep_out_nofuzzy")
    res = run_training_prep(
        spark, pages.unionByName(near), out_dir,
        min_tokens=10, pack_budget=500, fuzzy=False,
    )
    assert res.docs_after_dedup == 31  # near-dup NOT collapsed


def test_training_prep_checkpoint_resume(spark, tmp_path):
    """checkpoint_dir: a rerun resumes from the committed extract+dedup
    stage — proven by feeding the rerun a poisoned input (empty pages) and
    still getting the first run's full output; a torn checkpoint (stats
    marker missing) falls back to recompute."""
    from readability_php_spark.plans.training_pipeline import run_training_prep

    pages = documents_corpus_df(spark, SF).filter(F.col("doc_id") < 40).select(
        "url", "html"
    )
    ck = str(tmp_path / "prep_ck")
    out1 = str(tmp_path / "out1")
    res1 = run_training_prep(
        spark, pages, out1, min_tokens=10, pack_budget=500, fuzzy=False,
        checkpoint_dir=ck,
    )
    assert res1.docs_in == 40 and res1.docs_final > 0
    # rerun with EMPTY input: resume must serve everything from the
    # checkpoint, so counters and output match run 1 exactly
    out2 = str(tmp_path / "out2")
    res2 = run_training_prep(
        spark, pages.limit(0), out2, min_tokens=10, pack_budget=500,
        fuzzy=False, checkpoint_dir=ck,
    )
    assert (res2.docs_in, res2.docs_extracted, res2.docs_after_dedup) == (
        res1.docs_in, res1.docs_extracted, res1.docs_after_dedup
    )
    rows1 = sorted(
        (r.url, r.pack_id) for r in spark.read.parquet(out1).collect()
    )
    rows2 = sorted(
        (r.url, r.pack_id) for r in spark.read.parquet(out2).collect()
    )
    assert rows1 == rows2
    # parameter drift: resuming under different dedup settings must refuse
    # (silently serving non-fuzzy output to a fuzzy run would corrupt the
    # training set) — same discipline as run_extract_job's bucketing guard
    with pytest.raises(ValueError, match="stage params"):
        run_training_prep(
            spark, pages.limit(0), str(tmp_path / "out_drift"),
            min_tokens=10, pack_budget=500, fuzzy=True, checkpoint_dir=ck,
        )
    # torn checkpoint: remove the stats marker -> recompute from input
    import shutil as _sh

    _sh.rmtree(ck + "/stats")
    out3 = str(tmp_path / "out3")
    res3 = run_training_prep(
        spark, pages.limit(0), out3, min_tokens=10, pack_budget=500,
        fuzzy=False, checkpoint_dir=ck,
    )
    assert res3.docs_in == 0 and res3.docs_final == 0


def test_training_prep_chunk_then_pack(spark, tmp_path):
    """chunk_max_tokens composes chunk→pack: every packed row fits the
    window, chunk rows key as url#k with the parent url carried, chunks of
    one document share a split, and chunking CHANGES pack contents vs the
    unchunked run."""
    from readability_php_spark.plans.training_pipeline import run_training_prep

    pages = documents_corpus_df(spark, SF).filter(F.col("doc_id") < 60).select(
        "url", "html"
    )
    plain_dir = str(tmp_path / "plain")
    chunk_dir = str(tmp_path / "chunked")
    plain = run_training_prep(
        spark, pages, plain_dir, min_tokens=10, pack_budget=120, fuzzy=False,
    )
    chunked = run_training_prep(
        spark, pages, chunk_dir, min_tokens=10, pack_budget=120, fuzzy=False,
        chunk_max_tokens=40, chunk_stride=30,
    )
    # same docs survive dedup/filters either way; chunking multiplies rows
    assert chunked.docs_after_dedup == plain.docs_after_dedup
    assert chunked.docs_final > plain.docs_final
    out = spark.read.parquet(chunk_dir)
    rows = out.collect()
    # every packing unit fits the context window now (the unchunked run
    # has docs over 40 tokens — that's what chunking is for)
    assert all(r.n_tokens <= 40 for r in rows)
    plain_rows = spark.read.parquet(plain_dir).collect()
    assert any(r.n_tokens > 40 for r in plain_rows)
    # unit keys are url#chunk_id with parent lineage intact
    assert all("#" in r.url and r.url.split("#")[0] == r.parent_url for r in rows)
    # no document's chunks straddle splits (parent-keyed hash split)
    by_parent = {}
    for r in rows:
        by_parent.setdefault(r.parent_url, set()).add(r.split)
    assert all(len(s) == 1 for s in by_parent.values())
    # chunk 0 of each kept doc is present and ids are dense from 0
    for parent in list(by_parent)[:5]:
        ids = sorted(
            int(r.url.split("#")[1]) for r in rows if r.parent_url == parent
        )
        assert ids == list(range(len(ids)))


def test_training_prep_bpe_tokenizer_budgets(spark, tmp_path):
    """run_training_prep(tokenizer=...) budgets EVERYTHING in trained-BPE
    tokens: every output row's n_tokens equals the sum of per-word costs
    under the trained vocab (open-vocab fallback included), differs from
    the whitespace count, and chunk windows follow the cost-prefix law."""
    from readability_php_spark.operators.bpe import bpe_train
    from readability_php_spark.plans.training_pipeline import run_training_prep

    pages = documents_corpus_df(spark, SF).filter(F.col("doc_id") < 40).select(
        "url", "html"
    )
    plain_dir = str(tmp_path / "plain")
    bpe_dir = str(tmp_path / "bpe")
    run_training_prep(
        spark, pages, plain_dir, min_tokens=10, pack_budget=120, fuzzy=False,
    )
    # the documented workflow: train the tokenizer on prior prep output
    corpus = spark.read.parquet(plain_dir).select("text")
    tok = bpe_train(corpus, merges=10, min_pair_count=2)
    res = run_training_prep(
        spark, pages, bpe_dir, min_tokens=10, pack_budget=120, fuzzy=False,
        chunk_max_tokens=40, tokenizer=tok,
    )
    assert res.docs_final > 0
    out = spark.read.parquet(bpe_dir).collect()
    vocab = {r.word: len(r.syms) for r in tok[1].collect()}

    def cost(w):
        return vocab.get(w, len(w) + 1)

    # n_tokens IS the BPE cost of the row's text — for every row
    for r in out:
        assert r.n_tokens == sum(cost(w) for w in r.text.split()), r.url
    # and BPE costing is actually in effect (≠ whitespace counts)
    assert any(r.n_tokens != len(r.text.split()) for r in out)
    # chunk windows: replay the cost-prefix law on one multi-chunk parent
    multi = {}
    for r in out:
        multi.setdefault(r.parent_url, []).append(r)
    parent, chunks = next(
        (p, rs) for p, rs in multi.items() if len(rs) > 1
    )
    chunks.sort(key=lambda r: int(r.url.split("#")[1]))
    words = [w for r in chunks for w in r.text.split()]
    prefix, expect = 0, {}
    for w in words:
        expect.setdefault(prefix // 40, []).append(w)
        prefix += cost(w)
    got_ids = [int(r.url.split("#")[1]) for r in chunks]
    assert got_ids == sorted(expect)
    assert [r.text.split() for r in chunks] == [
        expect[k] for k in sorted(expect)
    ]
    # guards: stride has no meaning in cost space; malformed tokenizer
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stride"):
        run_training_prep(
            spark, pages, str(tmp_path / "x"), tokenizer=tok,
            chunk_max_tokens=40, chunk_stride=30,
        )
    with _pytest.raises(ValueError, match="merge_table"):
        run_training_prep(
            spark, pages, str(tmp_path / "y"), tokenizer=(tok[0],),
        )


def test_contamination_flags(spark):
    from readability_php_spark.operators.dedup import contamination_flags

    phrase = "one two three four five six seven eight"
    rows = [
        (1, f"prefix words {phrase} suffix words here"),  # carries the 8-gram
        (2, "completely different text with no overlap at all whatsoever"),
        (3, f"{phrase}"),                                  # exactly the 8-gram
        (4, "one two three four five six seven different"),  # 7-gram only
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(f"benchmark q: {phrase}",)], "text string")
    out = {r.doc_id: r for r in contamination_flags(docs, bench, n=8).collect()}
    assert out[1].contaminated and out[3].contaminated
    assert not out[2].contaminated and not out[4].contaminated
    assert out[3].n_hits == 1


def test_line_dedup_semantics(spark):
    from readability_php_spark.operators.dedup import line_dedup

    rows = [
        (1, "boiler\nalpha one\nboiler2"),
        (2, "boiler\nbeta two\nboiler2"),
        (3, "gamma\ngamma\nunique three"),   # within-doc repeat also dies
        (4, "boiler\nboiler2"),              # all lines shared -> empty doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df, min_count=2).collect()}
    assert len(out) == 4  # no doc disappears
    assert out[1].text_clean == "alpha one" and out[1].n_lines_removed == 2
    assert out[2].text_clean == "beta two"
    assert out[3].text_clean == "unique three" and out[3].n_lines_removed == 2
    assert out[4].text_clean == "" and out[4].n_lines == 2


def test_repetition_signals_values(spark):
    from readability_php_spark.operators.text_analysis import repetition_signals

    rows = [
        (1, "a b a b a b"),        # bigrams: 'a b'x3,'b a'x2 -> top 3/5; words 2/6 distinct
        (2, "x\nx\ny"),            # 3 lines, 2 distinct -> dup_line 1-2/3
        (3, "all words differ ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert out[1].top_bigram_frac == 0.6
    assert out[1].dup_word_frac == round(1 - 2 / 6, 4)
    assert out[2].dup_line_frac == round(1 - 2 / 3, 4)
    assert out[3].dup_word_frac == 0.0 and out[3].dup_line_frac == 0.0


def test_scrub_pii(spark):
    from readability_php_spark.operators.scrub import scrub_pii

    rows = [
        (1, "mail me at a.b+c@test-site.co.uk or 192.168.0.1 thanks"),
        (2, "no pii here at all"),
        (3, "double x@y.io z@w.ai and 10.0.0.1 10.0.0.2"),
        (4, "ip-lookalike inside email: u@10.0.0.1.example.com only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert out[1].n_emails == 1 and out[1].n_ipv4 == 1
    assert "<EMAIL>" in out[1].scrubbed and "<IP>" in out[1].scrubbed
    assert "192.168" not in out[1].scrubbed
    assert out[2].n_emails == 0 and out[2].n_ipv4 == 0
    assert out[2].scrubbed == rows[1][1]
    assert out[3].n_emails == 2 and out[3].n_ipv4 == 2
    # the address inside the email's domain is redacted as part of the
    # email, not double-counted as an IP
    assert out[4].n_emails == 1 and out[4].n_ipv4 == 0


def test_pack_documents_invariants(spark):
    from readability_php_spark.operators.packing import pack_documents, pack_stats

    docs = load_table(spark, SF, "documents").select("lang", "doc_id", "n_chars")
    packed = pack_documents(docs, budget=20_000, group_cols=("lang",),
                            tokens_col="n_chars")
    assert packed.count() == docs.count()  # every doc lands in a pack
    stats = pack_stats(packed.withColumnRenamed("n_chars", "n_tokens"), 20_000)
    rows = stats.collect()
    # a pack only exceeds the budget by (at most) its final doc's tail —
    # never by a whole extra document
    for r in rows:
        assert r.tokens < 20_000 * 2
    # pack ids are contiguous from 0 within each group
    for lang_row in stats.groupBy("lang").agg(
        F.min("pack_id").alias("lo"), F.max("pack_id").alias("hi"),
        F.count("*").alias("n")).collect():
        assert lang_row.lo == 0 and lang_row.n == lang_row.hi + 1


def test_hash_split_stable_disjoint_proportional(spark):
    from readability_php_spark.operators.sampling import hash_sample, hash_split

    docs = load_table(spark, SF, "documents").select(
        "doc_id", F.concat(F.lit("u://"), F.col("doc_id").cast("string")).alias("url")
    )
    out = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="url")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = sum(counts.values())
    assert n == docs.count()  # total conservation (disjoint + exhaustive)
    assert 0.7 < counts["train"] / n < 0.9
    # stability: identical assignment on a second run
    out2 = {r.doc_id: r.split for r in hash_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="url").collect()}
    assert {r.doc_id: r.split for r in out.collect()} == out2
    # sampling: rate respected within tolerance, subset semantics by content
    s = hash_sample(docs, 0.25, key_col="url")
    assert 0.15 < s.count() / n < 0.35


def test_embedding_near_dups_mega_bucket_salted(spark):
    """Degenerate all-same-sign corpus: every vector lands in ONE sign-bit
    bucket (more bits can't split it).  The salt guard must engage, the job
    must complete without one quadratic task, and the pair set must be
    identical to the unsalted join."""
    from readability_php_spark.operators.similarity import embedding_near_dups

    rows = [(i, [1.0 + 0.001 * i, 2.0, 3.0, 4.0, 0.5 * (i % 7)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    salted = embedding_near_dups(emb, threshold=0.99, bits=4, max_bucket_rows=10)
    plain = embedding_near_dups(emb, threshold=0.99, bits=4, max_bucket_rows=10**9)
    got = {(r.id_a, r.id_b, r.cos_sim) for r in salted.collect()}
    want = {(r.id_a, r.id_b, r.cos_sim) for r in plain.collect()}
    assert got == want and len(want) > 0
    # the salted plan really does fan the a-side out s ways
    assert "explode" in salted._jdf.queryExecution().executedPlan().toString().lower()


def test_composite_render_column(spark):
    """S6 at the DataFrame level: rendered = <h1>{title}</h1>{content_html}."""
    from readability_php_spark.operators.extract import composite_render

    pages = spark.createDataFrame(
        [("http://x/1",
          b"<html><head><title>T - S</title></head><body><div><p>"
          + b"Real article sentence, with commas, goes here. " * 30
          + b"</p></div></body></html>")],
        "url string, html binary",
    )
    row = composite_render(extract_operator(pages, CFG)).first()
    assert row.rendered == f"<h1>{row.title}</h1>{row.content_html}"
    assert row.rendered.startswith("<h1>")


def test_pipeline_resume_without_manifest(spark, tmp_path):
    """Crash between the FIRST data append and the FIRST manifest append:
    data committed, no manifest file at all.  The rerun must still not
    duplicate the committed rows (anti-join is gated on output existence,
    not on the manifest)."""
    out_dir = str(tmp_path / "out3")
    manifest_path = out_dir + "_manifest"
    pages = generated_pages_df(spark)
    run_extract_job(spark, pages, out_dir, num_buckets=8, config=CFG)
    shutil.rmtree(manifest_path)  # the crash: manifest never landed
    res = run_extract_job(spark, pages, out_dir, num_buckets=8, config=CFG)
    assert res.buckets_skipped == 0  # no manifest -> nothing skippable
    assert spark.read.parquet(out_dir).count() == GEN_DOCS
    assert spark.read.parquet(out_dir).select("url").distinct().count() == GEN_DOCS
    # manifest rebuilt, and its doc counts cover the committed rows exactly
    m = spark.read.parquet(manifest_path)
    assert m.select("part_id").distinct().count() == 8
    assert m.agg(F.sum("docs")).first()[0] == GEN_DOCS


def _write_stage_tasks(spark, monkeypatch, job):
    """Run ``job()`` with each ``DataFrameWriter.parquet`` call (one per
    wave) under its own job group; return ``job()``'s result and the task
    count of each call's write stage — the result stage of the call's
    last job."""
    import uuid

    from pyspark.sql.readwriter import DataFrameWriter

    sc = spark.sparkContext
    groups = []
    real = DataFrameWriter.parquet

    def grouped(self, *args, **kwargs):
        groups.append(f"layout-write-{uuid.uuid4().hex}")
        sc.setJobGroup(groups[-1], "extract wave write")
        try:
            return real(self, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(DataFrameWriter, "parquet", grouped)
    result = job()
    tracker = sc.statusTracker()
    tasks = []
    for g in groups:
        last_job = max(tracker.getJobIdsForGroup(g))
        write_stage = max(tracker.getJobInfo(last_job).stageIds)
        tasks.append(tracker.getStageInfo(write_stage).numTasks)
    return result, tasks


@pytest.mark.parametrize(
    "num_buckets,files_per_bucket,waves,resume_gaps",
    [(16, None, 1, False), (2, 3, 1, False), (8, 2, 2, False), (8, 3, 1, True)],
    ids=["16-buckets-default-fpb", "2-buckets-fpb3", "8-buckets-fpb2-2-waves",
         "resume-with-gaps"],
)
def test_pipeline_write_layout_one_task_per_core(
    spark, tmp_path, monkeypatch, num_buckets, files_per_bucket, waves,
    resume_gaps,
):
    """The pre-write repartition deals each wave's (bucket, salt) writer
    keys over at most one task per core: every wave's write stage runs at
    most defaultParallelism tasks, every bucket directory holds at most
    files_per_bucket files, and the manifest counts every doc once —
    also on a resume whose wave skips done buckets."""
    from readability_php_spark.plans.pipeline import with_bucket

    cores = spark.sparkContext.defaultParallelism
    out_dir = str(tmp_path / "layout_out")
    manifest_path = out_dir + "_manifest"
    pages = generated_pages_df(spark)
    kw = dict(num_buckets=num_buckets, files_per_bucket=files_per_bucket,
              waves=waves, config=CFG)
    if resume_gaps:
        # a first run commits buckets 1, 3, 4, 6 only, so the resumed wave
        # is [0, 2, 5, 7]: bucket positions in the wave, not ids, key it
        done = [1, 3, 4, 6]
        first = (
            with_bucket(pages, num_buckets)
            .filter(F.col("part_id").isin(done))
            .drop("part_id")
        )
        run_extract_job(spark, first, out_dir, **kw)
        m = spark.read.parquet(manifest_path)
        kept = m.filter(F.col("part_id").isin(done)).collect()
        shutil.rmtree(manifest_path)
        spark.createDataFrame(kept, m.schema).write.parquet(manifest_path)
    res, tasks = _write_stage_tasks(
        spark, monkeypatch, lambda: run_extract_job(spark, pages, out_dir, **kw)
    )
    if resume_gaps:
        assert res.buckets_skipped == 4 and res.buckets_done == 4
    assert res.waves_run == waves and len(tasks) == waves
    assert all(0 < t <= cores for t in tasks), tasks
    in_wave = num_buckets // waves - (4 if resume_gaps else 0)
    fpb = files_per_bucket or max(1, cores // in_wave)
    for d in os.listdir(out_dir):
        if d.startswith("part_id="):
            files = [f for f in os.listdir(os.path.join(out_dir, d))
                     if f.endswith(".parquet")]
            assert 0 < len(files) <= fpb, (d, files)
    m = spark.read.parquet(manifest_path)
    assert m.agg(F.sum("docs")).first()[0] == GEN_DOCS
    assert m.select("part_id").distinct().count() == num_buckets
    assert spark.read.parquet(out_dir).count() == GEN_DOCS


def test_pipeline_output_partitioned_by_bucket(spark, tmp_path):
    """Output layout is partitionBy(part_id): per-wave metric read-back and
    resume anti-joins prune to the wave's own directories instead of
    rescanning the full accumulated output."""
    out_dir = str(tmp_path / "out4")
    pages = generated_pages_df(spark)
    run_extract_job(spark, pages, out_dir, num_buckets=4, config=CFG, waves=4)
    subdirs = {d for d in os.listdir(out_dir) if d.startswith("part_id=")}
    assert subdirs == {f"part_id={b}" for b in range(4)}
    # partition pruning: the bucket filter lands in PartitionFilters (scans
    # only the matching directories), not in post-scan DataFilters
    plan = (
        spark.read.parquet(out_dir)
        .filter(F.col("part_id").isin([1, 2]))
        .select("url")
        ._jdf.queryExecution().executedPlan().toString()
    )
    pf_lines = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
    assert pf_lines, plan
    pf = pf_lines[0].split("PartitionFilters")[1].split("]")[0]
    assert "part_id" in pf and "IN (1,2)" in pf, pf


def test_resume_probes_treat_empty_dirs_as_absent(spark, tmp_path):
    """An existing-but-dataless dir (what a crashed first append or a
    fully-filtered run leaves: _SUCCESS only) must read as 'no committed
    output' for every resume probe, not crash the resumable job."""
    from readability_php_spark.plans.pipeline import _try_read_parquet

    empty = tmp_path / "empty_out"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    assert _try_read_parquet(spark, str(empty)) is None
    # end-to-end: a filter matching zero rows creates the empty-output
    # state; the rerun must resume cleanly instead of aborting
    pages = generated_pages_df(spark).withColumn("lang", F.lit("en"))
    out_dir = str(tmp_path / "zero_out")
    res1 = run_extract_job(
        spark, pages, out_dir, num_buckets=4, config=CFG,
        lang_filter="xx", snapshots=False,
    )
    res2 = run_extract_job(
        spark, pages, out_dir, num_buckets=4, config=CFG,
        lang_filter="xx", snapshots=False,
    )
    # zero-row buckets still got manifest rows, so the rerun skips them
    assert res1.buckets_done == 4 and res2.buckets_skipped == 4
    m = spark.read.parquet(res1.manifest_path)
    assert m.count() == 4 and m.agg(F.sum("docs")).first()[0] == 0


def test_resume_after_compact_vacuum_no_duplicates(spark, tmp_path):
    """Compact → vacuum leaves some buckets' live rows only under the
    _compacted staging dir, which a raw directory read skips.  A resume
    after that maintenance must still see those urls as committed — NOT
    re-extract them and duplicate rows in the next snapshot (round-4
    ADVICE finding)."""
    from readability_php_spark.plans.snapshots import (
        compact_snapshots,
        read_snapshot,
        vacuum_snapshots,
    )

    out_dir = str(tmp_path / "rv_out")
    pages = generated_pages_df(spark)
    run_extract_job(
        spark, pages, out_dir, num_buckets=2, config=CFG, files_per_bucket=3
    )
    sid = compact_snapshots(spark, out_dir, target_file_bytes=1 << 30)
    with pytest.warns(UserWarning, match="raw directory read"):
        vacuum_snapshots(spark, out_dir, retain_from=sid)
    # maintenance done: raw view is incomplete by design (here: fully
    # vacuumed — every bucket compacted, so no raw data files remain at
    # all), snapshot view is full
    from readability_php_spark.plans.pipeline import _try_read_parquet

    raw = _try_read_parquet(spark, out_dir)
    assert raw is None or raw.count() < GEN_DOCS
    assert read_snapshot(spark, out_dir).count() == GEN_DOCS
    # resume with a FRESH manifest (simulating a crash-window rerun where
    # manifest state was lost): committed-rows anti-join must cover the
    # vacuumed buckets via the snapshot log, so nothing is re-extracted
    res = run_extract_job(
        spark, pages, out_dir, num_buckets=2, config=CFG,
        manifest_path=str(tmp_path / "m_fresh"),
    )
    assert read_snapshot(spark, out_dir).count() == GEN_DOCS  # no dupes
    assert res.last_snapshot_id == sid  # nothing new → log max reported


def test_resume_metrics_compact_before_vacuum_not_doubled(spark, tmp_path):
    """In the window between compact and vacuum, the raw directory still
    holds the files compaction rewrote into _compacted, so the metrics
    read-back (raw ∪ staged) sees each live url twice.  A resumed bucket's
    manifest docs/bytes must still count live rows ONCE (round-6 review
    finding; data itself was always exactly-once)."""
    from readability_php_spark.plans.snapshots import (
        compact_snapshots,
        read_snapshot,
    )

    out_dir = str(tmp_path / "cm_out")
    pages = generated_pages_df(spark)
    run_extract_job(
        spark, pages, out_dir, num_buckets=2, config=CFG, files_per_bucket=3
    )
    compact_snapshots(spark, out_dir, target_file_bytes=1 << 30)
    # NO vacuum: every row now exists in raw AND _compacted files.
    # Resume with a fresh manifest (the crash-window rerun) — the
    # anti-join appends nothing, metrics re-derive from the read-back.
    res = run_extract_job(
        spark, pages, out_dir, num_buckets=2, config=CFG,
        manifest_path=str(tmp_path / "m_fresh"),
    )
    assert read_snapshot(spark, out_dir).count() == GEN_DOCS  # data exactly-once
    m = spark.read.parquet(res.manifest_path)
    assert m.agg(F.sum("docs")).first()[0] == GEN_DOCS  # counted once, not twice
    bytes_in = m.agg(F.sum("bytes_in")).first()[0]
    direct = read_snapshot(spark, out_dir).agg(F.sum("html_bytes")).first()[0]
    assert bytes_in == direct


def test_extract_job_snapshot_id_contract(spark, tmp_path):
    """last_snapshot_id: non-None ⇔ a snapshot exists that read_snapshot
    accepts.  A fully-filtered fresh run (no files ever committed) must
    report None even with snapshots enabled; an all-skipped resume must
    report the pre-existing log's max id."""
    pages = generated_pages_df(spark).withColumn("lang", F.lit("en"))
    out_dir = str(tmp_path / "c_out")
    res = run_extract_job(
        spark, pages, out_dir, num_buckets=2, config=CFG, lang_filter="xx"
    )
    assert res.last_snapshot_id is None  # enabled but nothing committed
    out2 = str(tmp_path / "c_out2")
    r1 = run_extract_job(spark, pages, out2, num_buckets=2, config=CFG)
    r2 = run_extract_job(spark, pages, out2, num_buckets=2, config=CFG)
    assert r1.last_snapshot_id == 1
    assert r2.buckets_skipped == 2 and r2.last_snapshot_id == 1


def test_snapshot_unknown_id_rejected(spark, tmp_path):
    from readability_php_spark.plans.snapshots import diff_snapshots, read_snapshot

    out_dir = str(tmp_path / "sv_out")
    pages = generated_pages_df(spark)
    run_extract_job(spark, pages, out_dir, num_buckets=2, config=CFG)
    with pytest.raises(ValueError, match="unknown snapshot_id"):
        read_snapshot(spark, out_dir, 500)
    with pytest.raises(ValueError, match="unknown snapshot range"):
        diff_snapshots(spark, out_dir, 0, 500)


def test_pdf_malformed_octal_and_warc_bad_length():
    from readability_php_spark.sources.pdf import _decode_pdf_string
    from readability_php_spark.sources.warc import iter_warc_records

    # \8 and \9 are invalid octal: must not raise, backslash dropped
    assert _decode_pdf_string(b"a\\8b") == "a8b"
    assert _decode_pdf_string(b"a\\101b") == "aAb"  # valid octal still works
    assert _decode_pdf_string(b"a\\779") == "a" + chr(0o77) + "9"
    # malformed Content-Length stops the archive at the last good record
    # instead of raising or fabricating records out of payload bytes
    good = (b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 2\r\n"
            b"\r\nhi\r\n\r\n")
    bad = (b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 12ab\r\n"
           b"\r\nWARC/1.0 fake embedded\r\n\r\n")
    recs = list(iter_warc_records(good + bad))
    assert len(recs) == 1 and recs[0][1] == b"hi"


def test_null_text_discipline(spark):
    """NULL text (failed extractions carried forward) must never silently
    delete or miscount rows: exact_dedup passes null rows through as their
    own keepers, line_dedup treats them as empty docs, token_count counts
    0 (not -1), analyze scores them like empty documents, and a corrupt
    PNG payload lands in the error column instead of killing the task."""
    from readability_php_spark.operators.dedup import exact_dedup, line_dedup
    from readability_php_spark.operators.multimodal import (
        encode_png,
        extract_media_features,
    )
    from readability_php_spark.operators.text_analysis import analyze, token_count

    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, None), (4, None), (5, "solo")],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in exact_dedup(docs).collect()}
    # dup pair collapses to keeper 1; BOTH null docs survive independently
    assert kept == {1, 3, 4, 5}
    ld = {r.id if hasattr(r, "id") else r.doc_id: r
          for r in line_dedup(docs, min_count=2).collect()}
    assert set(ld) == {1, 2, 3, 4, 5}  # no row vanishes
    assert ld[3].text_clean == "" and ld[3].n_lines >= 0
    tc = docs.select("doc_id", token_count(F.col("text")).alias("n")).collect()
    assert {r.doc_id: r.n for r in tc}[3] == 0
    an = {r.doc_id: r for r in analyze(docs).collect()}
    assert an[3].n_tokens == 0 and an[3].n_bpe_tokens == 0
    assert an[3].quality < 0.5  # empty doc must not score like real text
    # corrupt IDAT: zlib.error must become decode_error, not a task kill
    good = encode_png(2, 2, bytes(12), color_type=2)
    idat = good.index(b"IDAT")
    corrupt = good[: idat + 8] + b"\x00" * 8 + good[idat + 16 :]
    media = spark.createDataFrame(
        [(1, "image", bytearray(corrupt))],
        "media_id long, kind string, payload binary",
    )
    row = extract_media_features(media, fake_decode=False).collect()[0]
    assert row.error is not None and row.error.startswith("decode_error")


def test_snapshot_path_scheme_routing():
    """Scheme-without-authority Hadoop URIs (hdfs:/warehouse/t — a valid
    spelling Hadoop normalizes to the default FS) must route to the
    Hadoop FS branch, not the os.* local branch (which would read an
    empty log and append to a literal './hdfs:' directory)."""
    from readability_php_spark.plans.snapshots import _is_local, _local

    assert _is_local("/tmp/out")
    assert _is_local("relative/dir")
    assert _is_local("file:///tmp/out")
    assert _is_local("file:/tmp/out")
    assert _is_local("File:/tmp/out")
    # a colon-bearing local FILENAME is not a URI (no slash after scheme)
    assert _is_local("backup:2024.parquet")
    assert not _is_local("hdfs://nn:8020/warehouse/t")
    assert not _is_local("hdfs:/warehouse/t")
    assert not _is_local("s3a://bucket/prefix")
    assert not _is_local("s3a:/bucket/prefix")
    # Windows drive letters are paths, not single-letter URI schemes
    # (Hadoop's Path.hasWindowsDrive rule: schemes are >= 2 chars)
    assert _is_local("C:/data/out")
    assert _is_local("c:/data/out")
    assert _local("file:///tmp/out") == "/tmp/out"
    assert _local("file:/tmp/out") == "/tmp/out"


def test_snapshot_log_time_travel(spark, tmp_path):
    """Iceberg-pattern snapshot log: each wave commit appends a file
    manifest; read_snapshot pins an as-of view that later waves and even
    whole rerun appends cannot perturb."""
    from readability_php_spark.plans.snapshots import read_snapshot, snapshots

    out_dir = str(tmp_path / "snap_out")
    pages = generated_pages_df(spark)
    res = run_extract_job(
        spark, pages, out_dir, num_buckets=4, config=CFG, waves=2
    )
    # two waves -> two snapshots, all adds
    hist = snapshots(spark, out_dir).collect()
    assert [r.snapshot_id for r in hist] == [1, 2]
    assert all(r.adds > 0 and r.removes == 0 for r in hist)
    assert res.last_snapshot_id == 2
    s1 = read_snapshot(spark, out_dir, 1)
    s2 = read_snapshot(spark, out_dir, 2)
    n1, n2 = s1.count(), s2.count()
    assert 0 < n1 < n2 == GEN_DOCS
    # snapshot 1 covers exactly wave 1's buckets
    assert {r.part_id for r in s1.select("part_id").distinct().collect()} == {0, 1}
    # a second full run APPENDS duplicates (resume off, fresh manifest) —
    # pinned readers must not see them, the latest snapshot must
    run_extract_job(
        spark, pages, out_dir, num_buckets=4, config=CFG,
        resume=False, manifest_path=str(tmp_path / "m2"),
    )
    assert spark.read.parquet(out_dir).count() == 2 * GEN_DOCS  # raw table: dupes
    assert read_snapshot(spark, out_dir, 2).count() == GEN_DOCS  # pinned: isolated
    latest = read_snapshot(spark, out_dir)
    assert latest.count() == 2 * GEN_DOCS
    # as-of rows are the real extraction output (schema + content intact)
    assert s2.filter(F.col("extracted_text").isNotNull()).count() > 0


def test_commit_snapshot_driver_side_metadata_only(spark, tmp_path, monkeypatch):
    """The scale property behind flat per-wave commit cost (round-4
    verdict findings 2-3): for local tables, commit_snapshot and the log
    read-back are pure driver-side metadata ops — os.scandir + pyarrow —
    with ZERO Spark jobs and ZERO py4j round-trips.  Proven by making
    every JVM entry point explode for the duration."""
    from readability_php_spark.plans import snapshots as snap

    out = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, i % 2) for i in range(20)], "doc_id long, part_id int"
    ).coalesce(1).write.partitionBy("part_id").parquet(out)

    def _boom(*_a, **_k):
        raise AssertionError("commit_snapshot touched the JVM")

    monkeypatch.setattr(snap, "_fs", _boom)
    sid = snap.commit_snapshot(spark, out, [0, 1])
    assert sid == 1
    # idempotent re-commit (no new files) is also JVM-free
    assert snap.commit_snapshot(spark, out, [0, 1]) == 1
    rows = snap._read_log_rows(spark, out)
    assert rows and all(r["op"] == "add" for r in rows)
    monkeypatch.undo()
    assert snap.read_snapshot(spark, out, 1).count() == 20


def test_snapshot_diff_change_feed(spark, tmp_path):
    """diff_snapshots: wave-to-wave diff yields exactly the new wave's
    rows as 'added'; a pure compaction diffs to zero rows (rewrite noise
    cancelled at the key level)."""
    from readability_php_spark.plans.snapshots import (
        compact_snapshots,
        diff_snapshots,
        read_snapshot,
    )

    out_dir = str(tmp_path / "diff_out")
    pages = generated_pages_df(spark)
    run_extract_job(
        spark, pages, out_dir, num_buckets=4, config=CFG, waves=2,
        files_per_bucket=2,
    )
    s1 = {r.url for r in read_snapshot(spark, out_dir, 1).select("url").collect()}
    s2 = {r.url for r in read_snapshot(spark, out_dir, 2).select("url").collect()}
    d = diff_snapshots(spark, out_dir, 1, 2)
    got = {(r.url, r.change) for r in d.select("url", "change").collect()}
    assert got == {(u, "added") for u in s2 - s1}
    # compaction: files change, rows don't -> empty diff
    sid = compact_snapshots(spark, out_dir, target_file_bytes=1 << 30)
    assert sid == 3
    assert diff_snapshots(spark, out_dir, 2, 3).count() == 0


def test_snapshot_compaction_and_vacuum(spark, tmp_path):
    """Compaction rewrites a bucket's many small files into few large ones
    under a NEW snapshot; pre-compaction snapshots stay readable until
    vacuum expires them; the compacted view is row-identical."""
    from readability_php_spark.plans.snapshots import (
        compact_snapshots,
        read_snapshot,
        snapshots,
        vacuum_snapshots,
    )

    out_dir = str(tmp_path / "comp_out")
    pages = generated_pages_df(spark)
    # files_per_bucket=4 -> many small files per bucket, the compaction case
    run_extract_job(
        spark, pages, out_dir, num_buckets=2, config=CFG, files_per_bucket=4
    )
    before = {
        (r.url, r.part_id) for r in read_snapshot(spark, out_dir).collect()
    }
    n_files_before = sum(
        1 for _, dirs, files in os.walk(out_dir) for f in files
        if f.endswith(".parquet")
    )
    sid = compact_snapshots(spark, out_dir, target_file_bytes=1 << 30)
    hist = {r.snapshot_id: r for r in snapshots(spark, out_dir).collect()}
    assert sid in hist and hist[sid].removes > 0
    # compacted view: identical rows, fewer live files
    after = {
        (r.url, r.part_id) for r in read_snapshot(spark, out_dir, sid).collect()
    }
    assert after == before
    assert hist[sid].adds < hist[sid].removes
    # pre-compaction snapshot still readable (old files retained on disk)
    assert {
        (r.url, r.part_id) for r in read_snapshot(spark, out_dir, 1).collect()
    } == before
    # vacuum at the compaction snapshot: dead pre-compaction files deleted,
    # latest snapshot still intact, old snapshot now physically expired
    n_deleted = vacuum_snapshots(spark, out_dir, retain_from=sid)
    assert n_deleted > 0
    assert {
        (r.url, r.part_id) for r in read_snapshot(spark, out_dir, sid).collect()
    } == before
    n_files_after = sum(
        1 for _, dirs, files in os.walk(out_dir) for f in files
        if f.endswith(".parquet")
    )
    assert n_files_after < n_files_before


def test_exact_dedup_keeps_representative(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(50)
    dupes = docs.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    kept = exact_dedup(docs.unionByName(dupes))
    assert kept.count() == 50
    assert kept.agg(F.max("doc_id")).first()[0] < 1000


def test_minhash_lsh_finds_identical_docs(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 30
    )
    dupes = docs.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    cands = minhash_lsh_candidates(docs.unionByName(dupes), num_hashes=8, bands=2)
    pairs = {(r.doc_a, r.doc_b) for r in cands.collect()}
    for i in range(30):
        assert (i, i + 1000) in pairs, f"identical pair ({i},{i+1000}) missed"


def test_cosine_topk_self_similarity_excluded(spark):
    emb = load_table(spark, SF, "embeddings")
    top = cosine_topk(emb, [0], k=5).collect()
    assert len(top) == 5
    assert all(r.neighbor_id != 0 for r in top)
    sims = [r.cos_sim for r in top]
    assert sims == sorted(sims, reverse=True)


def test_ann_subset_of_bucket(spark):
    emb = load_table(spark, SF, "embeddings")
    res = ann_topk(emb, [0, 1], k=5, bits=4)
    assert res.count() > 0


def test_media_features_deterministic(spark):
    docs = load_table(spark, SF, "documents").limit(10)
    media = synthetic_media_df(spark, docs)
    feats = extract_media_features(media).collect()
    assert len(feats) == 10
    for r in feats:
        assert len(r.features) == 8
        assert abs(sum(r.features) - 1.0) < 0.01 or r.n_bytes == 0
        if r.kind == "image":
            assert r.width is not None  # fake decode path
    # determinism
    feats2 = extract_media_features(media).collect()
    assert {r.media_id: r.fingerprint for r in feats} == {r.media_id: r.fingerprint for r in feats2}


def test_streaming_extract_available_now(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    documents_corpus_df(spark, SF).filter(F.col("doc_id") < 12).select(
        "url", "warc_ts", "html", "text", "lang"
    ).repartition(3).write.parquet(src)
    q = run_stream_to_parquet(spark, src, out, ckpt, CFG)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 12
    assert got.filter(F.col("error").isNotNull()).count() == 0


def test_streaming_rollup_plan_is_streaming(spark, tmp_path):
    src = str(tmp_path / "roll_src")
    documents_corpus_df(spark, SF).filter(F.col("doc_id") < 3).select(
        "url", "warc_ts", "html", "text", "lang"
    ).write.parquet(src)
    stream = read_page_stream(spark, src)
    rollup = streaming_quality_rollup(stream, CFG)
    assert rollup.isStreaming
    cols = set(rollup.columns)
    assert {"w", "lang", "docs", "errors"} <= cols


def test_resume_refuses_bucketing_change(spark, tmp_path):
    out_dir = str(tmp_path / "out3")
    pages = generated_pages_df(spark)
    run_extract_job(spark, pages, out_dir, num_buckets=16, config=CFG)
    with pytest.raises(ValueError, match="num_buckets"):
        run_extract_job(spark, pages, out_dir, num_buckets=8, config=CFG)


def test_stateful_sessionize(spark, tmp_path):
    from readability_php_spark.streaming.sessions import sessionize

    src = str(tmp_path / "events_src")
    load_table(spark, SF, "events").select("user_id", "ts", "value").write.parquet(src)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .parquet(src)
    )
    sessions = sessionize(stream, gap_seconds=1800)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from sessions_out")
    n_users = load_table(spark, SF, "events").select("user_id").distinct().count()
    got_users = out.select("user_id").distinct().count()
    assert got_users == n_users
    # per-user event conservation: closed-gap sessions + final open session
    agg = out.groupBy("user_id").agg(F.sum("events").alias("n"))
    truth = load_table(spark, SF, "events").groupBy("user_id").count()
    j = agg.join(truth, "user_id").filter(F.col("n") != F.col("count"))
    assert j.count() == 0, j.limit(5).collect()
    # sessions respect the gap: start <= end everywhere
    assert out.filter(F.col("session_start") > F.col("session_end")).count() == 0
    # drained stream == batch twin: identical session boundaries and sizes
    # (closed sessions + the final open running view)
    from readability_php_spark.streaming.sessions import sessionize_batch

    batch = sessionize_batch(
        spark.read.schema("user_id long, ts timestamp, value double").parquet(src),
        gap_seconds=1800,
    )
    got = {(r.user_id, r.session_start, r.session_end, r.events)
           for r in out.collect()}
    want = {(r.user_id, r.session_start, r.session_end, r.events)
            for r in batch.collect()}
    assert got == want


def test_event_time_sessionize(spark, tmp_path):
    """Event-time sessionizer (append mode, watermark timeouts): in a single
    drained batch, the closed sessions are exactly the batch twin's sessions
    minus each user's final (still-open) one."""
    from readability_php_spark.streaming.sessions import (
        sessionize_batch,
        sessionize_event_time,
    )

    src = str(tmp_path / "ev_src")
    load_table(spark, SF, "events").select("user_id", "ts", "value").filter(
        F.col("user_id") < 200
    ).write.parquet(src)
    schema = "user_id long, ts timestamp, value double"
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        sessionize_event_time(stream, gap_seconds=1800)
        .writeStream.format("memory")
        .queryName("ev_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from ev_sessions")
    assert out.filter(F.col("closed") != "gap").count() == 0  # append: closed only
    got = {(r.user_id, r.session_start, r.session_end, r.events)
           for r in out.collect()}
    batch = sessionize_batch(
        spark.read.schema(schema).parquet(src), gap_seconds=1800
    ).collect()
    last_start = {}
    for r in batch:
        cur = last_start.get(r.user_id)
        if cur is None or r.session_start > cur:
            last_start[r.user_id] = r.session_start
    non_final = {(r.user_id, r.session_start, r.session_end, r.events)
                 for r in batch if r.session_start != last_start[r.user_id]}
    finals = {(r.user_id, r.session_start, r.session_end, r.events)
              for r in batch if r.session_start == last_start[r.user_id]}
    # every gap-closed (non-final) session MUST be emitted
    assert non_final <= got
    # anything beyond those must be a FINAL session that provably timed out:
    # its end + gap sits behind the final watermark (global max - delay)
    import datetime as _dt

    gmax = max(r.session_end for r in batch)
    for extra in got - non_final:
        assert extra in finals, extra
        assert extra[2] + _dt.timedelta(seconds=1800 + 3600) <= gmax + _dt.timedelta(seconds=2), extra


def test_wet_ingestion_end_to_end(spark, tmp_path):
    """WET (conversion-record) files -> pages DataFrame with text populated
    -> straight into the text operators (no HTML extraction needed)."""
    from readability_php_spark.operators.text_analysis import repetition_signals
    from readability_php_spark.sources.warc import read_wet_directory, write_wet

    docs = [
        (f"http://wet.test/{i}", f"2024-02-01T00:00:0{i}Z",
         f"doc {i} body words repeat repeat ok\nsecond line {i}")
        for i in range(6)
    ]
    wdir = tmp_path / "wets"
    wdir.mkdir()
    write_wet(str(wdir / "a.wet"), docs[:3], compress=False)
    write_wet(str(wdir / "b.wet.gz"), docs[3:], compress=True)

    df = read_wet_directory(spark, str(wdir))
    rows = df.collect()
    assert len(rows) == 6
    assert {r.url for r in rows} == {d[0] for d in docs}
    assert all(r.html is None and r.text and r.warc_ts is not None for r in rows)
    # text operators run directly on the WET text
    sig = repetition_signals(
        df.select(F.xxhash64("url").alias("doc_id"), "text")
    ).collect()
    assert len(sig) == 6 and all(r.dup_word_frac > 0 for r in sig)


def test_warc_ingestion_end_to_end(spark, tmp_path):
    """WARC files -> pages DataFrame -> extraction pipeline."""
    from readability_php_spark.sources.warc import read_warc_directory, write_warc

    pages = [
        (r.url, f"2024-01-01T00:00:0{i}Z", bytes(r.html))
        for i, r in enumerate(generated_pages_df(spark, n=4).collect())
    ]
    wdir = tmp_path / "warcs"
    wdir.mkdir()
    write_warc(str(wdir / "a.warc"), pages[:2], compress=False)
    write_warc(str(wdir / "b.warc.gz"), pages[2:], compress=True)

    df = read_warc_directory(spark, str(wdir))
    rows = df.collect()
    assert len(rows) == 4
    assert {r.url for r in rows} == {p[0] for p in pages}
    assert all(r.warc_ts is not None for r in rows)

    out = extract_operator(df, CFG).collect()
    assert len(out) == 4
    assert all(r.error is None for r in out)
    by_url = {r.url: r for r in out}
    assert by_url[pages[0][0]].title is not None


def test_connected_components_transitive(spark):
    from readability_php_spark.operators.dedup import connected_components

    # triangle {1,2,3} via chain edges, a 2-node pair {10,11}, and a
    # 5-node chain {20..24}: cluster = min reachable id everywhere
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)],
        ["doc_a", "doc_b"],
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20, 24: 20}


def _make_png(width, height, pixels, color_type, filters):
    """Minimal PNG encoder (test-side twin of decode_png): applies the
    given per-row filter types forward so the decoder must invert them."""
    import struct
    import zlib as _zlib

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = width * channels

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line = pixels[y * stride : (y + 1) * stride]
        f = filters[y % len(filters)]
        raw.append(f)
        for i in range(stride):
            left = line[i - channels] if i >= channels else 0
            up = prev[i]
            ul = prev[i - channels] if i >= channels else 0
            if f == 0:
                v = line[i]
            elif f == 1:
                v = line[i] - left
            elif f == 2:
                v = line[i] - up
            elif f == 3:
                v = line[i] - ((left + up) >> 1)
            else:
                v = line[i] - paeth(left, up, ul)
            raw.append(v & 0xFF)
        prev = line

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", _zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    )


def test_decode_png_all_filters_exact():
    """Real stdlib PNG decode: exact width/height/pixels back through every
    filter type, for RGB, RGBA, and grayscale."""
    from readability_php_spark.operators.multimodal import decode_png

    for color_type, channels in [(2, 3), (6, 4), (0, 1)]:
        w, h = 7, 10
        pixels = bytes(
            (x * 31 + y * 57 + c * 11) & 0xFF
            for y in range(h) for x in range(w) for c in range(channels)
        )
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            png = _make_png(w, h, pixels, color_type, filters)
            gw, gh, got = decode_png(png)
            assert (gw, gh) == (w, h)
            assert got == pixels, (color_type, filters)
    # pixel stats are real, not length-derived
    flat = bytes(range(12))  # 2x2 RGB gradient
    png = _make_png(2, 2, flat, 2, [4])
    _, _, px = decode_png(png)
    assert sum(px) / len(px) == sum(flat) / len(flat)


def test_decode_png_rejects_unsupported():
    import struct
    import zlib as _zlib

    from readability_php_spark.operators.multimodal import decode_image, decode_png

    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\nnot really chunks")
    # palette color type (3) unsupported
    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", _zlib.crc32(t + d) & 0xFFFFFFFF))
    bad = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)))
    with pytest.raises(ValueError):
        decode_png(bad)
    # a format with no decoder (e.g. WebP/RIFF) still raises
    # NotImplementedError without fake=; JPEG now decodes for real, so a
    # corrupt JPEG-magic payload is a ValueError instead
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF....WEBPVP8 ")
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff jpeg-ish")


def test_media_features_real_png_gif_decode(spark):
    """extract_media_features with fake_decode=False returns REAL dims for
    PNG and GIF payloads (stdlib decoders), decode_error for corrupt ones,
    and decoder_unavailable for formats with no decoder (JPEG)."""
    pixels = bytes((x * 3 + y * 5 + c) & 0xFF for y in range(9) for x in range(4) for c in range(3))
    png = _make_png(4, 9, pixels, 2, [0, 1, 2, 3, 4])
    gif = _build_gif(4, 4, [0, 0, 0, 255, 0, 0], [0, 1] * 8)
    rows = [(1, "image", bytearray(png)), (2, "image", bytearray(b"GIF89a fake")),
            (3, "audio", bytearray(b"RIFF....")), (4, "image", bytearray(gif)),
            (5, "image", bytearray(b"\xff\xd8\xff jpeg-ish"))]
    media = spark.createDataFrame(rows, "media_id long, kind string, payload binary")
    out = {r.media_id: r for r in extract_media_features(media, fake_decode=False).collect()}
    assert (out[1].width, out[1].height) == (4, 9) and out[1].error is None
    assert out[2].error.startswith("decode_error") and out[2].width is None
    assert out[3].error is None  # non-image kinds don't decode
    assert (out[4].width, out[4].height) == (4, 4) and out[4].error is None
    # JPEG magic but no SOF frame -> structural decode error, no dims
    assert out[5].error.startswith("decode_error") and out[5].width is None


def _make_jpeg_header(width, height):
    """JPEG prefix up to and including a baseline SOF0 (no entropy data —
    enough for dimension parsing, which never touches the pixel stream)."""
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    sof = (b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
           + height.to_bytes(2, "big") + width.to_bytes(2, "big")
           + b"\x03" + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01")
    return b"\xff\xd8" + app0 + sof + b"\xff\xd9"


def test_jpeg_dimensions_and_media_path(spark):
    import pytest as _pytest

    from readability_php_spark.operators.multimodal import jpeg_dimensions

    assert jpeg_dimensions(_make_jpeg_header(640, 480)) == (640, 480)
    with _pytest.raises(ValueError):
        jpeg_dimensions(b"\x89PNG")
    with _pytest.raises(ValueError):
        jpeg_dimensions(b"\xff\xd8\xff\xd9")  # EOI before any frame
    # 0xFF fill bytes before a marker are legal padding — the walk must
    # skip them, not misread 0xFF as the marker byte
    hdr = _make_jpeg_header(31, 17)
    sof_at = hdr.index(b"\xff\xc0")
    padded = hdr[:sof_at] + b"\xff\xff\xff" + hdr[sof_at:]
    assert jpeg_dimensions(padded) == (31, 17)
    media = spark.createDataFrame(
        [(1, "image", bytearray(_make_jpeg_header(99, 44)))],
        "media_id long, kind string, payload binary",
    )
    row = extract_media_features(media, fake_decode=False).collect()[0]
    # dims real from the frame header; pixel decode honestly flagged
    assert (row.width, row.height, row.error) == (99, 44, "pixels_unavailable")


def test_try_read_parquet_missing_vs_corrupt(spark, tmp_path):
    """Only PATH_NOT_FOUND maps to 'no committed output yet'; any other
    read failure must re-raise — swallowing it would silently disable the
    resume anti-join and duplicate rows on rerun."""
    from readability_php_spark.plans.pipeline import _try_read_parquet

    assert _try_read_parquet(spark, str(tmp_path / "nope")) is None
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"definitely not a parquet footer")
    with pytest.raises(Exception):
        _try_read_parquet(spark, str(bad))


def test_try_read_parquet_probes_before_reading(spark, tmp_path, monkeypatch):
    """The Hadoop-FS probe answers 'absent' without a Spark analysis; a
    dataless directory still maps to None; a glob that matches files
    reads them all, as ``spark.read`` would."""
    from pyspark.sql.readwriter import DataFrameReader

    from readability_php_spark.plans.pipeline import _try_read_parquet

    def _no_read(*_a, **_k):
        raise AssertionError("absent path reached spark.read")

    monkeypatch.setattr(DataFrameReader, "parquet", _no_read)
    assert _try_read_parquet(spark, str(tmp_path / "nope")) is None
    assert _try_read_parquet(spark, str(tmp_path / "nope-*")) is None
    monkeypatch.undo()

    empty = tmp_path / "only_success"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    assert _try_read_parquet(spark, str(empty)) is None

    for k in range(3):
        spark.range(k * 10, k * 10 + 10).write.parquet(str(tmp_path / f"t{k}"))
    got = _try_read_parquet(spark, str(tmp_path / "t*"))
    assert got is not None and got.count() == 30
    assert _try_read_parquet(spark, str(tmp_path / "t{0,2}")).count() == 20


def test_append_parquet_rows_local_and_hadoop_fs(spark, tmp_path, monkeypatch):
    """The driver-side appender (snapshot log and manifest) writes one
    visible parquet file per call through both of its branches: plain os
    I/O for local paths, and the Hadoop FS API for remote schemes — the
    latter driven here by routing a file: URI through it."""
    import pyarrow as pa

    from readability_php_spark.plans import snapshots as snap

    schema = pa.schema([("k", pa.int32()), ("v", pa.float64())])
    local_dir = str(tmp_path / "local")
    snap.append_parquet_rows(spark, local_dir, "m", [{"k": 1, "v": 0.5}], schema)
    monkeypatch.setattr(snap, "_is_local", lambda _p: False)
    hadoop_dir = "file:" + str(tmp_path / "hadoop")
    for k in (2, 3):
        snap.append_parquet_rows(spark, hadoop_dir, "m", [{"k": k, "v": 1.0}], schema)
    assert len(snap._list_dir_parquet(spark, hadoop_dir)) == 2
    monkeypatch.undo()
    for d, want in ((local_dir, [1]), (hadoop_dir, [2, 3])):
        names = os.listdir(snap._local(d))
        assert not [n for n in names if n.endswith(".inprogress")]
        got = spark.read.parquet(d)
        assert [r.k for r in got.orderBy("k").collect()] == want
        assert dict(got.dtypes) == {"k": "int", "v": "double"}


def test_manifest_types_stable_when_first_wave_is_empty(spark, tmp_path):
    """A wave whose buckets hold no committed output writes the same
    manifest column types as every other wave: here all pages hash to
    the second wave's buckets, so the first wave commits only zero rows.
    The manifest must read back whole and a resume must succeed."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        TimestampType,
    )

    from readability_php_spark.plans.pipeline import with_bucket

    pages = (
        with_bucket(generated_pages_df(spark, n=60), 64)
        .filter(F.col("part_id") >= 32)
        .drop("part_id")
    )
    n = pages.count()
    assert n > 0
    out_dir = str(tmp_path / "hi_out")
    res = run_extract_job(
        spark, pages, out_dir, num_buckets=64, config=CFG, waves=2
    )
    assert res.buckets_done == 64
    again = run_extract_job(
        spark, pages, out_dir, num_buckets=64, config=CFG, waves=2
    )
    assert again.buckets_skipped == 64
    m = spark.read.parquet(res.manifest_path)
    assert {f.name: f.dataType for f in m.schema.fields} == {
        "part_id": IntegerType(),
        "docs": LongType(),
        "bytes_in": LongType(),
        "errors": LongType(),
        "attempts_total": LongType(),
        "extract_ms_total": DoubleType(),
        "extract_ms_max": DoubleType(),
        "completed_at": TimestampType(),
        "num_buckets": IntegerType(),
        "salt_seed": IntegerType(),
    }
    rows = m.collect()  # every file, every column
    assert len(rows) == 64
    assert sum(r.docs for r in rows) == n
    assert sum(r.extract_ms_total for r in rows if r.part_id < 32) == 0.0
    assert spark.read.parquet(out_dir).count() == n


def test_pack_documents_bucketed_invariants(spark):
    """Hierarchical packing: every doc gets exactly one (bucket, pack_id);
    within each (lang, bucket) the prefix-sum // budget law holds in doc
    order — i.e. each bucket is an independent pack_documents."""
    import collections

    from readability_php_spark.operators.packing import pack_documents_bucketed

    docs = spark.createDataFrame(
        [(i, "en", 100 + (i % 37)) for i in range(200)],
        "doc_id long, lang string, n_tokens long",
    )
    rows = pack_documents_bucketed(docs, budget=500, buckets=8).collect()
    assert len(rows) == 200
    by_gb = collections.defaultdict(list)
    for r in rows:
        by_gb[(r.lang, r.bucket)].append(r)
    assert len(by_gb) == 8  # 200 hashed docs hit all 8 buckets
    for grp in by_gb.values():
        grp.sort(key=lambda r: r.doc_id)
        prefix = 0
        for r in grp:
            assert r.pack_id == prefix // 500 and not r.oversize
            prefix += r.n_tokens


def test_fuzzy_dedup_transitive_collapse(spark):
    """A ~ B ~ C near-dups collapse to the single min-id keeper even when
    (A, C) never collide directly; unrelated docs survive untouched."""
    from readability_php_spark.operators.dedup import fuzzy_dedup

    base = " ".join(f"w{i}" for i in range(60))
    rows = [
        (1, base),
        (2, base + " extra2"),            # ~A
        (3, base + " extra2 extra3"),     # ~B, slightly further from A
        (9, " ".join(f"z{i}" for i in range(60))),  # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r.doc_id for r in fuzzy_dedup(docs, threshold=0.8).collect())
    assert kept == [1, 9]
    # string ids work too (the training pipeline keys on url)
    sdocs = docs.select(F.concat(F.lit("u"), F.col("doc_id")).alias("url"), "text")
    kept_s = sorted(r.url for r in fuzzy_dedup(sdocs, id_col="url").collect())
    assert kept_s == ["u1", "u9"]


def test_fuzzy_dedup_short_docs_skip_lsh_and_survive(spark):
    """Docs with < shingle_n words have no shingles; they must (a) all
    survive (never comparable as near-dups) and (b) be excluded from LSH
    candidate generation via a cheap word-count predicate — not by
    recomputing the full shingle array as a filter (the round-4 perf
    regression: O(tokens*n) gram construction discarded after a size
    test)."""
    import inspect

    from readability_php_spark.operators import dedup as dd

    rows = [(i, "hi") for i in range(50)] + [
        (100, " ".join(f"w{j}" for j in range(60))),
        (101, " ".join(f"w{j}" for j in range(60)) + " tail"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r.doc_id for r in dd.fuzzy_dedup(docs, threshold=0.8).collect())
    # all 50 shingle-less docs survive; 100/101 collapse to min id
    assert kept == list(range(50)) + [100]
    # the LSH-input filter must not rebuild shingles for the size test
    src = inspect.getsource(dd.fuzzy_dedup)
    filter_block = src.split("lsh_in", 1)[1].split("minhash_lsh_candidates", 1)[0]
    assert "word_shingles" not in filter_block


def test_line_dedup_cap_pathological_doc(spark):
    """A pathological huge-line-count doc bypasses the reassembly buffer:
    passes through unchanged with line_capped=True, and its lines don't
    poison the global counts."""
    from readability_php_spark.operators.dedup import line_dedup

    monster = "\n".join(f"line {i % 7}" for i in range(1_000_000))
    rows = [(1, "boiler\nalpha"), (2, "boiler\nbeta"), (3, monster)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df, min_count=2, max_lines=10_000).collect()}
    assert out[3].line_capped and out[3].text_clean == monster
    assert out[3].n_lines == 1_000_000 and out[3].n_lines_removed == 0
    assert out[1].text_clean == "alpha" and not out[1].line_capped
    assert out[2].text_clean == "beta"


def test_line_dedup_regex_metachar_sep(spark):
    """A separator that is a regex metacharacter must split and rejoin on
    the same boundaries (split side is escaped)."""
    from readability_php_spark.operators.dedup import line_dedup

    rows = [(1, "boiler|alpha"), (2, "boiler|beta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df, min_count=2, sep="|").collect()}
    assert out[1].text_clean == "alpha" and out[1].n_lines == 2
    assert out[2].text_clean == "beta"


def test_ngram_jaccard_pairs_preshingles_once(spark):
    """A doc appearing in many pairs is shingled per distinct doc (per join
    side), not per pair: the shingle expressions (slice/transform over the
    word array) must sit BELOW the pair join in the optimized plan — the
    old join-text-then-shingle shape evaluated them in the post-join
    projection, once per PAIR.  Tree printout is top-down, so everything
    printed before the first Join line is above it."""
    import itertools

    from readability_php_spark.operators.dedup import ngram_jaccard_pairs

    big = " ".join(f"tok{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(i, big + f" tail{i}") for i in range(10)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        list(itertools.combinations(range(10), 2)), "doc_a long, doc_b long"
    )
    out_df = ngram_jaccard_pairs(docs, pairs)
    plan = out_df._jdf.queryExecution().optimizedPlan().toString()
    above_join = plan.split("Join", 1)[0]
    assert "slice(" not in above_join, "shingles computed above the pair join"
    out = out_df.collect()
    assert len(out) == 45 and all(r.jaccard > 0.97 for r in out)


def test_canonical_url_cases(spark):
    from readability_php_spark.operators.urls import canonical_url

    cases = [
        ("HTTP://Example.COM:80/A/b.html#frag", "http://example.com/A/b.html"),
        ("https://ex.com:443/x?utm_source=a&id=3&utm_medium=b", "https://ex.com/x?id=3"),
        ("http://ex.com/path/", "http://ex.com/path"),
        ("http://ex.com/", "http://ex.com/"),  # root slash kept
        ("http://ex.com/x?fbclid=abc", "http://ex.com/x"),
        # boundary anchoring: a DIFFERENT param that merely contains a
        # tracking name, a value containing 'gclid=', and a path segment
        # must all survive untouched (regression: unanchored regex
        # clipped inside them)
        ("http://a.com/?xutm_source=5", "http://a.com/?xutm_source=5"),
        ("http://a.com/?redirect=/p%3Fgclid=z", "http://a.com/?redirect=/p%3Fgclid=z"),
        ("http://a.com/page/utm_campaign=foo", "http://a.com/page/utm_campaign=foo"),
        ("not-a-url", "not-a-url"),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], ["url"])
    got = [r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [c[1] for c in cases]


def test_pdf_source_end_to_end(spark, tmp_path):
    """PDF files -> layout-span DataFrame (writer -> bytes -> Spark source)."""
    from readability_php_spark.sources.pdf import read_pdf_directory, write_pdf

    pdir = tmp_path / "pdfs"
    pdir.mkdir()
    write_pdf(
        str(pdir / "a.pdf"),
        [
            [(72.0, 720.0, "Title of document"), (72.0, 700.0, "Body line (one).")],
            [(72.0, 720.0, "Page two")],
        ],
    )
    write_pdf(str(pdir / "b.pdf"), [[(100.0, 650.0, "Other doc")]])
    (pdir / "junk.pdf").write_bytes(b"%PDF-1.4 not really \x00\xff")

    df = read_pdf_directory(spark, str(pdir))
    rows = df.collect()
    assert len(rows) == 4  # junk.pdf contributes zero spans, never an error
    a_rows = sorted(
        [r for r in rows if r.url.endswith("a.pdf")], key=lambda r: (r.page, -r.y)
    )
    assert [(r.page, r.x, r.y, r.text) for r in a_rows] == [
        (1, 72.0, 720.0, "Title of document"),
        (1, 72.0, 700.0, "Body line (one)."),
        (2, 72.0, 720.0, "Page two"),
    ]


def test_ivf_topk_recall_vs_bruteforce(spark):
    from readability_php_spark.operators.similarity import cosine_topk, ivf_topk

    emb = load_table(spark, SF, "embeddings")
    exact = cosine_topk(emb, [0, 1], k=5).collect()
    approx = ivf_topk(emb, [0, 1], k=5, n_centroids=8, n_probe=3).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    # approximate, but probing 3/8 cells must recover a reasonable fraction
    for q in exact_sets:
        recall = len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        assert recall >= 0.2, f"query {q} recall {recall}"
    # determinism
    approx2 = ivf_topk(emb, [0, 1], k=5, n_centroids=8, n_probe=3).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, approx2))


@pytest.mark.requires_reference
def test_fixture_corpus_spark_side_replication_identical(spark):
    """fixture_corpus_df replicates SPARK-side (89 base pages × range join
    — flat in driver memory; the old materialize-all path OOM'd a 24 GB
    driver at ×600) and must stay row-identical to the generator law:
    same urls, timestamps, bytes, langs."""
    from readability_php_spark.sources.pages import (
        fixture_corpus_df,
        fixture_corpus_rows,
    )

    got = {
        r.url: (r.warc_ts, bytes(r.html)[:64], r.text, r.lang)
        for r in fixture_corpus_df(spark, replicas=3).collect()
    }
    want = {
        u: (ts, bytes(h)[:64], t, lang)
        for (u, ts, h, t, lang) in fixture_corpus_rows(3)
    }
    assert got == want and len(got) == 3 * 89


def test_resize_pixels_laws():
    """Bilinear core: identity is byte-exact, constants stay constant
    across any scale, monotone ramps stay monotone, channel shapes 1-4
    all round-trip, and bad buffers are rejected."""
    import numpy as np

    from readability_php_spark.operators.multimodal import resize_pixels

    rng = np.random.default_rng(7)
    pix = rng.integers(0, 256, size=(10, 8, 3), dtype=np.uint8).tobytes()
    assert resize_pixels(8, 10, pix, 8, 10) == pix
    const = bytes([100, 150, 200]) * (16 * 12)
    assert resize_pixels(16, 12, const, 5, 7) == bytes([100, 150, 200]) * 35
    ramp = bytes(range(0, 250, 25))  # 10x1 grayscale
    up = resize_pixels(10, 1, ramp, 20, 1)
    assert len(up) == 20 and list(up) == sorted(up)
    for ch in (1, 2, 3, 4):
        buf = rng.integers(0, 256, size=6 * 5 * ch, dtype=np.uint8).tobytes()
        out = resize_pixels(6, 5, buf, 3, 2)
        assert len(out) == 3 * 2 * ch
    with pytest.raises(ValueError, match="channels"):
        resize_pixels(3, 3, b"\x00" * 45, 2, 2)  # 5 channels
    with pytest.raises(ValueError, match="positive"):
        resize_pixels(3, 3, b"\x00" * 9, 0, 2)


def test_resize_image_real_decode_reencode():
    """resize_image is REAL now: PNG/GIF/JPEG decode → bilinear → PNG
    re-encode, deterministic bytes, channel shape preserved."""
    import numpy as np

    from readability_php_spark.operators.jpeg import encode_jpeg
    from readability_php_spark.operators.multimodal import (
        decode_image,
        encode_png,
        resize_image,
    )

    rng = np.random.default_rng(11)
    pix = rng.integers(0, 256, size=(10, 8, 3), dtype=np.uint8).tobytes()
    png = encode_png(8, 10, pix, color_type=2)
    out = resize_image(png, 4, 5)
    assert out == resize_image(png, 4, 5)  # deterministic
    w, h, rp = decode_image(out)
    assert (w, h, len(rp)) == (4, 5, 4 * 5 * 3)
    # grayscale PNG keeps 1 channel through the round trip
    gray = encode_png(6, 6, bytes(range(36)), color_type=0)
    w, h, rp = decode_image(resize_image(gray, 3, 3))
    assert (w, h, len(rp)) == (3, 3, 9)
    # JPEG input path (decode via the in-repo codec)
    jpg = encode_jpeg(16, 16, bytes([(i * 3) % 256 for i in range(16 * 16 * 3)]))
    w, h, rp = decode_image(resize_image(jpg, 8, 8))
    assert (w, h, len(rp)) == (8, 8, 8 * 8 * 3)


def test_video_header_metadata_mp4_and_avi(spark):
    """Header-only video metadata: the ISO-BMFF box walk recovers tkhd
    dims + mvhd duration (v0 layout via the stub twin),
    avi_video_metadata reads avih, and extract_media_features surfaces
    all three containers — every parsed video row carries
    pixels_unavailable (frame decode stays ffmpeg-gated)."""
    from readability_php_spark.operators.jpeg import encode_jpeg
    from readability_php_spark.operators.multimodal import (
        avi_video_metadata,
        encode_avi_mjpeg,
        encode_mp4_stub,
        extract_media_features,
        mp4_video_metadata,
    )

    mp4 = encode_mp4_stub(1280, 720, 12.5)
    assert mp4_video_metadata(mp4) == (1280, 720, 12.5)
    with pytest.raises(ValueError, match="ISO-BMFF"):
        mp4_video_metadata(b"\x00" * 64)
    from readability_php_spark.operators.multimodal import (
        encode_webm_stub,
        webm_video_metadata,
    )

    webm = encode_webm_stub(1920, 1080, 33.367)
    assert webm_video_metadata(webm) == (1920, 1080, 33.367)
    # streamed Matroska: Segment with the all-ones UNKNOWN size varint
    # extends to end-of-parent — the walk must still find Info/Tracks
    seg = webm.find(b"\x18\x53\x80\x67")
    sz0 = webm[seg + 4]
    old_len = 1 if sz0 & 0x80 else 2  # stub emits 1- or 2-byte sizes
    unk = webm[: seg + 4] + b"\x01" + b"\xff" * 7 + webm[seg + 4 + old_len :]
    assert webm_video_metadata(unk) == (1920, 1080, 33.367)
    assert webm_video_metadata(encode_webm_stub(640, 360, 5.0, timescale_ns=500_000)) == (640, 360, 5.0)
    with pytest.raises(ValueError, match="EBML"):
        webm_video_metadata(b"\x00" * 64)
    avi = encode_avi_mjpeg(
        16, 16, [encode_jpeg(16, 16, bytes(16 * 16 * 3))]
    )
    assert avi_video_metadata(avi)[:2] == (16, 16)
    media = spark.createDataFrame(
        [
            (1, "video", bytearray(mp4)),
            (2, "video", bytearray(avi)),
            (3, "video", bytearray(b"not a container")),
            (4, "video", bytearray(webm)),
        ],
        "media_id long, kind string, payload binary",
    )
    rows = {r.media_id: r for r in extract_media_features(media).collect()}
    assert (rows[1].width, rows[1].height, rows[1].duration_s) == (1280, 720, 12.5)
    assert rows[1].error == "pixels_unavailable"
    # AVI: dims + duration (1 frame @ 25 fps); pixels equally absent,
    # so the same error tier — `error IS NULL` must never prefer garbage over parsed
    assert (rows[2].width, rows[2].height) == (16, 16)
    assert rows[2].duration_s == pytest.approx(0.04)
    assert rows[2].error == "pixels_unavailable"
    assert rows[3].width is None
    assert rows[3].error == "decoder_unavailable"
    assert (rows[4].width, rows[4].height) == (1920, 1080)
    assert rows[4].duration_s == pytest.approx(33.367)  # float32 column
    assert rows[4].error == "pixels_unavailable"


def test_video_frames_and_resize_spark_real(spark):
    """End-to-end Spark composition on REAL payloads: resize_images skips
    the MJPEG AVI and garbage video rows, and re-encodes every decodable
    image payload to the target PNG shape with the error-column contract
    for garbage."""
    from readability_php_spark.operators.multimodal import (
        decode_image,
        encode_avi_mjpeg,
        encode_png,
        resize_images,
    )
    from readability_php_spark.operators.jpeg import encode_jpeg

    frames = [
        encode_jpeg(16, 16, bytes([(k * 10 + i) % 256 for i in range(16 * 16 * 3)]))
        for k in range(4)
    ]
    avi = encode_avi_mjpeg(16, 16, frames)
    media = spark.createDataFrame(
        [
            (1, "video", bytearray(avi)),
            (2, "video", bytearray(b"not a container")),
            (3, "image", bytearray(encode_png(8, 10, bytes(range(0, 240)), color_type=2))),
            (4, "image", bytearray(b"garbage")),
        ],
        "media_id long, kind string, payload binary",
    )
    rz = {r.media_id: r for r in resize_images(media, 4, 5).collect()}
    assert set(rz) == {3, 4}
    assert rz[4].error is not None and rz[4].payload is None
    w, h, rp = decode_image(bytes(rz[3].payload))
    assert (w, h, len(rp)) == (4, 5, 60)
    assert (rz[3].width, rz[3].height, rz[3].error) == (4, 5, None)


def _tone_wav(freqs, gain=1.0, n=32000, sr=16000, channels=1):
    import math

    from readability_php_spark.operators.multimodal import pcm16_wav_bytes

    mono = [
        sum(12000 * gain * math.sin(2 * math.pi * f * t / sr) for f in freqs)
        for t in range(n)
    ]
    if channels == 2:
        return pcm16_wav_bytes([v for s in mono for v in (s, s)], sr, channels=2)
    return pcm16_wav_bytes(mono, sr)


def test_audio_fingerprint_invariances():
    """Haitsma-Kalker-style fingerprint laws: deterministic; EXACTLY
    invariant to gain scaling and to mono/stereo duplication; robust to
    ~1% additive noise; discriminative across spectral content; honest
    errors for short/garbage payloads."""
    import random

    from readability_php_spark.operators.audio_dedup import audio_fingerprint
    from readability_php_spark.operators.multimodal import pcm16_wav_bytes

    ham = lambda x, y: bin(x ^ y).count("1")  # noqa: E731
    fa = audio_fingerprint(_tone_wav([440, 950]))
    assert fa == audio_fingerprint(_tone_wav([440, 950]))
    assert 0 <= fa < (1 << 63)
    for gain in (0.5, 0.1, 0.01):
        assert ham(fa, audio_fingerprint(_tone_wav([440, 950], gain=gain))) == 0
    assert ham(fa, audio_fingerprint(_tone_wav([440, 950], channels=2))) == 0
    import math

    rng = random.Random(3)
    noisy = pcm16_wav_bytes(
        [
            12000 * (math.sin(2 * math.pi * 440 * t / 16000)
                     + math.sin(2 * math.pi * 950 * t / 16000))
            + rng.gauss(0, 120)
            for t in range(32000)
        ],
        16000,
    )
    assert ham(fa, audio_fingerprint(noisy)) <= 2
    fb = audio_fingerprint(_tone_wav([620, 1800, 2500]))
    assert ham(fa, fb) > 10
    with pytest.raises(ValueError, match="too short"):
        audio_fingerprint(pcm16_wav_bytes([0] * 1000, 16000))
    with pytest.raises(ValueError, match="RIFF"):
        audio_fingerprint(b"garbage")
    # sample budget: over-budget audio is an error row, never a task OOM
    with pytest.raises(ValueError, match="over budget"):
        audio_fingerprint(_tone_wav([440]), max_samples=10_000)
    # absurd sample rate: nyquist*0.99 <= the 300 Hz band floor would
    # make geomspace emit a DESCENDING ladder and a silently degenerate
    # fingerprint — must raise (→ error row) instead (ADVICE)
    with pytest.raises(ValueError, match="sample rate"):
        audio_fingerprint(_tone_wav([100], n=6000, sr=500))
    # just above the floor still fingerprints (no over-eager guard)
    assert isinstance(audio_fingerprint(_tone_wav([300], n=8000, sr=700)), int)


def test_audio_fingerprint_low_rate_raises_before_fft(monkeypatch):
    """A clip recorded at 400 Hz (nyquist under the 300 Hz band floor)
    raises the sample-rate ValueError, and does so before the windowed
    FFT runs: the check needs only the rate."""
    import numpy as np

    from readability_php_spark.operators.audio_dedup import audio_fingerprint

    clip = _tone_wav([100], n=6000, sr=400)

    def no_fft(*_a, **_k):
        raise AssertionError("FFT ran for a clip the rate check refuses")

    monkeypatch.setattr(np.fft, "rfft", no_fft)
    with pytest.raises(
        ValueError,
        match=r"^sample rate 400 Hz too low: the 300-3000 Hz band ladder "
        r"needs a usable nyquist above its floor$",
    ):
        audio_fingerprint(clip)


def test_media_prep_pipeline(spark):
    """Composed multimodal curation: image pHash dups and audio
    fingerprint dups collapse to keepers in ONE call; video/undecodable
    rows are kept (never silently dropped); resize_to rewrites exactly
    the image keepers to the normalized PNG."""
    from readability_php_spark.operators.multimodal import (
        decode_image,
        encode_png,
    )
    from readability_php_spark.plans.media_pipeline import media_prep

    # same image content in two channel layouts: RGB vs RGBA (opaque
    # alpha) — pHash ignores alpha, so the pair is a near-dup (hamming 0)
    px = [(i * 7) % 256 for i in range(32 * 32)]
    img_px = bytes(v for g in px for v in (g, g, g))
    img_px_rgba = bytes(v for g in px for v in (g, g, g, 255))
    img_a = encode_png(32, 32, img_px, color_type=2)
    img_b = encode_png(32, 32, img_px_rgba, color_type=6)  # near-dup
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(img_a)),
            (2, "image", bytearray(img_b)),
            (3, "audio", bytearray(_tone_wav([440, 950]))),
            (4, "audio", bytearray(_tone_wav([440, 950], gain=0.4))),
            (5, "video", bytearray(b"whatever")),
            (6, "image", bytearray(b"garbage")),
        ],
        "media_id long, kind string, payload binary",
    )
    out = {r.media_id: r for r in media_prep(media, resize_to=(8, 8)).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}  # one row per input row
    assert out[1].is_keeper and out[2].keeper == 1 and not out[2].is_keeper
    assert out[3].is_keeper and out[4].keeper == 3 and not out[4].is_keeper
    assert out[5].is_keeper and out[6].is_keeper  # video + undecodable kept
    # exactly the image keeper was normalized
    assert out[1].resized and not any(
        out[i].resized for i in (2, 3, 4, 5, 6)
    )
    w, h, pix = decode_image(bytes(out[1].payload))
    assert (w, h, len(pix)) == (8, 8, 8 * 8 * 3)
    assert bytes(out[2].payload) == img_b  # non-keeper payloads untouched
    # an image keeper whose re-decode fails keeps its payload and
    # SURFACES the failure — resize is auditable, never a silent no-op
    assert out[6].resize_error is not None
    assert bytes(out[6].payload) == b"garbage"
    assert all(out[i].resize_error is None for i in (1, 2, 3, 4, 5))
    # without resize_to, payloads all pass through untouched
    plain = {r.media_id: r for r in media_prep(media).collect()}
    assert bytes(plain[1].payload) == img_a and not plain[1].resized
    # fake signatures can't feed a real resize: fail fast, not silently
    with pytest.raises(ValueError, match="resize_to requires real"):
        media_prep(media, fake_decode=True, resize_to=(4, 4))


def test_audio_fingerprint_dedup_spark(spark):
    """End-to-end audio dedup: gain-scaled and stereo-duplicated copies of
    the same recording collapse into one keeper group; distinct content
    stays apart; undecodable rows drop out with error rows available via
    compute_audio_fingerprint."""
    from readability_php_spark.operators.audio_dedup import (
        audio_fingerprint_dedup,
        compute_audio_fingerprint,
    )

    media = spark.createDataFrame(
        [
            (1, "audio", bytearray(_tone_wav([440, 950]))),
            (2, "audio", bytearray(_tone_wav([440, 950], gain=0.5))),
            (3, "audio", bytearray(_tone_wav([440, 950], channels=2))),
            (4, "audio", bytearray(_tone_wav([620, 1800, 2500]))),
            (5, "audio", bytearray(b"not audio")),
            (6, "image", bytearray(b"\x89PNG")),
        ],
        "media_id long, kind string, payload binary",
    )
    out = {r.media_id: r for r in audio_fingerprint_dedup(media).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1].keeper == out[2].keeper == out[3].keeper == 1
    assert out[1].is_keeper and not out[2].is_keeper and not out[3].is_keeper
    assert out[4].keeper == 4 and out[4].is_keeper
    errs = {
        r.media_id: r.error for r in compute_audio_fingerprint(media).collect()
    }
    assert set(errs) == {1, 2, 3, 4, 5}  # image row filtered scan-side
    assert errs[5] is not None and errs[1] is None


def test_tfidf_keywords_ranks_distinctive_terms(spark):
    from readability_php_spark.operators.text_analysis import tfidf_keywords

    rows = [
        (1, "common common zebra zebra zebra"),
        (2, "common yak yak"),
        (3, "common words only common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_keywords(df, k=2).collect()
    top = {r.doc_id: r.term for r in out if r.rank == 1}
    # the corpus-rare term must outrank the corpus-common one
    assert top[1] == "zebra" and top[2] == "yak"
    assert all(r.score > 0 for r in out)


def test_hash_sample_by_rates(spark):
    from readability_php_spark.operators.sampling import hash_sample_by

    rows = [(i, "en" if i % 2 == 0 else "de", f"u://{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, url string")
    out = hash_sample_by(df, {"en": 0.2, "de": 1.0}, group_col="lang")
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["de"] == 500           # rate 1.0 keeps everything
    assert 50 < counts["en"] < 150       # ~20% of 500
    # determinism
    assert out.count() == hash_sample_by(
        df, {"en": 0.2, "de": 1.0}, group_col="lang").count()


def test_filter_blocked_domains(spark):
    from readability_php_spark.operators.urls import filter_blocked_domains

    pages = spark.createDataFrame(
        [(1, "http://good.test/a"), (2, "http://evil.test/b"),
         (3, "https://deep.sub.evil.test/c"), (4, "http://notevil.test/d"),
         (5, "http://EVIL.test/e")],
        "doc_id long, url string",
    )
    bl = spark.createDataFrame([("evil.test",)], "domain string")
    kept = {r.doc_id for r in filter_blocked_domains(pages, bl).collect()}
    # exact host, subdomains, and case-insensitive matches are blocked;
    # notevil.test is NOT (suffix must be dot-separated)
    assert kept == {1, 4}


def test_cap_per_host(spark):
    from readability_php_spark.operators.urls import cap_per_host

    rows = [
        (i, f"http://{'big.example' if i < 40 else 'small.example'}/p/{i}")
        for i in range(50)
    ]
    pages = spark.createDataFrame(rows, "doc_id long, url string")
    out = cap_per_host(pages, 5).collect()
    by_host: dict = {}
    for r in out:
        by_host.setdefault(r.host, []).append(r.doc_id)
    assert sorted(by_host["big.example"]) == [0, 1, 2, 3, 4]  # lowest ids kept
    assert len(by_host["small.example"]) == 5


def test_temperature_sample_flattens(spark):
    """T=2 keeps everything from the rarest group and ~sqrt(n_min/n) of the
    dominant one; membership is deterministic across calls."""
    from readability_php_spark.operators.sampling import temperature_sample

    rows = [(i, "en" if i < 900 else "is", f"http://x/{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, url string")
    out = temperature_sample(df, temperature=2.0, seed=7)
    got = {r.doc_id for r in out.collect()}
    n_en = sum(1 for i in got if i < 900)
    n_is = sum(1 for i in got if i >= 900)
    assert n_is == 100  # rarest group: rate 1.0, keeps all
    # en rate = sqrt(100/900) = 1/3; md5 thresholding is ~binomial around it
    assert 240 <= n_en <= 360
    got2 = {r.doc_id for r in temperature_sample(df, temperature=2.0, seed=7).collect()}
    assert got == got2  # deterministic


def test_charset_sniffing():
    from readability_php_spark.sources.charset import sniff_decode, sniff_encoding

    # valid utf-8 wins regardless of a stale declaration
    utf8 = "<html><head><meta charset=windows-1252></head><body><p>héllo</p></body></html>".encode("utf-8")
    text, enc = sniff_decode(utf8)
    assert enc == "utf-8" and "héllo" in text
    # legacy bytes + declaration → declared codec (iso-8859-1 remaps to cp1252)
    legacy = ("<html><head><meta http-equiv=\"Content-Type\" "
              "content=\"text/html; charset=iso-8859-1\"></head>"
              "<body><p>caf\xe9 \x93quoted\x94</p></body></html>").encode("latin-1")
    text, enc = sniff_decode(legacy)
    assert enc == "windows-1252" and "café" in text and "“quoted”" in text
    # BOMs are authoritative
    assert sniff_encoding("﻿x".encode("utf-8"))[:5] == "utf-8"
    bom16 = "<p>hé</p>".encode("utf-16")
    text, enc = sniff_decode(bom16)
    assert enc == "utf-16" and "hé" in text
    # invalid utf-8, bogus declaration → latin-1 total fallback
    text, enc = sniff_decode(b"<meta charset=klingon-9>\xff\xfe\xfdraw")
    assert enc == "latin-1" and isinstance(text, str)


def test_extract_operator_legacy_charset(spark):
    """A windows-1252 page extracts with its accents intact instead of
    mojibake (the hard-utf8 decode produced replacement chars)."""
    body = ("<html><head><meta charset=windows-1252><title>T</title></head>"
            "<body><div class=\"content\"><div class=\"article-body\">"
            "<p>" + ("caf\xe9 crème déjà vu, " * 20) + "</p>"
            "</div></div></body></html>")
    pages = spark.createDataFrame(
        [("http://x/legacy", bytearray(body.encode("windows-1252")))],
        "url string, html binary",
    )
    out = extract_operator(pages, CFG.with_overrides(char_threshold=100)).collect()[0]
    assert out.error is None
    assert "café crème déjà vu" in out.extracted_text
    assert "�" not in out.extracted_text


def test_streaming_url_dedup(spark, tmp_path):
    """Recrawled urls across micro-batches collapse to first arrival; the
    plan is a stateful streaming dedup (bounded by the watermark)."""
    import datetime as dt

    from readability_php_spark.sources.pages import PAGES_SCHEMA
    from readability_php_spark.streaming.ingest import (
        read_page_stream,
        streaming_url_dedup,
    )

    src = tmp_path / "stream_src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows1 = [(f"http://s/{i}", t0, b"<p>x</p>", None, "en") for i in range(6)]
    rows2 = [(f"http://s/{i}", t0 + dt.timedelta(minutes=5), b"<p>y</p>", None, "en")
             for i in range(3, 9)]  # 3..5 are recrawls
    spark.createDataFrame(rows1, PAGES_SCHEMA).write.parquet(str(src / "b1"))
    spark.createDataFrame(rows2, PAGES_SCHEMA).write.parquet(str(src / "b2"))

    stream = read_page_stream(spark, str(src) + "/*", max_files_per_trigger=1)
    deduped = streaming_url_dedup(stream, watermark="1 hour")
    assert deduped.isStreaming
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (deduped.writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt).outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() == 9  # 0..8 once each
    assert got.select("url").distinct().count() == 9


def test_hashed_tf_embedding(spark):
    from readability_php_spark.operators.text_analysis import hashed_tf_embedding

    rows = [(1, "apple banana apple"), (2, "apple banana apple"),
            (3, "zq xw yv"), (4, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: list(r.embedding) for r in hashed_tf_embedding(df, dim=8).collect()}
    assert 4 not in got  # token-less doc has no vector
    for v in got.values():
        assert abs(sum(x * x for x in v) - 1.0) < 1e-4  # unit norm
    assert got[1] == got[2]  # deterministic: identical docs, identical vectors
    assert got[1] != got[3]


def test_pagerank_invariants(spark):
    from readability_php_spark.operators.graph import pagerank

    # Chain a->b->c plus dangling d (in-link only): c and d have no
    # out-edges, so their mass redistributes uniformly each iteration.
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "d")], "src string, dst string"
    )
    ranks = {r.node: r.rank for r in pagerank(edges, iterations=5).collect()}
    assert set(ranks) == {"a", "b", "c", "d"}
    assert abs(sum(ranks.values()) - 1.0) < 1e-4  # mass conserved
    # c receives b's full rank plus dangling share; a only gets the
    # teleport + dangling terms, so c must outrank a.
    assert ranks["c"] > ranks["a"]
    assert ranks["b"] == ranks["d"]  # symmetric halves of a's vote


def test_pagerank_duplicate_edge_multiplicity(spark):
    from readability_php_spark.operators.graph import pagerank

    # a links b twice and c once: b gets 2/3 of a's vote, c gets 1/3.
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("a", "c")], "src string, dst string"
    )
    ranks = {r.node: r.rank for r in pagerank(edges, iterations=1).collect()}
    base = (1 - 0.85) / 3
    dangling = 2 / 3  # b and c parked 1/3 each at init
    assert abs(
        ranks["b"] - (base + 0.85 * ((1 / 3) * (2 / 3) + dangling / 3))
    ) < 1e-5
    assert ranks["b"] > ranks["c"]


def test_ngram_lm_score_hand_computed(spark):
    import math

    from readability_php_spark.operators.text_analysis import ngram_lm_score

    # Corpus: "a b a b" (bigrams ab,ba,ab) + "a b" (ab) + 1-token doc.
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "solo")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_bigrams, r.lm_score) for r in ngram_lm_score(df).collect()}
    assert 3 not in got  # <2 tokens -> no bigrams -> no row
    # Counts: c(a,b)=3, c(b,a)=1; contexts c(a,.)=3, c(b,.)=1; V=3 (a,b,solo).
    lp_ab = math.log((3 + 1) / (3 + 3))
    lp_ba = math.log((1 + 1) / (1 + 3))
    assert got[2] == (1, round(lp_ab, 4))
    assert got[1][0] == 3
    assert abs(got[1][1] - round((2 * lp_ab + lp_ba) / 3, 4)) < 1e-9


def test_extract_outlinks_href_classes(spark):
    from readability_php_spark.operators.links import extract_outlinks, host_link_graph

    html = (
        '<html><body><div class="nav"><a href="/">Home</a> '
        "<a href='/about'>About</a></div>"
        '<p><a href="http://h16.synth.test/p/5.html">one</a>, '
        '<a href="//h14.synth.test/x">two</a>, '
        '<A HREF="https://USER@h14.synth.test:8080/q?u=1#f">three</a>, '
        '<a href="mailto:x@y.example">mail</a>, '
        '<a href="javascript:void(0)">js</a>, '
        '<a href="#frag">frag</a>, <a href="">empty</a></p></body></html>'
    )
    df = spark.createDataFrame(
        [("http://h5.synth.test/page/5.html", bytearray(html, "utf8"))],
        "url string, html binary",
    )
    got = sorted(
        (r.dst_host, r.href) for r in extract_outlinks(df).collect()
    )
    # mailto/javascript/fragment/empty dropped; relative -> src host;
    # uppercase tag matched; userinfo and port stripped; host lowercased
    assert got == [
        ("h14.synth.test", "//h14.synth.test/x"),
        ("h14.synth.test", "https://USER@h14.synth.test:8080/q?u=1#f"),
        ("h16.synth.test", "http://h16.synth.test/p/5.html"),
        ("h5.synth.test", "/"),
        ("h5.synth.test", "/about"),
    ]
    agg = {
        (r.src_host, r.dst_host): r.n_links
        for r in host_link_graph(df, drop_self_loops=False).collect()
    }
    assert agg == {
        ("h5.synth.test", "h5.synth.test"): 2,
        ("h5.synth.test", "h14.synth.test"): 2,
        ("h5.synth.test", "h16.synth.test"): 1,
    }
    assert ("h5.synth.test", "h5.synth.test") not in {
        (r.src_host, r.dst_host) for r in host_link_graph(df).collect()
    }


def test_duplicated_spans_hand_computed(spark):
    from readability_php_spark.operators.dedup import duplicated_spans

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x"), (3, "q w e r t"), (4, "hi")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_grams, r.n_dup_grams, r.dup_fraction)
        for r in duplicated_spans(df, n=3).collect()
    }
    # "a b c" is the only cross-doc gram (docs 1 and 2)
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (3, 0, 0.0)
    assert got[4] == (0, 0, 0.0)  # shorter than n -> zero row, not missing


def test_logreg_train_and_score(spark):
    import math

    from readability_php_spark.operators.classify import score_logreg, train_logreg

    feats = spark.createDataFrame(
        [(1, [1.0], 1), (2, [0.5], 0)], "doc_id long, embedding array<double>, label int"
    )
    w, b = train_logreg(feats, dim=1, iterations=1, lr=1.0)
    # one step by hand: sigma(0)=0.5 -> residuals (-0.5, +0.5);
    # g = (-0.5*1.0 + 0.5*0.5) = -0.25, g_b = 0; w = 0.25/2, b = 0
    assert (w, b) == ([0.125], 0.0)
    got = {r.doc_id: (r.score, r.keep) for r in score_logreg(feats, w, b).collect()}
    assert got[1] == (round(1 / (1 + math.exp(-0.125)), 4), True)
    assert got[2] == (round(1 / (1 + math.exp(-0.0625)), 4), True)

    # linearly separable data: three steps must rank positives above negatives
    rows = [(i, [1.0, 0.0], 1) for i in range(5)] + [
        (i + 5, [0.0, 1.0], 0) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<double>, label int")
    w2, b2 = train_logreg(df, dim=2, iterations=3, lr=1.0)
    scored = {r.doc_id: r.score for r in score_logreg(df, w2, b2).collect()}
    assert min(scored[i] for i in range(5)) > max(scored[i + 5] for i in range(5))


def test_anchor_texts_pairing_and_cleanup(spark):
    from readability_php_spark.operators.links import anchor_texts

    html = (
        '<html><body><a href="http://a.test/x"><b>Bold</b>  link\n text</a>'
        '<a href="/rel">Rel</a>'
        '<a href="http://b.test/y"><img src="i.png"/></a>'  # no visible text
        '<a href="mailto:z@q.test">Mail me</a></body></html>'
    )
    df = spark.createDataFrame(
        [("http://src.test/p.html", html)], "url string, html string"
    )
    got = sorted(
        (r.dst_host, r.anchor_text) for r in anchor_texts(df).collect()
    )
    # image-only anchor and mailto dropped; markup stripped + ws collapsed
    assert got == [("a.test", "Bold link text"), ("src.test", "Rel")]


def test_training_prep_classifier_stage(spark, tmp_path):
    """The optional model-based filter: a drop-everything classifier
    empties the output, a keep-everything one matches the baseline."""
    from readability_php_spark.plans.training_pipeline import run_training_prep

    pages = documents_corpus_df(spark, SF).filter(F.col("doc_id") < 20).select(
        "url", "html"
    )
    base = run_training_prep(
        spark, pages, str(tmp_path / "base"), min_tokens=10,
        pack_budget=500, fuzzy=False,
    )
    keep_all = run_training_prep(
        spark, pages, str(tmp_path / "keep"), min_tokens=10,
        pack_budget=500, fuzzy=False,
        classifier=([0.0] * 16, 10.0),  # sigmoid(10) ~ 1 -> keep every doc
    )
    assert keep_all.docs_final == base.docs_final
    drop_all = run_training_prep(
        spark, pages, str(tmp_path / "drop"), min_tokens=10,
        pack_budget=500, fuzzy=False,
        classifier=([0.0] * 16, -10.0),  # sigmoid(-10) ~ 0 -> drop every doc
    )
    assert drop_all.docs_final == 0


def test_training_prep_in_pipeline_classifier(spark, tmp_path):
    """quality_labels trains the classifier in-pipeline on the exact
    scoring-time transform (extract→scrub→dedup→line-dedup→token filter):
    with every surviving doc labeled 1 the learned model keeps everything
    (scores > 0.5 after GD from zero init); passing both a pre-trained
    classifier AND labels is refused."""
    import pytest as _pytest

    from readability_php_spark.plans.training_pipeline import run_training_prep

    pages = documents_corpus_df(spark, SF).filter(F.col("doc_id") < 20).select(
        "url", "html"
    )
    base = run_training_prep(
        spark, pages, str(tmp_path / "base"), min_tokens=10,
        pack_budget=500, fuzzy=False,
    )
    labels = pages.select("url", F.lit(1).alias("label"))
    trained = run_training_prep(
        spark, pages, str(tmp_path / "trained"), min_tokens=10,
        pack_budget=500, fuzzy=False,
        quality_labels=labels, quality_dim=16, quality_iters=3,
    )
    # all-positive labels -> model scores every doc above 0.5 -> no drops
    assert trained.docs_final == base.docs_final
    with _pytest.raises(ValueError, match="not both"):
        run_training_prep(
            spark, pages, str(tmp_path / "both"), min_tokens=10,
            pack_budget=500, fuzzy=False,
            classifier=([0.0] * 16, 10.0), quality_labels=labels,
        )
    # a seed set the pipeline's own filters fully consume must fail FAST
    # with a clear message, not crash late inside train_logreg
    ghost = spark.createDataFrame(
        [("http://nowhere.test/none.html", 1)], "url string, label int"
    )
    with _pytest.raises(ValueError, match="none of the 1 labeled urls"):
        run_training_prep(
            spark, pages, str(tmp_path / "ghost"), min_tokens=10,
            pack_budget=500, fuzzy=False, quality_labels=ghost,
        )


def test_pagerank_structural_properties(spark):
    from readability_php_spark.operators.graph import pagerank

    # 3-cycle: perfect symmetry -> exactly 1/3 each, every iteration
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    ranks = {r.node: r.rank for r in pagerank(cyc, iterations=4).collect()}
    assert all(abs(v - 1 / 3) < 1e-5 for v in ranks.values())

    # two disconnected 2-cycles: components can't leak rank to each other
    two = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x")],
        "src string, dst string",
    )
    r2 = {r.node: r.rank for r in pagerank(two, iterations=3).collect()}
    assert all(abs(v - 0.25) < 1e-5 for v in r2.values())

    # star: hub votes split among leaves; leaves are dangling and feed
    # everyone back uniformly -> leaves tie, hub differs
    star = spark.createDataFrame(
        [("hub", "l1"), ("hub", "l2"), ("hub", "l3")], "src string, dst string"
    )
    rs = {r.node: r.rank for r in pagerank(star, iterations=3).collect()}
    assert rs["l1"] == rs["l2"] == rs["l3"]
    assert abs(sum(rs.values()) - 1.0) < 1e-4


def test_pagerank_matches_python_reference(spark):
    """Differential test vs a pure-Python PageRank with identical
    semantics (edge multiplicity, dangling redistribution, round-6 per
    iteration) on a seeded random multigraph."""
    import random

    from readability_php_spark.operators.graph import pagerank

    rng = random.Random(7)
    edges = [
        (f"n{rng.randrange(40)}", f"n{rng.randrange(55)}") for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.rank for r in pagerank(df, iterations=4).collect()}

    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    out_deg: dict = {}
    for a, _ in edges:
        out_deg[a] = out_deg.get(a, 0) + 1
    ranks = {v: round(1.0 / n, 6) for v in nodes}
    for _ in range(4):
        dangling = sum(r for v, r in ranks.items() if v not in out_deg)
        contrib: dict = {}
        for a, b in edges:
            contrib[b] = contrib.get(b, 0.0) + ranks[a] / out_deg[a]
        ranks = {
            v: round(0.15 / n + 0.85 * (contrib.get(v, 0.0) + dangling / n), 6)
            for v in nodes
        }
    assert set(got) == set(ranks)
    for v in nodes:
        # summation-order noise can flip the 6th decimal's rounding
        assert abs(got[v] - ranks[v]) <= 2e-6, v


def _ref_exact_substring_dedup(rows, n, min_copies=2, keep="first"):
    """Pure-Python reference: flat gram groups, explicit covered-position
    sets — no interval merging, no keeper-struct tricks."""
    toks = {i: (t.split() if t else []) for i, t in rows}
    groups: dict = {}
    for i, tk in toks.items():
        for p in range(len(tk) - n + 1):
            groups.setdefault(" ".join(tk[p:p + n]), []).append((i, p))
    covered: dict = {i: set() for i, _ in rows}
    for occs in groups.values():
        if len(occs) >= min_copies:
            cuts = sorted(occs)[1:] if keep == "first" else sorted(occs)
            for i, p in cuts:
                covered[i].update(range(p, p + n))
    out = {}
    for i, t in rows:
        tk, cov = toks[i], covered[i]
        if cov:
            text = " ".join(w for j, w in enumerate(tk) if j not in cov)
        else:
            text = t  # untouched docs pass through verbatim
        out[i] = (len(tk), len(cov), text)
    return out


def test_exact_substring_dedup_crafted(spark):
    from readability_php_spark.operators.dedup import exact_substring_dedup

    run = " ".join(f"s{i}" for i in range(7))  # 7-token shared run
    rows = [
        (1, f"alpha beta {run} gamma"),          # earliest copy: kept
        (2, f"x y z {run} q r"),                 # later copy: run cut
        (3, "unrelated words only here"),        # untouched, verbatim
        (4, "tiny"),                             # < n tokens
        (5, None),                               # NULL text
        (6, f"lead {run} mid {run} tail"),       # within-doc repeat
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text)
        for r in exact_substring_dedup(df, n=5).collect()
    }
    want = _ref_exact_substring_dedup(rows, n=5)
    want[5] = (0, 0, None)
    assert got == want
    # doc 1 is the keeper for the shared grams: text survives verbatim
    assert got[1] == (10, 0, rows[0][1])
    # doc 2 lost exactly the run
    assert got[2][2] == "x y z q r" and got[2][1] == 7
    # doc 6 is not the keeper (doc 1 is): BOTH copies cut
    assert got[6] == (17, 14, "lead mid tail")


def test_exact_substring_dedup_keep_none(spark):
    from readability_php_spark.operators.dedup import exact_substring_dedup

    run = " ".join(f"t{i}" for i in range(6))
    rows = [(1, f"a b {run} c"), (2, f"d {run} e f"), (3, "clean doc here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text)
        for r in exact_substring_dedup(df, n=6, keep="none").collect()
    }
    assert got == _ref_exact_substring_dedup(rows, n=6, keep="none")
    assert got[1] == (9, 6, "a b c") and got[2] == (9, 6, "d e f")


def test_exact_substring_dedup_matches_reference_random(spark):
    """Differential test on a seeded corpus with planted shared fragments:
    overlapping duplicated regions, partial keeper splits, whole-doc
    dupes — every doc must match the flat pure-Python semantics."""
    import random

    from readability_php_spark.operators.dedup import exact_substring_dedup

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(40)]
    fragments = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(4, 9)))
        for _ in range(6)
    ]
    rows = []
    for i in range(50):
        parts = [rng.choice(vocab) for _ in range(rng.randrange(0, 8))]
        for _ in range(rng.randrange(0, 3)):
            parts.append(rng.choice(fragments))
            parts.extend(rng.choice(vocab) for _ in range(rng.randrange(0, 4)))
        rows.append((i, " ".join(parts)))
    rows.append((50, rows[0][1]))  # exact whole-doc duplicate
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (3, 4):
        got = {
            r.doc_id: (r.n_tokens, r.n_removed, r.text)
            for r in exact_substring_dedup(df, n=n).collect()
        }
        assert got == _ref_exact_substring_dedup(rows, n=n), n


def test_duplicated_spans_matches_python_reference(spark):
    import random

    from readability_php_spark.operators.dedup import duplicated_spans

    rng = random.Random(21)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(2, 12))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_grams, r.n_dup_grams, r.dup_fraction)
        for r in duplicated_spans(df, n=4).collect()
    }

    def grams(t):
        w = t.split()
        return {" ".join(w[i:i + 4]) for i in range(len(w) - 3)}

    per_doc = {i: grams(t) for i, t in rows}
    freq: dict = {}
    for gs in per_doc.values():
        for g in gs:
            freq[g] = freq.get(g, 0) + 1
    for i, gs in per_doc.items():
        dup = sum(1 for g in gs if freq[g] >= 2)
        want = (len(gs), dup, round(dup / len(gs), 6) if gs else 0.0)
        assert got[i] == want, i


def test_ngram_lm_score_matches_python_reference(spark):
    import math
    import random

    from readability_php_spark.operators.text_analysis import ngram_lm_score

    rng = random.Random(5)
    vocab = [f"t{i}" for i in range(9)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 15))))
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.lm_score) for r in ngram_lm_score(df).collect()}

    bigrams: dict = {}
    contexts: dict = {}
    vv = set()
    doc_bgs: dict = {}
    for i, t in rows:
        w = t.split()
        vv.update(w)
        bg = list(zip(w, w[1:]))
        doc_bgs[i] = bg
        for p in bg:
            bigrams[p] = bigrams.get(p, 0) + 1
            contexts[p[0]] = contexts.get(p[0], 0) + 1
    V = len(vv)
    for i, bg in doc_bgs.items():
        if not bg:
            assert i not in got
            continue
        lps = [
            math.log((bigrams[p] + 1.0) / (contexts[p[0]] + V)) for p in bg
        ]
        assert got[i][0] == len(bg)
        assert abs(got[i][1] - round(sum(lps) / len(lps), 4)) <= 2e-4, i


def test_train_logreg_matches_python_reference(spark):
    """Differential test vs a pure-Python GD loop with the same per-step
    rounding on seeded random features."""
    import math
    import random

    from readability_php_spark.operators.classify import train_logreg

    rng = random.Random(3)
    dim = 4
    rows = [
        (
            i,
            [round(rng.random(), 6) for _ in range(dim)],
            rng.randrange(2),
        )
        for i in range(80)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, embedding array<double>, label int"
    )
    w_got, b_got = train_logreg(df, dim=dim, iterations=3, lr=0.5)

    n = len(rows)
    w = [0.0] * dim
    b = 0.0
    for _ in range(3):
        resids = []
        for _, x, y in rows:
            z = round(b + sum(wi * xi for wi, xi in zip(w, x)), 6)
            resids.append((x, round(1.0 / (1.0 + math.exp(-z)), 6) - y))
        g = [
            round(sum(r * x[d] for x, r in resids), 6) for d in range(dim)
        ]
        gb = round(sum(r for _, r in resids), 6)
        w = [round(w[d] - 0.5 * g[d] / n, 6) for d in range(dim)]
        b = round(b - 0.5 * gb / n, 6)
    assert all(abs(a - c) <= 2e-6 for a, c in zip(w_got, w))
    assert abs(b_got - b) <= 2e-6


def test_chunk_documents_windows(spark):
    import pytest as _pytest

    from readability_php_spark.operators.packing import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "X  y\nZ"), (3, "   ")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.chunk_id): (r.n_chunk_tokens, r.chunk_text)
        for r in chunk_documents(df, max_tokens=4, stride=3).collect()
    }
    # doc 1 (7 tokens): windows at 0 and 3; the start at 6 is dropped —
    # window 1 already reaches the end, so "g" would be a strict suffix
    # (duplicated tail text), per the suffix-window rule
    assert got[(1, 0)] == (4, "a b c d")
    assert got[(1, 1)] == (4, "d e f g")
    assert not any(k == (1, 2) for k in got)
    # case preserved; whitespace runs (incl. newlines) collapse to one
    # space — the documented lossy normalization of token-window chunking
    assert got[(2, 0)] == (3, "X y Z")
    assert not any(k[0] == 3 for k in got)  # token-less doc: no chunks
    # chunk->pack composition: every chunk fits the budget by construction
    assert all(n <= 4 for n, _ in got.values())
    with _pytest.raises(ValueError):
        chunk_documents(df, max_tokens=4, stride=5)


def test_chunk_documents_by_cost_law(spark):
    """Cost-model chunking assigns each word to floor(cost_prefix /
    budget) — pack_documents' law one level down: boundary-straddling
    words keep the chunk they start in (chunks may exceed the budget by
    word_cost − 1), a word whose cost spans multiple windows makes chunk
    ids SKIP, missing words cost chars + marker, token-less docs emit
    nothing."""
    import pytest as _pytest

    from readability_php_spark.operators.packing import (
        chunk_documents_by_cost,
    )

    docs = spark.createDataFrame(
        [(1, "aa b ccc dd"), (2, "   "), (3, "x"), (4, "w aa")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame(
        [("aa", 3), ("b", 1), ("ccc", 5), ("dd", 2), ("w", 9)],
        "word string, word_tokens int",
    )
    got = {
        (r.doc_id, r.chunk_id): (r.n_chunk_tokens, r.chunk_text)
        for r in chunk_documents_by_cost(docs, vocab, max_tokens=4).collect()
    }
    assert got == {
        # doc 1 prefixes: aa@0→c0, b@3→c0 (straddles: 3+1=4 ≤ budget
        # here, but ccc@4→c1 with cost 5 OVERSHOOTS window 1), dd@9→c2
        (1, 0): (4, "aa b"),
        (1, 1): (5, "ccc"),
        (1, 2): (2, "dd"),
        # doc 3: 'x' missing from the vocab → chars+marker = 2
        (3, 0): (2, "x"),
        # doc 4: w@0 (cost 9 spans windows 0-2) → aa@9 lands in chunk 2
        # — ids skip 1, stay strictly increasing
        (4, 0): (9, "w"),
        (4, 2): (3, "aa"),
    }
    with _pytest.raises(ValueError):
        chunk_documents_by_cost(docs, vocab, max_tokens=0)


def test_score_buckets_terciles_and_ties(spark):
    from readability_php_spark.operators.text_analysis import score_buckets

    # 6 docs, scores with a tie straddling the head/middle boundary:
    # desc order = (5:.9) (4:.8) (3:.8) (2:.5) (1:.4) (0:.1); k1=2, k2=4
    rows = [(0, 0.1), (1, 0.4), (2, 0.5), (3, 0.8), (4, 0.8), (5, 0.9)]
    df = spark.createDataFrame(rows, "doc_id long, lm_score double")
    got = {r.doc_id: r.bucket for r in score_buckets(df).collect()}
    assert got == {5: "head", 4: "head", 3: "middle", 2: "middle",
                   1: "tail", 0: "tail"}
    # single doc -> head (boundaries coincide)
    one = spark.createDataFrame([(9, 1.0)], "doc_id long, lm_score double")
    assert [r.bucket for r in score_buckets(one).collect()] == ["head"]


def test_score_buckets_empty_schema_matches_nonempty(spark):
    from readability_php_spark.operators.text_analysis import score_buckets

    df = spark.createDataFrame(
        [(1, 0.5, "x")], "doc_id long, lm_score double, extra string"
    )
    full = score_buckets(df)
    empty = score_buckets(df.limit(0))
    # both paths: ALL input columns + bucket, same order/types
    assert empty.schema == full.schema
    assert empty.count() == 0


def test_rank_boundaries_distributed_exact_and_plan(spark):
    """_rank_boundaries must agree with a driver-side global sort AND its
    boundary-fetch plan must not funnel the corpus through one task (no
    SinglePartition exchange / unpartitioned window)."""
    import random

    from readability_php_spark.operators.text_analysis import _rank_boundaries

    rng = random.Random(7)
    # duplicate scores across partition boundaries to stress tie handling
    rows = [(i, float(rng.randrange(40)) / 10.0) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, lm_score double").repartition(16)
    order = sorted(rows, key=lambda r: (-r[1], -r[0]))
    ranks = (1, 167, 334, 500)
    sink: list = []
    got = _rank_boundaries(df, ranks, "lm_score", "doc_id", plan_sink=sink)
    want = [(order[k - 1][1], order[k - 1][0]) for k in ranks]
    assert got == want
    (plan,) = sink
    assert "SinglePartition" not in plan
    assert "hashpartitioning(_p" in plan  # window is partition-local


def _build_gif(w, h, palette, pixels, interlaced=False, min_code=2):
    """Minimal GIF encoder (test-side twin of decode_gif): uncompressed
    LZW (all-literal codes) packed with the decoder's width schedule."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    codes = [clear] + list(pixels) + [end]
    bits = []
    size = min_code + 1
    next_code = end + 1
    had_prev = False
    for c in codes:
        bits.extend((c >> b) & 1 for b in range(size))
        if c == clear:
            size, next_code, had_prev = min_code + 1, end + 1, False
        elif c != end:
            if had_prev and next_code < 4096:
                next_code += 1
                if next_code == (1 << size) and size < 12:
                    size += 1
            had_prev = True
    data = bytearray()
    for i in range(0, len(bits), 8):
        data.append(sum(b << j for j, b in enumerate(bits[i:i + 8])))
    n_entries = len(palette) // 3
    k = max(1, (n_entries - 1).bit_length()) - 1  # 2^(k+1) entries
    gif = bytearray(b"GIF89a")
    gif += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    gif += bytes([0x80 | k, 0, 0]) + bytes(palette)
    gif += b"\x2c" + b"\x00" * 4 + w.to_bytes(2, "little") + h.to_bytes(2, "little")
    gif += bytes([0x40 if interlaced else 0, min_code])
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        gif += bytes([len(chunk)]) + chunk
    gif += b"\x00\x3b"
    return bytes(gif)


def test_decode_gif_canonical_1x1():
    from readability_php_spark.operators.multimodal import decode_gif, decode_image

    # the classic smallest valid GIF: 1x1 white pixel
    gif = bytes.fromhex(
        "474946383961010001008000"
        "00ffffff000000"
        "2c000000000100010000"
        "0202440100"
        "3b"
    )
    assert decode_gif(gif) == (1, 1, b"\xff\xff\xff")
    assert decode_image(gif) == (1, 1, b"\xff\xff\xff")  # magic dispatch


def test_decode_gif_palette_and_interlace():
    import pytest as _pytest

    from readability_php_spark.operators.multimodal import decode_gif

    palette = [0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255]
    pixels = [0, 1, 2, 3, 3, 2, 1, 0, 0, 0, 1, 1, 2, 2, 3, 3]
    w, h, rgb = decode_gif(_build_gif(4, 4, palette, pixels))
    assert (w, h) == (4, 4)
    want = b"".join(bytes(palette[3 * p:3 * p + 3]) for p in pixels)
    assert rgb == want

    # interlaced: decoded row stream 0,2,1,3 must land back in order
    wi, hi, rgbi = decode_gif(_build_gif(4, 4, palette, pixels, interlaced=True))
    rows = [rgbi[i * 12:(i + 1) * 12] for i in range(4)]
    srows = [want[i * 12:(i + 1) * 12] for i in range(4)]
    assert [rows[0], rows[2], rows[1], rows[3]] == srows

    with _pytest.raises(ValueError):
        decode_gif(b"GIF89a" + b"\x00" * 5)  # truncated
    with _pytest.raises(ValueError):
        decode_gif(_build_gif(4, 4, palette, pixels)[:-10])  # short stream


def test_decode_wav_roundtrip_and_errors():
    import math
    import struct

    import pytest as _pytest

    from readability_php_spark.operators.multimodal import (
        decode_wav,
        pcm16_wav_bytes,
    )

    samples = [0, 1000, -1000, 32767, -32768, 7]
    sr, ch, n, rms = decode_wav(pcm16_wav_bytes(samples, 44100, 2))
    assert (sr, ch, n) == (44100, 2, 6)
    assert rms == round(math.sqrt(sum(s * s for s in samples) / 6), 4)
    assert decode_wav(pcm16_wav_bytes([], 8000))[2:] == (0, 0.0)
    # clamping: out-of-range samples saturate, not wrap
    assert decode_wav(pcm16_wav_bytes([99999], 8000))[3] == 32767.0

    with _pytest.raises(ValueError):
        decode_wav(b"RIFX" + b"\x00" * 40)  # bad magic
    with _pytest.raises(ValueError):
        decode_wav(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt/data
    # non-PCM format code rejected
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 16000, 2, 16)
    bad = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt)
    with _pytest.raises(ValueError):
        decode_wav(bad)


def test_incremental_fuzzy_dedup(spark):
    """Per-wave dedup against an ingested corpus: corpus near-dups and
    intra-wave losers die — including transitively (a wave doc linked to
    the corpus only through its discarded wave sibling) — fresh and short
    docs survive, the bootstrap path returns the complete signature
    table, and the warm path returns just the survivors' delta."""
    from readability_php_spark.operators.dedup import (
        incremental_fuzzy_dedup,
        minhash_bands,
    )

    words = " ".join(f"tok{i}" for i in range(30))
    other = " ".join(f"alt{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(1, words), (2, other)], "doc_id long, text string"
    )
    wave = spark.createDataFrame(
        [
            (10, words + " extra"),        # near-dup of corpus doc 1 -> dies
            (11, " ".join(f"new{i}" for i in range(30))),  # fresh -> kept
            (12, " ".join(f"pair{i}" for i in range(30))),           # intra-wave keeper
            (13, " ".join(f"pair{i}" for i in range(30)) + " tail"),  # intra-wave loser
            (14, "tiny doc"),              # < shingle_n words -> kept, no bands
            # transitive chain: 15 ~ corpus doc 2 AND 15 ~ 16; both wave
            # docs are in doc 2's cluster -> both die (batch fuzzy_dedup
            # over corpus+wave would drop them the same way)
            (15, other + " x"),
            (16, other + " x y"),
        ],
        "doc_id long, text string",
    )
    kept, boot_bands = incremental_fuzzy_dedup(
        wave, corpus, num_hashes=8, bands=4, threshold=0.8
    )
    assert sorted(r.doc_id for r in kept.collect()) == [11, 12, 14]
    boot_ids = {r.doc_id for r in boot_bands.select("doc_id").distinct().collect()}
    # bootstrap: the returned table covers the corpus AND the survivors
    # with shingles — the caller never re-runs the corpus signature pass
    assert boot_ids == {1, 2, 11, 12}
    # warm path: precomputed signature table, delta-only return
    cb = minhash_bands(corpus, "text", 8, 4, 3).select(
        "doc_id", "band", "band_hash"
    )
    kept2, delta_bands = incremental_fuzzy_dedup(
        wave, corpus, num_hashes=8, bands=4, threshold=0.8, corpus_bands=cb
    )
    assert sorted(r.doc_id for r in kept2.collect()) == [11, 12, 14]
    assert {
        r.doc_id for r in delta_bands.select("doc_id").distinct().collect()
    } == {11, 12}
    # a second wave joining the UPDATED table treats wave-1 survivors as
    # corpus: a near-dup of doc 11 dies
    wave2 = spark.createDataFrame(
        [(20, " ".join(f"new{i}" for i in range(30)) + " more")],
        "doc_id long, text string",
    )
    kept3, _ = incremental_fuzzy_dedup(
        wave2,
        corpus.unionByName(kept.select("doc_id", "text")),
        num_hashes=8,
        bands=4,
        threshold=0.8,
        corpus_bands=cb.unionByName(delta_bands),
    )
    assert kept3.count() == 0


def test_prep_job_cli_end_to_end(spark, tmp_path):
    """The spark-submit deployment surface: jobs/prep_job.py driven as a
    real subprocess (own JVM) over a tiny corpus, with a quality-label
    seed parquet — the in-pipeline classifier path added in round 5.
    Asserts the job exits 0, reports its conservation counters, and the
    split-partitioned output parquet reads back."""
    import subprocess
    import sys as _sys

    pages = documents_corpus_df(spark, SF).filter(F.col("doc_id") < 12).select(
        "url", "html"
    )
    in_dir = str(tmp_path / "pages")
    pages.write.parquet(in_dir)
    labels_dir = str(tmp_path / "labels")
    pages.select("url", F.lit(1).alias("label")).limit(8).write.parquet(
        labels_dir
    )
    out_dir = str(tmp_path / "out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [
            _sys.executable, os.path.join(repo, "jobs", "prep_job.py"),
            "--input", in_dir, "--output", out_dir,
            "--min-tokens", "5", "--pack-budget", "400", "--no-fuzzy",
            "--quality-labels", labels_dir, "--quality-dim", "16",
            "--quality-iters", "2", "--master", "local[4]",
        ],
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "quality classifier will train on 8 labeled docs" in proc.stdout
    assert "done: in=12" in proc.stdout
    out = spark.read.parquet(out_dir)
    assert out.count() > 0
    assert {r.split for r in out.select("split").distinct().collect()} <= {
        "train", "val", "test"
    }


def test_dedup_job_cli_end_to_end(spark, tmp_path):
    """jobs/dedup_job.py as a real subprocess: a wave with an exact
    corpus dup, an intra-wave dup pair, a fuzzy corpus near-dup, and
    fresh docs — both stages drop what they should, the signature table
    materializes, and the kept parquet reads back."""
    import subprocess
    import sys as _sys

    corpus_rows = [
        (f"http://c.test/{i}", " ".join(f"c{i}w{j}" for j in range(60)))
        for i in range(10)
    ]
    near = corpus_rows[5][1] + "x"  # one char appended: J ≈ 0.98
    wave_rows = [
        ("http://w.test/1", corpus_rows[3][1]),   # exact corpus dup
        ("http://w.test/2", " ".join(f"f2w{j}" for j in range(30))),
        ("http://w.test/3", " ".join(f"f2w{j}" for j in range(30))),  # intra dup of /2
        ("http://w.test/4", near),                 # fuzzy corpus near-dup
        ("http://w.test/5", " ".join(f"f5w{j}" for j in range(30))),
    ]
    corpus_dir = str(tmp_path / "corpus")
    wave_dir = str(tmp_path / "wave")
    spark.createDataFrame(corpus_rows, "url string, text string").write.parquet(corpus_dir)
    spark.createDataFrame(wave_rows, "url string, text string").write.parquet(wave_dir)
    out_dir = str(tmp_path / "kept")
    sig_dir = str(tmp_path / "sigs")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [
            _sys.executable, os.path.join(repo, "jobs", "dedup_job.py"),
            "--wave", wave_dir, "--corpus", corpus_dir,
            "--output", out_dir, "--fuzzy",
            "--signature-table", sig_dir, "--master", "local[4]",
        ],
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(
        ln for ln in proc.stdout.splitlines() if ln.startswith("dedup done: ")
    )
    import json as _json
    metrics = _json.loads(line.removeprefix("dedup done: "))
    assert metrics["wave_in"] == 5
    assert metrics["after_intra_exact"] == 4   # /3 dies to /2
    assert metrics["after_exact"] == 3         # /1 dies to corpus
    assert metrics["after_fuzzy"] == 2         # /4 dies to corpus near-dup
    kept = {r.url for r in spark.read.parquet(out_dir).collect()}
    assert kept == {"http://w.test/2", "http://w.test/5"}
    # bootstrap wrote the signature table (corpus + kept-wave bands)
    sigs = spark.read.parquet(sig_dir)
    assert sigs.count() > 0
    assert set(sigs.columns) == {"url", "band", "band_hash"}


def test_media_job_cli_end_to_end(spark, tmp_path):
    """jobs/media_job.py as a real subprocess: image near-dups collapse,
    audio gain-copies collapse, the resize flag normalizes exactly the
    image keepers, and the verdict parquet + JSON metrics read back."""
    import subprocess
    import sys as _sys

    from readability_php_spark.operators.multimodal import encode_png

    px = [(i * 7) % 256 for i in range(32 * 32)]
    img_a = encode_png(32, 32, bytes(v for g in px for v in (g, g, g)), color_type=2)
    img_b = encode_png(
        32, 32, bytes(v for g in px for v in (g, g, g, 255)), color_type=6
    )
    rows = [
        (1, "image", bytearray(img_a)),
        (2, "image", bytearray(img_b)),      # same content, RGBA layout
        (3, "audio", bytearray(_tone_wav([440, 950]))),
        (4, "audio", bytearray(_tone_wav([440, 950], gain=0.4))),
        (5, "video", bytearray(b"whatever")),
    ]
    in_dir = str(tmp_path / "media_in")
    out_dir = str(tmp_path / "media_out")
    spark.createDataFrame(
        rows, "media_id long, kind string, payload binary"
    ).write.parquet(in_dir)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [
            _sys.executable, os.path.join(repo, "jobs", "media_job.py"),
            "--input", in_dir, "--output", out_dir,
            "--resize", "8x8", "--master", "local[4]",
        ],
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    import json as _json

    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("{"))
    metrics = _json.loads(line)["kinds"]
    assert metrics["image"] == {"rows": 2, "keepers": 1, "resized": 1}
    assert metrics["audio"] == {"rows": 2, "keepers": 1, "resized": 0}
    assert metrics["video"] == {"rows": 1, "keepers": 1, "resized": 0}
    out = {r.media_id: r for r in spark.read.parquet(out_dir).collect()}
    assert out[2].keeper == 1 and out[4].keeper == 3
    assert out[1].resized and len(bytes(out[1].payload)) < len(img_a)


def test_incremental_fuzzy_dedup_differential(spark):
    """Differential check against a pure-Python reference: exact 3-gram
    Jaccard over ALL pairs + union-find + the corpus-wins cluster rule.
    Inputs are seeded-random family mutations built to keep every pair's
    Jaccard far from both the 0.8 threshold and LSH's detection edge
    (same family => J >= 0.9, different families => J ~ 0), so the
    probabilistic candidate stage is deterministic in practice and the
    operator must agree with the reference exactly."""
    import random

    from readability_php_spark.operators.dedup import incremental_fuzzy_dedup

    def shingles(text, n=3):
        w = text.lower().split()
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    def jac(a, b):
        u = a | b
        return len(a & b) / len(u) if u else 0.0

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        # 5 families of 40-token docs; members differ by 1-2 appended toks
        fams = [
            [f"f{f}w{i}" for i in range(40)] for f in range(5)
        ]
        docs = {}
        next_id = 0
        for f, base in enumerate(fams):
            for m in range(rng.randint(1, 3)):
                toks = base + [f"x{f}m{m}{j}" for j in range(rng.randint(0, 2))]
                docs[next_id] = " ".join(toks)
                next_id += 1
        ids = sorted(docs)
        corpus_ids = set(rng.sample(ids, k=len(ids) // 2))
        wave_ids = [i for i in ids if i not in corpus_ids]
        # reference: union-find over ALL pairs with J >= 0.8
        sh = {i: shingles(t) for i, t in docs.items()}
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a in ids:
            for b in ids:
                if a < b and jac(sh[a], sh[b]) >= 0.8:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        clusters = {}
        for i in ids:
            clusters.setdefault(find(i), []).append(i)
        expected_kept = set()
        for members in clusters.values():
            wave_members = [i for i in members if i not in corpus_ids]
            if not wave_members:
                continue
            if any(i in corpus_ids for i in members):
                continue  # corpus wins: every wave member dies
            expected_kept.add(min(wave_members))
        corpus_df = spark.createDataFrame(
            [(i, docs[i]) for i in sorted(corpus_ids)],
            "doc_id long, text string",
        )
        wave_df = spark.createDataFrame(
            [(i, docs[i]) for i in wave_ids], "doc_id long, text string"
        )
        kept, _ = incremental_fuzzy_dedup(
            wave_df, corpus_df, num_hashes=16, bands=8, threshold=0.8
        )
        got = {r.doc_id for r in kept.collect()}
        assert got == expected_kept, (seed, got, expected_kept)


def test_gopher_quality_rules(spark):
    """The published Gopher rule set, rule by rule on constructed docs:
    each failure doc trips exactly its target rule; a clean doc passes all."""
    from readability_php_spark.operators.text_analysis import gopher_quality_rules

    good = (
        "The quick brown fox jumps over the lazy dog and runs to be free "
        "of that fence with great energy and joy every single day outside "
        "where children have played games under tall trees near the river "
        "bank while birds sang sweet songs in the warm morning light there "
        "and beyond the hills"
    )
    docs = spark.createDataFrame(
        [
            (0, good),                                        # passes all
            (1, "too few words to be kept"),                  # word count
            (2, " ".join(["a"] * 60) + " the be to of and"),  # mean word len < 3
            (3, good + " " + "#tag " * 20),                   # symbol ratio
            (4, "\n".join("- bullet item the be to of" for _ in range(10))
                + "\n" + good),                               # bullet lines (11 lines, 10 bulleted)
            (5, "\n".join(f"line {i} trails off..." for i in range(10))
                + "\n" + good),                               # ellipsis lines
            (6, good + " " + "123 456 " * 30),                # alpha-word frac
            (7, " ".join(f"word{i}" for i in range(60))),     # no required stopwords
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_quality_rules(docs).collect()}
    assert got[0].keep
    assert not got[1].pass_word_count and not got[1].keep
    assert not got[2].pass_mean_word_len and not got[2].keep
    assert not got[3].pass_symbol_ratio and not got[3].keep
    assert not got[4].pass_bullet_lines and not got[4].keep
    assert not got[5].pass_ellipsis_lines and not got[5].keep
    assert not got[6].pass_alpha_words and not got[6].keep
    assert not got[7].pass_stopwords and not got[7].keep
    # null text behaves as empty: fails word count, never crashes
    nul = spark.createDataFrame([(9, None)], "doc_id long, text string")
    r9 = gopher_quality_rules(nul).collect()[0]
    assert r9.n_words == 0 and not r9.keep


def test_c4_quality_rules(spark):
    """C4 line + doc rules on constructed docs: line rewrite keeps only
    terminal-punctuation, >=5-word, javascript-free lines; doc flags trip
    on lorem ipsum, curly braces, too-few surviving lines, and badwords."""
    from readability_php_spark.operators.text_analysis import c4_quality_rules

    good_line = "This sentence has more than five words in it."
    docs = spark.createDataFrame(
        [
            (0, "\n".join([good_line] * 3)),                     # keep
            (1, good_line + "\nno terminal punctuation here\n"
                + "Too short."                                   # <5 words
                + "\nEnable JavaScript to view this page."       # javascript
                + "\n" + good_line + "\n" + good_line),
            (2, "\n".join([good_line] * 2)),                     # <3 kept lines
            (3, "\n".join([good_line] * 3) + "\nLorem Ipsum dolor."),
            (4, "\n".join([good_line] * 3) + "\nvar x = { a: 1 }."),
            (5, None),                                           # null text
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in c4_quality_rules(docs).collect()}
    assert got[0].keep and got[0].n_lines_kept == 3
    assert got[0].text_clean == "\n".join([good_line] * 3)
    # doc 1: the three bad lines are dropped, the three good ones kept
    assert got[1].n_lines_in == 6 and got[1].n_lines_kept == 3
    assert got[1].keep
    assert "JavaScript" not in got[1].text_clean
    assert not got[2].keep and got[2].n_lines_kept == 2
    assert not got[3].keep  # lorem ipsum
    assert not got[4].keep  # curly bracket
    assert not got[5].keep and got[5].n_lines_in == 0
    # badwords blocklist: a doc containing a listed word is dropped
    bad = c4_quality_rules(
        spark.createDataFrame(
            [(7, "\n".join([good_line] * 3) + "\nThe word verboten appears.")],
            "doc_id long, text string",
        ),
        badwords=["verboten"],
    ).collect()[0]
    assert not bad.keep


def test_training_prep_quality_rule_stages(spark, tmp_path):
    """c4_rules / gopher_rules wired into the prep pipeline: generated
    articles (stop-word prose) mostly survive both rule sets; the synthetic
    random-vocabulary corpus fails Gopher's required-stop-word rule and
    C4's terminal-punctuation rule, emptying the output — evidence the
    stages actually gate."""
    from readability_php_spark.plans.training_pipeline import run_training_prep

    articles = generated_pages_df(spark).select("url", "html")
    base = run_training_prep(
        spark, articles, str(tmp_path / "base"), min_tokens=10,
        pack_budget=500, fuzzy=False,
    )
    ruled = run_training_prep(
        spark, articles, str(tmp_path / "ruled"), min_tokens=10,
        pack_budget=500, fuzzy=False, c4_rules=True, gopher_rules=True,
    )
    assert 0 < ruled.docs_final <= base.docs_final
    # synthetic docs: random vocabulary, no stop words, no sentence
    # punctuation -> both rule sets drop everything
    synth = documents_corpus_df(spark, SF).filter(F.col("doc_id") < 10).select(
        "url", "html"
    )
    dropped = run_training_prep(
        spark, synth, str(tmp_path / "synth"), min_tokens=10,
        pack_budget=500, fuzzy=False, c4_rules=True, gopher_rules=True,
    )
    assert dropped.docs_final == 0


def test_training_prep_shuffle_seed(spark, tmp_path):
    """shuffle_seed packs by a seeded hash instead of url order: same
    unit set and token conservation, different (source-mixing) pack
    assignment, and bit-identical across reruns with the same seed."""
    from readability_php_spark.plans.training_pipeline import run_training_prep

    articles = generated_pages_df(spark).select("url", "html")

    def run(path, seed):
        run_training_prep(
            spark, articles, str(tmp_path / path), min_tokens=10,
            pack_budget=800, fuzzy=False, shuffle_seed=seed,
        )
        return {
            r.url: (r.split, r.lang, r.n_tokens, r.pack_id)
            for r in spark.read.parquet(str(tmp_path / path)).collect()
        }

    plain = run("plain", None)
    shuf = run("shuf", 7)
    again = run("again", 7)
    assert shuf == again                      # deterministic
    assert set(shuf) == set(plain)            # same unit universe
    assert {u: v[:3] for u, v in shuf.items()} == {
        u: v[:3] for u, v in plain.items()
    }                                         # split/lang/tokens unchanged
    assert any(shuf[u][3] != plain[u][3] for u in plain)  # packs re-mixed


def test_training_prep_substring_stage(spark, tmp_path):
    """substring_n wired into the prep pipeline: two pages share a
    15-token boilerplate run embedded in otherwise-distinct paragraphs
    (distinct full lines, so line_dedup can't touch it).  The
    url-lexicographically-earlier doc keeps the run; the later doc loses
    exactly that run; the unrelated doc ships verbatim."""
    from readability_php_spark.plans.training_pipeline import run_training_prep

    boiler = " ".join(f"boiler{i}" for i in range(15))

    def page(prefix, body):
        return (
            "<html><head><title>t</title></head><body>"
            f"<p>{body}</p>"
            f"<p>{prefix} closing paragraph with enough extra words to "
            "keep the extractor comfortable about this page</p>"
            "</body></html>"
        )

    # doc c gets a FULLY original page — the shared page() closing
    # template is itself a >=10-token corpus-wide run, so reusing it
    # would (correctly) get c cut too and never exercise the verbatim
    # pass-through branch
    carol_html = (
        "<html><head><title>t</title></head><body>"
        "<p>carol has entirely original content only and her closing "
        "sentence repeats nothing from anywhere else at all</p>"
        "</body></html>"
    )
    rows = [
        ("http://t.test/a", page("alpha", f"alpha opening words {boiler} alpha tail")),
        ("http://t.test/b", page("bravo", f"bravo different start {boiler} bravo end")),
        ("http://t.test/c", carol_html),
    ]
    pages = spark.createDataFrame(rows, "url string, html string")
    res = run_training_prep(
        spark, pages, str(tmp_path / "out"),
        min_tokens=5, pack_budget=500, fuzzy=False, substring_n=10,
    )
    assert res.docs_final == 3
    out = {
        r.parent_url: r.text
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert boiler in out["http://t.test/a"]          # keeper copy intact
    assert "boiler0" not in out["http://t.test/b"]   # run excised
    assert "bravo different start" in out["http://t.test/b"]
    assert "bravo end" in out["http://t.test/b"]
    # verbatim branch: an untouched doc's text is BYTE-identical to the
    # same pipeline without the substring stage (no token-rejoin)
    run_training_prep(
        spark, pages, str(tmp_path / "ctrl"),
        min_tokens=5, pack_budget=500, fuzzy=False,
    )
    ctrl = {
        r.parent_url: r.text
        for r in spark.read.parquet(str(tmp_path / "ctrl")).collect()
    }
    assert out["http://t.test/c"] == ctrl["http://t.test/c"]


# --- perceptual-hash image dedup (operators/image_dedup.py) -----------------

def _phash_triple(seed, w, h):
    """(rgb_png_pixels, gif_payload, jpeg_payload) of the SAME 4-level
    grayscale picture in three formats (GIF-representable by design)."""
    import random as _random

    from readability_php_spark.operators.jpeg import encode_jpeg
    from readability_php_spark.operators.multimodal import encode_gif, encode_png

    rng = _random.Random(seed)
    levels = [0, 85, 170, 255]
    vals = [levels[rng.randrange(4)] for _ in range(w * h)]
    rgb = bytes(v for v in vals for _ in range(3))
    pal = bytes(v for v in levels for _ in range(3))
    png = encode_png(w, h, rgb, color_type=2)
    gif = encode_gif(w, h, pal, bytes(v >> 6 for v in vals))
    jpg = encode_jpeg(w, h, bytes(vals), channels=1)
    return png, gif, jpg


def test_phash64_properties():
    from readability_php_spark.operators.image_dedup import phash64

    # exact brightness-scale invariance: doubling every 8-bit value is an
    # exactly-representable linear map, so DCT signs and the median
    # comparison are bit-identical
    base = bytes((x * 7 + y * 13) % 128 for y in range(20) for x in range(24))
    doubled = bytes(2 * v for v in base)
    assert phash64(24, 20, base) == phash64(24, 20, doubled)

    # channel equivalence: gray plane == RGB with r=g=b (luma weights sum
    # to 1.0 exactly for equal channels up to fp assoc — assert equality
    # because BT.601 on equal channels reproduces the value)
    rgb = bytes(v for v in base for _ in range(3))
    assert bin(phash64(24, 20, base) ^ phash64(24, 20, rgb)).count("1") <= 2

    # hash is non-negative and fits the 63-bit contract
    assert 0 <= phash64(24, 20, base) < (1 << 63)

    # buffer-size discipline
    import pytest as _pytest
    with _pytest.raises(ValueError):
        phash64(5, 5, b"\x00" * 24)


def test_phash64_resample_consistency():
    """A 64x64 image made of constant 2x2 blocks hashes identically to the
    32x32 image of the block values (area-average downsample is exact)."""
    from readability_php_spark.operators.image_dedup import phash64

    small = [(x * 11 + y * 29) % 256 for y in range(32) for x in range(32)]
    big = bytes(
        small[(y // 2) * 32 + (x // 2)] for y in range(64) for x in range(64)
    )
    assert phash64(64, 64, big) == phash64(32, 32, bytes(small))


def test_phash_jpeg_recompression_near_dup():
    """JPEG round-trip of the same picture stays within a small Hamming
    distance; unrelated pictures stay far apart."""
    from readability_php_spark.operators.image_dedup import phash64
    from readability_php_spark.operators.jpeg import decode_jpeg

    hams, cross = [], []
    hashes = []
    for seed in range(12):
        w, h = 24 + seed % 9, 20 + seed % 7
        png_rgb, _gif, jpg = _phash_triple(seed, w, h)
        import zlib as _z  # decode our own PNG via the real decoder
        from readability_php_spark.operators.multimodal import decode_png

        pw, ph_, pix = decode_png(png_rgb)
        h_png = phash64(pw, ph_, pix)
        jw, jh, jpix = decode_jpeg(jpg)
        h_jpg = phash64(jw, jh, jpix)
        hams.append(bin(h_png ^ h_jpg).count("1"))
        hashes.append(h_png)
    assert max(hams) <= 6, hams
    import itertools as _it
    for a, b in _it.combinations(hashes, 2):
        cross.append(bin(a ^ b).count("1"))
    assert min(cross) >= 12, sorted(cross)[:5]


def test_compute_phash_error_discipline(spark):
    from readability_php_spark.operators.image_dedup import compute_phash

    png, gif, jpg = _phash_triple(3, 24, 20)
    rows = [
        (1, "image", bytearray(png)),
        (2, "image", bytearray(gif)),
        (3, "image", bytearray(jpg)),
        (4, "image", bytearray(b"GIF89a corrupt")),
        (5, "audio", bytearray(b"RIFF....")),       # filtered (not image)
        (6, "image", bytearray(b"RIFFWEBPVP8 ")),   # no decoder
    ]
    media = spark.createDataFrame(rows, "media_id long, kind string, payload binary")
    out = {r.media_id: r for r in compute_phash(media).collect()}
    assert set(out) == {1, 2, 3, 4, 6}
    assert out[1].error is None and out[1].phash is not None
    assert (out[1].width, out[1].height) == (24, 20)
    # PNG and GIF encode the same picture -> identical pHash
    assert out[1].phash == out[2].phash
    # JPEG is lossy but perceptually the same
    assert bin(out[1].phash ^ out[3].phash).count("1") <= 6
    assert out[4].error.startswith("decode_error") and out[4].phash is None
    assert out[6].error == "decoder_unavailable"


def test_phash_candidates_pigeonhole(spark):
    from readability_php_spark.operators.image_dedup import (
        phash_near_dup_candidates,
    )

    base = 0x0123456789ABCDEF
    rows = [
        (1, base),
        (2, base ^ 0b111),            # hamming 3 (one block untouched)
        (3, base ^ (1 << 60)),        # hamming 1
        # hamming 4 spread over all four 16-bit blocks: pigeonhole with
        # blocks=4 only guarantees <= 3, so this pair may be (and is) missed
        (4, base ^ ((1 << 0) | (1 << 16) | (1 << 32) | (1 << 48))),
        (5, 0x7EDCBA9876543210),      # far away
    ]
    hashes = spark.createDataFrame(rows, "media_id long, phash long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_near_dup_candidates(hashes, max_hamming=3).collect()
    }
    assert got[(1, 2)] == 3 and got[(1, 3)] == 1
    assert (1, 4) not in got            # documented recall bound
    assert all(5 not in p for p in got)
    # blocks=8 (8-bit blocks) guarantees distance <= 7: now (1,4) surfaces
    got8 = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_near_dup_candidates(
            hashes, max_hamming=7, blocks=8
        ).collect()
    }
    assert got8[(1, 4)] == 4


def test_phash_bucket_cap_exact(spark):
    """The salted mega-bucket mode emits the IDENTICAL pair set as the
    uncapped array path — the cap distributes the quadratic work, it does
    not approximate it.  The corpus includes two members of an over-cap
    bucket that are within max_hamming of each other but both farther
    than that from the bucket minimum (the exact pair the pre-r6 star
    emission lost)."""
    from readability_php_spark.operators.image_dedup import (
        phash_near_dup_candidates,
    )

    base = 0x0123456789ABCDEF
    rows = [(i, base) for i in range(1, 6)]          # five identical hashes
    # 6 and 7: hamming 3 from each other, hamming 4/3 from base — they
    # share base's low three 16-bit blocks (bits flipped only in block 3),
    # so all land in one mega-bucket with the identical five
    rows.append((6, base ^ (0b1111 << 59)))          # d(base)=4, only blk 3 differs
    rows.append((7, base ^ (0b0001 << 59)))          # d(base)=1, d(6)=3
    hashes = spark.createDataFrame(rows, "media_id long, phash long")
    full = {
        (r.id_a, r.id_b, r.hamming)
        for r in phash_near_dup_candidates(hashes, max_hamming=3).collect()
    }
    capped = {
        (r.id_a, r.id_b, r.hamming)
        for r in phash_near_dup_candidates(
            hashes, max_hamming=3, bucket_cap=3
        ).collect()
    }
    assert capped == full
    # C(5,2) identicals + (1..5, 7) at hamming 1 + the (6, 7) pair the
    # star approximation used to lose (6 is > max_hamming from every
    # identical member, so its ONLY edge is through 7)
    assert (6, 7, 3) in full
    assert len(full) == 10 + 5 + 1


def test_phash_image_dedup_end_to_end(spark):
    from readability_php_spark.operators.image_dedup import phash_image_dedup

    rows = []
    for d in range(4):
        png, gif, jpg = _phash_triple(100 + d, 24 + d, 20 + d)
        rows += [
            (d * 10 + 0, "image", bytearray(png)),
            (d * 10 + 1, "image", bytearray(gif)),
            (d * 10 + 2, "image", bytearray(jpg)),
        ]
    rows.append((99, "image", bytearray(b"GIF89a corrupt")))  # excluded
    media = spark.createDataFrame(rows, "media_id long, kind string, payload binary")
    out = {r.media_id: r for r in phash_image_dedup(
        media, max_hamming=6, blocks=8
    ).collect()}
    assert set(out) == {d * 10 + v for d in range(4) for v in range(3)}
    for d in range(4):
        for v in range(3):
            r = out[d * 10 + v]
            assert r.keeper == d * 10, (d, v, r)
            assert r.is_keeper == (v == 0)


# ---------------------------------------------------------------------------
# DSIR importance weighting (operators/importance.py)
# ---------------------------------------------------------------------------


def _dsir_pools(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text").filter(
        (F.col("doc_id") < 120) & F.col("text").isNotNull()
    )
    target = docs.filter(F.col("doc_id") < 15)
    return target, docs


def test_dsir_select_matches_independent_topk(spark):
    """dsir_select's top-k cut is exactly the (score desc, id asc) head of
    dsir_scores — the law the correctness gate's docstring delegates here."""
    from readability_php_spark.operators.importance import (
        dsir_scores,
        dsir_select,
        dsir_weights,
    )

    target, raw = _dsir_pools(spark)
    w = dsir_weights(target, raw, buckets=1024, hash_fn="md5")
    scores = {
        r.doc_id: r.dsir_score
        for r in dsir_scores(raw, w, buckets=1024, hash_fn="md5").collect()
    }
    expect = sorted(scores, key=lambda d: (-scores[d], d))[:25]
    sel = dsir_select(raw, target, budget=25, buckets=1024, hash_fn="md5",
                      score_decimals=None)
    rows = sel.orderBy("rank").collect()
    assert [r.doc_id for r in rows] == expect
    assert [r.rank for r in rows] == list(range(1, 26))
    for r in rows:
        assert abs(r.dsir_score - scores[r.doc_id]) < 1e-9


def test_dsir_target_vocab_scores_above_disjoint_vocab(spark):
    """A raw doc written in the target's vocabulary must outscore a raw doc
    with fully disjoint vocabulary (the defining DSIR property)."""
    from readability_php_spark.operators.importance import (
        dsir_scores,
        dsir_weights,
    )

    target = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(8)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon"),
            (101, "zork quux fnord blivet wibble"),
        ],
        "doc_id long, text string",
    )
    w = dsir_weights(target, raw, buckets=256, hash_fn="xxhash64")
    s = {r.doc_id: r.dsir_score for r in dsir_scores(raw, w, buckets=256,
                                                     hash_fn="xxhash64").collect()}
    assert s[100] > s[101]


def test_dsir_blank_and_null_text_drop_out(spark):
    from readability_php_spark.operators.importance import (
        dsir_scores,
        dsir_weights,
    )

    raw = spark.createDataFrame(
        [(1, "some real text here"), (2, "   "), (3, None), (4, "")],
        "doc_id long, text string",
    )
    w = dsir_weights(raw.filter(F.col("doc_id") == 1), raw,
                     buckets=64, hash_fn="xxhash64")
    out = dsir_scores(raw, w, buckets=64, hash_fn="xxhash64").collect()
    assert {r.doc_id for r in out} == {1}
    # unigrams(3) + bigrams(2) + the doc "here"-less... 4 tokens -> 4+3
    assert out[0].n_grams == 7


def test_dsir_length_normalize_divides_by_gram_count(spark):
    from readability_php_spark.operators.importance import dsir_select

    target, raw = _dsir_pools(spark)
    plain = {
        r.doc_id: r.dsir_score
        for r in dsir_select(raw, target, budget=10_000, buckets=512,
                             hash_fn="md5", score_decimals=None).collect()
    }
    normed = dsir_select(raw, target, budget=10_000, buckets=512,
                         hash_fn="md5", length_normalize=True,
                         score_decimals=None)
    from readability_php_spark.operators.importance import dsir_scores, dsir_weights
    w = dsir_weights(target, raw, buckets=512, hash_fn="md5")
    ngrams = {
        r.doc_id: r.n_grams
        for r in dsir_scores(raw, w, buckets=512, hash_fn="md5").collect()
    }
    for r in normed.collect():
        assert abs(r.dsir_score - plain[r.doc_id] / ngrams[r.doc_id]) < 1e-9


def test_dsir_scoring_join_is_broadcast(spark):
    """The weight table (≤ buckets rows) must join broadcast — the raw pool
    shuffles once on doc_id and never on bucket."""
    from readability_php_spark.operators.importance import (
        dsir_scores,
        dsir_weights,
    )

    target, raw = _dsir_pools(spark)
    w = dsir_weights(target, raw, buckets=256, hash_fn="md5")
    plan = dsir_scores(raw, w, buckets=256, hash_fn="md5")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_training_prep_dsir_selection(spark, tmp_path):
    """DSIR selection stage in the composed pipeline: keeps exactly the
    budget, runs after every other filter, and fails fast on a missing
    budget (before the corpus extracts)."""
    import pytest

    from readability_php_spark.plans.training_pipeline import run_training_prep

    pages = documents_corpus_df(spark, SF).filter(F.col("doc_id") < 60).select(
        "url", "html"
    )
    target = load_table(spark, SF, "documents").filter(
        F.col("doc_id") < 8
    ).select("text")
    with pytest.raises(ValueError, match="dsir_budget"):
        run_training_prep(
            spark, pages, str(tmp_path / "never"), dsir_target=target
        )
    out_dir = str(tmp_path / "prep_dsir")
    res = run_training_prep(
        spark, pages, out_dir,
        min_tokens=10, pack_budget=500,
        dsir_target=target, dsir_budget=10,
    )
    assert res.docs_final == 10
    out = spark.read.parquet(out_dir)
    assert out.select("url").distinct().count() == 10


def test_dsir_quantized_scores_and_guards(spark):
    """Default score_decimals=6 quantizes before ranking (FP-noise ties
    fall to the id tie-break); empty targets and bad budgets fail fast."""
    import pytest

    from readability_php_spark.operators.importance import (
        dsir_select,
        dsir_weights,
    )

    target, raw = _dsir_pools(spark)
    exact = {
        r.doc_id: r.dsir_score
        for r in dsir_select(raw, target, budget=10_000, buckets=512,
                             hash_fn="md5", score_decimals=None).collect()
    }
    for r in dsir_select(raw, target, budget=10_000, buckets=512,
                         hash_fn="md5").collect():
        assert r.dsir_score == round(exact[r.doc_id], 6)
    with pytest.raises(ValueError, match="budget must be positive"):
        dsir_select(raw, target, budget=0, buckets=512)
    empty = spark.createDataFrame(
        [(1, None), (2, "   ")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="no grams"):
        dsir_weights(empty, raw, buckets=512)


def test_dsir_gumbel_resampling_deterministic_and_diversifying(spark):
    """Seeded Gumbel top-k: same seed → identical draw across runs;
    different seeds → (generally) different sets; noise is bounded enough
    that scores still matter."""
    from readability_php_spark.operators.importance import dsir_select

    target, raw = _dsir_pools(spark)
    a1 = [r.doc_id for r in dsir_select(
        raw, target, budget=15, buckets=512, hash_fn="md5",
        gumbel_seed=7).orderBy("rank").collect()]
    a2 = [r.doc_id for r in dsir_select(
        raw, target, budget=15, buckets=512, hash_fn="md5",
        gumbel_seed=7).orderBy("rank").collect()]
    assert a1 == a2  # reproducible draw
    b = [r.doc_id for r in dsir_select(
        raw, target, budget=15, buckets=512, hash_fn="md5",
        gumbel_seed=8).orderBy("rank").collect()]
    assert a1 != b  # a different seed reshuffles the draw


# ---------------------------------------------------------------------------
# SemDeDup (operators/similarity.py:semdedup)
# ---------------------------------------------------------------------------


def _semdedup_corpus(spark):
    """sf0.001 embeddings (100 vecs) + planted semantic dups: each vec_id
    < 10 gets a copy at +1000 scaled by 1.001 — same direction, cosine
    exactly 1.0, so every planted pair MUST collapse at any threshold."""
    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding"
    ).filter(F.col("vec_id") < 100)
    dupes = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * 1.001).cast("float")
        ).alias("embedding"),
    )
    return emb.unionByName(dupes)


def test_assign_cells_join_equals_literal(spark, monkeypatch):
    """The broadcast-join quantizer path (the k-ceiling lift) is
    BIT-identical to the literal-expression path: same zip_with fold
    arithmetic, same (d2, cid) tie-break — for probes=1 (± cosine) and
    the probes>1 window reduction."""
    from readability_php_spark.operators import similarity
    from readability_php_spark.operators.similarity import (
        assign_cells,
        kmeans_centroids,
    )

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 150)
    cent = kmeans_centroids(emb, k=8)
    centroids = [(r.cid, list(r.cvec)) for r in cent.orderBy("cid").collect()]

    def run(path, probes, with_cosine):
        with monkeypatch.context() as m:
            if path == "join":  # a zero ceiling sends every k to the join
                m.setattr(similarity, "LITERAL_MAX_K", 0)
            out = assign_cells(
                emb, centroids, "vec_id", "embedding",
                probes=probes, with_cosine=with_cosine,
            )
        if probes == 1:
            cols = ["vec_id", "cid"] + (
                ["centroid_sim"] if with_cosine else []
            )
        else:
            cols = ["vec_id", "cids"]
        return sorted(tuple(r) for r in out.select(*cols).collect())

    assert run("literal", 1, True) == run("join", 1, True)
    assert run("literal", 1, False) == run("join", 1, False)
    lit2 = run("literal", 2, False)
    join2 = run("join", 2, False)
    assert [(i, list(c)) for i, c in lit2] == [(i, list(c)) for i, c in join2]


def test_assign_cells_noncontiguous_cids_both_paths(spark, monkeypatch):
    """cid is the caller's actual centroid id, not the list index: with
    cids (3, 7, 10) both strategies label rows from {3, 7, 10} and agree
    exactly (pre-r6, the literal path silently emitted 0-based indices).
    Unsorted cid lists are rejected — the shared tie-break law depends on
    list order == cid order."""
    from readability_php_spark.operators import similarity
    from readability_php_spark.operators.similarity import assign_cells

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 60)
    dim = len(emb.first().embedding)
    cents = [(3, [0.0] * dim), (7, [1.0] * dim), (10, [-1.0] * dim)]

    def run(path, probes):
        with monkeypatch.context() as m:
            if path == "join":
                m.setattr(similarity, "LITERAL_MAX_K", 0)
            out = assign_cells(
                emb, cents, "vec_id", "embedding", probes=probes
            )
        col = "cid" if probes == 1 else "cids"
        return sorted(
            (r.vec_id, r[col] if probes == 1 else tuple(r[col]))
            for r in out.select("vec_id", col).collect()
        )

    lit = run("literal", 1)
    assert lit == run("join", 1)
    assert {c for _, c in lit} <= {3, 7, 10}
    lit2 = run("literal", 2)
    assert lit2 == run("join", 2)
    assert {c for _, cs in lit2 for c in cs} <= {3, 7, 10}
    with pytest.raises(ValueError, match="ascending"):
        assign_cells(emb, list(reversed(cents)), "vec_id", "embedding")


def test_ivf_topk_single_probe(spark):
    """n_probe=1 is a valid setting (assign_cells returns a scalar `cid`
    there, not a `cids` array — pre-r6 this crashed at plan build) and
    its result set is a subset of the 2-probe run's candidates."""
    from readability_php_spark.operators.similarity import ivf_topk

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 150)
    one = ivf_topk(emb, [0, 1], k=5, n_centroids=8, n_probe=1).collect()
    assert len(one) > 0
    assert all(1 <= r.rank <= 5 for r in one)
    two = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, [0, 1], k=150, n_centroids=8, n_probe=2).collect()
    }
    assert {(r.query_id, r.neighbor_id) for r in one} <= two


def test_split_overcap_buckets_scoped_salting(spark):
    """Only OVER-cap buckets pay the salted self-join: `under` holds
    exactly the rows of at-or-below-cap buckets, `over_pairs` exactly the
    within-bucket pairs of the over-cap ones (pre-r6, one skewed bucket
    replicated the WHOLE relation s ways)."""
    from readability_php_spark.operators.similarity import (
        split_overcap_buckets,
    )

    rows = [(i, "big", float(i)) for i in range(20)] + [
        (100 + i, f"small{i % 3}", float(i)) for i in range(9)
    ]
    df = spark.createDataFrame(rows, "id long, bucket string, vec double")
    under, over = split_overcap_buckets(df, ["bucket"], "id", ["vec"], 5)
    assert over is not None
    assert {r.bucket for r in under.collect()} == {"small0", "small1", "small2"}
    got = {(r.id_a, r.id_b) for r in over.collect()}
    want = {(a, b) for a in range(20) for b in range(20) if a < b}
    assert got == want
    # payloads ride along under <name>_a/<name>_b
    assert set(over.columns) == {"id_a", "id_b", "vec_a", "vec_b"}
    # no bucket over cap -> pass-through, no action beyond the size probe
    u2, o2 = split_overcap_buckets(df, ["bucket"], "id", ["vec"], 50)
    assert o2 is None and u2 is df


def test_assign_cells_join_plan_shape(spark):
    """Past the literal ceiling the quantizer must be a broadcast
    centroid join + map-side-combined min-struct agg — NOT a k·d literal
    expression tree; below it, no join at all.  auto picks by k."""
    from readability_php_spark.operators.similarity import assign_cells

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 50)
    dim = len(emb.first().embedding)
    big = [(i, [float(i % 7)] * dim) for i in range(256)]  # k > 128 ceiling
    plan_join = assign_cells(
        emb, big, "vec_id", "embedding"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan_join
    assert "partial_min" in plan_join  # map-side combine of the argmin
    small = big[:8]
    plan_lit = assign_cells(
        emb, small, "vec_id", "embedding"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan_lit


def test_ivf_and_semdedup_join_quantizer_identical(spark, monkeypatch):
    """ivf_topk and semdedup produce identical results on both quantizer
    paths (the both-paths gate criterion, run as a differential at gate
    k; a zero LITERAL_MAX_K sends gate k to the join path)."""
    from readability_php_spark.operators import similarity
    from readability_php_spark.operators.similarity import ivf_topk, semdedup

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 150)
    corpus = _semdedup_corpus(spark)

    def run():
        ivf = sorted(
            tuple(r)
            for r in ivf_topk(emb, [0, 1, 2], n_centroids=8).collect()
        )
        sem = sorted(
            (r.vec_id, r.sem_cluster, r.centroid_sim, r.is_keeper)
            for r in semdedup(
                corpus, threshold=0.999, n_centroids=4
            ).collect()
        )
        return ivf, sem

    a, s_lit = run()
    monkeypatch.setattr(similarity, "LITERAL_MAX_K", 0)
    b, s_join = run()
    assert a == b and len(a) > 0
    assert s_lit == s_join


def test_semdedup_collapses_planted_semantic_dups(spark):
    from readability_php_spark.operators.similarity import semdedup

    out = semdedup(
        _semdedup_corpus(spark), threshold=0.999, n_centroids=4
    ).collect()
    assert len(out) == 110  # one row per input vector (no join fan-out)
    rows = {r.vec_id: r for r in out}
    assert len(rows) == 110
    for i in range(10):
        a, b = rows[i], rows[i + 1000]
        # planted pair clusters together under the min-id label...
        assert a.sem_cluster == b.sem_cluster == i
        # ...with exactly one keeper: the member FARTHEST from the
        # centroid (lowest centroid_sim; id tie-break)
        assert a.is_keeper != b.is_keeper
        keeper, loser = (a, b) if a.is_keeper else (b, a)
        assert (keeper.centroid_sim, keeper.vec_id) <= (
            loser.centroid_sim, loser.vec_id
        )
    # a keeper per cluster, exactly
    clusters = {}
    for r in out:
        clusters.setdefault(r.sem_cluster, []).append(r.is_keeper)
    for cid, flags in clusters.items():
        assert sum(flags) == 1, cid


def test_semdedup_salted_mega_cluster_path_identical(spark):
    """Forcing the salted pair join (max_cluster_rows < any cell size)
    must produce byte-identical output to the unsalted path."""
    from readability_php_spark.operators.similarity import semdedup

    corpus = _semdedup_corpus(spark)
    plain = sorted(
        (r.vec_id, r.sem_cluster, r.centroid_sim, r.is_keeper)
        for r in semdedup(corpus, threshold=0.999, n_centroids=4).collect()
    )
    salted = sorted(
        (r.vec_id, r.sem_cluster, r.centroid_sim, r.is_keeper)
        for r in semdedup(
            corpus, threshold=0.999, n_centroids=4, max_cluster_rows=7
        ).collect()
    )
    assert plain == salted
