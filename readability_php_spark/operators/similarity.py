"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Dot products are ``F.aggregate(F.zip_with(...))`` column algebra (JVM,
  codegen'd); the query side is broadcast so the scan of the corpus is a
  single map-side pass, and top-k per query is a window ranked locally
  after AQE coalesces.
- ``signbit_buckets`` / ``ann_topk``: the scale path — a deterministic
  sign-bit LSH over the first B dimensions buckets the corpus; queries probe
  only their own bucket.  At 10^12 vectors the bucket join replaces the
  whole-corpus cross product with per-bucket locality (same shape as an IVF
  coarse quantizer; centroids ↔ sign patterns).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import collect_at_most


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for the given query ids (excluding self).
    Cosine rounded to 4 decimals for cross-engine hash stability; ties
    broken by neighbor id."""
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    joined = embeddings.alias("c").crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = joined.select(
        F.col("query_id"),
        F.col(id_col).alias("neighbor_id"),
        F.round(cosine(F.col("qvec"), F.col(vec_col)), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _centroid_array_lit(centroids: list) -> Column:
    """The (cid-ordered) centroid list as ONE literal array-of-arrays
    column.  Shared by every consumer that indexes centroids by cid, so
    the cid == list-index invariant is pinned in one place."""
    return F.array(
        *[F.array(*[F.lit(float(x)) for x in v]) for _, v in centroids]
    )


def nearest_centroids(
    vec_col: str, centroids: list, probes: int
) -> Column:
    """array<struct<d2,cid>> of the ``probes`` nearest of the given
    (cid, vector) centroids — pure column algebra over a literal centroid
    array (centroids must be ordered by cid; ties break to the lower cid
    via struct sort order, matching a row_number over (d2 asc, cid asc))."""
    cents = _centroid_array_lit(centroids)
    d2s = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(F.col(vec_col), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )
    ranked = F.array_sort(
        F.zip_with(
            d2s,
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
            lambda d, i: F.struct(d.alias("d2"), i.alias("cid")),
        )
    )
    return F.slice(ranked, 1, probes)


#: Above this many centroids the coarse quantizer switches from the
#: literal-array expression to the broadcast-join path: the literal
#: embeds all k·d values in ONE expression tree, whose codegen size and
#: per-row constant-fold cost grow linearly in k — fine at the k≈16-128
#: of the gates, a wall at the k≈10^4-10^5 cells a 10^9+-vector
#: SemDeDup/IVF needs.  128 keeps every gate on the (cheapest,
#: SQL-replayable) literal path while production-scale k flips over.
LITERAL_MAX_K = 128


def assign_cells(
    df: DataFrame,
    centroids: list,
    id_col: str,
    vec_col: str,
    probes: int = 1,
    with_cosine: bool = False,
) -> DataFrame:
    """Coarse-quantizer cell assignment — every consumer (k-means
    assignment, IVF corpus/query probing, SemDeDup) goes through here so
    the literal-vs-join decision lives in ONE place.

    Returns ``df`` plus ``cid`` (``probes == 1``) or ``cids``
    (``probes > 1``, the probe cells by ascending (d2, cid)), and
    optionally ``centroid_sim`` (round-4 cosine to the assigned
    centroid, ``probes == 1`` only).  ``id_col`` must be unique per row
    (every consumer keys on a unique vector id).

    Paths (``k <= LITERAL_MAX_K`` takes the literal one; both produce
    BIT-IDENTICAL results — same zip_with fold arithmetic, same (d2, cid)
    tie-break — differentially tested and gate-verified):

    - literal: the k centroids ride into one column expression
      (:func:`nearest_centroids`) — zero shuffle, zero join, replayable
      in the DuckDB oracles; per-row cost AND expression size are O(k·d),
      so it is the cheapest path exactly while k is small.
    - join: the centroids become a broadcast DataFrame;
      assignment is a BroadcastNestedLoopJoin fan-out (k rows per
      vector, map-side) reduced by ``min(struct(d2, cid[, cos]))`` —
      a map-side-combined aggregate whose shuffle carries ONE struct
      per vector, never the k-way fan-out.  Expression size is O(d),
      independent of k.  For ``probes > 1`` the reduction is a
      row_number window over the fan-out (shuffles N·k rows) — use it
      on bounded frames only (its one consumer is the IVF QUERY side,
      a handful of rows); the corpus side always assigns probes=1.
    """
    k = len(centroids)
    if probes < 1 or probes > k:
        raise ValueError(f"probes must be in [1, {k}], got {probes}")
    if with_cosine and probes != 1:
        raise ValueError("with_cosine requires probes=1")
    cids = [int(c) for c, _ in centroids]
    if len(set(cids)) != k or cids != sorted(cids):
        # both paths tie-break equal-d2 to the EARLIER centroid; that
        # only means "lower cid" (the documented law) when the list order
        # is the cid order
        raise ValueError("centroids must be ordered by distinct ascending cid")
    if k <= LITERAL_MAX_K:
        # nearest_centroids ranks by LIST INDEX; when the cids aren't the
        # 0-based indices, remap through a literal lookup so both
        # paths emit the caller's actual cid values (contiguous
        # 0..k-1 callers — every gate — keep the identity plan)
        contiguous = cids == list(range(k))
        cid_lit = F.array(*[F.lit(c) for c in cids])
        ranked = nearest_centroids(vec_col, centroids, probes)
        if probes == 1:
            idx = ranked[0].getField("cid")
            out = df.withColumn(
                "cid", idx if contiguous else F.element_at(cid_lit, idx + 1)
            )
            if with_cosine:
                cents_lit = _centroid_array_lit(centroids)
                out = out.withColumn(
                    "centroid_sim",
                    F.round(
                        cosine(
                            F.col(vec_col),
                            # index by list position, not cid value
                            F.element_at(cents_lit, idx + 1),
                        ),
                        4,
                    ),
                )
        else:
            idxs = F.transform(ranked, lambda s: s.getField("cid"))
            out = df.withColumn(
                "cids",
                idxs
                if contiguous
                else F.transform(idxs, lambda i: F.element_at(cid_lit, i + 1)),
            )
        return out
    cents = df.sparkSession.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        "cid int, cvec array<double>",
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col), F.col("cvec"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    fanout = df.select(id_col, vec_col).crossJoin(F.broadcast(cents))
    if probes == 1:
        fields = [d2.alias("d2"), F.col("cid").alias("cid")]
        if with_cosine:
            fields.append(
                F.round(cosine(F.col(vec_col), F.col("cvec")), 4).alias("cs")
            )
        best = fanout.groupBy(id_col).agg(
            F.min(F.struct(*fields)).alias("_b")
        )
        out = df.join(best, id_col).withColumn("cid", F.col("_b.cid"))
        if with_cosine:
            out = out.withColumn("centroid_sim", F.col("_b.cs"))
        return out.drop("_b")
    w = Window.partitionBy(id_col).orderBy("d2", "cid")
    topp = (
        fanout.select(id_col, d2.alias("d2"), "cid")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= probes)
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "cid"))),
                lambda s: s.getField("cid"),
            ).alias("cids")
        )
    )
    return df.join(topp, id_col)


#: Row ceiling for the driver-local Lloyd path of
#: :func:`kmeans_centroids`: train locally when the corpus fits in one
#: bounded collect (rows ≤ ceiling).  Quantizer TRAINING corpora are small
#: by design even at 10^12-vector scale (you train the coarse quantizer on
#: a sample, not the corpus — the FAISS/ScaNN shape), so the local path is
#: also the production path; past the ceiling the distributed loop runs
#: unchanged.
KMEANS_LOCAL_MAX_ROWS = 200_000


def _round6_half_up(x: float) -> float:
    """Spark's ``round(x, 6)`` exactly: HALF_UP over the double's exact
    decimal expansion (java.math.BigDecimal semantics — NOT Python's
    banker's rounding)."""
    import decimal

    return float(
        decimal.Decimal(x).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _lloyd_local(rows, k: int, iters: int):
    """Driver-side Lloyd over collected (id, vec) rows — the same
    deterministic trajectory as the distributed loop: init = k lowest-id
    vectors, assignment by min-L2 with the ties-to-lower-cid rule,
    per-iteration means rounded to 6 decimals (HALF_UP, like Spark).

    The per-element d2 accumulation runs dim-by-dim in order, bit-identical
    to the ``zip_with``-fold of the literal-centroid expression, so
    assignments can never diverge from the Spark path; the mean's summation
    order (numpy pairwise vs Spark partial aggregates) differs only below
    the round-6 tolerance that the operator's contract already absorbs
    (see the means-rounding note in :func:`kmeans_centroids`)."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r[0])
    emb = np.asarray([r[1] for r in rows], dtype=np.float64)
    n, dim = emb.shape
    k = min(k, n)  # fewer rows than k: the distributed init's
    # orderBy+limit(k) also yields only n centroids
    cents = emb[:k].copy()
    for _ in range(iters):
        d2 = np.empty((n, k), dtype=np.float64)
        for c in range(k):
            acc = np.zeros(n, dtype=np.float64)
            for j in range(dim):
                diff = emb[:, j] - cents[c, j]
                acc += diff * diff
            d2[:, c] = acc
        assign = np.argmin(d2, axis=1)  # ties → lowest cid, like the
        # (d2, cid) struct-min of the Spark path
        for c in range(k):
            mask = assign == c
            if not mask.any():
                continue  # empty cell keeps its centroid (distributed twin
                # keeps the previous value when no row lands in the cell)
            m = emb[mask].sum(axis=0) / mask.sum()
            cents[c] = [_round6_half_up(v) for v in m]
    return [(c, [float(x) for x in cents[c]]) for c in range(k)]


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd's k-means (IVF coarse quantizer).

    Init = the k lowest-id vectors (seed-free, reproducible).  Each
    iteration: broadcast the k centroids, assign by min L2 (argmin over a
    transform — JVM column algebra), recompute means with one groupBy.
    At 10^12 vectors this is the standard IVF training shape: centroids are
    tiny (broadcast), assignment is a map-side pass, the only shuffle is the
    k-way average.

    Input size picks the path: a corpus of at most
    :data:`KMEANS_LOCAL_MAX_ROWS` vectors comes back in ONE limited
    collect (:func:`collect_at_most`) and the whole Lloyd loop runs
    driver-side (``_lloyd_local``), in place of 2 Spark jobs per
    iteration.  This is also the industrial shape: coarse quantizers
    train on a bounded sample even when the corpus is 10^12 vectors.  A
    larger corpus runs the per-iteration Spark loop (differential-tested
    identical).

    Means are rounded to 6 decimals per iteration: float64 sums over an
    unordered partition set are only reproducible to ~1e-13, and the coarse
    quantizer doesn't care about the 7th decimal — rounding makes the
    trained centroids (and hence every downstream cell assignment)
    cross-engine and cross-run deterministic, which is what lets the DuckDB
    oracle replay the exact same Lloyd trajectory."""
    rows = collect_at_most(
        embeddings.select(id_col, vec_col), KMEANS_LOCAL_MAX_ROWS
    )
    if rows is not None:
        return embeddings.sparkSession.createDataFrame(
            _lloyd_local([(r[0], list(r[1])) for r in rows], k, iters),
            "cid int, cvec array<double>",
        )
    # Lloyd re-reads the corpus once per iteration (assign + mean) plus the
    # init scan — persist for the loop's lifetime (standard k-means-training
    # shape; at 10^12 rows you'd train on a persisted sample instead).
    embeddings = embeddings.persist()
    cents = (
        embeddings.orderBy(id_col)
        .limit(k)
        .select(F.col(vec_col).alias("cvec"))
        .withColumn("cid", F.monotonically_increasing_id().cast("int"))
    )
    # collect is safe: k vectors.  cid is normalized to the list index
    # (collect preserves the orderBy/limit order; nearest_centroids emits
    # the index as cid, so the two must agree).
    centroids = [(i, list(r.cvec)) for i, r in enumerate(cents.collect())]
    dim = len(centroids[0][1])
    for _ in range(iters):
        # Assignment goes through assign_cells: at small k the centroids
        # ride along as a literal array expression (no crossJoin row
        # explosion, no window shuffle); past the literal ceiling it is
        # the broadcast fan-out + min-struct agg, whose shuffle carries
        # one struct per vector.  Plus the k-way mean shuffle, which
        # map-side combines to k*dim rows per partition.
        assigned = assign_cells(
            embeddings.select(id_col, vec_col),
            centroids,
            id_col,
            vec_col,
            probes=1,
        ).select(id_col, vec_col, "cid")
        means = (
            assigned.select("cid", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s.getField("m")).alias("cvec"))
        )
        new = {r.cid: list(r.cvec) for r in means.collect()}
        centroids = [(c, new.get(c, v)) for c, v in centroids]
        assert all(len(v) == dim for _, v in centroids)
    embeddings.unpersist()
    return embeddings.sparkSession.createDataFrame(
        [(c, [float(x) for x in v]) for c, v in centroids],
        "cid int, cvec array<double>",
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: assign corpus vectors to their nearest
    centroid; queries probe the ``n_probe`` nearest cells only.

    Cell assignment goes through :func:`assign_cells` (shuffle-free
    literal-argmin map at small k; broadcast fan-out + min-struct agg
    past the literal ceiling) — beyond it the only shuffle is the
    cid-keyed corpus×queries join, which is the IVF probe itself.  The
    probes>1 assignment only ever runs on the QUERY side (bounded)."""
    cent = kmeans_centroids(
        embeddings, n_centroids, id_col=id_col, vec_col=vec_col
    )
    centroids = [(r.cid, list(r.cvec)) for r in cent.orderBy("cid").collect()]

    corpus = assign_cells(
        embeddings.select(F.col(id_col), F.col(vec_col)),
        centroids, id_col, vec_col, probes=1,
    ).select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec_corp"), "cid"
    )
    queries = assign_cells(
        embeddings.filter(F.col(id_col).isin(query_ids)).select(
            F.col(id_col), F.col(vec_col)
        ),
        centroids, id_col, vec_col, probes=n_probe,
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        # assign_cells returns a scalar `cid` at probes=1, `cids` beyond
        (F.col("cid") if n_probe == 1 else F.explode("cids")).alias("cid"),
    )

    scored = (
        corpus.join(queries, "cid")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("corpus_id").alias("neighbor_id"),
            F.round(cosine(F.col("qvec"), F.col("cvec_corp")), 4).alias("cos_sim"),
        )
        # no dedup needed: a corpus vector lives in exactly ONE cell and a
        # query's n_probe cells are distinct, so each (query, corpus) pair
        # can meet at most once — a distinct here would re-shuffle the
        # whole scored relation for zero semantic effect
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ threshold).

    Scale shape: the self-join is restricted to sign-bit buckets (high-cosine
    pairs almost always share leading sign bits; recall/cost tunes via
    ``bits``), so the shuffle key is the bucket — never an all-pairs cross
    product.  Exactness within a bucket; rounded for cross-engine parity.

    Mega-bucket guard: sign-bit buckets skew (a corpus whose embeddings all
    share leading signs lands in ONE bucket, and more bits don't help), and
    the within-bucket comparison is inherently quadratic — what can't be
    avoided is the compute, what must be avoided is one task doing all of
    it.  When the largest bucket exceeds ``max_bucket_rows``, the a-side is
    replicated ``s`` ways and the b-side salted by id-hash, so each shuffle
    key (bucket, salt) carries ~1/s of the pair work; every (a, b) pair
    still meets exactly once (when the a-replica index equals b's salt), so
    the result set is identical to the unsalted join."""
    b = embeddings.withColumn("bucket", signbit_bucket(vec_col, bits)).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), "bucket"
    )
    pairs = _bucketed_cosine_pairs(b, max_bucket_rows)
    return pairs.filter(F.col("cos_sim") >= threshold)


def split_overcap_buckets(
    df: DataFrame,
    key_cols: "list[str]",
    id_col: str,
    payload_cols: "list[str]",
    cap: "int | None",
) -> "tuple[DataFrame, DataFrame | None]":
    """Mega-bucket scale guard shared by every within-bucket pair
    generator (embedding near-dups, SemDeDup cells, pHash pigeonhole
    blocks): split ``df`` into rows of buckets at-or-below ``cap``
    (returned as-is — each caller generates those pairs however is
    cheapest for its payload) and the ``(id_a, id_b, <payload>_a,
    <payload>_b)`` pairs of OVER-cap buckets, generated by a
    replicated × salted self-join restricted to exactly those buckets.

    Within-bucket comparison is inherently quadratic; what the guard buys
    is that no single task owns a mega-bucket's pair work: the a-side of
    an over-cap bucket replicates ``s = ceil(biggest / cap)`` ways and
    the b-side salts by id-hash, so each (bucket, salt) shuffle key
    carries ~1/s of that bucket's pairs, and every (a, b) pair still
    meets exactly once (when the a-replica index equals b's salt).  Only
    over-cap buckets pay the s-way replication — the split is two joins
    against the broadcast over-cap key list (bounded by total_rows/cap
    keys), so one skewed bucket no longer inflates the shuffle volume of
    the >99% of buckets that never needed salting.  The emitted pair set
    is identical to the unsalted join either way.

    Returns ``(under, over_pairs)``; ``over_pairs`` is None when no
    bucket exceeds ``cap`` (or ``cap`` is None) and ``under`` is then
    ``df`` unchanged — the common case costs one bounded aggregate (one
    row per bucket feeding a scalar max) and nothing else."""
    if cap is None:
        return df, None
    counts = df.groupBy(*key_cols).count()
    # bounded action: one row per bucket feeds a scalar max
    biggest = counts.agg(F.max("count")).first()[0] or 0
    if int(biggest) <= cap:
        return df, None
    s = -(-int(biggest) // cap)  # ceil div
    over_keys = F.broadcast(counts.filter(F.col("count") > cap).drop("count"))
    under = df.join(over_keys, key_cols, "left_anti")
    over = df.join(over_keys, key_cols, "left_semi")
    a_rep = over.alias("a").withColumn(
        "rep", F.explode(F.array(*[F.lit(i) for i in range(s)]))
    )
    b_salt = over.alias("b").withColumn(
        "salt", F.pmod(F.xxhash64(F.col(f"b.{id_col}")), F.lit(s)).cast("int")
    )
    cond = (F.col("rep") == F.col("salt")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    for kc in key_cols:
        cond = cond & (F.col(f"a.{kc}") == F.col(f"b.{kc}"))
    over_pairs = a_rep.join(b_salt, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"a.{pc}").alias(f"{pc}_a") for pc in payload_cols],
        *[F.col(f"b.{pc}").alias(f"{pc}_b") for pc in payload_cols],
    )
    return under, over_pairs


def _bucketed_cosine_pairs(b: DataFrame, max_bucket_rows: int) -> DataFrame:
    """All within-bucket (id_a < id_b, round-4 cos_sim) pairs of a
    (id, vec, bucket) frame; the shuffle key is the bucket — never an
    all-pairs cross product.  Mega-bucket guard via
    :func:`split_overcap_buckets` (see its docstring): over-cap buckets
    take the salted self-join, everything else the plain bucket-keyed
    join — the pair set is identical to the unsalted join."""
    under, over_pairs = split_overcap_buckets(
        b, ["bucket"], "id", ["vec"], max_bucket_rows
    )
    joined = under.alias("a").join(
        under.alias("b"),
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") < F.col("b.id")),
    )
    pairs = joined.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.vec").alias("vec_a"),
        F.col("b.vec").alias("vec_b"),
    )
    if over_pairs is not None:
        pairs = pairs.unionByName(over_pairs)
    return pairs.select(
        "id_a",
        "id_b",
        F.round(cosine(F.col("vec_a"), F.col("vec_b")), 4).alias("cos_sim"),
    )


def semdedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_rows: int = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by embedding
    clustering — k-means the corpus into cells, compare pairs only WITHIN
    a cell, and inside every group of mutual near-duplicates (cosine ≥
    ``threshold``, closed transitively) keep the member FARTHEST from its
    cell centroid (the paper's rule: the least prototypical example keeps
    the most information; ties break to the lower id).

    Returns one row per input vector:
    ``(id_col, sem_cluster, centroid_sim, is_keeper)`` — ``sem_cluster``
    is the duplicate group's min id (singletons: the vector's own id),
    ``centroid_sim`` the round-4 cosine to the assigned centroid.
    ``df.filter("is_keeper")`` is the deduplicated corpus.

    Scale shape: the coarse quantizer is the bounded deterministic Lloyd
    of :func:`kmeans_centroids` (literal-centroid broadcast, one k-way
    mean shuffle per iteration); cell assignment is a shuffle-free map;
    the pair join is keyed on the cell id with the shared salted
    mega-bucket guard (``max_cluster_rows``); grouping is the O(log d)
    connected-components of the dedup chain.  Nothing is all-pairs."""
    from .dedup import connected_components

    cent = kmeans_centroids(
        embeddings, n_centroids, id_col=id_col, vec_col=vec_col
    )
    centroids = [(r.cid, list(r.cvec)) for r in cent.orderBy("cid").collect()]
    asn = assign_cells(
        embeddings.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        ),
        centroids, "id", "vec", probes=1, with_cosine=True,
    ).select(
        "id", "vec", F.col("cid").alias("bucket"), "centroid_sim"
    # the argmin+cosine map is the operator's most expensive stage and
    # feeds FOUR consumers (the eager bucket-size count, both sides of
    # the pair self-join, the members join) — materialize it once
    # (dsir_select's idiom)
    ).localCheckpoint()
    edges = _bucketed_cosine_pairs(
        asn.select("id", "vec", "bucket"), max_cluster_rows
    ).filter(F.col("cos_sim") >= threshold)
    cc = connected_components(edges, src="id_a", dst="id_b")
    members = asn.join(
        cc, asn["id"] == cc["doc_id"], "left"
    ).select(
        F.col("id"),
        F.coalesce(F.col("cluster_id"), F.col("id")).alias("sem_cluster"),
        "centroid_sim",
    )
    # keeper = lowest centroid_sim in the group (farthest from the
    # prototype), id tie-break; groups are near-dup clusters — small —
    # so the window partitions are bounded
    w = Window.partitionBy("sem_cluster").orderBy(
        F.asc("centroid_sim"), F.asc("id")
    )
    return members.select(
        F.col("id").alias(id_col),
        "sem_cluster",
        "centroid_sim",
        (F.row_number().over(w) == 1).alias("is_keeper"),
    )


def signbit_bucket(vec_col: str, bits: int = 8) -> Column:
    """Deterministic coarse bucket: sign bits of the first ``bits`` dims.
    SQL expression because shiftleft needs a column-valued shift amount."""
    return F.expr(
        f"aggregate(zip_with(slice({vec_col}, 1, {bits}), "
        f"sequence(0, {bits - 1}), "
        "(x, i) -> if(x >= cast(0.0 as float), shiftleft(1, cast(i as int)), 0)), "
        "0, (acc, x) -> acc + x)"
    )


def ann_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-bit
    bucket (recall < 1 by design; the exactness check is against
    ``cosine_topk`` on the same bucket contents)."""
    with_bucket = embeddings.withColumn("bucket", signbit_bucket(vec_col, bits))
    q = with_bucket.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("bucket").alias("qbucket"),
    )
    cand = with_bucket.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket")) & (F.col(id_col) != F.col("query_id")),
    )
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(cosine(F.col("qvec"), F.col(vec_col)), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
