"""Similarity search over embedding columns (``array<float>``).

Two tiers, mirroring how ANN is actually run on clusters:
 - ``cosine_topk_bruteforce``: exact top-k via broadcast cross join —
   the baseline, correct for any query set that fits in a broadcast.
 - ``lsh_ann_topk``: random-hyperplane LSH bucketing — the scale path.
   Candidates come only from matching buckets, so the cross product
   shrinks from |Q|×|N| to |Q|×bucket.  Hyperplanes are derived
   deterministically from the hash of (plane, dim), so results are
   reproducible without a stored model.

All vector math uses built-in higher-order functions (zip_with /
aggregate) — JVM codegen, no Python UDF, Arrow irrelevant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import scoped_persist


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double dot product (deterministic —
    matches an ANSI-SQL list_sum over the same element order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk_bruteforce(emb: DataFrame, query_ids: list[int], k: int = 5,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query id.

    Plan: filter the query rows (tiny) → broadcast → cross join against
    the full corpus → per-row cosine → per-query top-k window.  The
    corpus is scanned once, never shuffled except the final k rows per
    query.  Similarity rounded to 6 dp for cross-engine stability, with
    a (sim DESC, candidate ASC) deterministic tie-break.
    """
    from pyspark.sql import Window

    q = F.broadcast(
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")))
    cand = emb.select(F.col(id_col).alias("candidate_id"),
                      F.col(vec_col).alias("cv"))
    sims = (
        q.join(cand, F.col("query_id") != F.col("candidate_id"))
        .select("query_id", "candidate_id",
                F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("candidate_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "candidate_id", "cosine_sim",
                F.col("rank").cast("long").alias("rank"))
    )


def _hyperplane_sign(vec: Column, plane: int) -> Column:
    """Sign bit of <vec, h_plane> where h_plane[d] is a deterministic
    pseudo-random ±1 derived from xxhash64(plane, d).  Built via
    index arithmetic, no stored planes."""
    signed = F.zip_with(
        vec,
        F.transform(F.sequence(F.lit(1), F.size(vec)),
                    lambda d: F.when(
                        F.xxhash64(F.lit(plane), d).bitwiseAND(F.lit(1)) == 1,
                        F.lit(1.0)).otherwise(F.lit(-1.0))),
        lambda x, s: x.cast("double") * s)
    total = F.aggregate(signed, F.lit(0.0), lambda acc, v: acc + v)
    return F.when(total >= 0, F.lit(1)).otherwise(F.lit(0))


def lsh_bucket(vec: Column, num_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket id: ``num_planes`` sign bits packed
    into an int.  Vectors in the same bucket are likely cosine-close."""
    acc = F.lit(0)
    for p in range(num_planes):
        acc = acc + _hyperplane_sign(vec, p) * F.lit(1 << p)
    return acc.cast("long")


#: (num_planes, dim, portable) → sign table.  The table is a pure
#: function of plane/dimension INDICES — no corpus data flows into it
#: — so memoizing it is equivalent to inlining constants: the first
#: xxhash64-path query in a session pays one tiny JVM evaluation job,
#: later queries reuse the constants (the portable path never pays a
#: job at all — see below).
_SIGN_TABLES: dict[tuple[int, int, bool], list[list]] = {}


def _plane_sign_table(spark, num_planes: int, dim: int,
                      portable: bool) -> list[list]:
    """The ±1 hyperplane component table, evaluated ONCE per (plane,
    dim) instead of once per (row, plane, dim).

    ``_hyperplane_sign`` / ``_portable_sign`` regenerate the plane
    vector inside a per-row ``transform`` — every ROW recomputes
    ``num_planes × dim`` hash calls (xxhash64 / md5) whose inputs are
    row-independent constants.  This helper produces the IDENTICAL
    values once (guide §4.1 — hoist loop-invariant work out of the
    per-row path): the portable md5 construction is replayed exactly
    in pure Python (``portable_hash64`` is by design reproducible in
    any engine — including this one), and the xxhash64 planes are
    evaluated with the identical Spark expressions over the same
    IntegerType dimension indices in one bounded driver job
    (num_planes × dim values).  Returns one ±1 list per plane (ints
    for the portable integer path, floats for the xxhash64 path),
    bit-identical to the per-row forms by construction
    (collect-compared in tests and the r12 A/B)."""
    key = (num_planes, dim, portable)
    if key in _SIGN_TABLES:
        return _SIGN_TABLES[key]
    if portable:
        import hashlib

        def h60(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        table = [[1 if h60(f"hp|{p}|{d}") & 1 else -1
                  for d in range(1, dim + 1)]
                 for p in range(num_planes)]
    else:
        d = F.col("d")

        def sign(p: int) -> Column:
            return F.when(
                F.xxhash64(F.lit(p), d).bitwiseAND(F.lit(1)) == 1,
                F.lit(1.0)).otherwise(F.lit(-1.0))

        rows = (spark.range(1, dim + 1)
                .select(F.col("id").cast("int").alias("d"))
                .select(d, *[sign(p).alias(f"s{p}")
                             for p in range(num_planes)])
                .collect())
        rows.sort(key=lambda r: r["d"])
        table = [[r[f"s{p}"] for r in rows] for p in range(num_planes)]
    _SIGN_TABLES[key] = table
    return table


def _bucket_from_signs(vec: Column, signs: list[list],
                       portable: bool) -> Column:
    """Bucket id from a precomputed sign table (``_plane_sign_table``):
    per plane, one literal-array ``zip_with`` dot + sign test — the
    same fold order and arithmetic as the per-row forms, minus the
    per-row hashing.  The table fits one width, ``len(signs[p])``; a
    non-null row of another width (a ragged table) would zip against
    NULL components, so such rows take the per-row form, which uses
    the row's own width.  NULL vectors land in bucket 0 either way."""
    v = _quantized(vec) if portable else vec
    acc = F.lit(0)
    for p, sv in enumerate(signs):
        lits = F.array(*[F.lit(s) for s in sv])
        if portable:
            total = F.aggregate(
                F.zip_with(v, lits, lambda x, s: x * s),
                F.lit(0).cast("long"), lambda a, c: a + c)
        else:
            total = F.aggregate(
                F.zip_with(v, lits, lambda x, s: x.cast("double") * s),
                F.lit(0.0), lambda a, c: a + c)
        bit = F.when(total >= 0, F.lit(1)).otherwise(F.lit(0))
        acc = acc + bit * F.lit(1 << p)
    if not signs:
        return acc.cast("long")
    per_row = (lsh_bucket_portable if portable else lsh_bucket)(vec, len(signs))
    return (F.when(F.size(vec) == len(signs[0]), acc.cast("long"))
            .otherwise(per_row))


def _bucketed_frame(emb: DataFrame, num_planes: int, id_col: str,
                    vec_col: str, portable: bool) -> DataFrame:
    """(id, vec, bucket) with the hoisted-sign bucket computation; one
    bounded dim-probe job (like ``kmeans_centroids``'s), falling back
    to the per-row form for an empty input (no dim to probe) and, row
    by row, for vectors whose width is not the probed one."""
    probe = (emb.filter(F.col(vec_col).isNotNull())
             .select(F.size(F.col(vec_col)).alias("d")).first())
    if probe is None:
        mk = lsh_bucket_portable if portable else lsh_bucket
        bucket = mk(F.col(vec_col), num_planes)
    else:
        signs = _plane_sign_table(emb.sparkSession, num_planes,
                                  probe["d"], portable)
        bucket = _bucket_from_signs(F.col(vec_col), signs, portable)
    return emb.select(F.col(id_col), F.col(vec_col),
                      bucket.alias("bucket"))


def lsh_ann_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
                 num_planes: int = 6, multiprobe: bool = False,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 portable: bool = False) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket.  At 100 TB the corpus is written bucketed
    (``partitionBy(bucket)``) so a query touches one partition — this
    function expresses the same plan over the raw table.

    ``multiprobe=True`` additionally probes every bucket at Hamming
    distance 1 from the query's (flip each sign bit once): recall
    rises sharply — a near-neighbor differing in one hyperplane sign
    is the COMMON miss — while candidates grow only
    (num_planes+1)/2^num_planes of the corpus."""
    from pyspark.sql import Window

    # portable=True swaps the xxhash64 planes for the md5-derived
    # integer-exact buckets of ``lsh_bucket_portable`` so the whole
    # approximate result set is reproducible in ANSI SQL (the
    # oracle-checked registry face); the default stays on the cheaper
    # JVM xxhash64 path for production.  r12: bucket computation uses
    # the hoisted plane-sign table (``_bucketed_frame``) — one bounded
    # (planes × dim) driver job replaces the per-ROW recomputation of
    # every plane component hash; bit-identical buckets.
    bucketed = _bucketed_frame(emb, num_planes, id_col, vec_col, portable)
    q_base = bucketed.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.col("bucket"))
    if multiprobe:
        probe_buckets = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p))
              for p in range(num_planes)])
        q_base = q_base.select(
            "query_id", "qv",
            F.explode(probe_buckets).alias("bucket"))
    q = F.broadcast(q_base)
    cand = bucketed.select(F.col(id_col).alias("candidate_id"),
                           F.col(vec_col).alias("cv"), "bucket")
    sims = (
        q.join(cand, "bucket")
        .filter(F.col("query_id") != F.col("candidate_id"))
        .select("query_id", "candidate_id",
                F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"))
    )
    if multiprobe:  # a candidate can match via several probed buckets
        sims = sims.distinct()
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("candidate_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "candidate_id", "cosine_sim",
                F.col("rank").cast("long").alias("rank"))
    )


def _quantized(vec: Column) -> Column:
    """Integer-quantized vector (floor(x*1000)): hyperplane sign tests
    run in exact integer arithmetic, so bucket assignment is identical
    in any engine — float summation-order can flip a sign at the
    boundary, and ONE flipped sign silently changes a whole bucket."""
    return F.transform(vec, lambda x: F.floor(x.cast("double") * 1000)
                       .cast("long"))


def _portable_sign(qvec: Column, plane: int) -> Column:
    """Sign bit of <qvec, h_plane> with h_plane[d] = ±1 derived from
    the md5-based ``portable_hash64`` of (plane, dim) — reproducible in
    ANSI SQL (see plans/llmdata.py oracle), unlike the xxhash64 planes
    of ``_hyperplane_sign``."""
    from ..functions import portable_hash64

    signs = F.transform(
        F.sequence(F.lit(1), F.size(qvec)),
        lambda d: F.when(
            portable_hash64(d.cast("string"), salt=f"hp|{plane}|")
            .bitwiseAND(F.lit(1)) == 1,
            F.lit(1)).otherwise(F.lit(-1)).cast("long"))
    total = F.aggregate(F.zip_with(qvec, signs, lambda x, s: x * s),
                        F.lit(0).cast("long"), lambda acc, v: acc + v)
    return F.when(total >= 0, F.lit(1)).otherwise(F.lit(0))


def lsh_bucket_portable(vec: Column, num_planes: int = 4) -> Column:
    """Engine-portable random-hyperplane bucket id (exact integer sign
    tests, md5-derived planes) — the oracle-checkable variant of
    ``lsh_bucket``."""
    q = _quantized(vec)
    acc = F.lit(0)
    for p in range(num_planes):
        acc = acc + _portable_sign(q, p) * F.lit(1 << p)
    return acc.cast("long")


def blocked_neardup_pairs(emb: DataFrame, threshold: float = 0.4,
                          num_planes: int = 4,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Embedding near-dup pairs behind LSH blocking: candidates are
    pairs sharing a hyperplane bucket, verified by exact cosine ≥
    threshold.  This is the 100 TB registry shape — the bucket join
    replaces the O(N²) self-join of ``cosine_neardup_pairs`` with
    |bucket|² work per bucket (at scale the table is written
    ``partitionBy(bucket)`` and the join prunes partitions).  Recall:
    a cosine-close pair disagrees on a random hyperplane with low
    probability, but blocking IS a recall trade — production stacks
    multiple bucket tables the way MinHash stacks bands.

    r12: the bucket computation uses the hoisted plane-sign table
    (``_bucketed_frame`` — removes the per-row plane-hash
    recomputation), and the bucketed frame is repartitioned by bucket
    and persisted before the self-join: the pairing joins the SAME
    table on both sides, so without materialization the quantize +
    plane-dot bucketing ran twice and each side shuffled separately —
    one exchange + one bucketing pass shared instead (the
    ``_bucket_pairs`` r11 pattern; vectors + an 8-byte bucket per row,
    session-scoped, released by the registry before the next query)."""
    from ..caching import scoped_persist

    b = scoped_persist(
        _bucketed_frame(emb, num_planes, id_col, vec_col, portable=True)
        .repartition("bucket"))
    lhs = b.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"),
                   "bucket")
    rhs = b.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"),
                   "bucket")
    return (
        lhs.join(rhs, ["bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b",
                F.round(cosine(F.col("va"), F.col("vb")), 6)
                .alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def cosine_neardup_pairs(emb: DataFrame, threshold: float = 0.4,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) with
    rounded cosine >= threshold — the semantic-dedup step of a training
    pipeline.

    This is the EXACT form (self-join, |N|²/2 cosines): correct at any
    N, affordable when the embedding table is the deduped corpus-level
    table (here ≤ thousands).  At billions of vectors the same verify
    step runs after LSH/IVF blocking (``lsh_bucket`` /
    ``ivf_assignments``) cuts the candidate set — blocking changes the
    candidate generation, never this verification semantics.

    The threshold is applied to the 6-dp ROUNDED cosine so the
    filter's boundary behavior is identical cross-engine.
    """
    a = emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b",
                F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def with_unit_vectors(emb: DataFrame, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Replace ``vec_col`` with its L2-normalized array<double>.

    Normalizing the corpus ONCE turns every downstream cosine into a
    plain dot product — in an IVF/k-means build that computes
    |N| × n_cells similarities per pass, recomputing both norms per
    pair (what ``cosine`` does) triples the flop count for nothing.
    The norm is computed in its own projection first; inlining it into
    the per-element division would re-evaluate the norm aggregate for
    every element of the array.  Zero vectors pass through unscaled.
    """
    n = (emb.withColumn("__n", _norm(F.col(vec_col)))
         .withColumn("__n", F.when(F.col("__n") == 0, F.lit(1.0))
                     .otherwise(F.col("__n"))))
    return (n.withColumn(
        vec_col,
        F.transform(F.col(vec_col),
                    lambda x: x.cast("double") / F.col("__n")))
        .drop("__n"))


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, c: (x.cast("double") - c)
                   * (x.cast("double") - c)),
        F.lit(0.0), lambda acc, v: acc + v)


def _assign_cells(emb: DataFrame, cents: DataFrame, id_col: str,
                  vec_col: str, assume_unit: bool = False,
                  metric: str = "cosine") -> DataFrame:
    """Nearest-centroid assignment by cosine: |N| × n_cells broadcast
    comparisons, map-side, then argmax per vector via ``max_by`` hash
    aggregation (tie → lowest cell_id, deterministic).  A hash agg
    partial-aggregates map-side, so the shuffle carries ~|N| partial
    rows instead of the |N| × n_cells rows a sort-window argmax would
    move — the difference between an index build that scales with the
    corpus and one that scales with corpus × codebook.

    With ``assume_unit`` both sides are unit vectors and the cosine
    collapses to a dot product (see ``with_unit_vectors``).
    ``metric="l2"`` scores by NEGATED squared L2 distance (higher =
    closer, so the same argmax applies) — the metric for PQ subvector
    codebooks, where slices of unit vectors are not unit-norm and
    cosine would both mis-cluster by ignoring magnitude and emit NaN
    on zero-norm slices."""
    if metric == "l2":
        def sim(a, b):
            return -_l2sq(a, b)
    else:
        sim = _dot if assume_unit else cosine
    scored = (
        emb.select(F.col(id_col), F.col(vec_col)).join(F.broadcast(cents))
        .select(id_col, vec_col, "cell_id",
                F.round(sim(F.col(vec_col), F.col("centroid")), 6)
                .alias("cell_sim"))
    )
    best = scored.groupBy(id_col).agg(
        F.max_by(
            F.struct(F.col("cell_id"), F.col("cell_sim"),
                     F.col(vec_col).alias("__v")),
            F.struct(F.col("cell_sim").alias("s"),
                     (-F.col("cell_id")).alias("t"))).alias("b"))
    return best.select(id_col, F.col("b.__v").alias(vec_col),
                       "b.cell_id", "b.cell_sim")


def kmeans_centroids(emb: DataFrame, n_cells: int = 16, iters: int = 2,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     assume_unit: bool = False,
                     metric: str = "cosine") -> DataFrame:
    """Spherical k-means codebook in pure DataFrame ops: deterministic
    init (first ``n_cells`` vectors by id), then ``iters`` rounds of
    assign → per-cell mean.  The mean is one hash aggregation with a
    SUM column per dimension (map-side partial agg → the shuffle moves
    ≤ partitions × n_cells rows of dim doubles, independent of |N|) —
    one shuffle per iteration where a (cell, dim) explode-and-reassemble
    needs three.  Returns (cell_id, centroid array<double>).

    Empty cells (no vector assigned) drop out; callers see ≤ n_cells
    cells — the standard k-means degeneracy, harmless for IVF probing.

    Contract: every non-null vector has the SAME width (the per-dim
    SUM columns assume it; a ragged row would silently skew that
    cell's mean).  NULL vectors are excluded from the fit.
    """
    emb = emb.filter(F.col(vec_col).isNotNull())
    # array width isn't in the schema; one single-row probe (over
    # non-null vectors only) pins it (an eager job, like the per-pass
    # codebook collect below)
    probe = emb.select(F.size(F.col(vec_col)).alias("d")).first()
    if probe is None:  # empty input: no vectors, no codebook
        return emb.sparkSession.createDataFrame(
            [], schema="cell_id long, centroid array<double>")
    dim = probe["d"]
    cents = (emb.filter(F.col(id_col) < n_cells)
             .select(F.col(id_col).cast("long").alias("cell_id"),
                     F.transform(F.col(vec_col),
                                 lambda x: x.cast("double"))
                     .alias("centroid")))
    for _ in range(iters):
        assigned = _assign_cells(emb, cents, id_col, vec_col, assume_unit,
                                 metric=metric)
        v = F.col(vec_col)
        sums = assigned.groupBy("cell_id").agg(
            F.count(F.lit(1)).alias("__n"),
            *[F.sum(v[i].cast("double")).alias(f"__s{i}") for i in range(dim)])
        cents = sums.select(
            "cell_id",
            F.array(*[F.col(f"__s{i}") / F.col("__n") for i in range(dim)])
            .alias("centroid"))
        if assume_unit:
            # spherical k-means: project the mean back onto the unit
            # sphere so dot products against it stay cosines
            cents = with_unit_vectors(cents, "cell_id", "centroid")
        # land the codebook on the driver after each pass: it is
        # n_cells × dim doubles — bounded and tiny at ANY corpus size —
        # and the next pass then broadcasts literal data instead of
        # replaying the whole previous pass inside its own plan
        # (the nested-broadcast lineage multiplies job count per
        # iteration).  This is the offline-codebook checkpoint every
        # production IVF build does.
        cents = emb.sparkSession.createDataFrame(
            cents.collect(), schema="cell_id long, centroid array<double>")
    return cents


def ivf_assignments(emb: DataFrame, n_cells: int = 16,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    kmeans_iters: int = 2) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid by cosine.  The codebook is a real (small) spherical
    k-means fit via ``kmeans_centroids`` — deterministic init, so the
    index is reproducible.  Cost: |N| × n_cells broadcast comparisons
    per pass, map-side."""
    embn = scoped_persist(with_unit_vectors(emb, id_col, vec_col))
    cents = kmeans_centroids(embn, n_cells, kmeans_iters, id_col, vec_col,
                             assume_unit=True)
    return _assign_cells(embn, cents, id_col, vec_col, assume_unit=True)


def _round6(x: float | None) -> float | None:
    """``F.round(x, 6)`` on the driver.  Spark rounds the shortest
    decimal form of a double half-up (``BigDecimal.valueOf``); Python's
    ``round`` rounds its binary value half-even, so the two differ on
    ties such as 0.0000125."""
    from decimal import ROUND_HALF_UP, Decimal

    if x is None or x != x or x in (float("inf"), float("-inf")):
        return x
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _seq_dot(a: list | None, b: list | None) -> float | None:
    """``_dot`` on the driver: the same left-to-right double sum, and
    NULL (None) where ``zip_with`` would pad or meet a NULL element."""
    if a is None or b is None or len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        acc += float(x) * float(y)
    return acc


def _probe_cells(qvecs: dict[int, list], cents: DataFrame,
                 nprobe: int) -> list[tuple[int, int]]:
    """Each query's ``nprobe`` closest coarse cells, ranked on the
    driver: ``(query_id, cell_id)`` pairs in query and rank order.
    The codebook is collected (n_cells × dim doubles — bounded at any
    corpus size) and scored against the collected query vectors with
    the ordering a Spark window over ``round(_dot(qv, centroid), 6)``
    gives: similarity descending (NaN first, NULL last), then lowest
    ``cell_id``."""
    crows = [(int(r["cell_id"]), r["centroid"]) for r in cents.collect()]

    def order(qv, cid, cent):
        sim = _round6(_seq_dot(qv, cent))
        if sim is None:
            return (2, 0.0, cid)
        return (0, 0.0, cid) if sim != sim else (1, -sim, cid)

    pairs = []
    for qid in sorted(qvecs):
        ranked = sorted(order(qvecs[qid], cid, cent) for cid, cent in crows)
        pairs += [(int(qid), cid) for *_, cid in ranked[:nprobe]]
    return pairs


def ivf_ann_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
                 n_cells: int = 16, nprobe: int = 2,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 centroids: DataFrame | None = None,
                 assigned: DataFrame | None = None) -> DataFrame:
    """IVF approximate top-k: each query probes its ``nprobe`` closest
    cells and ranks only vectors assigned there.  At 100 TB the
    assignment is precomputed and the table is written
    ``partitionBy(cell_id)`` — a query then touches nprobe/n_cells of
    the data (partition pruning does the candidate cut).

    ``centroids`` lets the caller supply a pre-fit codebook
    (cell_id, unit-norm centroid array<double>) — at scale the
    codebook is an offline artifact fit once and reused by every
    query, not refit per invocation.

    ``assigned`` (r11) lets the caller supply the AT-REST inverted
    file itself: the (id, unit vector, cell_id) table an offline IVF
    index job writes ``partitionBy(cell_id)`` — the same at-rest
    treatment the IVF-PQ face got in r7.  With it the per-query cost
    is probe + pruned rank only: no corpus normalize and no corpus ×
    codebook assignment.  Requires ``centroids``.

    Construction is EAGER: the normalized query vectors and the
    codebook are collected while the DataFrame is built (two bounded
    driver jobs), and the probes are ranked on the driver
    (``_probe_cells``, shared with ``pq_ann_topk``) — no window
    shuffle and no broadcast of a probe table.  The probed cells
    become a STATIC isin filter, so a partitioned index is
    partition-pruned before a single vector is read, and the probed
    query vectors ride into the candidate scan as one literal array
    of (query_id, cell_id, qv) structs, matched per row on
    ``cell_id``.  The query then runs as one scan plus the ranking
    window.  Query ids that are absent or NULL-embedded are skipped;
    if none is left, ``ValueError`` is raised rather than an empty
    top-k returned."""
    from pyspark.sql import Window

    if assigned is None:
        # normalize the corpus once: every similarity below is a dot
        embn = scoped_persist(with_unit_vectors(emb, id_col, vec_col))
        # one k-means codebook shared by index build and query probing
        cents = (centroids if centroids is not None
                 else scoped_persist(kmeans_centroids(embn, n_cells, 2,
                                                      id_col, vec_col,
                                                      assume_unit=True)))
        cand_src = _assign_cells(embn, cents, id_col, vec_col,
                                 assume_unit=True)
        qsrc = embn
    else:
        if centroids is None:
            raise ValueError("assigned requires the matching centroids")
        cents = centroids
        cand_src = assigned
        # query lookup from the RAW table (id-filter pushdown into one
        # unpartitioned scan; normalizing |Q| rows is free) — looking
        # ids up in the cell-partitioned index would touch every
        # partition, since it is laid out for cell pruning, not id
        # lookup.  Same per-row normalization the index rows carry.
        qsrc = with_unit_vectors(emb, id_col, vec_col)

    qvecs = {int(r[0]): [float(x) for x in r[1]]
             for r in qsrc.filter(F.col(id_col).isin(query_ids)
                                  & F.col(vec_col).isNotNull())
             .select(id_col, vec_col).collect()}
    if not qvecs:
        raise ValueError(
            f"no query id of {sorted(query_ids)} resolved in "
            f"{id_col}: empty probe set")
    pairs = _probe_cells(qvecs, cents, nprobe)
    probes = F.array(*[
        F.struct(F.lit(qid).cast("long").alias("query_id"),
                 F.lit(cid).cast("long").alias("cell_id"),
                 F.array(*[F.lit(x) for x in qvecs[qid]]).alias("qv"))
        for qid, cid in pairs])
    cell = F.col("cell_id").cast("long")
    sims = (
        cand_src.filter(cell.isin(sorted({c for _, c in pairs})))
        .select(F.col(id_col).alias("candidate_id"),
                F.col(vec_col).alias("cv"),
                F.explode(F.filter(probes, lambda p: p["cell_id"] == cell))
                .alias("p"))
        .filter(F.col("p.query_id") != F.col("candidate_id"))
        .select(F.col("p.query_id").alias("query_id"), "candidate_id",
                F.round(_dot(F.col("p.qv"), F.col("cv")), 6)
                .alias("cosine_sim"))
        # no dedup needed: each candidate lives in exactly one cell
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("candidate_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "candidate_id", "cosine_sim",
                F.col("rank").cast("long").alias("rank"))
    )


def embedding_norms(emb: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    label_col: str | None = "label") -> DataFrame:
    """Per-vector diagnostics: dimension, L2 norm, min/max component —
    the sanity profile run before any similarity job.  ``label_col``
    is included only when present, so the diagnostic works on any
    embedding table."""
    v = F.col(vec_col)
    cols = [
        F.col(id_col),
        F.size(v).cast("long").alias("dim"),
        F.round(_norm(v), 6).alias("l2_norm"),
        F.round(F.array_min(v).cast("double"), 6).alias("min_component"),
        F.round(F.array_max(v).cast("double"), 6).alias("max_component"),
    ]
    if label_col is not None and label_col in emb.columns:
        cols.append(F.col(label_col))
    return emb.select(*cols)


#: Gram/PCA quantization scale: embeddings are quantized to
#: round(x·10⁶) BEFORE the sum, so the accumulated second-moment
#: matrix is an EXACT integer in any engine (float sums are
#: order-dependent; integer sums are not) — the same
#: exact-arithmetic trick the OLS/PageRank faces use.
GRAM_SCALE = 1_000_000


def gram_matrix(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Distributed EXACT second-moment (Gram) matrix of an embedding
    column: ``G[i,j] = Σ_rows q_i·q_j`` over quantized components
    (upper triangle, ``j ≥ i``) — the one-pass sufficient statistic
    every offline embedding analysis (PCA, whitening, covariance
    diagnostics) starts from.

    100 TB shape: the double ``posexplode`` inflates rows by d²/2
    INSIDE a stage, but partial aggregation collapses each task's
    contribution to at most d² counters before the exchange — the
    shuffle carries O(d² × partitions) rows regardless of corpus
    size, and the result (d(d+1)/2 rows) is driver-bounded metadata.
    Quantized integer sums make the matrix bit-identical across
    engines and partitionings; the exact DECIMAL total casts to
    DOUBLE deterministically (IEEE round-to-nearest in both).  The
    in-stage d²/2 row inflation streams through the partial aggregate
    without materializing, which is fine for embedding-sized d (≤ a
    few hundred); for d ≳ 512 a block-wise Pandas-UDF accumulator
    (one d×d numpy partial per batch) trades the inflation for Arrow
    transfer — same exact integers, same merge algebra."""
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(float(GRAM_SCALE)))
        .cast("long"))
    a = emb.select(q.alias("q"))
    b = a.select(F.posexplode("q").alias("i", "qi"), "q")
    c = (b.select("i", "qi", F.posexplode("q").alias("j", "qj"))
         .filter(F.col("j") >= F.col("i")))
    return (c.groupBy("i", "j")
            .agg(F.sum((F.col("qi") * F.col("qj"))
                       .cast("decimal(38,0)")).alias("g"))
            .select(F.col("i").cast("int").alias("i"),
                    F.col("j").cast("int").alias("j"),
                    F.col("g").cast("double").alias("gram")))


def component_sums(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Exact quantized per-dimension sums (the mean's numerator) —
    the first-moment companion to ``gram_matrix``."""
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(float(GRAM_SCALE)))
        .cast("long"))
    return (emb.select(F.posexplode(q).alias("i", "qi"))
            .groupBy("i")
            .agg(F.sum(F.col("qi").cast("decimal(38,0)")).alias("s"),
                 F.count(F.lit(1)).alias("n"))
            .select(F.col("i").cast("int").alias("i"),
                    F.col("s").cast("double").alias("s"),
                    F.col("n").cast("long").alias("n")))


def pca_project(emb: DataFrame, k: int = 2, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Project every embedding onto its corpus's top-``k`` principal
    components.  Split offline/online like the IVF/PQ family: the
    distributed pass computes the EXACT quantized Gram matrix and
    component sums (driver-bounded d² statistics — the only part that
    scales with the corpus); the driver assembles the covariance,
    eigendecomposes d×d with numpy (sign-fixed: each component's
    largest-|·| entry is made positive, so the basis is deterministic),
    and broadcasts the k×d loading matrix back as literals; the
    projection is one JVM-side ``zip_with``/``aggregate`` pass per
    component — no Python row work, no second shuffle.

    The eigensolve is not ANSI-SQL-expressible, so the face is
    rows-only; orthonormality, variance ordering and numpy parity are
    pytest-asserted (tests/test_similarity.py)."""
    import numpy as np

    g_rows = gram_matrix(emb, vec_col).collect()
    s_rows = component_sums(emb, vec_col).collect()
    d = max(r["i"] for r in s_rows) + 1
    n = s_rows[0]["n"]
    G = np.zeros((d, d))
    for r in g_rows:
        G[r["i"], r["j"]] = r["gram"]
        G[r["j"], r["i"]] = r["gram"]
    m = np.array([r["s"] for r in sorted(s_rows, key=lambda r: r["i"])])
    scale = float(GRAM_SCALE)
    cov = (G - np.outer(m, m) / n) / ((n - 1) * scale * scale)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        w = vecs[:, idx]
        if w[int(np.argmax(np.abs(w)))] < 0:
            w = -w
        comps.append(w)
    mean = m / (n * scale)
    cols = [F.col(id_col)]
    for ci, w in enumerate(comps, start=1):
        wl = F.array(*[F.lit(float(x)) for x in w])
        ml = F.array(*[F.lit(float(x)) for x in mean])
        centered = F.zip_with(
            F.col(vec_col), ml,
            lambda x, mu: x.cast("double") - mu)
        proj = F.aggregate(
            F.zip_with(centered, wl, lambda x, y: x * y),
            F.lit(0.0), lambda acc, v: acc + v)
        cols.append(F.round(proj, 6).alias(f"pc{ci}"))
    return emb.select(*cols)


def pq_codebooks(emb: DataFrame, m: int = 4, k: int = 16, iters: int = 2,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> list[list[list[float]]]:
    """Product-quantization codebooks: the vector space is split into
    ``m`` contiguous subspaces and a tiny k-means codebook is fit in
    EACH (the FAISS ``PQm`` index family; Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011).

    Returns a driver-side nested list ``[m][≤k][dim/m]`` — the
    codebooks are ``m·k·(dim/m) = k·dim`` doubles at ANY corpus size,
    the offline artifact every PQ index ships.  Fitting runs ``m``
    small DataFrame k-means (operators' own ``kmeans_centroids``) over
    sliced subvectors; normalize the corpus first if ADC should rank
    by cosine (see ``pq_ann_topk``).
    """
    spark = emb.sparkSession
    nn = emb.filter(F.col(vec_col).isNotNull())
    probe = nn.select(F.size(F.col(vec_col)).alias("d")).first()
    if probe is None:
        return []
    dim = probe["d"]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    # ALL m subspace fits run as ONE pipeline over an exploded
    # (id, sub_id, subvec) frame — m sequential kmeans_centroids calls
    # would each pay their own assign/aggregate/collect jobs and
    # codegen compiles, m× the wall clock for identical math.  L2
    # Lloyd iterations (not cosine): subvectors of unit vectors are
    # not unit-norm, and the ADC tables score by squared L2.
    v = F.col(vec_col)
    slices = nn.select(
        F.col(id_col).cast("long").alias("vid"),
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("sub_id"),
                     F.transform(F.slice(v, j * sub + 1, sub),
                                 lambda x: x.cast("double")).alias("sv"))
            for j in range(m)])).alias("s")
    ).select("vid", "s.sub_id", "s.sv")
    # deterministic init: the first k vectors BY ORDER of id seed
    # every subspace (a `vid < k` filter would silently seed fewer —
    # or zero — cells whenever the id space doesn't start at 0);
    # cell labels are the seed ids themselves (distinctness is all
    # that's required)
    first_k = F.broadcast(
        nn.select(F.col(id_col).cast("long").alias("vid"))
        .orderBy("vid").limit(k))
    cents = (slices.join(first_k, "vid")
             .select("sub_id", F.col("vid").alias("cell_id"),
                     F.col("sv").alias("centroid")))
    for _ in range(iters):
        d2 = _l2sq(F.col("sv"), F.col("centroid"))
        best = (slices.join(F.broadcast(cents), "sub_id")
                .groupBy("vid", "sub_id")
                .agg(F.min_by(F.struct(F.col("cell_id"), F.col("sv")),
                              F.struct(d2.alias("d"),
                                       F.col("cell_id").alias("t")))
                     .alias("b")))
        sums = (best.select("sub_id", F.col("b.cell_id").alias("cell_id"),
                            F.col("b.sv").alias("sv"))
                .groupBy("sub_id", "cell_id")
                .agg(F.count(F.lit(1)).alias("n"),
                     *[F.sum(F.col("sv")[i]).alias(f"s{i}")
                       for i in range(sub)]))
        rows = (sums.select("sub_id", "cell_id",
                            F.array(*[F.col(f"s{i}") / F.col("n")
                                      for i in range(sub)])
                            .alias("centroid"))).collect()
        # bounded codebook checkpoint (m·k·sub doubles): the next pass
        # broadcasts literal data instead of replaying this pass
        cents = spark.createDataFrame(
            [(r["sub_id"], r["cell_id"], list(r["centroid"]))
             for r in rows],
            schema="sub_id int, cell_id long, centroid array<double>")
    final = sorted((r["sub_id"], r["cell_id"], list(r["centroid"]))
                   for r in cents.collect())
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for sub_id, _, cent in final:
        books[sub_id].append(cent)
    return books


def _sub_l2sq(vec: Column, off: int, cent: list[float]) -> Column:
    """Squared L2 distance between ``vec[off:off+len(cent)]`` and a
    literal centroid, as a compact HOF fold.  An unrolled per-element
    expression (m·k·sub terms across the full encode projection) blows
    whole-stage codegen up to megabytes of generated Java — the
    COMPILE dominates the tiny data; the fold keeps the plan
    k-independent in size."""
    sub = len(cent)
    return F.aggregate(
        F.zip_with(F.slice(vec, off + 1, sub),
                   F.array(*[F.lit(float(c)) for c in cent]),
                   lambda x, c: (x.cast("double") - c)
                   * (x.cast("double") - c)),
        F.lit(0.0), lambda acc, v: acc + v)


def pq_encode(emb: DataFrame, codebooks: list[list[list[float]]],
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode every vector as ``m`` one-byte codes: per subspace, the
    index of the nearest codebook centroid (squared L2; ties break to
    the lowest code via first-match ``array_position``).  Map-side
    only — the 100 TB encode is one scan; the output shuffles/stores
    ``m`` small ints per vector instead of ``dim`` floats (16× smaller
    at dim=64, m=4 — the compression that lets a corpus-scale index
    fit in RAM)."""
    v = F.col(vec_col)
    codes = []
    for j, book in enumerate(codebooks):
        sub = len(book[0])
        dists = F.array(*[_sub_l2sq(v, j * sub, cent) for cent in book])
        codes.append((F.array_position(dists, F.array_min(dists)) - 1)
                     .cast("int"))
    # NULL vectors carry no codes; downstream ADC would rank their
    # NULL distances first under the window's default NULLS FIRST
    return (emb.filter(v.isNotNull())
            .select(F.col(id_col), F.array(*codes).alias("pq_codes")))


def pq_ann_topk(emb: DataFrame, query_ids: list[int],
                codebooks: list[list[list[float]]], k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                codes: DataFrame | None = None,
                rerank: int = 8,
                cells: DataFrame | None = None,
                centroids: DataFrame | None = None,
                nprobe: int = 2) -> DataFrame:
    """PQ ANN with asymmetric distance computation (ADC) + exact
    rerank: each query's per-subspace distance table (query subvector
    → every centroid) is built ONCE driver-side — |Q|·m·k floats,
    bounded — and candidate scoring is ``m`` table lookups per pair
    instead of a ``dim``-wide dot product (the PQ speedup, honestly
    expressed: 4 lookups vs 64 multiplies at dim=64/m=4).  The ADC
    pass selects a ``rerank·k`` shortlist per query; only the
    shortlist's TRUE vectors are fetched and scored with exact cosine
    (unit-vector dot) — the two-stage retrieve-then-rerank every
    production PQ deployment runs, which is also what makes the
    full-precision corpus scan avoidable at 100 TB.  ``rerank=0``
    returns the raw ADC ranking (approx distances).

    Pass a pre-encoded ``codes`` frame to skip re-encoding (the
    at-rest PQ index); queries are looked up in ``emb`` by id, and
    ``emb`` must be unit-normalized for the rerank dot to be a cosine.

    **IVF-PQ composition** (``cells`` + ``centroids``): the standard
    production index shape (FAISS ``IVFx,PQy``).  ``cells`` is the
    coarse assignment (id → cell_id, from ``ivf_assignments``/
    ``_assign_cells``) and ``centroids`` the coarse codebook; each
    query then ADC-scans ONLY its ``nprobe`` closest cells' codes
    instead of the whole code table — at 100 TB the code table is
    written ``partitionBy(cell_id)`` and this probe IS partition
    pruning, cutting the scan to nprobe/n_cells of the index.  Probe
    selection is |Q|·n_cells driver-side dots on the collected
    (bounded, tiny) coarse codebook (``_probe_cells``, shared with
    ``ivf_ann_topk``) — the same bounded-artifact shape as the ADC
    tables themselves.

    Construction is EAGER (unlike most operators here): the query
    vectors are collected while the DataFrame is being built — one
    bounded driver job (|Q| vectors) that makes the probed-cell
    filter static, so the at-rest index is partition-pruned before a
    single code is read.  Absent/NULL-embedded query ids raise
    ``ValueError``.
    """
    from pyspark.sql import Window

    if codes is None:
        # the code table feeds the broadcast-tables cross join below
        # AND (with rerank) the shortlist join; materialized it is m
        # small ints per vector — the in-RAM PQ index; at rest this is
        # the parquet code table an index job writes.
        codes = scoped_persist(pq_encode(emb, codebooks, id_col, vec_col))
    qrows = {r[id_col]: list(r[vec_col])
             for r in emb.filter(F.col(id_col).isin(query_ids)
                                 & F.col(vec_col).isNotNull()).collect()}
    missing = set(query_ids) - set(qrows)
    if missing:
        raise ValueError(
            f"query ids absent or NULL-embedded: {sorted(missing)}")
    m = len(codebooks)
    # ADC distance tables, built driver-side (|Q|·m·k floats, bounded)
    # and shipped as ONE broadcast DataFrame — per-query literal plans
    # would replicate the whole scoring subplan |Q| times (|Q|× the
    # codegen) where a single broadcast cross join scans the code
    # table once for all queries
    tables = []
    for qid in sorted(qrows):
        qv = qrows[qid]
        per_sub = []
        for j, book in enumerate(codebooks):
            sub = len(book[0])
            qs = qv[j * sub:(j + 1) * sub]
            per_sub.append([
                float(sum((a - c) ** 2 for a, c in zip(qs, cent)))
                for cent in book])
        tables.append((int(qid), per_sub))
    tdf = F.broadcast(emb.sparkSession.createDataFrame(
        tables, schema="query_id long, adc array<array<double>>"))
    total = None
    for j in range(m):
        term = F.element_at(F.col("adc")[j], F.col("pq_codes")[j] + 1)
        total = term if total is None else total + term
    indexed = "cell_id" in codes.columns
    if centroids is not None and (cells is not None or indexed):
        # IVF-PQ: each query ADC-scans only its nprobe closest cells,
        # ranked driver-side as ``ivf_ann_topk`` ranks them.  The
        # probed-cell set is applied as a STATIC isin filter, so a
        # code table written partitionBy(cell_id) — the at-rest index
        # — is partition-pruned to nprobe/n_cells of its files before
        # a single code is read.
        probe_pairs = _probe_cells(qrows, centroids, nprobe)
        probe_df = F.broadcast(emb.sparkSession.createDataFrame(
            probe_pairs, schema="query_id long, cell_id long"))
        coded = codes if indexed else codes.join(
            cells.select(F.col(id_col), F.col("cell_id")), id_col)
        coded = coded.withColumn("cell_id",
                                 F.col("cell_id").cast("long"))
        probed_codes = (coded.filter(F.col("cell_id").isin(
            sorted({c for _, c in probe_pairs})))
            .join(probe_df, "cell_id"))
        scored = (probed_codes.join(tdf, "query_id")
                  .filter(F.col(id_col) != F.col("query_id"))
                  .select("query_id", F.col(id_col).alias("candidate_id"),
                          F.round(total, 6).alias("approx_dist")))
    else:
        scored = (codes.crossJoin(tdf)
                  .filter(F.col(id_col) != F.col("query_id"))
                  .select("query_id", F.col(id_col).alias("candidate_id"),
                          F.round(total, 6).alias("approx_dist")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc_nulls_last(), F.col("candidate_id").asc())
    shortlist = (scored.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= (k * rerank if rerank else k)))
    if not rerank:
        return shortlist.select("query_id", "candidate_id", "approx_dist",
                                F.col("rank").cast("long").alias("rank"))
    # exact rerank: fetch true vectors ONLY for the shortlist
    # (|Q|·rerank·k rows) and score with the unit-vector dot product.
    # The shortlist carries an explicit BROADCAST hint (r12): it is
    # bounded-small by construction but sits behind a window, so the
    # planner's size estimate is unusable — without the hint the
    # planner picked the CORPUS side as the build relation (the r11
    # plan broadcast the full normalized vector table into the hash
    # relation), which OOMs at any real corpus size.  With the hint
    # the corpus side streams through the join unshuffled and
    # unbroadcast.  A further static prune — collecting the shortlist
    # and pushing its candidate ids into the vector scan's
    # PushedFilters — was measured and REJECTED at bench SF: the
    # extra eager job costs ~+0.9 s fixed overhead per query here
    # (1.94 → 2.84 s same-session) for a scan that is already one
    # pruned-column pass; at true 100 TB scale an id-pushdown point
    # fetch is how a production rerank runs, and the change is a
    # five-line re-application of the probed-cell collect above.
    cand_vecs = emb.select(F.col(id_col).alias("candidate_id"),
                           F.col(vec_col).alias("__cv"))
    qvec_df = F.broadcast(emb.sparkSession.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in qrows.items()],
        schema="query_id long, __qv array<double>"))
    exact = (F.broadcast(shortlist.select("query_id", "candidate_id"))
             .join(cand_vecs, "candidate_id")
             .join(qvec_df, "query_id")
             .select("query_id", "candidate_id",
                     F.round(_dot(F.col("__qv"), F.col("__cv")), 6)
                     .alias("cosine_sim")))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("candidate_id").asc())
    return (exact.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", "candidate_id", "cosine_sim",
                    F.col("rank").cast("long").alias("rank")))


def _ranked_prefix(sets, set_id: str, token: str, threshold: float):
    """(token table, set sizes, prefix frame) for the PPJoin pipeline:
    tokens globally ordered rare-first, each set cut to its prefix of
    the first ``|s| - ceil(t·|s|) + 1`` tokens.  The prefix frame
    carries ``(s, tok, pos, n)`` so candidate generation can apply the
    positional and length filters."""
    from pyspark.sql import Window

    from ..caching import scoped_persist

    ps = scoped_persist(
        sets.select(F.col(set_id).alias("s"),
                    F.col(token).alias("tok")).distinct())
    sizes = ps.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("n"))
    freq = ps.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("f"))
    ranked = scoped_persist(
        ps.join(freq, "tok")
        .withColumn("pos", F.row_number().over(
            Window.partitionBy("s")
            .orderBy(F.col("f").asc(), F.col("tok").asc())))
        .join(sizes, "s")
        .drop("f"))
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n"))
        + 1)
    return ps, sizes, prefix


def _ppjoin_candidates(prefix, threshold: float,
                       pos_len_filters: bool = True):
    """Candidate pairs from the prefix-token equi join, optionally
    tightened by PPJoin's LENGTH and POSITIONAL filters — both are
    necessary conditions of J ≥ t, so they only drop pairs the exact
    verify would reject anyway (output-identity is oracle- and
    pytest-proven):

    * length: J ≤ min(|A|,|B|)/max(|A|,|B|), so J ≥ t needs
      ``|B| ≥ t·|A|`` and ``|A| ≥ t·|B|``;
    * positional: J ≥ t needs ``|A∩B| ≥ t/(1+t)·(|A|+|B|)``, and for
      a pair's FIRST shared token (positions i, j in the rare-first
      order — no shared token precedes it) the intersection is at
      most ``1 + min(|A|−i, |B|−j)``.  Applied per shared-token row:
      a qualifying pair always survives via its first shared token's
      row, extra rows are pruned before the distinct.

    Ties compare with ``>=`` in double arithmetic — boundary pairs
    are kept, never dropped (no false negatives)."""
    pa = prefix.select(F.col("s").alias("a"), "tok",
                       F.col("pos").alias("__pa"),
                       F.col("n").alias("__na"))
    pb = prefix.select(F.col("s").alias("b"), "tok",
                       F.col("pos").alias("__pb"),
                       F.col("n").alias("__nb"))
    cand = pa.join(pb, "tok").filter(F.col("a") < F.col("b"))
    if pos_len_filters:
        na, nb = F.col("__na"), F.col("__nb")
        t = F.lit(float(threshold))
        ubound = (F.lit(1)
                  + F.least(na - F.col("__pa"), nb - F.col("__pb")))
        cand = cand.filter(
            (nb.cast("double") >= t * na)
            & (na.cast("double") >= t * nb)
            & (ubound.cast("double") * (F.lit(1.0) + t)
               >= t * (na + nb)))
    return cand.select("a", "b").distinct()


def prefix_filter_set_join(sets, set_id: str, token: str,
                           threshold: float):
    """EXACT set-similarity join (all pairs with Jaccard ≥ threshold)
    by PREFIX FILTERING — the PPJoin-family algorithm, the exact
    counterpart of the MinHash-LSH approximate pipeline
    (operators/dedup.py):

    1. order tokens globally by ascending frequency (rare first, ties
       by token) — the dictionary is |vocab|-grain metadata;
    2. per set, only the first ``|s| - ceil(t·|s|) + 1`` tokens in
       that order form the PREFIX: two sets with Jaccard ≥ t MUST
       share a prefix token (J ≥ t ⇒ |A∩B| ≥ t·|A|, so A cannot avoid
       B across its prefix) — candidates come from an equi join on
       prefix tokens only, tightened by PPJoin's positional and
       length filters (``_ppjoin_candidates``), and rare-first
       ordering makes those the least-shared tokens, collapsing
       candidate fan-out;
    3. exact verification: intersection sizes for the candidate pairs
       only (one join on the full token table, candidate-bounded),
       Jaccard = ∩ / (|A|+|B|−∩), filter ≥ t.

    Returns ``(a, b, inter, jaccard)`` with a < b — exact, no
    hashing, no false negatives by construction.  100 TB shape: the
    corpus-grain work is one frequency count and one prefix join; the
    quadratic danger is confined to sets sharing RARE tokens, which is
    exactly what the ordering minimizes (vs the naive all-pairs join
    on ANY shared token)."""
    ps, sizes, prefix = _ranked_prefix(sets, set_id, token, threshold)
    cand = _ppjoin_candidates(prefix, threshold)
    # candidate-bounded by construction: expand each candidate pair to
    # a's tokens, then equi-join b's — never the all-pairs token join
    inter = (cand
             .join(ps.select(F.col("s").alias("a"), "tok"), "a")
             .join(ps.select(F.col("s").alias("b"), "tok"), ["b", "tok"])
             .groupBy("a", "b")
             .agg(F.count(F.lit(1)).cast("long").alias("inter")))
    out = (inter
           .join(sizes.select(F.col("s").alias("a"),
                              F.col("n").alias("na")), "a")
           .join(sizes.select(F.col("s").alias("b"),
                              F.col("n").alias("nb")), "b")
           .withColumn("jaccard", F.round(
               F.col("inter").cast("double")
               / (F.col("na") + F.col("nb") - F.col("inter"))
               .cast("double"), 6))
           .filter(F.col("jaccard") >= threshold)
           .select("a", "b", "inter", "jaccard"))
    return out
