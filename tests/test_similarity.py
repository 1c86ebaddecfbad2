"""Similarity-search invariants the SQL oracle can't express:
ANN is a subset of the exact computation with identical similarity
values, and recall against brute force is bounded below.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_pipeline_project_cloud_spark.plans.llmdata import (
    QUERY_VEC_IDS,
    TOPK,
    ann_lsh_topk,
    cosine_topk,
)


def test_ann_results_are_exact_cosines(spark, sf_dir):
    """Every (query, candidate) the ANN path returns must carry the
    same cosine the brute-force path computes for that pair."""
    from data_engineering_pipeline_project_cloud_spark.operators.similarity import (
        cosine,
    )
    from data_engineering_pipeline_project_cloud_spark.sources import load_table

    ann = ann_lsh_topk(spark, sf_dir).alias("a")
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(F.col("vec_id").alias("query_id"),
                   F.col("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("candidate_id"),
                   F.col("embedding").alias("cv"))
    joined = (ann.join(q, "query_id").join(c, "candidate_id")
              .withColumn("exact", F.round(cosine(F.col("qv"), F.col("cv")), 6)))
    bad = joined.filter(F.col("cosine_sim") != F.col("exact")).count()
    assert bad == 0


def test_ivf_results_are_exact_cosines_and_ranked(spark, sf_dir):
    from data_engineering_pipeline_project_cloud_spark.operators.similarity import (
        cosine,
    )
    from data_engineering_pipeline_project_cloud_spark.plans.llmdata import (
        ann_ivf_topk,
    )
    from data_engineering_pipeline_project_cloud_spark.sources import load_table

    ivf = ann_ivf_topk(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(F.col("vec_id").alias("query_id"),
                   F.col("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("candidate_id"),
                   F.col("embedding").alias("cv"))
    joined = (ivf.join(q, "query_id").join(c, "candidate_id")
              .withColumn("exact", F.round(cosine(F.col("qv"), F.col("cv")), 6)))
    assert joined.filter(F.col("cosine_sim") != F.col("exact")).count() == 0
    # recall vs brute force must be nonzero (nprobe=2 of 16 cells)
    exact = {(r["query_id"], r["candidate_id"])
             for r in cosine_topk(spark, sf_dir).collect()}
    approx = {(r["query_id"], r["candidate_id"]) for r in ivf.collect()}
    assert len(exact & approx) / len(exact) > 0.0


def test_ivf_assignment_partitions_corpus(spark, sf_dir):
    """Every vector lands in exactly one cell (the partition-pruning
    contract the 100 TB layout relies on)."""
    from data_engineering_pipeline_project_cloud_spark.operators.similarity import (
        ivf_assignments,
    )
    from data_engineering_pipeline_project_cloud_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_assignments(emb, n_cells=16)
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()
    n_cells = assigned.select("cell_id").distinct().count()
    assert 1 <= n_cells <= 16


def test_multiprobe_recall_at_least_single_probe(spark, sf_dir):
    """Hamming-1 multi-probe must never lose recall vs single-probe
    (its candidate set is a superset) and should typically gain."""
    from data_engineering_pipeline_project_cloud_spark.plans.llmdata import (
        ann_lsh_multiprobe_topk,
    )

    exact = {(r["query_id"], r["candidate_id"])
             for r in cosine_topk(spark, sf_dir).collect()}
    single = {(r["query_id"], r["candidate_id"])
              for r in ann_lsh_topk(spark, sf_dir).collect()}
    multi = {(r["query_id"], r["candidate_id"])
             for r in ann_lsh_multiprobe_topk(spark, sf_dir).collect()}
    r_single = len(exact & single) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    assert r_multi >= r_single


def test_ann_recall_nonzero_and_ranked(spark, sf_dir):
    exact = {(r["query_id"], r["candidate_id"])
             for r in cosine_topk(spark, sf_dir).collect()}
    ann_rows = ann_lsh_topk(spark, sf_dir).collect()
    ann = {(r["query_id"], r["candidate_id"]) for r in ann_rows}
    assert exact, "brute-force top-k returned nothing"
    # single-probe LSH on a small corpus: demand *some* recall, and
    # structural sanity (<= k per query, rank contiguous from 1).
    recall = len(exact & ann) / len(exact)
    assert recall > 0.0
    per_q: dict = {}
    for r in ann_rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), qid
        assert len(ranks) <= TOPK
    assert set(per_q) <= set(QUERY_VEC_IDS)


def test_kmeans_centroids_improve_assignment_objective(spark, sf_dir):
    """Fitted k-means cells must fit the corpus at least as well as the
    deterministic first-N init (iters=0 reproduces the round-1
    stand-in codebook)."""
    from data_engineering_pipeline_project_cloud_spark.operators.similarity import (
        _assign_cells,
        kmeans_centroids,
    )
    from data_engineering_pipeline_project_cloud_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    init = kmeans_centroids(emb, n_cells=16, iters=0)
    fit = kmeans_centroids(emb, n_cells=16, iters=2)
    sim0 = (_assign_cells(emb, init, "vec_id", "embedding")
            .agg(F.avg("cell_sim")).collect()[0][0])
    sim2 = (_assign_cells(emb, fit, "vec_id", "embedding")
            .agg(F.avg("cell_sim")).collect()[0][0])
    assert sim2 >= sim0 - 1e-6, f"kmeans objective regressed: {sim2} < {sim0}"


def test_blocked_neardup_subset_of_exact(spark, sf_dir):
    """LSH-blocked near-dup pairs are a subset of the exact all-pairs
    result at the same threshold, with identical cosines."""
    from data_engineering_pipeline_project_cloud_spark.operators.similarity import (
        blocked_neardup_pairs,
        cosine_neardup_pairs,
    )
    from data_engineering_pipeline_project_cloud_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    blocked = {(r["vec_a"], r["vec_b"], r["cosine_sim"])
               for r in blocked_neardup_pairs(emb, threshold=0.3).collect()}
    exact = {(r["vec_a"], r["vec_b"], r["cosine_sim"])
             for r in cosine_neardup_pairs(emb, threshold=0.3).collect()}
    assert blocked <= exact


def test_ivf_partitioned_index_prunes(spark, sf_dir, tmp_path):
    """The IVF scale path made concrete: assignments written
    partitionBy(cell_id) and probed with a cell filter must show
    partition pruning in the scan (the candidate cut is I/O, not
    compute) and return exactly the unpruned filter's rows."""
    from data_engineering_pipeline_project_cloud_spark.operators.similarity import (
        ivf_assignments,
    )
    from data_engineering_pipeline_project_cloud_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_assignments(emb, n_cells=8, kmeans_iters=1)
    out = str(tmp_path / "ivf_index")
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(out)

    back = spark.read.parquet(out)
    probe = back.filter(F.col("cell_id").isin([0, 1]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cell_id" in plan.split("PartitionFilters", 1)[1][:200], plan

    expect = {r["vec_id"] for r in
              assigned.filter(F.col("cell_id").isin([0, 1])).collect()}
    got = {r["vec_id"] for r in probe.collect()}
    assert got == expect and got


def test_pq_codes_shape_and_range(spark, sf_dir):
    from data_engineering_pipeline_project_cloud_spark.operators.similarity import (
        pq_encode,
        with_unit_vectors,
    )
    from data_engineering_pipeline_project_cloud_spark.plans.llmdata import (
        PQ_K,
        PQ_M,
        prefit_pq_codebooks,
    )
    from data_engineering_pipeline_project_cloud_spark.sources import load_table

    books = prefit_pq_codebooks(spark, sf_dir)
    assert len(books) == PQ_M
    for book in books:
        assert 1 <= len(book) <= PQ_K
    embn = with_unit_vectors(load_table(spark, sf_dir, "embeddings"))
    codes = pq_encode(embn, books)
    rows = codes.collect()
    assert len(rows) == embn.count()
    for r in rows:
        assert len(r["pq_codes"]) == PQ_M
        for j, c in enumerate(r["pq_codes"]):
            assert 0 <= c < len(books[j])


def test_pq_recall_vs_bruteforce(spark, sf_dir):
    """ADC shortlist + exact rerank must keep real recall against the
    exact cosine top-k (unit vectors: L2 and cosine agree on ranking),
    emit exactly TOPK ranked rows per query, and rank by descending
    exact cosine."""
    from data_engineering_pipeline_project_cloud_spark.plans.llmdata import (
        ann_pq_topk,
    )

    pq = ann_pq_topk(spark, sf_dir)
    rows = pq.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == set(QUERY_VEC_IDS)
    for q, rs in per_q.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, TOPK + 1))
        sims = [r["cosine_sim"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
    exact = {(r["query_id"], r["candidate_id"])
             for r in cosine_topk(spark, sf_dir).collect()}
    approx = {(r["query_id"], r["candidate_id"]) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"PQ+rerank recall {recall} collapsed"


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_sets = st.dictionaries(st.integers(0, 8),
                        st.sets(st.integers(0, 25), min_size=1,
                                max_size=12),
                        min_size=2, max_size=6)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(sets=_sets, t=st.sampled_from([0.1, 0.3, 0.5, 0.8]))
def test_prefix_filter_simjoin_matches_bruteforce(spark, sets, t):
    """Prefix filtering must be EXACT: the candidate restriction can
    never lose a qualifying pair, for any set shapes and threshold."""
    from data_engineering_pipeline_project_cloud_spark.operators.similarity import (
        prefix_filter_set_join,
    )

    rows = [(s, tok) for s, toks in sets.items() for tok in toks]
    df = spark.createDataFrame(rows, "sid long, tok long")
    got = {(r["a"], r["b"]): (r["inter"], r["jaccard"])
           for r in prefix_filter_set_join(df, "sid", "tok", t).collect()}
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            j = round(inter / len(sets[a] | sets[b]), 6)
            if j >= t:
                want[(a, b)] = (inter, j)
    assert got == want


def test_pca_projection_matches_numpy_and_is_orthonormal(spark, sf_dir):
    """pca_project invariants: the distributed Gram/mean statistics
    feed a deterministic eigensolve — the projection must match a
    from-scratch numpy PCA on the collected corpus, pc1 variance ≥
    pc2 variance, and the implied loadings orthonormal."""
    import numpy as np

    from data_engineering_pipeline_project_cloud_spark.operators import similarity as sim
    from data_engineering_pipeline_project_cloud_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = {r["vec_id"]: (r["pc1"], r["pc2"])
           for r in sim.pca_project(emb, k=2).collect()}
    rows = sorted((r["vec_id"], r["embedding"]) for r in emb.collect())
    X = np.array([np.round(np.asarray(v, dtype=np.float64)
                           * sim.GRAM_SCALE)
                  for _, v in rows]) / sim.GRAM_SCALE
    # same quantization the operator applies, then plain PCA
    Xc = X - X.mean(axis=0)
    cov = Xc.T @ Xc / (len(X) - 1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:2]
    W = []
    for idx in order:
        w = vecs[:, idx]
        if w[int(np.argmax(np.abs(w)))] < 0:
            w = -w
        W.append(w)
    W = np.array(W)
    assert np.allclose(W @ W.T, np.eye(2), atol=1e-9)
    want = Xc @ W.T
    got_arr = np.array([got[vid] for vid, _ in rows])
    assert np.allclose(got_arr, want, atol=2e-4), \
        np.abs(got_arr - want).max()
    # variance ordering: the first component captures at least as much
    assert got_arr[:, 0].var() >= got_arr[:, 1].var()


def test_gram_matrix_exactness_tiny(spark):
    """gram_matrix on a hand-computable corpus is exactly the integer
    outer-product sum (upper triangle)."""
    import numpy as np

    from data_engineering_pipeline_project_cloud_spark.operators import similarity as sim

    vecs = [[0.5, -0.25, 0.125], [1.0, 0.0, -0.5], [0.75, 0.5, 0.25]]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    got = {(r["i"], r["j"]): r["gram"]
           for r in sim.gram_matrix(emb).collect()}
    Q = np.round(np.array(vecs, dtype=np.float64) * sim.GRAM_SCALE)
    G = Q.T @ Q
    for i in range(3):
        for j in range(i, 3):
            assert got[(i, j)] == G[i, j], (i, j)


@pytest.fixture(scope="module")
def ivf_at_rest(spark, sf_dir, tmp_path_factory):
    """(raw vectors, parquet codebook, cell-partitioned index): the
    at-rest IVF inputs a serving client reads from files."""
    from data_engineering_pipeline_project_cloud_spark.plans.llmdata import (
        prefit_ivf_codebook,
        prefit_ivf_index,
    )
    from data_engineering_pipeline_project_cloud_spark.sources import load_table

    path = str(tmp_path_factory.mktemp("ivf") / "centroids")
    prefit_ivf_codebook(spark, sf_dir).write.parquet(path)
    return (load_table(spark, sf_dir, "embeddings"),
            spark.read.parquet(path),
            spark.read.parquet(prefit_ivf_index(spark, sf_dir)))


def _ivf_bruteforce(emb, cents, assigned, qids, k, nprobe):
    """The IVF answer spelled out in Spark: each query's probe cells
    ranked by a window over round(dot, 6) DESC, cell_id ASC, then
    every vector of those cells ranked by round(dot, 6) DESC,
    candidate_id ASC."""
    from pyspark.sql import Window

    from data_engineering_pipeline_project_cloud_spark.operators.similarity import (
        _dot,
        with_unit_vectors,
    )

    q = (with_unit_vectors(emb).filter(F.col("vec_id").isin(qids))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv")))
    probes = (q.crossJoin(cents)
              .withColumn("s", F.round(_dot(F.col("qv"), F.col("centroid")), 6))
              .withColumn("n", F.row_number().over(
                  Window.partitionBy("query_id")
                  .orderBy(F.col("s").desc(), F.col("cell_id").asc())))
              .filter(F.col("n") <= nprobe)
              .select("query_id", "qv", "cell_id"))
    cand = assigned.select(F.col("vec_id").alias("candidate_id"),
                           F.col("embedding").alias("cv"), "cell_id")
    sims = (probes.join(cand, "cell_id")
            .filter(F.col("query_id") != F.col("candidate_id"))
            .select("query_id", "candidate_id",
                    F.round(_dot(F.col("qv"), F.col("cv")), 6)
                    .alias("cosine_sim")))
    ranked = sims.withColumn("rank", F.row_number().over(
        Window.partitionBy("query_id")
        .orderBy(F.col("cosine_sim").desc(), F.col("candidate_id").asc())))
    return sorted(tuple(r) for r in ranked.filter(F.col("rank") <= k).collect())


def test_ivf_single_query_runs_at_most_four_jobs(spark, ivf_at_rest):
    """One kNN query over the at-rest index: the query-vector and
    codebook collects plus the candidate scan and its ranking — the
    probes are ranked on the driver, not by a window job and a
    broadcast probe table."""
    from data_engineering_pipeline_project_cloud_spark.operators.similarity import (
        ivf_ann_topk,
    )

    emb, cents, assigned = ivf_at_rest
    sc = spark.sparkContext
    sc.setJobGroup("ivf-one-query", "ivf-one-query")
    try:
        rows = ivf_ann_topk(emb, [3], k=TOPK, n_cells=16, nprobe=2,
                            centroids=cents, assigned=assigned).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("ivf-one-query")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == TOPK
    assert len(jobs) <= 4, sorted(jobs)


@pytest.mark.parametrize("qids", [[3], [0, 4, 7, 9]])
def test_ivf_matches_bruteforce_over_probed_cells(spark, ivf_at_rest, qids):
    from data_engineering_pipeline_project_cloud_spark.operators.similarity import (
        ivf_ann_topk,
    )

    emb, cents, assigned = ivf_at_rest
    got = sorted(tuple(r) for r in ivf_ann_topk(
        emb, qids, k=TOPK, n_cells=16, nprobe=2, centroids=cents,
        assigned=assigned).collect())
    assert got == _ivf_bruteforce(emb, cents, assigned, qids, TOPK, 2)
    assert {r[0] for r in got} == set(qids)


def test_probe_rounding_is_half_up_like_spark(spark):
    """The driver-side probe ranking rounds as ``F.round`` does."""
    from data_engineering_pipeline_project_cloud_spark.operators.similarity import (
        _round6,
    )

    xs = [0.0000125, 2.5e-6, -2.5e-6, 0.1234565, -0.1234565, 1 / 3, 0.0]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    want = [r[0] for r in df.select(F.round("x", 6)).collect()]
    assert [_round6(x) for x in xs] == want


@pytest.mark.parametrize("portable", [False, True])
def test_bucketed_frame_ragged_vectors_use_row_width(spark, portable):
    """A row whose width differs from the probed one gets the bucket
    the per-row form gives it, not one zipped against NULLs; NULL
    vectors keep bucket 0."""
    import random

    from data_engineering_pipeline_project_cloud_spark.operators.similarity import (
        _bucketed_frame,
        lsh_bucket,
        lsh_bucket_portable,
    )

    rng = random.Random(11)
    rows = [(0, [rng.uniform(-1, 1) for _ in range(8)])]
    rows += [(i, [rng.uniform(-1, 1) for _ in range(rng.choice([5, 8, 12]))])
             for i in range(1, 40)]
    rows.append((40, None))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .coalesce(1)
    per_row = (lsh_bucket_portable if portable else lsh_bucket)(
        F.col("embedding"), 6)
    got = {r[0]: r[1] for r in _bucketed_frame(emb, 6, "vec_id", "embedding",
                                               portable)
           .select("vec_id", "bucket").collect()}
    want = {r[0]: r[1] for r in emb.select("vec_id", per_row).collect()}
    assert got == want
    assert got[40] == 0
    assert len({v for k, v in got.items() if len(rows[k][1] or []) != 8}) > 1
