"""The LLM-data part of ``etl_batch``: a document dedup chain and kNN
similarity queries, through the engine's ``operators`` layer.

* Corpus (``make_corpus``): bag-of-vocabulary documents drawn from the
  seed over the test corpus vocabulary, with a stated share of planted
  exact duplicates and near-duplicates (one word replaced), each
  recorded with its source document.
* Dedup chain (``dedup_chain``), part of every batch job: ``quality_score``
  → ``exact_dedup`` → ``minhash_signatures`` → ``lsh_candidate_pairs``
  → ``jaccard_pairs`` → ``dedup_keep_one``.  Untraced, only the
  outputs the checks read are forced; traced, every stage is also
  forced on its own with the noop sink so its time can be attributed.
* kNN: each query is one ``ivf_ann_topk`` call against an at-rest IVF
  index over seeded clustered embeddings (``write_index``: generated
  with the inputs, as an offline index job would leave it).

Checks: quality scores in [0, 1] for every document; exact-dup groups
equal to grouping the texts in Python; every verified pair's Jaccard
equal to a Python recomputation; every planted exact duplicate kept
in its source's cluster, planted near-duplicate recall at least
``MIN_NEAR_RECALL``; every kNN answer's cosines equal to numpy's and
ranked, mean recall@k against numpy brute force at least
``MIN_KNN_RECALL``.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

N_DOCS = 400
EXACT_SHARE, NEAR_SHARE = 0.05, 0.10
N_VECTORS, KNN_K, KNN_CELLS, KNN_NPROBE, KMEANS_ITERS = 2000, 5, 16, 2, 3
#: verified-pair Jaccard cut, as the engine's own dup-cluster plan
JACCARD_T = 0.5
MIN_NEAR_RECALL, MIN_KNN_RECALL = 0.8, 0.5
SHINGLE_N = 3
STAGES = ("quality_score", "exact_dedup", "minhash_signatures",
          "lsh_candidate_pairs", "jaccard_pairs", "dedup_keep_one")


def make_corpus(seed: int, out_dir: str) -> dict:
    """Write ``corpus.parquet`` and ``vectors.parquet``; return the
    planted duplicates and the kNN query ids."""
    rng = np.random.default_rng(seed + 104729)
    words = np.asarray(gen.VOCAB, dtype=object)
    n_exact, n_near = int(N_DOCS * EXACT_SHARE), int(N_DOCS * NEAR_SHARE)
    n_base = N_DOCS - n_exact - n_near
    texts = [" ".join(words[rng.integers(0, len(words), int(k))])
             for k in rng.integers(30, 91, n_base)]
    exact, near = [], []
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        exact.append((len(texts), src))
        texts.append(texts[src])
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        toks = texts[src].split()
        toks[int(rng.integers(0, len(toks)))] = "dup"
        near.append((len(texts), src))
        texts.append(" ".join(toks))
    # ids are a seeded permutation, so duplicates sit anywhere
    ids = rng.permutation(N_DOCS)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts)}),
                   os.path.join(out_dir, "corpus.parquet"))
    vectors = gen.embeddings(rng, N_VECTORS)
    pq.write_table(vectors, os.path.join(out_dir, "vectors.parquet"))
    write_index(vectors, out_dir)
    return {
        "texts": {int(ids[i]): t for i, t in enumerate(texts)},
        "exact": [(int(ids[d]), int(ids[s])) for d, s in exact],
        "near": [(int(ids[d]), int(ids[s])) for d, s in near],
        "knn_queries": [int(q) for q in rng.integers(0, N_VECTORS, 400)],
    }


def shingle_set(text: str) -> set[str]:
    toks = text.strip().split()
    k = max(len(toks) - SHINGLE_N + 1, 1)
    return {" ".join(toks[i:i + SHINGLE_N]) for i in range(k)}


def write_index(vectors: pa.Table, out_dir: str) -> None:
    """The at-rest IVF index ``ivf_ann_topk`` reads, as an offline
    index job would leave it: a spherical k-means codebook
    (``ivf_centroids.parquet``: cell_id, unit centroid) and the
    inverted file (``ivf_index/``: vec_id, unit vector, written
    partitioned by cell_id).  Built with numpy, so the engine receives
    it as input."""
    vec = np.stack(vectors.column("embedding").to_numpy(zero_copy_only=False)
                   ).astype(np.float64)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    cents = vec[:KNN_CELLS].copy()
    for _ in range(KMEANS_ITERS):
        cell = np.argmax(vec @ cents.T, axis=1)
        for c in range(KNN_CELLS):
            if (cell == c).any():
                m = vec[cell == c].sum(axis=0)
                cents[c] = m / np.linalg.norm(m)
    cell = np.argmax(vec @ cents.T, axis=1)
    pq.write_table(pa.table({
        "cell_id": pa.array(np.arange(KNN_CELLS), pa.int64()),
        "centroid": pa.array(list(cents), pa.list_(pa.float64()))}),
        os.path.join(out_dir, "ivf_centroids.parquet"))
    pq.write_to_dataset(pa.table({
        "vec_id": vectors.column("vec_id"),
        "embedding": pa.array(list(vec), pa.list_(pa.float64())),
        "cell_id": pa.array(cell, pa.int64())}),
        os.path.join(out_dir, "ivf_index"), partition_cols=["cell_id"])


def load_index(spark, in_dir: str):
    """The raw vectors, the codebook and the inverted file."""
    return (spark.read.parquet(f"{in_dir}/vectors.parquet"),
            spark.read.parquet(f"{in_dir}/ivf_centroids.parquet"),
            spark.read.parquet(f"{in_dir}/ivf_index"))


def knn_query(spark, index, qid: int, rec) -> list[tuple]:
    from data_engineering_pipeline_project_cloud_spark.operators import similarity as sim

    emb, cents, assigned = index

    def topk():
        return sim.ivf_ann_topk(emb, [qid], k=KNN_K, n_cells=KNN_CELLS,
                                nprobe=KNN_NPROBE, centroids=cents,
                                assigned=assigned).collect()

    rows = rec.call("operators.ivf_ann_topk", topk)
    return [(int(r["candidate_id"]), float(r["cosine_sim"]), int(r["rank"]))
            for r in rows]


def check_knn(answers: dict[int, list], truth: dict[int, list]) -> tuple:
    """(problems, mean recall@k) of the kNN answers against numpy."""
    bad, recalls = [], []
    for qid, got in answers.items():
        exact = dict(truth[qid])
        best = [c for c, _ in truth[qid][:KNN_K]]
        if [r for _, _, r in got] != list(range(1, len(got) + 1)) \
                or len(got) != KNN_K:
            bad.append(f"knn {qid}: ranks {[r for _, _, r in got]}")
        sims = [s for _, s, _ in got]
        if sims != sorted(sims, reverse=True):
            bad.append(f"knn {qid}: not ranked by cosine")
        for cand, s, _ in got:
            want = exact.get(cand)
            if want is not None and abs(want - s) > 1e-5:
                bad.append(f"knn {qid}: cosine({cand}) {s} != {want}")
        recalls.append(len({c for c, _, _ in got} & set(best)) / KNN_K)
    recall = sum(recalls) / max(1, len(recalls))
    if recall < MIN_KNN_RECALL:
        bad.append(f"knn mean recall@{KNN_K} {recall:.3f} < {MIN_KNN_RECALL}")
    return bad, recall


def _force(rec, name: str, df) -> None:
    """Traced only: run one stage on its own into the noop sink."""
    if rec.tracing:
        rec.call(f"operators.{name}",
                 lambda: df.write.format("noop").mode("overwrite").save())


def dedup_chain(spark, in_dir: str, rec) -> dict:
    """One run of the chain; returns what the checks read."""
    from data_engineering_pipeline_project_cloud_spark import caching
    from data_engineering_pipeline_project_cloud_spark.operators import dedup as dd
    from data_engineering_pipeline_project_cloud_spark.operators import textstats

    docs = spark.read.parquet(f"{in_dir}/corpus.parquet")
    quality = textstats.quality_score(docs)
    _force(rec, "quality_score", quality)
    exact = dd.exact_dedup(docs)
    _force(rec, "exact_dedup", exact)
    sigs = dd.minhash_signatures(docs)
    _force(rec, "minhash_signatures", sigs)
    cand = dd.lsh_candidate_pairs(sigs)
    _force(rec, "lsh_candidate_pairs", cand)
    pairs = dd.jaccard_pairs(docs, cand, threshold=JACCARD_T)
    _force(rec, "jaccard_pairs", pairs)
    pairs = caching.scoped_persist(pairs)
    keep = dd.dedup_keep_one(docs, pairs)
    _force(rec, "dedup_keep_one", keep)
    out = {
        "quality": rec.call("operators.collect_quality", quality.select(
            "doc_id", "quality").collect),
        "exact": rec.call("operators.collect_exact", exact.collect),
        "pairs": rec.call("operators.collect_pairs", pairs.select(
            "doc_a", "doc_b", "jaccard").collect),
        "keep": rec.call("operators.collect_keep", keep.select(
            "doc_id", "cluster_id", "is_kept").collect),
    }
    if rec.tracing:
        out["candidates"] = rec.call("operators.count_candidates", cand.count)
    caching.release_scoped()
    return out


def check_chain(out: dict, corpus: dict) -> tuple[list[str], float]:
    """(problems, planted near-dup recall) of one chain run."""
    texts = corpus["texts"]
    bad = []
    q = {int(r[0]): float(r[1]) for r in out["quality"]}
    if set(q) != set(texts) or not all(0.0 <= v <= 1.0 for v in q.values()):
        bad.append("quality_score: missing documents or scores outside [0, 1]")
    groups: dict[str, list[int]] = {}
    for i, t in texts.items():
        groups.setdefault(t, []).append(i)
    want = sorted((min(g), len(g)) for g in groups.values())
    got = sorted((int(r["keep_doc_id"]), int(r["n_copies"])) for r in out["exact"])
    if got != want:
        bad.append(f"exact_dedup: {len(got)} groups != {len(want)}")
    sh = {}
    for a, b, j in out["pairs"]:
        for d in (a, b):
            if d not in sh:
                sh[d] = shingle_set(texts[d])
        sa, sb = sh[a], sh[b]
        expect = round(len(sa & sb) / len(sa | sb), 6)
        if not math.isclose(float(j), expect, abs_tol=1e-6) or expect < JACCARD_T:
            bad.append(f"jaccard({a}, {b}) {j} != {expect}")
            break
    cluster = {int(r[0]): int(r[1]) for r in out["keep"]}
    if set(cluster) != set(texts):
        bad.append("dedup_keep_one: documents missing")
        return bad, 0.0
    lost = [p for p in corpus["exact"] if cluster[p[0]] != cluster[p[1]]]
    if lost:
        bad.append(f"planted exact duplicates not clustered: {lost[:5]}")
    near = corpus["near"]
    recall = sum(cluster[d] == cluster[s] for d, s in near) / max(1, len(near))
    if recall < MIN_NEAR_RECALL:
        bad.append(f"planted near-dup recall {recall:.3f} < {MIN_NEAR_RECALL}")
    kept = sum(1 for r in out["keep"] if r[2])
    if kept != len({cluster[i] for i in cluster}):
        bad.append("dedup_keep_one: not exactly one kept document per cluster")
    return bad, recall
