"""Vector similarity: brute-force correctness vs numpy, ANN recall
floor, kNN vote integrity."""

from __future__ import annotations

import numpy as np

from mapreducego_spark.functions.vector import (
    N_QUERY_VECS,
    TOP_K,
    knn_label_vote,
    vector_ann_lsh,
    vector_topk,
)
from mapreducego_spark.sources.catalog import load_table


def _numpy_topk(spark, sf_dir):
    rows = load_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for q in range(N_QUERY_VECS):
        qi = int(np.where(ids == q)[0][0])
        sims = mat_n @ mat_n[qi]
        order = sorted(
            ((round(float(s), 6), int(i)) for s, i in zip(sims, ids) if i != q),
            key=lambda t: (-t[0], t[1]),
        )
        out[q] = [i for _, i in order[:TOP_K]]
    return out


def test_brute_force_topk_matches_numpy(spark, sf_dir):
    expected = _numpy_topk(spark, sf_dir)
    got: dict[int, list[int]] = {}
    for r in vector_topk(spark, sf_dir).collect():
        got.setdefault(r.q_id, []).append((r.rk, r.vec_id))
    got = {q: [v for _, v in sorted(pairs)] for q, pairs in got.items()}
    assert got == expected


def test_ann_recall_floor(spark, sf_dir):
    """Banded multi-probe sign-LSH must recover a reasonable share of
    the true top-k on random data (4x8-bit bands, per-band Hamming<=1
    probes)."""
    truth = _numpy_topk(spark, sf_dir)
    ann: dict[int, set[int]] = {q: set() for q in truth}
    for r in vector_ann_lsh(spark, sf_dir).collect():
        ann.setdefault(r.q_id, set()).add(r.vec_id)
    hits = sum(len(ann[q] & set(truth[q])) for q in truth)
    total = sum(len(truth[q]) for q in truth)
    assert hits / total >= 0.2, f"ANN recall {hits}/{total} below floor"


def test_ann_is_subset_scored_correctly(spark, sf_dir):
    """ANN results must carry the same cosine values as brute force
    (the approximation is in candidate generation, never scoring)."""
    brute = {
        (r.q_id, r.vec_id): r.cos_sim for r in vector_topk(spark, sf_dir).collect()
    }
    for r in vector_ann_lsh(spark, sf_dir).collect():
        if (r.q_id, r.vec_id) in brute:
            assert abs(r.cos_sim - brute[(r.q_id, r.vec_id)]) < 1e-9


def test_ivf_recall_floor(spark, sf_dir):
    """IVF probing 4 of 16 cells must beat blind 25% sampling by a
    wide margin — cells adapt to the data, so true neighbors
    concentrate in probed cells."""
    from mapreducego_spark.functions.vector import vector_ann_ivf

    truth = _numpy_topk(spark, sf_dir)
    ann: dict[int, set[int]] = {q: set() for q in truth}
    for r in vector_ann_ivf(spark, sf_dir).collect():
        ann.setdefault(r.q_id, set()).add(r.vec_id)
    hits = sum(len(ann[q] & set(truth[q])) for q in truth)
    total = sum(len(truth[q]) for q in truth)
    assert hits / total >= 0.4, f"IVF recall {hits}/{total} below floor"


def test_ivf_is_subset_scored_correctly(spark, sf_dir):
    """IVF results carry exact cosine values (approximation lives in
    cell probing, never scoring) — same contract as LSH."""
    from mapreducego_spark.functions.vector import vector_ann_ivf

    brute = {
        (r.q_id, r.vec_id): r.cos_sim for r in vector_topk(spark, sf_dir).collect()
    }
    for r in vector_ann_ivf(spark, sf_dir).collect():
        if (r.q_id, r.vec_id) in brute:
            assert abs(r.cos_sim - brute[(r.q_id, r.vec_id)]) < 1e-9


def test_ivf_centroids_deterministic(spark, sf_dir):
    """Training twice yields bit-identical centroids (hash-ordered
    sample, no RNG state) — reproducibility across runs/engines."""
    import pyspark.sql.functions as F

    from mapreducego_spark.functions.vector import (
        _as_double,
        ivf_train_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        _as_double(F.col("embedding")).alias("v"),
    )
    c1 = ivf_train_centroids(emb, 64)
    c2 = ivf_train_centroids(emb, 64)
    assert (c1 == c2).all()


def test_knn_vote_majority(spark, sf_dir):
    top = vector_topk(spark, sf_dir).collect()
    labels = {
        r.vec_id: r.label
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    votes: dict[int, list[int]] = {}
    for r in top:
        votes.setdefault(r.q_id, []).append(labels[r.vec_id])
    for r in knn_label_vote(spark, sf_dir).collect():
        counts = sorted(
            ((votes[r.q_id].count(l), -l) for l in set(votes[r.q_id])),
            reverse=True,
        )
        assert counts[0][0] == r.n_votes
        assert -counts[0][1] == r.pred_label


def test_embedding_dedup_lsh_subset_of_exact(spark, sf_dir):
    """Bucketed embedding near-dup: exact verify means every emitted
    pair must appear in the brute-force baseline with the same
    cosine; precision is exact, only recall is approximate."""
    from mapreducego_spark.functions.vector import (
        dedup_embedding,
        dedup_embedding_lsh,
    )

    exact = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in dedup_embedding(spark, sf_dir).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in dedup_embedding_lsh(spark, sf_dir).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, cs in lsh.items():
        assert abs(cs - exact[pair]) < 1e-9


def _clustered_embeddings(spark, n_clusters=20, per_cluster=25, dims=16):
    """Deterministic clustered fixture: cluster members are the
    center plus small noise, so intra-cluster cosine is ~0.95+ —
    the shape a real near-dup embedding corpus has (the parquet
    fixture's pairs sit near the random-cosine peak instead)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    for c in range(n_clusters):
        center = rng.standard_normal(dims)
        center /= np.linalg.norm(center)
        for _ in range(per_cluster):
            v = center + 0.10 * rng.standard_normal(dims)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, cluster long, v array<double>")


def test_embedding_lsh_clustered_recall(spark):
    """Adversarial-for-the-old-code case: clustered vectors. The
    banded sketch must recover the vast majority of intra-cluster
    near-dup pairs (the old fixed 6-bit full-sketch match hashed
    everything into 64 buckets — fine recall, quadratic candidates;
    a wider full-sketch match would have ~0 recall; banding gives
    both)."""
    from mapreducego_spark.functions.vector import cosine, embedding_pairs_lsh

    emb = _clustered_embeddings(spark).cache()
    got = {
        (r.vec_a, r.vec_b)
        for r in embedding_pairs_lsh(emb, dims=16, threshold=0.9).collect()
    }
    # exact intra-cluster truth at the same threshold
    a = emb.selectExpr("vec_id vec_a", "cluster ca", "v va")
    b = emb.selectExpr("vec_id vec_b", "cluster cb", "v vb")
    import pyspark.sql.functions as F

    truth = {
        (r.vec_a, r.vec_b)
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(F.col("ca") == F.col("cb"))
        .filter(cosine(F.col("va"), F.col("vb")) >= 0.9)
        .collect()
    }
    emb.unpersist()
    assert truth, "fixture produced no near pairs — tighten the noise"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, f"clustered recall {recall:.2f} below floor"


def test_embedding_lsh_candidates_subquadratic(spark, sf_dir):
    """The candidate stream must stay well under the all-pairs count
    on the random fixture — the property that makes the banded LSH
    the 100 TB path (random-pair band collision ~p_rand^band_bits
    per band)."""
    from mapreducego_spark.functions.vector import _as_double, lsh_candidate_pairs

    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        _as_double(F.col("embedding")).alias("v"),
    )
    n = emb.count()
    n_cands = lsh_candidate_pairs(emb).count()
    all_pairs = n * (n - 1) / 2
    assert n_cands <= 0.05 * all_pairs, (
        f"{n_cands} candidates for {n} vectors (~{n_cands / all_pairs:.1%} "
        "of all pairs) — banding is not pruning"
    )


def test_embedding_lsh_bucket_cap_bounds_candidates(spark):
    """A pathological bucket (every vector identical direction) must
    be dropped by max_bucket_size rather than emitting C(n,2) pairs."""
    from mapreducego_spark.functions.vector import lsh_candidate_pairs

    base = [1.0] + [0.0] * 15
    rows = [(i, base) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")
    capped = lsh_candidate_pairs(emb, dims=16, max_bucket_size=100).count()
    uncapped = lsh_candidate_pairs(emb, dims=16, max_bucket_size=None).count()
    assert uncapped == 300 * 299 / 2
    assert capped == 0


def test_pq_adc_rerank_recall_floor_and_determinism(spark):
    """PQ/ADC shortlist + exact re-rank: recall@10 vs the exact
    brute force must clear a floor on both fixtures (uniform random
    vectors are PQ's worst case — no cluster structure — so the
    floor is meaningful), values must be EXACT cosines (the re-rank
    contract), and two runs must be identical (no RNG anywhere)."""
    from mapreducego_spark.functions.vector import vector_ann_pq, vector_topk

    for sf, mean_floor in (("/root/testdata/sf0.001", 0.9), ("/root/testdata/sf0.01", 0.95)):
        exact_rows = vector_topk(spark, sf).collect()
        exact = {}
        exact_vals = {}
        for r in exact_rows:
            exact.setdefault(r.q_id, set()).add(r.vec_id)
            exact_vals[(r.q_id, r.vec_id)] = r.cos_sim
        got_rows = vector_ann_pq(spark, sf).collect()
        got = {}
        for r in got_rows:
            got.setdefault(r.q_id, set()).add(r.vec_id)
            # any returned pair that IS in the exact top-k must carry
            # the exact cosine — re-ranking uses true distances
            if (r.q_id, r.vec_id) in exact_vals:
                assert r.cos_sim == exact_vals[(r.q_id, r.vec_id)]
        recalls = [
            len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact
        ]
        assert sum(recalls) / len(recalls) >= mean_floor, (sf, recalls)
        assert min(recalls) >= 0.6, (sf, recalls)

        again = vector_ann_pq(spark, sf).collect()
        assert [tuple(r) for r in again] == [tuple(r) for r in got_rows]


def test_ivfpq_recall_floor_and_exact_rerank_values(spark):
    """IVF-PQ compounds cell-routing recall with quantization recall,
    so its floor sits below the standalone stages' (IVF alone floors
    at 0.4 here); re-ranked values must still be exact cosines."""
    from mapreducego_spark.functions.vector import vector_ann_ivfpq, vector_topk

    sf = "/root/testdata/sf0.01"
    exact_rows = vector_topk(spark, sf).collect()
    exact = {}
    vals = {}
    for r in exact_rows:
        exact.setdefault(r.q_id, set()).add(r.vec_id)
        vals[(r.q_id, r.vec_id)] = r.cos_sim
    got_rows = vector_ann_ivfpq(spark, sf).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r.q_id, set()).add(r.vec_id)
        if (r.q_id, r.vec_id) in vals:
            assert r.cos_sim == vals[(r.q_id, r.vec_id)]
    recalls = [len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.45, recalls
    assert [tuple(r) for r in vector_ann_ivfpq(spark, sf).collect()] == [
        tuple(r) for r in got_rows
    ]


def test_lsh_fixture_dots_clear_the_sign_seam():
    """dedup_embedding_lsh's oracle takes sketch bit p = sign(v .
    plane_p) from a DuckDB SUM fold while the engine uses a BLAS
    matmul. The two agree unless a dot lies within summation-reorder
    error of zero; pin that no sf0.01 fixture dot does, so a fixture
    that lands on the seam fails here by name instead of as an
    opaque oracle hash mismatch."""
    import pyarrow.parquet as pq

    from mapreducego_spark.functions import vector as V
    from tests.conftest import SF_ORACLE

    emb = pq.read_table(f"{SF_ORACLE}/embeddings.parquet")
    mat = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    dots = mat @ V._plane_matrix(V.EMB_DIMS, V.N_PLANES)
    k = int(np.argmin(np.abs(dots)))
    vec, plane = divmod(k, V.N_PLANES)
    assert abs(dots.flat[k]) > 1e-12, (
        f"vec_id {emb.column('vec_id')[vec]} . plane {plane} ="
        f" {dots.flat[k]!r}: the LSH oracle's sign seam is hit"
    )
