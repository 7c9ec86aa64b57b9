"""Similarity-search operators: exact GEMM paths vs a naive numpy oracle,
approximate paths for shape/recall sanity."""

import numpy as np
import pytest

from debezium_server_iceberg_spark.functions.similarity import (
    cosine_pairs_blocked,
    cosine_topk,
    ivf_topk,
    lsh_bucketed_topk,
)

N, DIM = 80, 12


@pytest.fixture(scope="module")
def vecs():
    rng = np.random.RandomState(7)
    base = rng.randn(N, DIM)
    # plant near-duplicate pairs: (i, i+40) nearly parallel for i < 8
    for i in range(8):
        base[i + 40] = base[i] + 0.01 * rng.randn(DIM)
    return base


@pytest.fixture(scope="module")
def emb_df(spark, vecs):
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(N)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _naive_cosine(vecs):
    n = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    return n @ n.T


def test_cosine_topk_matches_naive(emb_df, vecs):
    sims = _naive_cosine(vecs)
    out = cosine_topk(emb_df, query_ids=[0, 5], k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for qid in (0, 5):
        s = sims[qid].copy()
        s[qid] = -np.inf
        expect = list(np.argsort(-s)[:3])
        got = [nid for _, nid in sorted(by_q[qid])]
        assert got == expect


def test_cosine_pairs_blocked_matches_naive(emb_df, vecs):
    sims = _naive_cosine(vecs)
    iu = np.triu_indices(N, k=1)
    expect = {
        (int(a), int(b))
        for a, b in zip(iu[0][sims[iu] >= 0.9], iu[1][sims[iu] >= 0.9])
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_blocked(emb_df, threshold=0.9, n_blocks=4).collect()
    }
    assert got == expect
    assert len(expect) >= 8  # the planted pairs are all found


def test_ivf_topk_shape_and_recall(emb_df, vecs):
    out = ivf_topk(emb_df, query_ids=[0, 1, 2, 3], k=3, n_cells=8, n_probe=4).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert set(per_q) == {0, 1, 2, 3}
    assert all(len(v) == 3 for v in per_q.values())
    # planted duplicate i+40 is the true #1 neighbor; probing its own cell
    # must recover at least half of them
    hits = sum(1 for q in (0, 1, 2, 3) if q + 40 in per_q[q])
    assert hits >= 2


def test_lsh_topk_shape(emb_df):
    out = lsh_bucketed_topk(emb_df, query_ids=[0, 1], k=3, n_planes=2).collect()
    assert {r["query_id"] for r in out} <= {0, 1}
    for r in out:
        assert 1 <= r["rank"] <= 3


def test_semantic_dedup_drops_planted_duplicates(spark):
    from debezium_server_iceberg_spark.functions.similarity import semantic_dedup

    # two tight groups on orthogonal axes + one isolated vector; within each
    # group every vector is a near-duplicate of the lowest id
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # dup of 1
        (10, [0.0, 1.0, 0.0]),
        (11, [0.0, 0.999, 0.01]),  # dup of 10
        (50, [0.0, 0.0, 1.0]),     # isolated
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.keep for r in semantic_dedup(df, n_clusters=3, threshold=0.95).collect()}
    assert out[1] and out[10] and out[50]
    assert not out[2] and not out[11]
    # determinism: same input -> same cells and keeps
    again = {r.vec_id: r.keep for r in semantic_dedup(df, n_clusters=3, threshold=0.95).collect()}
    assert again == out


def test_pq_encode_assigns_seeds_to_themselves(spark):
    from debezium_server_iceberg_spark.functions.pq import pq_encode

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    codes = pq_encode(emb, dim=64).collect()
    n = emb.count()
    assert len(codes) == n * 8  # one code per (vector, subspace)
    by_vec = {}
    for r in codes:
        assert 0 <= r["_s"] < 8
        by_vec.setdefault(r["vec_id"], set()).add(r["_s"])
    assert all(len(s) == 8 for s in by_vec.values())
    # the lowest-id seed is its own centroid in every subspace (d2 = 0,
    # no lower code id exists)
    assert all(r["code"] == 0 for r in codes if r["vec_id"] == 0)


def test_pq_encode_rejects_incomplete_external_codebooks(spark):
    # a caller-supplied codebook missing a (subspace, code_id) row used to
    # leave a phantom all-zeros centroid competing in the argmin; it must
    # raise instead
    import pytest

    from debezium_server_iceberg_spark.functions.pq import (
        pq_codebooks,
        pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cbs = pq_codebooks(emb, dim=64, m=8, ks=4)
    # complete external codebooks: identical codes to the internal path
    ext = {
        (r["vec_id"], r["_s"]): r["code"]
        for r in pq_encode(emb, dim=64, m=8, ks=4, codebooks=cbs).collect()
    }
    internal = {
        (r["vec_id"], r["_s"]): r["code"]
        for r in pq_encode(emb, dim=64, m=8, ks=4).collect()
    }
    assert ext == internal
    # a subspace with no entries at all -> loud failure
    from pyspark.sql import functions as F

    holey = cbs.filter(F.col("_s") != 3)
    with pytest.raises(ValueError, match="incomplete"):
        pq_encode(emb, dim=64, m=8, ks=4, codebooks=holey)


def test_pq_encode_sparse_external_codebooks(spark):
    # a caller codebook missing some (subspace, code_id) cells encodes
    # each vector to its nearest PRESENT code per subspace — a missing
    # cell is masked out of that subspace's argmin, never scored as an
    # all-zeros phantom centroid
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from debezium_server_iceberg_spark.functions.pq import (
        pq_codebooks,
        pq_encode,
        seq_fold_d2_batch,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    m, dsub = 8, 8
    cbs = pq_codebooks(emb, dim=64, m=m, ks=4)
    # subspace s keeps only the codes != s % 4; subspace 0 keeps code 2 only
    sparse = cbs.filter(
        ((F.col("_s") == 0) & (F.col("code_id") == 2))
        | ((F.col("_s") > 0) & (F.col("code_id") != F.col("_s") % 4))
    )
    present: dict = {}
    for r in sparse.collect():
        present.setdefault(r["_s"], {})[r["code_id"]] = np.asarray(r["_cent"])
    got = {
        (r["vec_id"], r["_s"]): r["code"]
        for r in pq_encode(emb, dim=64, m=m, ks=4, codebooks=sparse).collect()
    }
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.select("vec_id", "embedding").collect()}
    assert len(got) == len(vecs) * m
    for vid, v in vecs.items():
        for s in range(m):
            ids = sorted(present[s])
            d2 = seq_fold_d2_batch(
                v[None, s * dsub : (s + 1) * dsub],
                np.stack([present[s][c] for c in ids]),
            )[0]
            assert got[vid, s] == ids[int(np.argmin(d2))]
    assert {got[vid, 0] for vid in vecs} == {2}


def test_pq_adc_orders_scores_and_excludes_self(spark):
    from debezium_server_iceberg_spark.functions.pq import pq_adc_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = pq_adc_topk(emb, query_ids=list(range(10)), k=5).collect()
    assert len(rows) == 50
    for qid in range(10):
        mine = sorted(
            (r for r in rows if r["query_id"] == qid), key=lambda r: r["rank"]
        )
        assert [r["rank"] for r in mine] == [1, 2, 3, 4, 5]
        assert all(r["neighbor_id"] != qid for r in mine)
        dists = [r["adc_dist2"] for r in mine]
        assert dists == sorted(dists)


def test_hard_negatives_excludes_own_label_and_self(spark):
    from debezium_server_iceberg_spark.functions.similarity import (
        cosine_topk,
        hard_negatives,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    rows = hard_negatives(emb, query_ids=list(range(10)), k=5).collect()
    assert len(rows) == 50
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        assert r["neighbor_label"] != labels[r["query_id"]]
        assert r["neighbor_label"] == labels[r["neighbor_id"]]
    # hard negatives are at most as similar as the unconstrained top-1
    top1 = {r["query_id"]: r["cosine"]
            for r in cosine_topk(emb, list(range(10)), k=1).collect()}
    for r in rows:
        if r["rank"] == 1:
            assert r["cosine"] <= top1[r["query_id"]] + 1e-9


def test_random_projection_deterministic_and_distance_preserving(spark):
    import numpy as np
    from debezium_server_iceberg_spark.functions.similarity import (
        _jl_signs,
        random_projection,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sub = emb.filter("vec_id < 40")
    p1 = {r["vec_id"]: r["proj"] for r in random_projection(sub).collect()}
    p2 = {r["vec_id"]: r["proj"] for r in random_projection(sub).collect()}
    assert p1 == p2 and len(p1) == 40 and all(len(v) == 16 for v in p1.values())
    # matches the driver-side constant matrix applied in numpy
    S = np.array(_jl_signs(64, 16))  # (16, 64)
    raw = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in sub.collect()}
    for vid in (0, 7, 39):
        ref = np.round(S @ raw[vid] * 0.25, 4) + 0.0
        assert np.allclose(p1[vid], ref, atol=1e-9)
    # JL: median pairwise-distance distortion is modest at d_out=16
    ids = sorted(p1)
    dist = []
    for a in ids[:10]:
        for b in ids[10:20]:
            d_hi = np.linalg.norm(raw[a] - raw[b])
            # the 1/sqrt(d_out) scale is already inside proj, so the
            # projected distance estimates the original directly
            d_lo = np.linalg.norm(np.array(p1[a]) - np.array(p1[b]))
            dist.append(abs(d_lo - d_hi) / d_hi)
    assert np.median(dist) < 0.5


def test_recall_at_k_counts_and_zero_fill(spark):
    from debezium_server_iceberg_spark.functions.similarity import recall_at_k

    exact = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 11), (2, 1, 20), (2, 2, 21)],
        "query_id long, rank int, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(1, 1, 11), (1, 2, 99)],  # query 2 missing entirely
        "query_id long, rank int, neighbor_id long",
    )
    out = {r["query_id"]: r for r in recall_at_k(exact, approx, k=2).collect()}
    assert out[1]["n_hits"] == 1 and out[2]["n_hits"] == 0
    assert all(r["k"] == 2 for r in out.values())


def test_hard_negatives_string_labels(spark):
    """ADVICE r10: label_col is parameterized, so non-integer label
    types must work — the Arrow output field is derived from the input
    schema, not hardcoded int."""
    from pyspark.sql import functions as F

    from debezium_server_iceberg_spark.functions.similarity import (
        hard_negatives,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .withColumn("cls", F.concat(F.lit("class_"), F.col("label")))
        .drop("label")
    )
    rows = hard_negatives(
        emb, query_ids=[0, 1, 2], k=3, label_col="cls"
    ).collect()
    assert len(rows) == 9
    cls = {r["vec_id"]: r["cls"] for r in emb.select("vec_id", "cls").collect()}
    for r in rows:
        assert isinstance(r["neighbor_label"], str)
        assert r["neighbor_label"] != cls[r["query_id"]]
        assert r["neighbor_label"] == cls[r["neighbor_id"]]
