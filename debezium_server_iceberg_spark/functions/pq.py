"""Product quantization (PQ) for embedding columns: compress vectors to
``m`` one-byte codes and rank candidates with asymmetric distance
computation (ADC) — the standard memory-bound ANN scan (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011).

Why this matters at 100 TB: a 64-dim float64 embedding is 512 bytes; its
PQ code is ``m`` bytes (64x smaller at m=8).  The ADC scan touches ONLY
the code table plus a broadcast per-query lookup table (m * ks distances
per query), so the candidate sweep is a narrow-integer join + sum — raw
vectors are read once at encode time and never again.  IVF
(``functions/ann_index.py``) prunes WHICH vectors are scanned; PQ
shrinks WHAT is read per vector; production systems compose both
(IVF-PQ).  Exact re-ranking of the ADC top-k against raw vectors is the
usual final step and is exactly ``cosine_topk`` on the shortlist.

DETERMINISM CONTRACT (what makes the DuckDB oracle replay this
bit-for-bit, reusing the proven ``kmeans_lloyd_step`` fold-order rules):

- codebooks need no RNG: the ``ks`` lowest-id vectors are the seeds and
  subspace ``s`` of seed ``j`` is its ``s``-th slice — zero training
  passes (the k-means-refined variant would feed these seeds through
  ``kmeans_lloyd_step`` per subspace; the seed codebook keeps the whole
  pipeline closed-form for the oracle);
- subspace distances are sequential-fold double sums over ``zip_with``
  squared differences — element order fixes IEEE summation order, so
  both engines compute IDENTICAL doubles and the argmin needs no
  rounding; ties break toward the lower code id;
- the argmin itself is ``min_by(code, struct(d2, code))`` — a partial
  aggregate (map-side combinable), NOT a per-(vector, subspace) window
  sort: one less corpus-wide sort than the kmeans-step shape;
- ADC scores sum m=8 per-subspace doubles across a groupBy whose
  partial-aggregation order is engine/partition dependent — the ONE
  place floats cross an unordered aggregation — so the surfaced score
  rounds to 4 decimals and ranking orders by (rounded score, id),
  deterministic on both sides (oracle-parity rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _fold_d2(a, b):
    """Sequential-fold squared L2 distance between two equal-length
    array columns — the shared kmeans/PQ fold-order contract."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _subspaces(df: DataFrame, dim: int, m: int, vec_col: str, out: str):
    """Explode a vector column into (s, subvector) rows, s in [0, m)."""
    dsub = dim // m
    slices = F.array(
        *[F.slice(vec_col, s * dsub + 1, dsub) for s in range(m)]
    )
    return df.select(
        *[c for c in df.columns if c != vec_col],
        F.posexplode(slices).alias("_s", out),
    )


def pq_codebooks(
    df: DataFrame,
    dim: int,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic seed codebooks: (code_id, _s, _cent) — the ``ks``
    lowest-id vectors sliced into ``m`` subspaces (m*ks rows total, a
    broadcast-sized relation at any corpus size)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    seeds = (
        df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
        .orderBy(id_col)
        .limit(ks)
        .select(F.col(id_col).alias("code_id"), "_v")
    )
    return _subspaces(seeds, dim, m, "_v", "_cent")


def pq_encode(
    df: DataFrame,
    dim: int,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Encode every vector to (id, _s, code): nearest codebook entry per
    subspace under the exact fold-order distance, ties to the lower
    code id.

    ONE Arrow pass: the (m*ks, planning-scale) codebook is fetched
    driver-side and shipped in the ``mapInPandas`` closure; each batch
    scores all m subspaces with ``seq_fold_d2_batch`` — the numpy
    replica of the sequential ``_fold_d2`` left fold, bit-identical
    argmins (the contract ``IVFPQIndex.add_batch`` already relies on).
    The former shape — subspace explode joined to the broadcast
    codebook with an interpreted per-(vector × entry) fold, then a
    min_by shuffle — paid corpus × ks interpreted lambda chains and a
    corpus-sized aggregation for the same result."""
    import numpy as np
    import pandas as pd

    dsub = dim // m
    # per-subspace mask of missing (subspace, code) cells: a caller codebook
    # may be sparse, and a missing cell must not compete in the argmin as
    # a phantom all-zeros centroid (the former broadcast-join shape scored
    # only entries actually present per subspace)
    absent = None
    if codebooks is not None:
        rows = codebooks.collect()
        code_ids = sorted({r["code_id"] for r in rows})
        pos = {cid: j for j, cid in enumerate(code_ids)}
        cb = np.zeros((m, len(code_ids), dsub), dtype=np.float64)
        absent = np.ones((m, len(code_ids)), dtype=bool)
        for r in rows:
            cb[r["_s"], pos[r["code_id"]]] = np.asarray(r["_cent"], dtype=np.float64)
            absent[r["_s"], pos[r["code_id"]]] = False
        empty = [s for s in range(m) if absent[s].all()]
        if empty:
            raise ValueError(
                "pq_encode: caller-supplied codebooks are incomplete — "
                f"subspaces {empty} have no entries; every one of the {m} "
                "subspaces needs at least one code"
            )
    else:
        cb, code_ids = collect_pq_codebooks(df, dim, m, ks, id_col, vec_col)
    code_arr = np.asarray(code_ids, dtype=np.int64)

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            vecs = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            out_id, out_s, out_code = [], [], []
            for s in range(m):
                sub = vecs[:, s * dsub : (s + 1) * dsub]
                # argmin first-occurrence == ties to the lower code id
                # (code_arr is ascending)
                d2 = seq_fold_d2_batch(sub, cb[s])
                if absent is not None:
                    d2[:, absent[s]] = np.inf
                codes = code_arr[np.argmin(d2, axis=1)]
                out_id.extend(ids)
                out_s.extend([s] * len(ids))
                out_code.extend(codes)
            yield pd.DataFrame(
                {
                    id_col: out_id,
                    "_s": pd.array(out_s, dtype="int32"),
                    "code": out_code,
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        encode, schema=f"{id_col} long, _s int, code long"
    )


def ivfpq_adc_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    m: int = 8,
    ks: int = 16,
    n_cells: int = 8,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: coarse-cell pruning composed with the ADC scan — the
    production ANN layout (Jégou et al. §IV; FAISS ``IVFxx,PQyy``).
    IVF bounds WHICH vectors are scanned (each query touches its
    ``n_probe`` cells, ~``n_probe/n_cells`` of the corpus); PQ bounds
    WHAT is read per vector (m one-byte codes).

    Structure: coarse centroids are the crc32-lowest-id vectors (the
    :func:`...similarity.ivf_topk` codebook rule) and cell assignment is
    one map-only GEMM against the broadcast codebook; PQ codes come from
    :func:`pq_encode` (exact fold-order contract); the two corpus-sized
    relations join ONCE on the vector id — at scale that join IS the
    index build (a persistent layout would store codes cell-partitioned,
    as ``IVFIndex`` does for raw vectors).  The probe list (|Q| *
    n_probe rows) and the ADC LUT broadcast; the scan shuffles only
    (query, candidate, subspace-sum) rows from probed cells.

    With ``n_probe = n_cells`` probing is exhaustive and the result is
    EXACTLY :func:`pq_adc_topk` — the oracle-checked mode (same trick as
    the ``ann_ivf_topk`` gate: exhaustive probing makes the composition
    machinery — assignment GEMM, cell join, probe pruning — answerable
    by the brute-force-over-codes oracle).  ``n_probe < n_cells`` is the
    approximate production mode (pytest covers its recall).
    """
    import numpy as np
    import pandas as pd

    cent_rows = (
        df.select(id_col, vec_col)
        .orderBy(F.crc32(F.col(id_col).cast("string")).asc(), F.col(id_col).asc())
        .limit(n_cells)
        .collect()
    )
    cmat = np.array(
        [np.asarray(r[vec_col], dtype=np.float64) for r in cent_rows]
    )
    norms = np.linalg.norm(cmat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    cmat = cmat / norms

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            vn = np.linalg.norm(vecs, axis=1, keepdims=True)
            vn[vn == 0.0] = 1.0
            cells = np.argmax((vecs / vn) @ cmat.T, axis=1)
            yield pd.DataFrame({"_cid": pdf[id_col].to_numpy(), "cell": cells})

    cells = df.select(id_col, vec_col).mapInPandas(
        assign, schema="_cid long, cell int"
    )

    cb = pq_codebooks(df, dim, m, ks, id_col, vec_col)
    # the index-build join: BOTH sides are corpus-sized (m rows/vector of
    # codes; 1 row/vector of cells) — pinned shuffle-merge on the shared
    # id key, per the repo-wide ban on static broadcasts of unbounded
    # relations (a persistent IVF-PQ layout would store codes
    # cell-partitioned and skip this join at query time)
    codes = (
        pq_encode(df, dim, m, ks, id_col, vec_col, codebooks=cb)
        .hint("merge")
        .join(cells.withColumnRenamed("_cid", id_col).hint("merge"), id_col)
    )

    q_rows = (
        df.filter(F.col(id_col).isin(query_ids)).select(id_col, vec_col).collect()
    )
    probe_rows = []
    for r in q_rows:
        qv = np.asarray(r[vec_col], dtype=np.float64)
        qn = np.linalg.norm(qv) or 1.0
        order = np.argsort(-(cmat @ (qv / qn)))[:n_probe]
        probe_rows.extend((int(r[id_col]), int(c)) for c in order)
    probes = df.sparkSession.createDataFrame(
        probe_rows, schema="_qid long, cell int"
    )

    qsub = _subspaces(
        df.filter(F.col(id_col).isin(query_ids)).select(
            F.col(id_col).alias("_qid"), _as_double(F.col(vec_col)).alias("_v")
        ),
        dim,
        m,
        "_v",
        "_qv",
    )
    lut = qsub.join(F.broadcast(cb), "_s").select(
        "_qid",
        "_s",
        F.col("code_id").alias("code"),
        _fold_d2(F.col("_qv"), F.col("_cent")).alias("_qd2"),
    )
    adc = (
        codes.join(F.broadcast(probes), "cell")
        .join(F.broadcast(lut), ["_qid", "_s", "code"])
        .filter(F.col(id_col) != F.col("_qid"))
        .groupBy("_qid", id_col)
        .agg(F.round(F.sum("_qd2"), 4).alias("adc_dist2"))
    )
    pre = Window.partitionBy("_qid", F.pmod(F.col(id_col), F.lit(64))).orderBy(
        F.col("adc_dist2").asc(), F.col(id_col).asc()
    )
    final = Window.partitionBy("_qid").orderBy(
        F.col("adc_dist2").asc(), F.col(id_col).asc()
    )
    return (
        adc.withColumn("_pr", F.row_number().over(pre))
        .filter(F.col("_pr") <= k)
        .drop("_pr")
        .withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            "rank",
            F.col(id_col).alias("neighbor_id"),
            "adc_dist2",
        )
    )


def pq_adc_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: queries stay raw, candidates are PQ
    codes; score(q, x) = sum_s d2(q_s, centroid[code_s(x)]).  The
    lookup table (|Q| * m * ks rows) broadcasts; the scan is a
    narrow-integer join on (s, code) + one rounded-sum aggregation +
    salted two-phase top-k.  Self-matches are excluded (parity with
    the ann_* gates).  Returns (query_id, rank, neighbor_id,
    adc_dist2)."""
    cb = pq_codebooks(df, dim, m, ks, id_col, vec_col)
    codes = pq_encode(df, dim, m, ks, id_col, vec_col, codebooks=cb)
    qsub = _subspaces(
        df.filter(F.col(id_col).isin(query_ids)).select(
            F.col(id_col).alias("_qid"), _as_double(F.col(vec_col)).alias("_v")
        ),
        dim,
        m,
        "_v",
        "_qv",
    )
    lut = qsub.join(F.broadcast(cb), "_s").select(
        "_qid",
        "_s",
        F.col("code_id").alias("code"),
        _fold_d2(F.col("_qv"), F.col("_cent")).alias("_qd2"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["_s", "code"])
        .filter(F.col(id_col) != F.col("_qid"))
        .groupBy("_qid", id_col)
        .agg(F.round(F.sum("_qd2"), 4).alias("adc_dist2"))
    )
    pre = Window.partitionBy("_qid", F.pmod(F.col(id_col), F.lit(64))).orderBy(
        F.col("adc_dist2").asc(), F.col(id_col).asc()
    )
    final = Window.partitionBy("_qid").orderBy(
        F.col("adc_dist2").asc(), F.col(id_col).asc()
    )
    return (
        adc.withColumn("_pr", F.row_number().over(pre))
        .filter(F.col("_pr") <= k)
        .drop("_pr")
        .withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            "rank",
            F.col(id_col).alias("neighbor_id"),
            "adc_dist2",
        )
    )


def collect_pq_codebooks(
    df: DataFrame,
    dim: int,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """The PQ codebooks as a dense numpy array ``[m][ks][dim/m]`` —
    the driver-side form a persistent index freezes into table
    properties (m*ks rows, planning scale).  Values are EXACTLY the
    ``pq_codebooks`` relation's (the seeds' cast-to-double slices), so
    numpy sequential-fold distances over this array reproduce the
    Spark/DuckDB fold-order contract bit-for-bit."""
    import numpy as np

    rows = pq_codebooks(df, dim, m, ks, id_col, vec_col).collect()
    dsub = dim // m
    # code_id values are the seed vectors' ids (ks lowest ids), not
    # 0..ks-1 — keep them ordered so code index j maps to the j-th
    # lowest seed id, and return the id mapping alongside.  A corpus
    # smaller than ks yields fewer seeds: size the array by the REAL
    # seed count so an argmin can never land on a phantom zero row.
    code_ids = sorted({r["code_id"] for r in rows})
    pos = {cid: j for j, cid in enumerate(code_ids)}
    cb = np.zeros((m, len(code_ids), dsub), dtype=np.float64)
    for r in rows:
        cb[r["_s"], pos[r["code_id"]]] = np.asarray(r["_cent"], dtype=np.float64)
    return cb, code_ids


def seq_fold_d2_batch(sub, cents):
    """Squared L2 distances between every row of ``sub`` (n, dsub) and
    every row of ``cents`` (ks, dsub), accumulated SEQUENTIALLY over
    the dsub axis — the same left fold as ``_fold_d2`` (Spark
    ``aggregate``) and the oracle's ``list_sum``, so argmins and LUT
    entries computed here are bit-identical to the in-plan ones."""
    import numpy as np

    n, dsub = sub.shape
    acc = np.zeros((n, cents.shape[0]), dtype=np.float64)
    for t in range(dsub):
        diff = sub[:, t : t + 1] - cents[None, :, t]
        acc = acc + diff * diff
    return acc
