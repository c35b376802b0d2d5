"""Similarity search over embedding columns (array<float>).

  - cosine_topk: brute-force cosine top-k against a query vector —
    the exactness baseline. All math in JVM expressions (zip_with +
    aggregate over doubles): no Python, broadcastable query side.
  - batch_cosine_topk: many queries in ONE corpus pass — numpy matmul
    inside an Arrow stage with per-batch top-k pruning, then a tiny
    window merge (the scatter-gather serving shape).
  - lsh_buckets / neardup_lsh: random-hyperplane LSH — signs derived
    from md5 so the scheme is deterministic and oracle-reproducible.
    Candidate pairs come from an equality join on the bucket key; the
    exact cosine then filters. This is the 100 TB path: shuffle by
    16-bit bucket, never all-pairs.
  - ivf_cells / ivf_topk: IVF-Flat coarse quantizer — probe nprobe
    cells only; the codebook is the ``n_cells`` smallest vec_ids, so
    the DuckDB oracle of ``ann_ivf_topk`` replays it exactly.

Every operator reads the ``embeddings`` schema: ``vec_id`` and an
``embedding`` array.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _as_double(col) -> F.Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, v): the embedding as array<double>."""
    return emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))


def _query(emb: DataFrame, query_vec_id: int) -> DataFrame:
    """The one-row (qv) frame of the query vector."""
    return emb.filter(F.col("vec_id") == query_vec_id).select(
        _as_double(F.col("embedding")).alias("qv")
    )


def cosine_topk(emb: DataFrame, query_vec_id: int, k: int = 10) -> DataFrame:
    """Exact top-k by cosine against the embedding of ``query_vec_id``."""
    q = _query(emb, query_vec_id)
    cand = _vectors(emb).filter(F.col("vec_id") != query_vec_id)
    scored = cand.crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.round(_dot(F.col("v"), F.col("qv")) / (_norm(F.col("v")) * _norm(F.col("qv"))), 6).alias(
            "cosine"
        ),
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def lsh_buckets(emb: DataFrame, n_bits: int = 16, *, dims: int) -> DataFrame:
    """Random-hyperplane signature: bit j = sign(Σ_i v[i]·s(j,i)) where
    s(j,i) ∈ {−1,+1} comes from md5(j||'_'||i) parity — deterministic,
    data-independent, identical in the SQL oracle.

    Pure per-row expression — no driver action at plan build, no
    explode, no join (round 1 materialized an n·d element table joined
    against a d·n_bits plane table and took a ``.first()`` during
    planning). The sign matrix is data-independent, so the ``dims``
    signs of each bit are folded into a literal array."""
    v = _as_double(F.col("embedding"))

    def proj(j: int) -> F.Column:
        signs = F.array(*[F.lit(1.0 if _md5_parity(j, i) else -1.0) for i in range(dims)])
        prods = F.zip_with(v, signs, lambda x, s: x * s)
        return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)

    bucket = None
    for j in range(n_bits):
        bit = F.when(proj(j) > 0, F.lit(2 ** j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        bucket = bit if bucket is None else bucket + bit
    # zip_with null-pads a vector whose length != dims, the product
    # aggregate goes NULL, and every bit silently falls to the
    # otherwise(0) branch — fail loudly instead of corrupting buckets.
    size = F.size(F.col("embedding"))
    bucket = F.when(size == dims, bucket).otherwise(
        F.raise_error(
            F.concat(F.lit(f"lsh_buckets: dims={dims} but size(vec)="), size.cast("string"))
        )
    )
    return emb.select("vec_id", bucket.alias("bucket"))


def _md5_parity(j: int, i: int) -> int:
    import hashlib

    return int(hashlib.md5(f"{j}_{i}".encode()).hexdigest()[:8], 16) % 2


def neardup_lsh(emb: DataFrame, threshold: float = 0.9, n_bits: int = 16, *, dims: int) -> DataFrame:
    """Near-duplicate pairs: LSH-bucket equality join → exact cosine
    filter. Output (a, b, cosine) with a < b."""
    b = lsh_buckets(emb, n_bits, dims=dims)
    withb = emb.join(b, "vec_id").select(
        "vec_id", _as_double(F.col("embedding")).alias("v"), "bucket"
    )
    l = withb.select(F.col("vec_id").alias("a"), F.col("v").alias("va"), "bucket")
    r = withb.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"), "bucket")
    pairs = l.join(r, "bucket").filter(F.col("a") < F.col("b"))
    return (
        pairs.select(
            "a",
            "b",
            F.round(
                _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb"))), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


# ------------------------------------------------------------- IVF-Flat
def _seed_centroids(emb: DataFrame, n_cells: int) -> DataFrame:
    """Deterministic, order-independent seeding: the ``n_cells``
    smallest vec_ids (NOT ``vec_id < n_cells`` — ids may be sparse or
    offset on a real corpus). cell_id is the rank, so cells are always
    0..n_cells−1 regardless of the id space. The orderBy().limit()
    compiles to TakeOrderedAndProject (distributed top-k, no global
    sort shuffle); the n_cells rows are then enumerated driver-side
    (a codebook-bounded collect), which avoids an unpartitioned rank
    window (WindowExec single-partition WARN) for the same result."""
    rows = (
        _vectors(emb.filter(F.col("embedding").isNotNull()))  # a NULL embedding must not seed
        .orderBy(F.asc("vec_id"))
        .limit(n_cells)
        .collect()
    )
    rows.sort(key=lambda r: r[0])
    return emb.sparkSession.createDataFrame(
        [(i, [float(x) for x in r["v"]]) for i, r in enumerate(rows)],
        schema="cell_id int, cv array<double>",
    )


def _assign_cells(cand: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v) × broadcast centroids → (vec_id, cell_id) argmax
    cosine; ties go to the smallest cell_id."""
    scored = cand.join(F.broadcast(cents)).select(
        "vec_id",
        "cell_id",
        (_dot(F.col("v"), F.col("cv")) / (_norm(F.col("v")) * _norm(F.col("cv")))).alias("sim"),
    )
    return scored.groupBy("vec_id").agg(
        F.max_by(F.col("cell_id"), F.struct(F.col("sim"), -F.col("cell_id"))).alias("cell_id")
    )


def ivf_cells(emb: DataFrame, n_cells: int = 16) -> DataFrame:
    """Coarse quantizer assignment (IVF): each vector goes to the cell
    of its highest-cosine centroid in the seeded codebook. Broadcast
    join + JVM array math: one narrow pass over the corpus; the only
    shuffle is the per-id argmax groupBy (map-side combinable)."""
    return _assign_cells(_vectors(emb), _seed_centroids(emb, n_cells))


def ivf_topk(
    emb: DataFrame, query_vec_id: int, k: int = 10, n_cells: int = 16, nprobe: int = 4
) -> DataFrame:
    """IVF-Flat search: probe the query's ``nprobe`` nearest cells and
    run exact cosine only inside them — the 10^12-vector scale path
    (search cost drops by ~n_cells/nprobe; at scale the cell id is
    also the partition key, so a probe touches nprobe partitions).
    Same output schema as cosine_topk; recall < 1.0 by construction."""
    cents = _seed_centroids(emb, n_cells)
    cells = _assign_cells(_vectors(emb), cents)
    q = _query(emb, query_vec_id)
    qcells = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "cell_id",
            (_dot(F.col("cv"), F.col("qv")) / (_norm(F.col("cv")) * _norm(F.col("qv")))).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("cell_id"))
        .limit(nprobe)
        .select("cell_id")
    )
    cand = (
        emb.join(cells, "vec_id")
        .join(F.broadcast(qcells), "cell_id")
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", _as_double(F.col("embedding")).alias("v"))
    )
    return (
        cand.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                _dot(F.col("v"), F.col("qv")) / (_norm(F.col("v")) * _norm(F.col("qv"))), 6
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def batch_cosine_topk(emb: DataFrame, query_vec_ids: list[int], k: int = 10) -> DataFrame:
    """Batched exact top-k: one pass answers MANY queries at once.

    This is the pattern the per-query plan can't reach: a vectorized
    Arrow stage computes the candidate×query similarity matrix with
    one numpy matmul per batch and keeps only the per-batch top-k per
    query (local prune), so the shuffle that follows carries at most
    n_batches·|Q|·k rows instead of n·|Q|. The final per-query rank is
    a window over that pruned set. At 10^12 vectors the scan stays a
    single map stage and the merge is negligible — the classic
    scatter-gather ANN serving shape.

    Queries are collected once (|Q|·d floats — request-bounded, like
    any serving batch) and closed over by the Arrow stage.
    Output: (qid, vec_id, cosine) with exactly k rows per qid.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window as W

    qrows = (
        emb.filter(F.col("vec_id").isin([int(q) for q in query_vec_ids]))
        .select(F.col("vec_id").alias("qid"), _as_double(F.col("embedding")).alias("qv"))
        .collect()
    )
    found = {int(r["qid"]) for r in qrows}
    missing = [int(q) for q in query_vec_ids if int(q) not in found]
    if missing:
        # Silently dropping queries (or hitting an opaque empty-matmul
        # shape error in the executors) is worse than failing fast.
        raise ValueError(
            f"batch_cosine_topk: query_vec_ids not found in corpus: {missing}"
        )
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["qv"] for r in qrows], dtype=np.float64)  # |Q| × d
    qnorm = np.linalg.norm(qmat, axis=1)
    qnorm[qnorm == 0] = 1.0

    def topk_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cand = np.array(pdf["v"].tolist(), dtype=np.float64)  # b × d
            ids = pdf["vec_id"].to_numpy()
            cnorm = np.linalg.norm(cand, axis=1)
            cnorm[cnorm == 0] = 1.0
            sims = (cand @ qmat.T) / cnorm[:, None] / qnorm[None, :]  # b × |Q|
            out_q, out_id, out_s = [], [], []
            for j, qid in enumerate(qids):
                col = sims[:, j]
                mask = ids != qid  # exclude self
                idx = np.nonzero(mask)[0]
                if not len(idx):
                    continue
                take = idx[np.argsort(-col[idx], kind="stable")[:k]]
                out_q.extend([qid] * len(take))
                out_id.extend(ids[take])
                out_s.extend(col[take])
            yield pd.DataFrame(
                {"qid": out_q, "vec_id": out_id, "cosine": out_s}
            )

    pruned = _vectors(emb).mapInPandas(topk_batches, schema="qid long, vec_id long, cosine double")
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        pruned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", F.round("cosine", 6).alias("cosine"))
    )
