"""Similarity search over embedding columns (array<float>).

Three tiers, trading recall for scan cost:

- `brute_force_topk`: exact baseline (JVM-side zip_with/aggregate
  arithmetic — no Python in the loop); broadcast queries x full scan.
- `lsh_topk`: random-hyperplane sign signatures put near vectors in the
  same bucket (model-free: hyperplanes are hash-derived, stable across
  runs/engines); margin-ordered multi-probe recovers recall.
- `ivf_topk`: classic inverted-file index (Jégou et al.) — a coarse
  k-means quantizer trained on a bounded driver-side sample partitions
  the table into `n_centroids` cells; queries scan only their `n_probes`
  nearest cells.  Assignment is one Arrow-batched matmul per batch (the
  one step column arithmetic genuinely can't express at centroid counts
  beyond a handful), so the scan side stays a single narrow projection +
  one equi-join on the cell id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# k-means training: first rows by id, fixed Lloyd iterations
_TRAIN_SIZE = 4096
_KMEANS_ITERS = 10


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a, b):
    """Cosine similarity between two array<float|double> columns."""
    return (_dot(a, b) / (_norm(a) * _norm(b))).alias("cosine")


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast queries × scan, window top-k.

    Shuffle profile: one broadcast (queries are small by definition) + one
    shuffle for the per-query top-k window; with huge query sets, switch to
    the LSH variant.
    """
    q = F.broadcast(
        queries.select(F.col("query_id"), F.col("embedding").alias("__qvec"))
    )
    scored = embeddings.crossJoin(q).select(
        "query_id",
        "vec_id",
        cosine_expr(
            F.col("embedding").cast("array<double>"), F.col("__qvec").cast("array<double>")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from hashed coords."""
    import hashlib

    coords = []
    for d in range(dim):
        h = hashlib.md5(f"plane{plane}:dim{d}".encode()).hexdigest()
        # map 8 hex chars to [-1, 1)
        coords.append(int(h[:8], 16) / float(1 << 31) - 1.0)
    return coords


def rp_signature(vec_col, planes: list[list[float]]):
    """Random-projection sign signature ('1'/'0' per plane) for a vector col."""
    bits = []
    for p in planes:
        arr = F.array(*[F.lit(x) for x in p])
        bits.append(
            F.when(_dot(vec_col.cast("array<double>"), arr) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
        )
    return F.concat(*bits)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share a random-projection bucket.

    Recall is tunable on two axes: n_planes (fewer planes -> bigger
    buckets) and n_probes (margin-ordered multi-probe, Lv et al. VLDB'07:
    each query also probes the buckets reached by flipping the signature
    bits whose hyperplane margin |q·h| is smallest — the directions the
    query is most likely to have landed on the wrong side of).  Probing
    multiplies only the tiny broadcast query side; the embedding table
    still carries exactly one signature per row, so the big-side shuffle
    cost is unchanged at any probe count.
    """
    planes = [_hyperplane(p, dim) for p in range(n_planes)]
    e = embeddings.withColumn("__sig", rp_signature(F.col("embedding"), planes))

    qvec = F.col("__qvec").cast("array<double>")
    dots = F.array(
        *[_dot(qvec, F.array(*[F.lit(x) for x in p])) for p in planes]
    )
    bits = F.transform(
        F.col("__dots"), lambda d: F.when(d >= 0, F.lit("1")).otherwise(F.lit("0"))
    )
    # plane indices ordered by |margin| ascending (deterministic tiebreak
    # on the index itself)
    order = F.transform(
        F.array_sort(
            F.zip_with(
                F.col("__dots"),
                F.sequence(F.lit(0), F.lit(n_planes - 1)),
                lambda d, i: F.struct(F.abs(d).alias("m"), i.alias("i")),
            )
        ),
        lambda s: s.i,
    )

    def flip(bits_col, idx):
        return F.transform(
            bits_col,
            lambda x, i: F.when(
                i == idx, F.when(x == "1", F.lit("0")).otherwise(F.lit("1"))
            ).otherwise(x),
        )

    probes = F.array(
        F.array_join(bits, ""),
        *[
            F.array_join(flip(bits, F.element_at(order, j + 1)), "")
            for j in range(min(n_probes - 1, n_planes))
        ],
    )
    q = F.broadcast(
        queries.select(F.col("query_id"), F.col("embedding").alias("__qvec"))
        .withColumn("__dots", dots)
        .withColumn("__sig", F.explode(probes))
        .drop("__dots")
    )
    candidates = e.join(q, "__sig").dropDuplicates(["query_id", "vec_id"])
    scored = candidates.select(
        "query_id",
        "vec_id",
        cosine_expr(
            F.col("embedding").cast("array<double>"), F.col("__qvec").cast("array<double>")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


# --------------------------------------------------------------------------
# IVF: coarse k-means quantizer + inverted cell lists
# --------------------------------------------------------------------------

def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 64,
):
    """Spherical k-means on a bounded, deterministic sample -> centroid
    matrix (numpy, n_centroids x dim, L2-normalized rows).

    Driver-side by design: coarse-quantizer training on a fixed-size
    sample is the standard IVF recipe (the model is tiny — KB — and the
    sample is capped regardless of table size, so this is NOT a
    driver-side loop over the data).  Deterministic: the sample is the
    first _TRAIN_SIZE rows by id, init is every (len/n)-th sample of
    that ordered set, and Lloyd iterations are fixed-count.  Empty cells
    re-seed from the training point farthest from its centroid.
    """
    import numpy as np

    rows = (
        embeddings.select(F.col("vec_id"), F.col("embedding"))
        .orderBy("vec_id")
        .limit(_TRAIN_SIZE)
        .collect()
    )
    x = np.asarray([r[1] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    n = len(x)
    n_centroids = min(n_centroids, n)
    cent = x[:: max(n // n_centroids, 1)][:n_centroids].copy()
    for _ in range(_KMEANS_ITERS):
        assign = np.argmax(x @ cent.T, axis=1)
        sims = (x * cent[assign]).sum(axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members) == 0:
                # re-seed dead cell from the worst-served point
                cent[c] = x[np.argmin(sims)]
                continue
            m = members.sum(axis=0)
            cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def _assign_cells(df: DataFrame, cent, vec_col: str, n_probes: int) -> DataFrame:
    """Attach the n_probes nearest cell ids (array<int>) per row via one
    Arrow-batched matmul — the Python work is O(batch x n_centroids),
    no shuffle, and the centroid matrix ships once per worker via the
    UDF closure (KBs)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cmat = np.ascontiguousarray(cent)
    probes = min(n_probes, len(cmat))

    # no inline type hints: pandas is function-local, so stringified
    # annotations (PEP 563) would be unresolvable for PySpark's inference;
    # the explicit returnType + SCALAR default carry the contract
    @pandas_udf("array<int>")
    def cells(vecs):
        # empty Arrow batches and null/ragged embeddings would otherwise
        # surface as an opaque numpy axis error inside the executor
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        dim = cmat.shape[1]
        for i, v in enumerate(vecs):
            if v is None or len(v) != dim:
                raise ValueError(
                    f"ivf cell assignment: embedding at batch offset {i} is "
                    f"{'NULL' if v is None else f'length {len(v)}'}, "
                    f"expected a {dim}-dim vector"
                )
        x = np.asarray(list(vecs), dtype=np.float64).reshape(len(vecs), dim)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = x @ cmat.T
        # top-probes cell ids, best first (argsort of -sims is stable, so
        # equal sims tie-break on the lower cell id deterministically)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :probes]
        return pd.Series(list(order.astype("int32")))

    return df.withColumn("__cell", cells(F.col(vec_col)))


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids=None,
    n_centroids: int = 64,
    n_probes: int = 4,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k via inverted cell lists.

    The table carries exactly ONE cell id per row (its nearest centroid);
    each query probes its `n_probes` nearest cells, so recall/cost is
    tuned purely on the broadcast query side — the same asymmetry as
    lsh_topk's multi-probe, but with data-adaptive cells, which buys
    higher recall per candidate on clustered corpora.  Pass a
    pre-trained `centroids` matrix to reuse one quantizer across
    batches (at 100 TB: train once, checkpoint the matrix with the
    table's lineage).
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings, n_centroids=n_centroids,
        )
    e = _assign_cells(embeddings, centroids, "embedding", n_probes=1).withColumn(
        "__cell", F.element_at("__cell", 1)
    )
    q = _assign_cells(
        queries.select(F.col("query_id"), F.col("embedding").alias("__qvec")),
        centroids, "__qvec", n_probes=n_probes,
    ).withColumn("__cell", F.explode("__cell"))
    candidates = e.join(F.broadcast(q), "__cell").dropDuplicates(
        ["query_id", "vec_id"]
    )
    scored = candidates.select(
        "query_id",
        "vec_id",
        cosine_expr(
            F.col("embedding").cast("array<double>"),
            F.col("__qvec").cast("array<double>"),
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )
