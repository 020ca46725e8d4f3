"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k — the baseline. Pure column
  expressions (zip_with dot product) so the DuckDB oracle can reproduce
  values bit-closely (both round to 6 dp before ranking/hashing).
  Queries are broadcast; the big side streams through one codegen stage
  and one per-query window rank.
- ``lsh_topk``: the scale path — random-hyperplane (sign) LSH buckets
  computed by a vectorized numpy pandas UDF, candidates by bucket
  equi-join (optionally multi-probe), exact re-rank inside buckets.
  Recall < 1 by construction; the test suite measures recall against
  the brute-force baseline instead of asserting equality.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a) -> F.Column:
    return F.sqrt(_dot(a, a))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact cosine top-k: → (q_id, vec_id, cosine, rank), rank 1..k.

    Deterministic: rank by (rounded cosine desc, vec_id asc); self-matches
    are not excluded (callers filter if needed).
    """
    joined = embeddings.crossJoin(F.broadcast(queries))
    cos = _dot(F.col(vec_col), F.col(query_vec_col)) / (
        _norm(F.col(vec_col)) * _norm(F.col(query_vec_col))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        joined.select(F.col(query_id_col), F.col(id_col), F.round(cos, 6).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _band_planes(bands: int, n_planes: int, dim: int, seed: int, extra: int = 0) -> np.ndarray:
    """(bands, n_planes + extra, dim) independent hyperplane sets. The
    trailing ``extra`` planes per band are RESERVE bits used only to
    refine hot buckets (never part of the primary bucket id)."""
    return np.random.default_rng(seed).normal(size=(bands, n_planes + extra, dim))


def _band_bucket_udf(planes: np.ndarray, n_planes: int):
    """→ array<long> of per-band bucket ids, each packed as
    band << 40 | reserve_bits << 20 | bucket — one numpy matmul for all
    bands, no per-row Python."""
    bands, total_planes, dim = planes.shape
    # packed layout reserves 20 bits each for primary and reserve fields;
    # wider values would silently bleed bits across fields
    assert n_planes <= 20, f"n_planes={n_planes} exceeds 20-bit primary field"
    assert total_planes - n_planes <= 20, (
        f"reserve_planes={total_planes - n_planes} exceeds 20-bit reserve field"
    )
    flat = planes.reshape(bands * total_planes, dim)

    @pandas_udf(T.ArrayType(T.LongType()))
    def _udf(vec: pd.Series) -> pd.Series:
        m = np.stack(vec.to_numpy()).astype(np.float64)  # (n, dim)
        signs = (m @ flat.T) > 0  # (n, bands*total)
        signs = signs.reshape(len(vec), bands, total_planes)
        weights = (1 << np.arange(total_planes, dtype=np.int64))
        primary = signs[:, :, :n_planes] @ weights[:n_planes]  # (n, bands)
        reserve = signs[:, :, n_planes:] @ weights[: total_planes - n_planes]
        packed = (np.arange(bands, dtype=np.int64) << 40) | (reserve << 20) | primary
        return pd.Series(list(packed))

    return _udf


def _hamming_probe_masks(n_planes: int, radius: int) -> list[int]:
    """All xor masks at Hamming distance 1..radius (incl. 0 = the bucket
    itself)."""
    from itertools import combinations

    masks = [0]
    for m in range(1, max(radius, 0) + 1):
        for bits in combinations(range(n_planes), m):
            masks.append(sum(1 << b for b in bits))
    return masks


# packed band-bucket layout (see _band_bucket_udf):
#   band << 40 | reserve_bits << 20 | primary_bucket
# coarse key keeps band+primary; the full packed value is the refined key
_COARSE_MASK = ~(((1 << 20) - 1) << 20)


def _hot_buckets(exploded: DataFrame, max_bucket: int) -> DataFrame:
    """Buckets whose population exceeds max_bucket (tiny: broadcast)."""
    return (
        exploded.groupBy("_bucket")
        .count()
        .where(F.col("count") > max_bucket)
        .select("_bucket", F.lit(True).alias("_hot"))
    )


def _with_key(exploded: DataFrame, hot: DataFrame) -> DataFrame:
    """Join key: refined (reserve bits kept) inside hot buckets, coarse
    elsewhere — the hot-bucket salting that bounds per-bucket pair counts."""
    return (
        exploded.join(F.broadcast(hot), "_bucket", "left")
        .withColumn("_key", F.when(F.col("_hot").isNotNull(), F.col("_pk")).otherwise(F.col("_bucket")))
        .drop("_hot", "_pk", "_bucket")
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
    multiprobe: int = 1,
    bands: int = 2,
    reserve_planes: int = 6,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Approximate cosine top-k with BANDED sign-LSH buckets.

    100-TB shape: ``bands`` independent hash tables (the fact side stores
    bands× keys — the standard LSH index trade); candidates come from ONE
    broadcast equi-join on bucket keys; ``multiprobe`` = Hamming RADIUS —
    the query probes every bucket within ``multiprobe`` bit flips of its
    own (radius 2 on 12 planes = 79 probes/band, still broadcast-side
    only). Buckets larger than ``max_bucket`` are refined with
    ``reserve_planes`` extra sign bits (both sides agree via a broadcast
    hot-bucket table), bounding the candidate volume any single bucket
    can produce.
    """
    planes = _band_planes(bands, n_planes, dim, seed, extra=reserve_planes)
    budf = _band_bucket_udf(planes, n_planes)

    emb_x = embeddings.withColumn("_pk", F.explode(budf(F.col(vec_col)))).withColumn(
        "_bucket", F.expr(f"_pk & {_COARSE_MASK}")
    )
    hot = emb_x.sparkSession.createDataFrame([], "_bucket long, _hot boolean")
    if max_bucket is not None:
        hot = _hot_buckets(emb_x, max_bucket)
    emb_b = _with_key(emb_x, hot)

    masks = _hamming_probe_masks(n_planes, multiprobe)
    q_x = (
        queries.withColumn("_pk0", F.explode(budf(F.col(query_vec_col))))
        .withColumn("_pk", F.explode(F.array(*[F.expr(f"_pk0 ^ {m}") for m in masks])))
        .withColumn("_bucket", F.expr(f"_pk & {_COARSE_MASK}"))
        .drop("_pk0")
    )
    q_b = _with_key(q_x, hot)

    cand = emb_b.join(F.broadcast(q_b), "_key").drop("_key")
    cos = _dot(F.col(vec_col), F.col(query_vec_col)) / (
        _norm(F.col(vec_col)) * _norm(F.col(query_vec_col))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        cand.select(F.col(query_id_col), F.col(id_col), F.round(cos, 6).alias("cosine"))
        .dropDuplicates([query_id_col, id_col])
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def embedding_dedup(
    embeddings: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    seed: int = 42,
    bands: int = 4,
    reserve_planes: int = 8,
    max_bucket: int = 2000,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded sign-LSH:
    → (id_a, id_b, cosine) with cosine ≥ threshold, id_a < id_b.

    100-TB discipline: within-bucket pairing is quadratic, so bucket size
    is the contract — ``n_planes`` primary bits make buckets small,
    ``bands`` independent tables recover the recall narrow buckets cost,
    and buckets that still exceed ``max_bucket`` (boilerplate/zero-vector
    pileups) get ``reserve_planes`` extra sign bits before pairing, so
    the worst bucket contributes ≤ (max_bucket-ish)² / 2^reserve pairs
    instead of O(n²). The bucket census is one map-side-combined count on
    the bucket key; its hot subset is broadcast.
    """
    # pass dim= in pipelines to avoid a driver .first() round-trip
    # before the plan is even built
    dim = dim if dim is not None else embeddingsdim(embeddings, vec_col)
    planes = _band_planes(bands, n_planes, dim, seed, extra=reserve_planes)
    budf = _band_bucket_udf(planes, n_planes)
    x = embeddings.select(id_col, vec_col).withColumn(
        "_pk", F.explode(budf(F.col(vec_col)))
    ).withColumn("_bucket", F.expr(f"_pk & {_COARSE_MASK}"))
    b = _with_key(x, _hot_buckets(x, max_bucket))
    a_side = b.select(F.col("_key"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b_side = b.select(F.col("_key"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    pairs = a_side.join(b_side, "_key").where(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("_va"), F.col("_vb")) / (_norm(F.col("_va")) * _norm(F.col("_vb")))
    return (
        pairs.select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def embeddingsdim(embeddings: DataFrame, vec_col: str) -> int:
    return len(embeddings.select(vec_col).first()[0])
