"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data-pipeline dedup at 100 TB scale:

- **exact**: hash-groupBy on the canonical fingerprint — one shuffle on
  a 16-byte key; representative = min(doc_id) (deterministic).
- **MinHash+LSH**: word-shingle → md5-string minhash (portable: the
  identical construction runs in the DuckDB oracle) → band buckets →
  candidate pairs by bucket equi-join → exact Jaccard verify. The only
  wide ops are the bucket join and the pair dedup; signatures are pure
  column expressions (no UDF; their ``transform`` lambdas are
  ``CodegenFallback``s, interpreted inside the codegen stage).
- **SimHash**: 64-bit majority-vote hash over token xxhash64 bits;
  near-dups = equal simhash (or banded hamming buckets).
- **n-gram Jaccard**: exact verify used inside LSH, exposed standalone
  for small candidate sets.

All ranking/representative choices are deterministic (min id) so results
are partition-invariant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import checkpoint_and_release
from .text import TOKEN_SPLIT, tokens_col


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group identical (normalized) texts → (fingerprint, rep_id, n_dups)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT, " ")
    return (
        df.select(F.col(id_col), F.md5(norm).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("rep_id"), F.count("*").alias("n_dups"))
    )


def shingles_col(text_col: str = "text", n: int = 3) -> Column:
    """Word n-gram shingles (1-based element_at; matches the SQL oracle)."""
    parts = ", ".join(f"element_at(_t, i + {j})" for j in range(n))
    # NB: Spark's sequence(1, 0) yields a DESCENDING [1, 0] — guard short docs
    return F.expr(
        f"CASE WHEN size(_t) >= {n} THEN "
        f"transform(sequence(1, size(_t) - {n - 1}), i -> concat_ws(' ', {parts})) "
        f"ELSE array() END"
    )


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, mh_0..mh_{n-1}) portable min-hashes. String-min over hex is a
    valid uniform min-hash and reproducible in any SQL engine; each md5
    digest of (shingle || '#' || i) yields TWO 64-bit hashes — its first
    and last 16 hex chars — so n_hashes costs only ceil(n/2) md5 calls
    per shingle (the md5 is the hot-path cost; the substring split is
    free). mh_{2i} = min substr(md5(s#i), 1, 16), mh_{2i+1} = min
    substr(md5(s#i), 17, 16)."""
    out = df.withColumn("_t", tokens_col(text_col)).withColumn(
        "_sh", shingles_col(text_col, shingle_n)
    )
    for i in range((n_hashes + 1) // 2):
        out = out.withColumn(
            f"_d{i}", F.expr(f"transform(_sh, s -> md5(concat(s, '#', '{i}')))")
        )
    cols = []
    for k in range(n_hashes):
        i, off = divmod(k, 2)
        if off == 0:
            # md5 hex digests are FIXED length, so lexicographic order
            # on the full strings is decided by the first differing
            # char: min-of-prefixes == prefix-of-min. Taking array_min
            # over the raw digests skips one substring transform (18M
            # small-string allocations per 1M docs) per even hash —
            # verified value-identical at 1M docs. The odd hashes are
            # the BACK half (not a prefix), so they keep the transform.
            cols.append(
                F.expr(f"substring(array_min(_d{i}), 1, 16)").alias(f"mh_{k}")
            )
        else:
            cols.append(
                F.expr(
                    f"array_min(transform(_d{i}, d -> substring(d, {1 + 16 * off}, 16)))"
                ).alias(f"mh_{k}")
            )
    return out.select(F.col(id_col), *cols)


def jaccard_pairs(
    left_shingles: Column, right_shingles: Column, as_name: str = "jaccard"
) -> Column:
    inter = F.size(F.array_intersect(left_shingles, right_shingles))
    union = F.size(F.array_union(left_shingles, right_shingles))
    return F.round(inter / F.greatest(union, F.lit(1)), 6).alias(as_name)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via banded LSH + exact Jaccard verification.

    → (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    Scale shape: the shuffle key is (band, band_signature). A single
    degenerate bucket (boilerplate-heavy corpora: identical headers,
    empty docs) makes the bucket self-join quadratic — ``max_bucket``
    caps that: buckets above the cap are re-keyed with a REFINEMENT
    minhash (an extra '#r'-namespaced hash), splitting them into
    subbuckets, exactly the hot-bucket reserve-bit discipline the ANN
    path uses (simsearch.py). Exact duplicates always share the
    refinement key, so true-duplicate recall inside hot buckets is
    unaffected; only cross-subbucket NEAR-dup candidates are traded
    away (documented recall trade). Default ``None`` keeps candidates
    exhaustive per band (the oracle-twin semantics).

    Irreducible case: a bucket of EXACTLY-identical documents cannot be
    split by any content-derived refinement (they share every hash), and
    its pair OUTPUT is inherently quadratic — that is the answer, not an
    artifact. If identical-doc pileups dominate a corpus, collapse them
    first with ``exact_dedup``/``doc_fingerprint`` (one representative
    per fingerprint) and run LSH on the representatives; ``max_bucket``
    exists for the other degenerate case (near-identical boilerplate
    that a refinement hash CAN split).

    Storage lifetime: the frames the pair plan reuses are persisted for
    this call only — the pairs land in a localCheckpoint the returned
    frame owns and the persists are released before returning
    (util.checkpoint_and_release), so a repeated call recomputes.
    """
    rows_per_band = n_hashes // bands
    sig = minhash_signature(df, id_col, text_col, n_hashes, shingle_n)
    band_cols = [
        F.concat_ws("|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]).alias(
            f"band_{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    # persist: `stacked` feeds BOTH halves of the bucket self-join (and
    # the census when max_bucket is set) — without it the whole
    # tokenize→shingle→md5 signature pipeline executes once per consumer
    # (exchange reuse does NOT cover it: with AQE the join sides compile
    # as independent stages)
    stacked = banded.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("key"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.key").persist()
    if max_bucket is not None:
        base = stacked
        # refinement hash: one more portable minhash in its own '#r'
        # namespace (independent of the banded signature bits)
        refine = df.withColumn("_t", tokens_col(text_col)).withColumn(
            "_sh", shingles_col(text_col, shingle_n)
        ).select(
            F.col(id_col),
            F.expr("coalesce(array_min(transform(_sh, s -> md5(concat(s, '#r')))), '')").alias("_rk"),
        )
        hot = (
            stacked.groupBy("band", "key")
            .count()
            .where(F.col("count") > max_bucket)
            .select("band", "key", F.lit(True).alias("_hot"))
        )
        stacked = (
            stacked.join(F.broadcast(hot), ["band", "key"], "left")
            .join(refine, id_col)
            .withColumn(
                "key",
                F.when(F.col("_hot").isNotNull(), F.concat_ws("|", "key", "_rk")).otherwise(
                    F.col("key")
                ),
            )
            .select(id_col, "band", "key")
            .persist()  # re-keyed side feeds BOTH halves of the self-join
        )
        # materialize the re-keyed frame THROUGH the base cache, then
        # release the base (nothing references it anymore)
        stacked.count()
        base.unpersist()
    a = stacked.alias("a")
    b = stacked.alias("b")
    cand = (
        a.join(b, ["band", "key"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    # persist: the distinct-shingle table is joined TWICE (id_a and id_b
    # sides of the verify) — one tokenize+shingle pass instead of two
    sh = df.withColumn("_t", tokens_col(text_col)).select(
        F.col(id_col), F.array_distinct(shingles_col(text_col, shingle_n)).alias("_sh")
    ).persist()
    verified = (
        cand.join(sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b")), "id_b")
        .select("id_a", "id_b", jaccard_pairs(F.col("_sh_a"), F.col("_sh_b")))
        .where(F.col("jaccard") >= threshold)
    )
    return checkpoint_and_release(verified, stacked, sh)


def near_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate CLUSTER assignment — the end-to-end dedup output:
    → (doc_id, cluster_id, cluster_size, is_rep) for EVERY document.

    Composes :func:`minhash_lsh_pairs` with connected components over
    the pair graph (operators/graph.py): ``cluster_id`` is the smallest
    doc id in the near-dup component, documents in no pair are singleton
    clusters of themselves, and ``is_rep`` marks the one document per
    cluster a keep-one-representative dedup retains (the min id —
    deterministic; rank by a quality score instead by joining
    text.quality_score and window-ranking within cluster_id).

    Scale shape: pairs are the bucketed LSH join (never all-pairs), the
    CC rounds are equi-join shuffles bounded by the dup-graph diameter
    (≈2-3: near-dup clusters are near-cliques), and the final size/rep
    annotation is one window over cluster_id.
    """
    from pyspark.sql import Window

    from .graph import connected_components

    pairs = minhash_lsh_pairs(
        df, id_col, text_col, n_hashes, bands, shingle_n, threshold, max_bucket
    )
    labels = connected_components(
        pairs, vertices=df.select(id_col), src="id_a", dst="id_b"
    )
    w = Window.partitionBy("cluster_id")
    return (
        labels.select(F.col("id").alias(id_col), F.col("component").alias("cluster_id"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn("is_rep", F.col(id_col) == F.col("cluster_id"))
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash: per-bit majority vote over md5-derived token bits.

    The 64 bits come from the first 16 hex chars of md5(token), split into
    two 32-bit halves (hi = chars 1-8 → bits 63..32, lo = chars 9-16 →
    bits 31..0) so the int conversion never exceeds signed-64 range under
    ANSI mode — and so the IDENTICAL construction runs in any SQL engine
    (the DuckDB oracle uses CAST('0x'||substr(md5(t),...) AS BIGINT)).

    Aggregation is LANE-PACKED: instead of 64 conditional ±1 sums, each
    token contributes 32 branch-free packed longs — bit j of lo in the
    low 32-bit lane, bit j of hi in the high lane — plus one count(*).
    vote_b > 0  ⇔  2·(set-bit count for b) > token count, so the result
    is bit-identical to the ±1 formulation while the per-row aggregate
    work drops ~2x and stays pure bit math (whole-stage codegen, no
    branches). Lane sums stay < 2^31·2^32 for any doc below 2^31 distinct
    tokens — no ANSI overflow, no silent lane carry.
    """
    toks = (
        df.select(F.col(id_col), F.explode(F.array_distinct(tokens_col(text_col))).alias("_tok"))
        .withColumn("_hi", F.conv(F.substring(F.md5("_tok"), 1, 8), 16, 10).cast("long"))
        .withColumn("_lo", F.conv(F.substring(F.md5("_tok"), 9, 8), 16, 10).cast("long"))
    )
    packed = [
        F.sum(
            F.shiftrightunsigned("_lo", j).bitwiseAND(F.lit(1))
            + F.shiftleft(F.shiftrightunsigned("_hi", j).bitwiseAND(F.lit(1)).cast("long"), 32)
        ).alias(f"_p{j}")
        for j in range(32)
    ]
    votes = toks.groupBy(id_col).agg(*packed, F.count("*").alias("_c"))
    sim = F.lit(0).cast("long")
    for bit in range(64):
        if bit < 32:
            s = F.col(f"_p{bit}").bitwiseAND(F.lit(0xFFFFFFFF))
        else:
            s = F.shiftrightunsigned(F.col(f"_p{bit - 32}"), 32)
        sim = sim + F.when(
            s * 2 > F.col("_c"),
            F.lit(1).cast("long") * (2**bit if bit < 63 else -(2**63)),
        ).otherwise(0)
    return votes.select(F.col(id_col), sim.alias("simhash"))
