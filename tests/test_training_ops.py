"""Training-data operator tests: dedup and similarity."""

import pyspark.sql.functions as F
import pytest

from pbf_spark.operators import dedup, simsearch

BASE = (
    "the quick brown fox jumps over the lazy dog and runs through the green "
    "field near the old stone bridge every sunny morning in spring"
)


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    rows = [
        (1, BASE),
        (2, BASE.replace("green field", "yellow field")),  # near dup of 1
        (3, "completely different words about spark shuffle partitions and arrow record batches in distributed query engines"),
        (4, BASE),  # exact dup of 1
        (5, ""),
        (6, "one"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(near_dup_docs):
    out = {r["rep_id"]: r["n_dups"] for r in dedup.exact_dedup(near_dup_docs).collect()}
    assert out[1] == 2  # docs 1 and 4 share a fingerprint
    assert sum(out.values()) == 6


def test_minhash_lsh_pairs_finds_near_dups(near_dup_docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(near_dup_docs, threshold=0.3).collect()
    }
    assert pairs[(1, 4)] == 1.0
    assert 0.5 < pairs[(1, 2)] < 1.0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_lsh_hot_bucket_refinement(spark):
    """A degenerate bucket (boilerplate corpus: many identical docs)
    must not go quadratic when max_bucket is set — hot buckets re-key on
    a refinement minhash — while exact duplicates inside the hot bucket
    are still all found (identical docs share the refinement key)."""
    boiler = "standard header text repeated across every page of the crawl " * 3
    rows = [(i, boiler) for i in range(40)] + [
        (100, "unique words about distributed query engines and arrow batches"),
        (101, "unique words about distributed query engines and arrow batches limits"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs_uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    pairs_capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5, max_bucket=10).collect()
    }
    # all 40*39/2 exact-dup pairs survive the refinement; the near-dup
    # pair outside the hot bucket is untouched
    boiler_pairs = {(a, b) for a in range(40) for b in range(a + 1, 40)}
    assert boiler_pairs <= pairs_capped
    assert (100, 101) in pairs_capped
    assert pairs_capped == pairs_uncapped


def test_simhash_metric_behaviour(near_dup_docs):
    h = {r["doc_id"]: r["simhash"] for r in dedup.simhash(near_dup_docs).collect()}
    ham = lambda a, b: bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert h[1] == h[4]  # exact dup
    assert ham(h[1], h[2]) < ham(h[1], h[3])  # near dup closer than unrelated
    # partition invariance
    h2 = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash(near_dup_docs.repartition(5)).collect()
    }
    assert h == h2


def test_lsh_topk_recall_floor(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where("vec_id < 15").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["vec_id"]) for r in simsearch.cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["q_id"], r["vec_id"])
        for r in simsearch.lsh_topk(emb, q, k=5, dim=64, n_planes=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # rank-1 is always found (a vector shares its own bucket); random
    # synthetic embeddings keep overall recall modest — floor, not target
    rank1 = {
        (r["q_id"], r["vec_id"])
        for r in simsearch.cosine_topk(emb, q, k=1).collect()
    }
    assert rank1 <= approx
    assert recall >= 0.3


def test_embedding_dedup_finds_planted_pair(spark):
    import pandas as pd

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    base = emb.where("vec_id = 1").first()
    planted = spark.createDataFrame(
        pd.DataFrame({"vec_id": [100001], "embedding": [list(base["embedding"])], "label": [0]})
    )
    pairs = simsearch.embedding_dedup(
        emb.unionByName(planted), threshold=0.999
    ).collect()
    assert any(p["id_a"] == 1 and p["id_b"] == 100001 for p in pairs)


def test_banded_lsh_recall_and_bucket_bound_100k(spark):
    """VERDICT #7 done-criterion: ≥100k vectors, measured recall of the
    banded+multiprobe LSH path vs planted near-identical pairs, and the
    documented bucket-size bound (hot buckets get reserve-bit refinement,
    so no post-refinement bucket exceeds what the reserve bits allow)."""
    from pyspark.sql import functions as F

    from pbf_spark.fixtures.synth import synth_embeddings

    n = 100_000
    emb = synth_embeddings(spark, n).cache()
    assert emb.count() == n
    base = n - n // 20  # synth plants ids >= base as near-dups of id % base

    max_bucket = 2000
    pairs = simsearch.embedding_dedup(
        emb, threshold=0.999, n_planes=16, bands=4, reserve_planes=8, max_bucket=max_bucket
    ).cache()
    planted = {(i % base, i) for i in range(base, n)}
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    recall = len(planted & found) / len(planted)
    assert recall >= 0.95, recall

    # bucket-size bound: after hot-bucket refinement the effective join
    # keys must all sit under max_bucket × slack (reserve bits split hot
    # buckets ~256-fold; a pathological all-identical pileup would still
    # collapse — that residual is the documented limit of sign-LSH)
    planes = simsearch._band_planes(4, 16, 64, 42, extra=8)
    budf = simsearch._band_bucket_udf(planes, 16)
    x = emb.withColumn("_pk", F.explode(budf(F.col("embedding")))).withColumn(
        "_bucket", F.expr(f"_pk & {simsearch._COARSE_MASK}")
    )
    keyed = simsearch._with_key(x, simsearch._hot_buckets(x, max_bucket))
    worst = keyed.groupBy("_key").count().agg(F.max("count")).first()[0]
    assert worst <= max_bucket * 2, worst
    emb.unpersist()
    pairs.unpersist()
