"""Co-located decode join: the 100-TB bucketing seam, proven on a plan.

decode_documents joins exploded document spans to the media-blob sidecar
on media_ref. The operator docstrings claim that at cluster scale the
shuffle disappears when both tables are bucketed by media_ref — this
test makes that claim a contract: with both sides written as bucketed
tables on the join key, the physical plan contains NO Exchange on the
fact sides (bucket-aware scan feeds the join directly), while the
unbucketed baseline plan shuffles both.
"""

import pyspark.sql.functions as F
import pytest

from pbf_spark.sources import iceberg_lite


def _span_join(spark, docs, blobs):
    spans = (
        docs.select("doc_id", F.posexplode("spans").alias("span_idx", "span"))
        .where(F.col("span.kind") == "media")
        .select("doc_id", F.col("span.media_ref").alias("media_ref"))
    )
    return spans.join(blobs, "media_ref").select("doc_id", "media_ref", "blob_seq")


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _drop_tables(spark, *names: str) -> None:
    """Drop managed tables and any leftover directories under the
    session's warehouse root (a killed run can leave the files behind)."""
    import shutil
    from urllib.parse import urlparse

    root = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for name in names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"{root}/{name}", ignore_errors=True)


def test_bucketed_media_join_is_shuffle_free(spark, fixture_dir, tmp_path_factory):
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    docs = iceberg_lite.read_table(spark, fixture_dir / "documents_interleaved")
    blobs = iceberg_lite.read_table(spark, fixture_dir / "media_blobs").select(
        "media_ref", "blob_seq"
    )

    _drop_tables(spark, "b_docs", "b_blobs")
    # spans pre-exploded so the bucketed fact table carries the join key
    spans = (
        docs.select("doc_id", F.posexplode("spans").alias("span_idx", "span"))
        .where(F.col("span.kind") == "media")
        .select("doc_id", F.col("span.media_ref").alias("media_ref"))
    )
    spans.write.bucketBy(8, "media_ref").sortBy("media_ref").mode("overwrite").saveAsTable("b_docs")
    blobs.write.bucketBy(8, "media_ref").sortBy("media_ref").mode("overwrite").saveAsTable("b_blobs")

    joined = spark.table("b_docs").join(spark.table("b_blobs"), "media_ref")
    plan = _plan(joined)
    assert "Exchange" not in plan  # co-located: bucket-aware scans feed the join
    assert "SortMergeJoin" in plan

    # unbucketed baseline: the same join shuffles both sides
    base = _span_join(spark, docs, blobs)
    base_plan = _plan(base)
    assert base_plan.count("hashpartitioning(media_ref") >= 2

    # and the co-located join returns the same rows
    a = joined.select("doc_id", "media_ref", "blob_seq")
    b = base
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

def test_bucketed_way_assembly_join_is_shuffle_free(spark):
    """The ways×nodes geometry join (THE shuffle-heavy OSM operator) is
    co-located when the pre-exploded refs table and the node table are
    bucketed by the node-id key: no Exchange on either fact side; the
    only Exchange left is the unavoidable reassembly groupBy(way_id)."""
    from pbf_spark.operators.ways import (
        assemble_way_geometries,
        assemble_way_geometries_from_refs,
    )

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    nodes = spark.range(0, 3000).select(
        F.col("id"),
        (F.col("id") % 100 / 100.0 + 51.0).alias("lat"),
        (F.col("id") % 97 / 97.0 - 0.3).alias("lon"),
    )
    ways = spark.range(0, 500).select(
        F.col("id"),
        F.expr("sequence(id * 6 % 2995, id * 6 % 2995 + 5)").alias("refs"),
    )

    _drop_tables(spark, "b_refs", "b_nodes")
    refs = ways.select(F.col("id").alias("way_id"), F.posexplode("refs").alias("pos", "ref"))
    refs.write.bucketBy(8, "ref").sortBy("ref").mode("overwrite").saveAsTable("b_refs")
    nodes.write.bucketBy(8, "id").sortBy("id").mode("overwrite").saveAsTable("b_nodes")

    assembled = assemble_way_geometries_from_refs(
        spark.table("b_refs"), spark.table("b_nodes")
    )
    plan = _plan(assembled)
    # no shuffle on the join key — bucket-aware scans feed the SMJ; the
    # single remaining Exchange is the groupBy(way_id) reassembly
    assert "hashpartitioning(ref" not in plan
    assert "SortMergeJoin" in plan
    # formatted explain lists every node twice (tree + detail section):
    # count detail headers "(N) Exchange" for the true node count
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(way_id" in plan

    # unbucketed baseline shuffles both join sides
    base_plan = _plan(assemble_way_geometries(ways, nodes))
    assert base_plan.count("hashpartitioning(ref") >= 2

    # and produces identical rows
    a = assembled
    b = assemble_way_geometries(ways, nodes)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
