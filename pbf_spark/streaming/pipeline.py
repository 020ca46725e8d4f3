"""Structured-Streaming decode with checkpoint/resume (SURVEY.md §2B B9).

The interleaved document table is consumed as a file stream
(``readStream.parquet`` over the Iceberg-lite data dir with
``availableNow``), joined stream-static against the media-blob sidecar,
decoded by the same mapInArrow operator as the batch path, and written
to a parquet sink with a ``checkpointLocation``.

Resumability contract (north rule): the checkpoint records which input
files each micro-batch committed; killing the query (or the process)
and restarting with the same checkpoint resumes EXACTLY after the last
committed batch — already-processed documents are never decoded twice,
newly arrived document files are picked up. Per-batch lineage rows are
appended from ``foreachBatch`` so every partition's decode is traceable
and re-derivable (lineage.py).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..lineage import append_lineage
from ..model.schema import DOCUMENT_SCHEMA
from ..operators.decode import decode_documents


def stream_decode_documents(
    spark: SparkSession,
    docs_table_dir: str | Path,
    media_blobs: DataFrame,
    output_dir: str | Path,
    checkpoint_dir: str | Path,
    lineage_dir: str | Path | None = None,
    run_id: str = "stream",
    max_files_per_trigger: int | None = None,
    tag_filter=None,
):
    """Run one availableNow streaming pass; returns the finished query.

    ``docs_table_dir``: the Iceberg-lite table dir (data/ holds parquet
    files; the file-stream source tracks files, which matches the
    append-only commit discipline).

    ``tag_filter``: the decode-side predicate pushdown (operators/decode
    ``decode_blobs``) — a replication-style "extract POIs as they
    arrive" stream materializes Arrow rows only for matching entities;
    lineage then records the POST-filter counts per partition.
    """
    reader = (
        spark.readStream.schema(DOCUMENT_SCHEMA)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    docs_stream = reader.parquet(str(Path(docs_table_dir) / "data"))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        entities = decode_documents(batch_df, media_blobs, tag_filter=tag_filter)
        entities.persist()
        try:
            entities.write.mode("append").parquet(str(output_dir))
            if lineage_dir is not None:
                append_lineage(entities, run_id, lineage_dir, batch_id)
        finally:
            entities.unpersist()

    query = (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def stream_decode_windowed_counts(
    spark: SparkSession,
    docs_table_dir: str | Path,
    media_blobs: DataFrame,
    output_dir: str | Path,
    checkpoint_dir: str | Path,
    window_duration: str = "30 days",
    watermark: str = "0 seconds",
):
    """COMPOSED pipeline: document file stream → mapInArrow PBF decode →
    watermarked windowed aggregation over the decoded entities' edit
    timestamps (info.ts) — one streaming query, ONE checkpoint covering
    the whole composition. Restarting anywhere (including between the
    decode and the aggregation, mid-micro-batch) resumes exactly-once:
    the offsets log pins which document files each batch consumed and
    the state store holds the partial windows, so a window's counts are
    emitted exactly once no matter where the kill lands. This is the B9
    composition the batch operators can't give you — a two-job pipeline
    with an intermediate table has a non-atomic boundary; a single
    stateful query does not.
    """
    from pyspark.sql import functions as F

    docs_stream = (
        spark.readStream.schema(DOCUMENT_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(str(Path(docs_table_dir) / "data"))
    )
    # partitions=0: no repartition inside a streaming plan (micro-batch
    # file splits already parallelize); same decode operator as batch
    entities = decode_documents(docs_stream, media_blobs, partitions=0)
    agg = (
        entities.where(F.col("info.ts").isNotNull())
        .withColumn("ts", F.col("info.ts"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), "entity_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            "entity_type",
            "n",
        )
    )
    query = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(output_dir))
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def stream_windowed_event_counts(
    spark: SparkSession,
    events_dir: str | Path,
    output_dir: str | Path,
    checkpoint_dir: str | Path,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    schema=None,
):
    """Watermarked windowed aggregation over an event file stream (the
    late-data contract): counts + value sums per (event-time window,
    event_type), append-mode so a window only emits once its watermark
    passes — rows later than ``watermark`` behind the max seen event
    time are dropped by construction, bounding state at 100-TB stream
    scale. availableNow + checkpoint make the aggregation resumable
    exactly like the decode stream; run again after new files arrive
    and only unemitted/updated windows append.
    """
    from pyspark.sql import functions as F

    if schema is None:
        schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(events_dir))
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    query = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(output_dir))
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


_SESSION_OUT = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)
_SESSION_STATE = "start_us long, last_us long, n long, sum_value double"


def _run_session_query(
    stream,
    gap: str,
    watermark: str,
    output_dir: str | Path,
    checkpoint_dir: str | Path,
):
    """Shared stateful-sessionization tail: ``stream`` must carry
    (user_id, ts timestamp, value double). Watermarks, groups by user,
    applies the interval-merge session state function, writes append-
    mode parquet with one checkpoint covering the whole upstream plan
    (file source offsets + state store)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = _duration_us(gap)

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            start_us, last_us, n, sv = state.get
            state.remove()
            yield _session_row(key[0], start_us, last_us, n, sv)
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values("ts")
        ts_us = rows["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        vals = rows["value"].to_numpy()
        # Exact batch semantics via interval merge — see
        # stream_user_sessions docstring for the semantics and the one
        # documented divergence (emitted sessions are one-shot).
        atoms = [(int(t), int(t), 1, float(v)) for t, v in zip(ts_us, vals)]
        if state.exists:
            atoms.append(tuple(state.get))
            atoms.sort(key=lambda a: (a[0], a[1]))
        cur = list(atoms[0])
        for a in atoms[1:]:
            if a[0] - cur[1] > gap_us:
                yield _session_row(key[0], cur[0], cur[1], cur[2], cur[3])
                cur = list(a)
            else:
                cur[1] = max(cur[1], a[1])
                cur[2] += a[2]
                cur[3] += a[3]
        state.update((cur[0], cur[1], cur[2], cur[3]))
        # EventTimeTimeout requires a timestamp beyond the current
        # watermark; clamp for sessions whose events arrived late
        state.setTimeoutTimestamp(
            max((cur[1] + gap_us) // 1000, state.getCurrentWatermarkMs() + 1)
        )

    def _session_row(uid, start_us, last_us, n, sv):
        return pd.DataFrame(
            {
                "user_id": [uid],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
                "n_events": [n],
                "sum_value": [round(sv, 4)],
            }
        )

    sessions = (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, _SESSION_OUT, _SESSION_STATE, "append", GroupStateTimeout.EventTimeTimeout
        )
    )
    query = (
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(output_dir))
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def stream_decode_user_sessions(
    spark: SparkSession,
    docs_table_dir: str | Path,
    media_blobs,
    output_dir: str | Path,
    checkpoint_dir: str | Path,
    gap: str = "7 days",
    watermark: str = "0 seconds",
):
    """COMPOSED pipeline #2 (round-5): document file stream → mapInArrow
    PBF decode → per-UPLOADER stateful sessionization
    (applyInPandasWithState over info.uid/info.ts) in ONE checkpointed
    streaming query — "edit sessions" per OSM user. The single
    checkpoint covers the file-source offsets AND the session state
    store, so killing/restarting anywhere resumes exactly-once: a
    session in progress at the kill point continues from state, and no
    closed session re-emits. This is the composition the round-4
    pipeline lacked (P5 composed decode with a *windowed agg*; the
    custom-state operator only ran on pre-decoded events)."""
    from pyspark.sql import functions as F

    docs_stream = (
        spark.readStream.schema(DOCUMENT_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(str(Path(docs_table_dir) / "data"))
    )
    entities = decode_documents(docs_stream, media_blobs, partitions=0)
    edits = (
        entities.where(F.col("info.ts").isNotNull() & F.col("info.uid").isNotNull())
        .select(
            F.col("info.uid").cast("long").alias("user_id"),
            F.col("info.ts").alias("ts"),
            F.lit(1.0).alias("value"),
        )
    )
    return _run_session_query(edits, gap, watermark, output_dir, checkpoint_dir)


def stream_user_sessions(
    spark: SparkSession,
    events_dir: str | Path,
    output_dir: str | Path,
    checkpoint_dir: str | Path,
    gap: str = "30 minutes",
    watermark: str = "0 seconds",
    schema=None,
):
    """Custom stateful sessionization via ``applyInPandasWithState``.

    Groups the event stream by user and maintains one open session per
    user in explicit state: events closer than ``gap`` extend the
    session, a larger gap (or an event-time timeout once the watermark
    passes last_event + gap) closes it and emits (user_id,
    session_start, session_end, n_events, sum_value). This is the
    operator shape Spark's built-in windows can't express when the
    emission rule is custom — per-key state + event-time timeouts keep
    state bounded by active users, not history, at stream scale.
    Resumable: state and watermark live in the checkpoint, so
    consecutive availableNow runs continue sessions across restarts.

    Semantics (exact batch parity via interval merge in the state
    function): every batch row is a point atom, the stored open session
    an interval atom; sorted atoms merge when their gap ≤ ``gap``. A
    cross-batch late row within gap of the open session — or chained to
    it through other batch rows — extends it backward; a late cluster
    beyond one gap forms and emits its own earlier session(s), exactly
    as the batch sessionizer would. One documented divergence: an
    already-emitted session cannot be extended by a yet-later arrival in
    a future batch — append-mode state emission is one-shot.
    """
    if schema is None:
        schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(events_dir))
    )
    return _run_session_query(stream, gap, watermark, output_dir, checkpoint_dir)


_DURATION_MULT_US = {
    "microsecond": 1, "microseconds": 1,
    "millisecond": 1_000, "milliseconds": 1_000,
    "second": 1_000_000, "seconds": 1_000_000,
    "minute": 60_000_000, "minutes": 60_000_000,
    "hour": 3_600_000_000, "hours": 3_600_000_000,
    "day": 86_400_000_000, "days": 86_400_000_000,
    "week": 604_800_000_000, "weeks": 604_800_000_000,
}


def _duration_us(text: str) -> int:
    """Parse a CalendarInterval-style duration ('10 seconds 500
    milliseconds', '1 day') to microseconds. Validated eagerly on the
    driver with a clear error rather than failing opaquely inside the
    executor-side state function."""
    parts = text.strip().split()
    if not parts or len(parts) % 2 != 0:
        raise ValueError(
            f"invalid duration {text!r}: expected '<qty> <unit>' pairs, "
            f"units one of {sorted(set(_DURATION_MULT_US))}"
        )
    total = 0
    for qty, unit in zip(parts[::2], parts[1::2]):
        if unit.lower() not in _DURATION_MULT_US:
            raise ValueError(
                f"invalid duration unit {unit!r} in {text!r}: "
                f"supported units are {sorted(set(_DURATION_MULT_US))}"
            )
        total += int(qty) * _DURATION_MULT_US[unit.lower()]
    return total
