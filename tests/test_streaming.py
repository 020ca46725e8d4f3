"""Checkpoint/resume + lineage tests (north rule B9/B10)."""

import pyspark.sql.functions as F
import pytest

from pbf_spark import lineage
from pbf_spark.operators import decode
from pbf_spark.sources import iceberg_lite
from pbf_spark.streaming.pipeline import stream_decode_documents


@pytest.fixture(scope="module")
def blobs(spark, fixture_dir):
    return iceberg_lite.read_table(spark, fixture_dir / "media_blobs")


def test_stream_decode_and_resume(spark, fixture_dir, fixture_manifest, blobs, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("stream")
    out = tmp / "entities"
    ckpt = tmp / "ckpt"
    lin = tmp / "lineage"

    # pass 1: full availableNow run
    stream_decode_documents(
        spark, fixture_dir / "documents_interleaved", blobs, out, ckpt, lin, run_id="r1"
    )
    got = spark.read.parquet(str(out))
    counts = {r["entity_type"]: r["n"] for r in decode.count_by_type(got).collect()}
    assert counts == fixture_manifest["counts"]

    # pass 2 with the same checkpoint: nothing new → no duplicates
    stream_decode_documents(
        spark, fixture_dir / "documents_interleaved", blobs, out, ckpt, lin, run_id="r2"
    )
    assert spark.read.parquet(str(out)).count() == fixture_manifest["total_entities"]

    # lineage: partition totals reconcile exactly with output counts
    lin_df = lineage.read_lineage(spark, lin)
    totals = lin_df.agg(
        F.sum("n_rows").alias("rows"),
        F.sum("n_nodes").alias("nodes"),
        F.sum("n_blobs").alias("blobs"),
    ).first()
    assert totals["rows"] == fixture_manifest["total_entities"]
    assert totals["nodes"] == fixture_manifest["counts"]["node"]
    assert lin_df.filter("min_doc_id is null or max_doc_id is null").count() == 0


def test_resume_picks_up_new_files(spark, fixture_dir, blobs, tmp_path_factory):
    """Kill-and-resume: new document files arriving between runs are
    decoded exactly once, old ones never re-decoded."""
    import shutil

    tmp = tmp_path_factory.mktemp("stream2")
    staged = tmp / "docs_table" / "data"
    staged.mkdir(parents=True)
    src_files = sorted((fixture_dir / "documents_interleaved" / "data").glob("*.parquet"))
    assert len(src_files) >= 1
    shutil.copy(src_files[0], staged / "part-a.parquet")

    out, ckpt = tmp / "entities", tmp / "ckpt"
    stream_decode_documents(spark, tmp / "docs_table", blobs, out, ckpt, run_id="p1")
    n1 = spark.read.parquet(str(out)).count()
    assert n1 > 0

    # "new data arrives" — same content under a new file name
    shutil.copy(src_files[0], staged / "part-b.parquet")
    stream_decode_documents(spark, tmp / "docs_table", blobs, out, ckpt, run_id="p2")
    n2 = spark.read.parquet(str(out)).count()
    assert n2 == 2 * n1  # the new file once, the old file not re-decoded


def test_composed_decode_windowed_counts_exactly_once(spark, fixture_dir, blobs, tmp_path_factory):
    """B9 composition: ONE streaming query runs file-stream → PBF decode
    (mapInArrow) → watermarked windowed agg with a single checkpoint.
    Emitted window counts must equal the batch recomputation, and
    restarting the composed pipeline (with and without new input) must
    never re-emit a window — exactly-once across the composition
    boundary."""
    import shutil

    import pyspark.sql.functions as F

    from pbf_spark.streaming.pipeline import stream_decode_windowed_counts

    tmp = tmp_path_factory.mktemp("composed")
    staged = tmp / "docs_table" / "data"
    staged.mkdir(parents=True)
    src_files = sorted((fixture_dir / "documents_interleaved" / "data").glob("*.parquet"))
    shutil.copy(src_files[0], staged / "part-a.parquet")
    out, ckpt = tmp / "win_counts", tmp / "ckpt"

    stream_decode_windowed_counts(spark, tmp / "docs_table", blobs, out, ckpt)
    got1 = spark.read.parquet(str(out)).collect()
    assert len(got1) > 3  # several (window, entity_type) cells emitted

    # batch recomputation of the same composition, restricted to the
    # windows the stream has emitted (the max-ts window legitimately
    # stays open under a 0-second watermark)
    docs = iceberg_lite.read_table(spark, fixture_dir / "documents_interleaved")
    batch = (
        decode.decode_documents(docs, blobs)
        .where(F.col("info.ts").isNotNull())
        .groupBy(F.window(F.col("info.ts"), "30 days").alias("win"), "entity_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("window_start"), "entity_type", "n")
    )
    expected = {(r["window_start"], r["entity_type"]): r["n"] for r in batch.collect()}
    for r in got1:
        assert expected[(r["window_start"], r["entity_type"])] == r["n"]

    # restart with NO new input: nothing may re-emit
    stream_decode_windowed_counts(spark, tmp / "docs_table", blobs, out, ckpt)
    assert spark.read.parquet(str(out)).count() == len(got1)

    # restart with new input (same content, new file): every row is at
    # or below the watermark, so emitted windows must NOT change and no
    # (window, entity_type) cell may ever appear twice
    shutil.copy(src_files[0], staged / "part-b.parquet")
    stream_decode_windowed_counts(spark, tmp / "docs_table", blobs, out, ckpt)
    got3 = spark.read.parquet(str(out)).collect()
    cells = [(r["window_start"], r["entity_type"]) for r in got3]
    assert len(cells) == len(set(cells))  # exactly-once per window
    for r in got3:
        if (r["window_start"], r["entity_type"]) in {(g["window_start"], g["entity_type"]) for g in got1}:
            assert expected[(r["window_start"], r["entity_type"])] == r["n"]


def test_stream_windowed_watermark_drops_late_rows(spark, tmp_path_factory):
    """Watermarked windowed agg (late-data contract): windows emit once
    the watermark passes; a row arriving later than the watermark behind
    max event time is dropped; resume appends only newly closed windows."""
    import datetime as dt

    import pandas as pd

    from pbf_spark.streaming.pipeline import stream_windowed_event_counts

    tmp = tmp_path_factory.mktemp("winstream")
    events, out, ckpt = tmp / "events", tmp / "agg", tmp / "ckpt"
    events.mkdir()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark reads us, not ns
        pdf.to_parquet(events / name)

    # batch 1: hours 0..3, max event time 3:20 → watermark 1:20, so only
    # the hour-0 window (ends 1:00) has closed
    write("a.parquet", [
        (i, t0 + dt.timedelta(hours=h, minutes=10 * i), i, "click", 1.0, "")
        for h in range(4)
        for i in range(3)
    ])
    stream_windowed_event_counts(spark, events, out, ckpt, "1 hour", "2 hours")
    got1 = spark.read.parquet(str(out))
    hours1 = sorted(r["window_start"].hour for r in got1.collect())
    assert hours1 == [0]  # hours 1-3 still open (within watermark)

    # batch 2: a LATE row for hour 0 (beyond watermark → dropped) and
    # new rows at hour 6 (advance watermark → hours 2,3,4 close)
    write("b.parquet", [
        (100, t0 + dt.timedelta(minutes=5), 100, "click", 99.0, ""),
        (101, t0 + dt.timedelta(hours=6), 101, "click", 1.0, ""),
        (102, t0 + dt.timedelta(hours=6, minutes=5), 102, "click", 1.0, ""),
    ])
    stream_windowed_event_counts(spark, events, out, ckpt, "1 hour", "2 hours")
    got2 = spark.read.parquet(str(out)).collect()
    by_hour = {r["window_start"].hour: r for r in got2}
    assert sorted(by_hour) == [0, 1, 2, 3]  # hour 6 still open
    # the late hour-0 row was dropped: count stays 3, sum stays 3.0
    assert by_hour[0]["n"] == 3 and by_hour[0]["sum_value"] == 3.0


def test_stream_user_sessions_stateful(spark, tmp_path_factory):
    """applyInPandasWithState sessionization: in-batch gap splits emit
    immediately; open sessions close via event-time timeout once the
    watermark passes last_event + gap; state survives restarts."""
    import datetime as dt

    import pandas as pd

    from pbf_spark.streaming.pipeline import stream_user_sessions

    tmp = tmp_path_factory.mktemp("sessions")
    events, out, ckpt = tmp / "events", tmp / "sess", tmp / "ckpt"
    events.mkdir()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(events / name)

    m = dt.timedelta(minutes=1)
    # user 1: two events 10 min apart (one open session), then an
    # in-batch gap of 2 h -> first session emits immediately;
    # user 9's 1:00 event pins the watermark
    write("a.parquet", [
        (1, t0, 1, "c", 1.0, ""),
        (2, t0 + 10 * m, 1, "c", 2.0, ""),
        (3, t0 + 130 * m, 1, "c", 4.0, ""),
        (4, t0 + 60 * m, 9, "c", 1.0, ""),
    ])
    stream_user_sessions(spark, events, out, ckpt, gap="30 minutes")
    got1 = {(r["user_id"], r["session_start"].minute, r["n_events"]) for r in spark.read.parquet(str(out)).collect()}
    # user1's first session closed by the in-batch gap; user9 timed out
    # in the trailing no-data micro-batch (watermark 2:10 > 1:00+gap);
    # user1's second session (2:10) still open
    assert got1 == {(1, 0, 2), (9, 0, 1)}

    # batch 2: watermark advances to 5:00 -> every open session's
    # timeout (last + 30 min) fires
    write("b.parquet", [(5, t0 + 300 * m, 7, "c", 1.0, "")])
    stream_user_sessions(spark, events, out, ckpt, gap="30 minutes")
    got2 = {
        (r["user_id"], r["session_start"].hour, r["session_start"].minute, r["n_events"], r["sum_value"])
        for r in spark.read.parquet(str(out)).collect()
    }
    assert (1, 0, 0, 2, 3.0) in got2      # from run 1
    assert (1, 2, 10, 1, 4.0) in got2     # user1's second session, timed out
    assert (9, 1, 0, 1, 1.0) in got2      # user9's session, timed out
    assert not any(u == 7 for u, *_ in got2)  # user7 still open


def test_stream_user_sessions_out_of_order_across_batches(spark, tmp_path_factory):
    """With watermark > 0, a later batch may deliver rows above the
    watermark but OLDER than the stored session end; they must extend
    the session (start backward if needed) without regressing
    session_end or the event-time timeout."""
    import datetime as dt

    import pandas as pd

    from pbf_spark.streaming.pipeline import stream_user_sessions

    tmp = tmp_path_factory.mktemp("sessions_ooo")
    events, out, ckpt = tmp / "events", tmp / "sess", tmp / "ckpt"
    events.mkdir()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)

    def write(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(events / name)

    kw = dict(gap="30 minutes", watermark="15 minutes")
    # batch 1: session spans 0:20..0:30 (watermark after batch: 0:15)
    write("a.parquet", [(1, t0 + 20 * m, 1, "c", 1.0, ""), (2, t0 + 30 * m, 1, "c", 2.0, "")])
    stream_user_sessions(spark, events, out, ckpt, **kw)
    # batch 2: 0:25 is above the 0:15 watermark but older than the
    # stored session end (0:30) — must not shrink it
    write("b.parquet", [(3, t0 + 25 * m, 1, "c", 4.0, "")])
    stream_user_sessions(spark, events, out, ckpt, **kw)
    # batch 3: advance the watermark past 0:30 + gap -> session times out
    write("c.parquet", [(4, t0 + 300 * m, 9, "c", 1.0, "")])
    stream_user_sessions(spark, events, out, ckpt, **kw)

    rows = {
        (r["user_id"], r["session_start"].minute, r["session_end"].minute, r["n_events"], r["sum_value"])
        for r in spark.read.parquet(str(out)).collect()
    }
    assert (1, 20, 30, 3, 7.0) in rows


def test_composed_decode_user_sessions_exactly_once(spark, fixture_dir, blobs, tmp_path_factory):
    """Round-5 composition: document file stream → mapInArrow PBF decode
    → per-uploader stateful sessionization (applyInPandasWithState) in
    ONE checkpointed query. Restarting with no input re-emits nothing;
    adding files resumes sessions FROM STATE; every session the batch
    twin closes under the final watermark is emitted exactly once, and
    nothing outside the batch session set ever appears."""
    import datetime as dt
    import shutil

    import pyspark.sql.functions as F

    from pbf_spark.model.schema import DOCUMENT_SCHEMA
    from pbf_spark.operators.temporal import sessionize
    from pbf_spark.streaming.pipeline import stream_decode_user_sessions

    tmp = tmp_path_factory.mktemp("composed_sess")
    staged = tmp / "docs_table" / "data"
    staged.mkdir(parents=True)
    # split the fixture docs into two DISJOINT halves (duplicate-content
    # files would be watermark-dropped by the stream but double-counted
    # by the batch twin)
    import pyarrow.parquet as pq

    src_files = sorted((fixture_dir / "documents_interleaved" / "data").glob("*.parquet"))
    t = pq.read_table(src_files[0])
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), staged / "part-a.parquet")
    part_b = t.slice(half)
    out, ckpt = tmp / "sessions", tmp / "ckpt"
    gap = "7 days"

    stream_decode_user_sessions(spark, tmp / "docs_table", blobs, out, ckpt, gap=gap)
    n1 = spark.read.parquet(str(out)).count()

    # restart with NO new input: nothing may re-emit
    stream_decode_user_sessions(spark, tmp / "docs_table", blobs, out, ckpt, gap=gap)
    assert spark.read.parquet(str(out)).count() == n1

    # resume with more documents: sessions continue from checkpointed state
    pq.write_table(part_b, staged / "part-b.parquet")
    stream_decode_user_sessions(spark, tmp / "docs_table", blobs, out, ckpt, gap=gap)
    got = spark.read.parquet(str(out)).collect()
    keys = [(r["user_id"], r["session_start"]) for r in got]
    assert len(keys) == len(set(keys))  # exactly-once per session

    # watermark-aware batch twin: the stream admits all of part-a, then
    # only part-b rows at/after the watermark part-a set (0-second
    # delay → max part-a edit time); sessionize exactly those rows.
    def _edits(src):
        docs = spark.read.schema(DOCUMENT_SCHEMA).parquet(str(src))
        return (
            decode.decode_documents(docs, blobs)
            .where("info.ts IS NOT NULL AND info.uid IS NOT NULL")
            .select(
                F.col("info.uid").cast("long").alias("user_id"),
                F.col("info.ts").alias("ts"),
                F.lit(1.0).alias("value"),
            )
        )

    edits_a = _edits(staged / "part-a.parquet")
    wm_a = edits_a.agg(F.max("ts")).first()[0]
    kept = edits_a.unionByName(
        _edits(staged / "part-b.parquet").where(F.col("ts") >= F.lit(wm_a))
    )
    batch = sessionize(kept, gap_seconds=7 * 86400, order_cols=()).collect()
    wm_b = kept.agg(F.max("ts")).first()[0]
    gap_td = dt.timedelta(days=7, milliseconds=2)
    last_sid = {}
    for r in batch:
        last_sid[r["user_id"]] = max(last_sid.get(r["user_id"], 0), r["session_id"])
    # must emit: every non-final session (closed by a later in-batch
    # atom) plus final sessions the watermark timed out
    expected_must = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch
        if r["session_id"] < last_sid[r["user_id"]] or r["session_end"] + gap_td < wm_b
    }
    all_batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"]) for r in batch
    }
    got_set = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"]) for r in got
    }
    assert expected_must, "fixture must close at least one session"
    assert expected_must <= got_set  # everything closed was emitted
    assert got_set <= all_batch  # nothing outside the batch twin


def test_stream_user_sessions_late_cluster_splits(spark, tmp_path_factory):
    """A cross-batch late CLUSTER more than one gap before the open
    session must form (and emit) its own earlier session — the batch
    sessionizer would never merge it — while a late row chained to the
    open session through other rows extends it backward (ADVICE r4)."""
    import datetime as dt

    import pandas as pd

    from pbf_spark.streaming.pipeline import stream_user_sessions

    tmp = tmp_path_factory.mktemp("sessions_late")
    events, out, ckpt = tmp / "events", tmp / "sess", tmp / "ckpt"
    events.mkdir()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)

    def write(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(events / name)

    kw = dict(gap="30 minutes", watermark="4 hours")
    # batch 1: open session [3:00, 3:10]
    write("a.parquet", [
        (1, t0 + 180 * m, 1, "c", 1.0, ""),
        (2, t0 + 190 * m, 1, "c", 2.0, ""),
    ])
    stream_user_sessions(spark, events, out, ckpt, **kw)
    # batch 2 (all above the 4h watermark): 0:00/0:05 are > gap before
    # the open session -> separate emitted session; 2:40 is within gap
    # of 3:00 -> extends the open session backward
    write("b.parquet", [
        (3, t0 + 0 * m, 1, "c", 4.0, ""),
        (4, t0 + 5 * m, 1, "c", 8.0, ""),
        (5, t0 + 160 * m, 1, "c", 16.0, ""),
    ])
    stream_user_sessions(spark, events, out, ckpt, **kw)
    # batch 3: advance the watermark past 3:10 + gap -> open session
    # times out
    write("c.parquet", [(6, t0 + 600 * m, 9, "c", 1.0, "")])
    stream_user_sessions(spark, events, out, ckpt, **kw)

    user1 = {
        (r["session_start"].hour, r["session_start"].minute,
         r["session_end"].hour, r["session_end"].minute,
         r["n_events"], r["sum_value"])
        for r in spark.read.parquet(str(out)).collect()
        if r["user_id"] == 1
    }
    assert user1 == {
        (0, 0, 0, 5, 2, 12.0),      # late cluster: its own session
        (2, 40, 3, 10, 3, 19.0),    # open session extended back to 2:40
    }


def test_duration_parsing():
    from pbf_spark.streaming.pipeline import _duration_us

    assert _duration_us("1 day") == 86_400_000_000
    assert _duration_us("90 seconds 500 milliseconds") == 90_500_000
    assert _duration_us("2 weeks") == 2 * 604_800_000_000
    with pytest.raises(ValueError, match="fortnights"):
        _duration_us("5 fortnights")
    with pytest.raises(ValueError, match="pairs"):
        _duration_us("30")


def test_observed_decode_metrics(spark, fixture_dir, fixture_manifest, blobs):
    docs = iceberg_lite.read_table(spark, fixture_dir / "documents_interleaved")
    df, obs = lineage.observed_decode(decode.decode_documents(docs, blobs))
    df.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["rows"] == fixture_manifest["total_entities"]
    assert got["nodes"] == fixture_manifest["counts"]["node"]
    assert got["ways"] == fixture_manifest["counts"]["way"]


def test_stream_decode_with_tag_filter(spark, fixture_dir, blobs, tmp_path_factory):
    """The decode-side tag predicate pushdown composes with the
    checkpointed stream: the streamed+filtered output must equal the
    batch decode filtered in Spark, and lineage reconciles with the
    POST-filter row count."""
    tmp = tmp_path_factory.mktemp("stream_tf")
    out, ckpt, lin = tmp / "entities", tmp / "ckpt", tmp / "lineage"
    stream_decode_documents(
        spark,
        fixture_dir / "documents_interleaved",
        blobs,
        out,
        ckpt,
        lin,
        run_id="tf",
        tag_filter=["highway"],
    )
    got = spark.read.parquet(str(out))
    docs = iceberg_lite.read_table(spark, fixture_dir / "documents_interleaved")
    expected = decode.decode_documents(docs, blobs).where(
        F.exists("tags", lambda t: t["key"] == F.lit("highway"))
    )
    n_exp = expected.count()
    assert 0 < got.count() == n_exp
    assert (
        got.select("entity_type", "id")
        .exceptAll(expected.select("entity_type", "id"))
        .isEmpty()
    )
    lin_df = lineage.read_lineage(spark, lin)
    assert lin_df.agg(F.sum("n_rows")).first()[0] == n_exp


def test_stream_tag_filter_survives_restart(spark, fixture_dir, blobs, tmp_path_factory):
    """r5 VERDICT item 7: the tag-predicate pushdown stays active across
    a checkpoint kill-and-resume — files arriving after the restart are
    decoded once WITH the filter, old files are never re-decoded, and
    lineage reconciles with the post-filter totals."""
    import shutil

    tmp = tmp_path_factory.mktemp("stream_tf_restart")
    staged = tmp / "docs_table" / "data"
    staged.mkdir(parents=True)
    src_files = sorted((fixture_dir / "documents_interleaved" / "data").glob("*.parquet"))
    shutil.copy(src_files[0], staged / "part-a.parquet")

    out, ckpt, lin = tmp / "entities", tmp / "ckpt", tmp / "lineage"
    kw = dict(tag_filter=["highway"])
    stream_decode_documents(
        spark, tmp / "docs_table", blobs, out, ckpt, lin, run_id="tfr1", **kw
    )
    n1 = spark.read.parquet(str(out)).count()
    assert n1 > 0

    # kill-and-resume with a new file: filter still applied, no re-decode
    shutil.copy(src_files[0], staged / "part-b.parquet")
    stream_decode_documents(
        spark, tmp / "docs_table", blobs, out, ckpt, lin, run_id="tfr2", **kw
    )
    got = spark.read.parquet(str(out))
    assert got.count() == 2 * n1
    # every surviving row satisfies the pushed predicate
    assert got.where(
        ~F.exists("tags", lambda t: t["key"] == F.lit("highway"))
    ).isEmpty()
    # lineage totals reconcile with the post-filter output across BOTH runs
    lin_df = lineage.read_lineage(spark, lin)
    assert lin_df.agg(F.sum("n_rows")).first()[0] == 2 * n1


def test_stream_lineage_row_per_decode_partition(spark, fixture_dir, blobs, tmp_path_factory):
    """A micro-batch with one blob decodes in one partition, so it
    writes one lineage row; the fixture's one multi-blob micro-batch is
    spread over several partitions, one lineage row each. Both reconcile
    with the output."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = tmp_path_factory.mktemp("stream_split")
    # one document file per media span: one blob per micro-batch
    src = pq.read_table(fixture_dir / "documents_interleaved" / "data").to_pylist()
    one_blob = tmp / "one_blob" / "data"
    one_blob.mkdir(parents=True)
    schema = pq.read_schema(next((fixture_dir / "documents_interleaved" / "data").glob("*.parquet")))
    n = 0
    for doc in src:
        for span in doc["spans"]:
            if span["kind"] == "media":
                row = {"doc_id": doc["doc_id"], "spans": [span]}
                pq.write_table(pa.Table.from_pylist([row], schema), one_blob / f"part-{n:03d}.parquet")
                n += 1
    assert n > 1

    for name, docs, per_trigger in (
        ("one", tmp / "one_blob", 1),
        ("all", fixture_dir / "documents_interleaved", None),
    ):
        out, ckpt, lin = tmp / name / "entities", tmp / name / "ckpt", tmp / name / "lineage"
        q = stream_decode_documents(
            spark, docs, blobs, out, ckpt, lin, run_id=name, max_files_per_trigger=per_trigger
        )
        batches = sorted(p.batchId for p in q.recentProgress if p.numInputRows > 0)
        rows = lineage.read_lineage(spark, lin).collect()
        assert sum(r["n_rows"] for r in rows) == spark.read.parquet(str(out)).count()
        if name == "one":
            # the header blob decodes to no rows, so writes no lineage row
            assert len(batches) == n
            assert len({r["batch_id"] for r in rows}) == len(rows) >= n - 1
        else:
            assert len(batches) == 1
            assert 1 < len(rows) <= spark.sparkContext.defaultParallelism


# the lineage table's schema as Spark reads it back
LINEAGE_SCHEMA = [
    ("run_id", "string"),
    ("batch_id", "bigint"),
    ("partition_id", "int"),
    ("n_rows", "bigint"),
    ("n_nodes", "bigint"),
    ("n_ways", "bigint"),
    ("n_relations", "bigint"),
    ("min_doc_id", "string"),
    ("max_doc_id", "string"),
    ("n_blobs", "bigint"),
    ("recorded_at", "timestamp"),
]
SUMMARY_COLS = [c for c in lineage.LINEAGE_COLS if c not in ("run_id", "batch_id", "recorded_at")]


def _fields(df) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in df.schema]


def _aggregate_lineage(entities):
    """The lineage rows as one SQL aggregate per partition: a
    ``groupBy(spark_partition_id())`` over ``entities``."""
    count = lambda kind: F.sum(F.when(F.col("entity_type") == kind, 1).otherwise(0))
    return (
        entities.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("n_rows"),
            count("node").alias("n_nodes"),
            count("way").alias("n_ways"),
            count("relation").alias("n_relations"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.countDistinct("blob_seq").alias("n_blobs"),
        )
    )


@pytest.mark.parametrize("layout", ["spread", "one_partition"])
def test_partition_lineage_matches_aggregate(spark, fixture_dir, blobs, layout):
    """Each partition's summary row equals the SQL aggregate of that
    partition's rows; empty partitions have no row."""
    from pbf_spark.util import release_checkpoint, spread

    docs = iceberg_lite.read_table(spark, fixture_dir / "documents_interleaved")
    entities = decode.decode_documents(docs, blobs)
    entities = spread(entities) if layout == "spread" else entities.coalesce(1)
    entities = entities.localCheckpoint(eager=True)
    try:
        rows = lineage.partition_lineage(entities, "r", 7).collect()
        oracle = _aggregate_lineage(entities).select(SUMMARY_COLS).collect()
    finally:
        release_checkpoint(entities)
    assert sorted(tuple(r[c] for c in SUMMARY_COLS) for r in rows) == sorted(map(tuple, oracle))
    if layout == "spread":
        assert len(rows) > 1
    else:
        assert len(rows) == 1
    assert {(r["run_id"], r["batch_id"]) for r in rows} == {("r", 7)}
    assert all(r["recorded_at"] is not None for r in rows)


def test_header_only_stream_leaves_empty_lineage_table(spark, fixture_dir, blobs, tmp_path_factory):
    """A micro-batch that decodes nothing (its one blob is the file
    header) still leaves a readable lineage table: no rows, the
    lineage schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = tmp_path_factory.mktemp("stream_header")
    header_ref = blobs.where("blob_type = 'OSMHeader'").first()["media_ref"]
    src = fixture_dir / "documents_interleaved" / "data"
    (tmp / "docs" / "data").mkdir(parents=True)
    span = {"kind": "media", "text": None, "media_ref": header_ref, "offset": 0}
    pq.write_table(
        pa.Table.from_pylist([{"doc_id": "d0", "spans": [span]}], pq.read_schema(next(src.glob("*.parquet")))),
        tmp / "docs" / "data" / "part-0.parquet",
    )
    out, ckpt, lin = tmp / "entities", tmp / "ckpt", tmp / "lineage"
    q = stream_decode_documents(spark, tmp / "docs", blobs, out, ckpt, lin, run_id="h")
    assert [p.numInputRows for p in q.recentProgress if p.numInputRows] == [1]
    assert spark.read.parquet(str(out)).count() == 0
    lin_df = lineage.read_lineage(spark, lin)
    assert _fields(lin_df) == LINEAGE_SCHEMA
    assert lin_df.count() == 0


def test_lineage_reads_spark_and_driver_written_files(spark, fixture_dir, blobs, tmp_path):
    """A lineage dir holding a Spark-written file (the table's earlier
    layout) and driver-written appends reads back as one table."""
    import datetime

    docs = iceberg_lite.read_table(spark, fixture_dir / "documents_interleaved")
    entities = decode.decode_documents(docs, blobs).persist()
    try:
        _aggregate_lineage(entities).select(
            F.lit("spark").alias("run_id"),
            F.lit(0).cast("long").alias("batch_id"),
            *SUMMARY_COLS,
            F.current_timestamp().alias("recorded_at"),
        ).write.mode("append").parquet(str(tmp_path))
        lineage.append_lineage(entities, "driver", tmp_path, batch_id=1)
        lineage.append_lineage(entities.where("false"), "empty", tmp_path, batch_id=2)
        n_parts = _aggregate_lineage(entities).count()
    finally:
        entities.unpersist()
    assert not list(tmp_path.glob("*.tmp")), "a temp file was left behind"
    lin_df = lineage.read_lineage(spark, tmp_path)
    assert _fields(lin_df) == LINEAGE_SCHEMA
    rows = lin_df.collect()
    by_run = {run: sorted(tuple(r[c] for c in SUMMARY_COLS) for r in rows if r["run_id"] == run)
              for run in ("spark", "driver")}
    assert len(rows) == 2 * n_parts and by_run["spark"] == by_run["driver"]
    now = datetime.datetime.now()
    assert all(abs(now - r["recorded_at"]) < datetime.timedelta(hours=1) for r in rows)
