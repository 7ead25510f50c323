"""§2.11 streaming ingest: the streaming path must produce the identical
detections as the batch path (same detect_pages via foreachBatch), and the
url dedup must drop late duplicate fetches."""

from __future__ import annotations

import os
import shutil

import pytest

from mxsparkg.detect import broadcast_model, detect_pages
from mxsparkg.streaming import (
    dedup_late_fetches,
    read_page_stream,
    start_detect_stream,
)

ROOT = "/tmp/mxsparkg_test_stream"


@pytest.fixture(scope="module")
def stream_dirs(spark, tiny_fixtures):
    shutil.rmtree(ROOT, ignore_errors=True)
    src = f"{ROOT}/incoming"
    os.makedirs(src)
    # split fixture pages into several "arriving" files
    pages = spark.read.parquet(f"{tiny_fixtures}/pages.parquet")
    pages.repartition(4).write.mode("overwrite").parquet(src)
    return src, f"{ROOT}/detections", f"{ROOT}/ckpt"


def test_stream_matches_batch(spark, stream_dirs):
    src, out, ckpt = stream_dirs
    bc = broadcast_model(spark)
    q = start_detect_stream(read_page_stream(spark, src), bc, out, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    batch = detect_pages(spark.read.parquet(src), bc)
    key = ["url", "sent_id", "kind", "m_start", "surface", "subj", "pred", "obj"]
    assert got.count() == batch.count()
    assert (
        got.select(*key).exceptAll(batch.select(*key)).count() == 0
    )


def test_stream_resume_is_incremental(spark, stream_dirs):
    """Re-starting the stream with the same checkpoint processes nothing new
    (exactly-once file tracking)."""
    src, out, ckpt = stream_dirs
    before = spark.read.parquet(out).count()
    q = start_detect_stream(
        read_page_stream(spark, src), broadcast_model(spark), out, ckpt
    )
    q.awaitTermination(60)
    assert spark.read.parquet(out).count() == before


def test_stateful_host_counts_accumulate(spark, stream_dirs):
    """applyInPandasWithState: per-host totals accumulate across
    micro-batches (2 files per trigger → multiple batches) and the final
    running totals equal the batch groupBy counts."""
    from pyspark.sql import functions as F

    from mxsparkg.streaming import read_page_stream, stateful_host_counts

    src, _out, _ckpt = stream_dirs
    q = (
        stateful_host_counts(
            read_page_stream(spark, src, max_files_per_trigger=2)
        )
        .writeStream.format("memory")
        .queryName("host_counts")
        .outputMode("update")
        .option("checkpointLocation", f"{ROOT}/state_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    updates = spark.sql("SELECT * FROM host_counts").collect()
    assert updates
    # final state per host == batch-side truth
    final = {}
    for r in updates:
        final[r["host"]] = max(final.get(r["host"], 0), r["total_fetches"])
    truth = {
        r["host"]: r["n"]
        for r in spark.read.parquet(src)
        .select(F.parse_url("url", F.lit("HOST")).alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert final == truth
    # at least one host spanned multiple micro-batches (state actually used)
    assert any(
        r["total_fetches"] > r["batch_fetches"] for r in updates
    )


def test_hourly_ingest_stats(spark, tiny_fixtures):
    from mxsparkg.streaming import hourly_ingest_stats

    pages = spark.read.parquet(f"{tiny_fixtures}/pages.parquet")
    rows = hourly_ingest_stats(pages).collect()
    assert sum(r.n_pages for r in rows) == pages.count()
    assert all(r.n_hosts >= 1 for r in rows)
    starts = [r.window_start for r in rows]
    assert len(set(starts)) == len(starts)


def test_dedup_late_fetches(spark):
    """dropDuplicatesWithinWatermark is streaming-only (that's the point:
    its state is evicted by the watermark, unlike dropDuplicates on
    non-event-time keys) — so exercise it as a real micro-batch stream."""
    import datetime as dt

    import pyspark.sql.functions as F

    from mxsparkg.streaming import PAGES_SCHEMA

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        ("u1", base),
        ("u1", base + dt.timedelta(minutes=5)),  # duplicate fetch
        ("u2", base),
    ]
    src = f"{ROOT}/dedup_src"
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp").select(
        "url", "warc_ts",
        F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
    q = (
        dedup_late_fetches(stream)
        .writeStream.format("memory")
        .queryName("dedup_urls")
        .outputMode("append")
        .option("checkpointLocation", f"{ROOT}/dedup_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT url FROM dedup_urls").collect()
    assert sorted(r.url for r in got) == ["u1", "u2"]


def test_streaming_edge_support_matches_batch_closed_windows(spark):
    """Streaming edge rollup == batch rollup on every window the
    watermark has closed; the last (open) window is withheld, not
    emitted partially — the exactly-once delta contract."""
    import datetime as dt
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from mxsparkg.streaming import streaming_edge_support

    base = dt.datetime(2024, 1, 1)
    rows = []
    for h, subj, obj, n in [
        (0, "e1", "e2", 3), (0, "e1", "e3", 1),
        (1, "e1", "e2", 2), (1, "e2", "e3", 4),
        (5, "e9", "e2", 2),  # far-future hour: advances the watermark
    ]:
        for i in range(n):
            rows.append((subj, "rel", obj,
                         base + dt.timedelta(hours=h, minutes=i)))
    root = "/tmp/mxsparkg_test_edgestream"
    src, ckpt = f"{root}/incoming", f"{root}/ckpt"
    shutil.rmtree(root, ignore_errors=True)
    _os.makedirs(src)
    # hour 0+1 first, then the watermark-advancing hour-5 batch
    early = [r for r in rows if r[3] < base + dt.timedelta(hours=2)]
    late = [r for r in rows if r[3] >= base + dt.timedelta(hours=2)]
    for i, part in enumerate((early, late)):
        spark.createDataFrame(
            part, "subj string, pred string, obj string, warc_ts timestamp"
        ).coalesce(1).write.parquet(f"{src}/f{i}")
        _time.sleep(1.1)
    schema = spark.read.parquet(f"{src}/f0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    q = (
        streaming_edge_support(stream)
        .writeStream.format("memory")
        .queryName("edge_deltas")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r.window_start), r.subj, r.pred, r.obj, r.n_support)
        for r in spark.sql("select * from edge_deltas").collect()
    }
    batch = spark.createDataFrame(
        rows, "subj string, pred string, obj string, warc_ts timestamp"
    )
    closed = (
        batch.filter(  # hour-5 window is still open at end of stream
            F.col("warc_ts") < F.lit("2024-01-01 05:00:00").cast("timestamp")
        )
        .groupBy(F.window("warc_ts", "1 hour").alias("w"),
                 "subj", "pred", "obj")
        .agg(F.count("*").alias("n_support"))
        .select(F.col("w.start").alias("window_start"),
                "subj", "pred", "obj", "n_support")
    )
    want = {
        (str(r.window_start), r.subj, r.pred, r.obj, r.n_support)
        for r in closed.collect()
    }
    assert got == want and len(want) == 4


def test_stateful_sessions_match_batch_minus_open(spark):
    """Streaming sessionization contract: with in-order-per-user arrival,
    the closed sessions emitted across micro-batches == batch
    sessionization minus each user's final (still-open) session —
    sessions spanning a micro-batch boundary must be stitched through
    state, not split. The watermark delay is set large so no event-time
    timeout can fire within the test data (timeout-driven closes are the
    unbounded-stream path, exercised implicitly by the state contract)."""
    import datetime as dt
    import os as _os
    import time as _time

    import pandas as pd

    from mxsparkg.streaming import SESSION_GAP_US, stateful_sessions

    base = dt.datetime(2024, 1, 1)
    rows = []
    for uid, offsets_min in [
        (1, [0, 5, 10, 120, 125, 300]),     # sessions 0-10, 120-125, open 300
        (2, [0, 50, 100]),                  # 50-min gaps: 3 sessions
        (3, [0, 10, 20, 29, 70, 80]),       # session 0-29 CLOSES in batch 2
    ]:
        for m in offsets_min:
            rows.append((uid, base + dt.timedelta(minutes=m)))
    root = "/tmp/mxsparkg_test_sessions"
    src, ckpt = f"{root}/incoming", f"{root}/ckpt"
    shutil.rmtree(root, ignore_errors=True)
    _os.makedirs(src)
    # split by TIME (events before/after minute 40) so arrival is in order
    # per user; write sequentially with distinct mtimes so the file source
    # (which orders by modification time) replays them as two in-order
    # micro-batches
    cut = base + dt.timedelta(minutes=40)
    early = [r for r in rows if r[1] < cut]
    late = [r for r in rows if r[1] >= cut]
    for i, part in enumerate((early, late)):
        spark.createDataFrame(part, "user_id long, ts timestamp").coalesce(
            1
        ).write.parquet(f"{src}/f{i}")
        _time.sleep(1.1)

    schema = spark.read.parquet(f"{src}/f0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    q = (
        stateful_sessions(stream, watermark="10 hours")
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.sql("select * from sessions").collect()
    }

    # batch oracle: sessionize in pure python, drop each user's last session
    by_user = {}
    for uid, ts in rows:
        by_user.setdefault(uid, []).append(
            int(pd.Timestamp(ts).value) // 1000
        )
    expected = set()
    for uid, uss in by_user.items():
        uss.sort()
        sessions, start, last, n = [], uss[0], uss[0], 0
        for t in uss:
            if n > 0 and t - last > SESSION_GAP_US:
                sessions.append((uid, start, last, n))
                start, n = t, 0
            last, n = t, n + 1
        # final session stays OPEN (not emitted: watermark never reaches it)
        expected.update(sessions)
    assert got == expected, (sorted(got), sorted(expected))


def test_streaming_content_dedup_matches_batch_incremental(spark):
    """streaming_content_dedup == the batch dedup_incremental keep-set on
    the same data: base-corpus content is dropped by the stream-static
    anti join, a re-fetch of NEW content in a LATER micro-batch is
    dropped by the watermark-bounded digest state, and each new content
    survives exactly once."""
    import datetime as dt

    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from mxsparkg.streaming import PAGES_SCHEMA, streaming_content_dedup

    base_t = dt.datetime(2026, 1, 1, 12, 0, 0)

    def page(url, text, minutes):
        return (url, base_t + dt.timedelta(minutes=minutes), None, text, "en")

    # already-ingested corpus: two documents
    base = spark.createDataFrame(
        [("b1", "shared boilerplate page"), ("b2", "old corpus doc")],
        ["doc_id", "text"],
    ).select("doc_id", F.md5("text").alias("digest"))

    # micro-batch 1: one re-fetch of base content, two new docs
    mb1 = [
        page("u1", "shared boilerplate page", 0),   # dup of base b1 -> drop
        page("u2", "fresh doc alpha", 1),            # new -> keep
        page("u3", "fresh doc beta", 2),             # new -> keep
    ]
    # micro-batch 2: re-fetch of mb1's new content + one more new doc
    mb2 = [
        page("u4", "fresh doc alpha", 10),           # dup of u2 -> drop
        page("u5", "old corpus doc", 11),            # dup of base b2 -> drop
        page("u6", "fresh doc gamma", 12),           # new -> keep
    ]
    src = f"{ROOT}/incdedup_src"
    shutil.rmtree(src, ignore_errors=True)
    for rows in (mb1, mb2):
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    # maxFilesPerTrigger=1 forces the two files into separate micro-batches,
    # so the u2/u4 duplicate pair genuinely crosses a state-store boundary
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_content_dedup(stream, base)
        .writeStream.format("memory")
        .queryName("inc_dedup")
        .outputMode("append")
        .option("checkpointLocation", f"{ROOT}/incdedup_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r.text for r in spark.sql("SELECT text FROM inc_dedup").collect()
    )
    assert got == ["fresh doc alpha", "fresh doc beta", "fresh doc gamma"]
    # batch equivalence: same keep-set as a batch anti-join + first-per-digest
    all_pages = spark.read.parquet(src)
    batch_keep = sorted(
        r.text
        for r in all_pages.withColumn("digest", F.md5("text"))
        .join(base.select("digest"), "digest", "left_anti")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("digest").orderBy("warc_ts", "url")
            ),
        )
        .filter("rn = 1")
        .collect()
    )
    assert got == batch_keep


def test_streaming_anomaly_flags_match_batch(spark):
    """The partial-count index folded across forced micro-batch
    boundaries (one day deliberately SPLIT across two batches) must
    re-aggregate to exactly the batch daily rollup, and the whole-bit
    flags from the index must equal the batch flags — including the
    planted burst day firing."""
    import datetime as dt
    import shutil

    import pyspark.sql.functions as F

    from mxsparkg.streaming import (
        EVENTS_SCHEMA,
        anomaly_flags_from_index,
        start_daily_count_stream,
    )

    base = dt.datetime(2026, 2, 1, 0, 0, 0)

    def ev(i, day, typ):
        return (i, base + dt.timedelta(days=day, minutes=i % 600), i % 7, typ)

    rows1, rows2 = [], []
    i = 0
    for day in range(8):
        for _ in range(5):  # baseline: 5 click events per day
            (rows1 if day < 4 else rows2).append(ev(i, day, "click"))
            i += 1
    # day 3 split across the two micro-batches AND bursting (5 + 30)
    for _ in range(30):
        rows2.append(ev(i, 3, "click"))
        i += 1

    src = f"{ROOT}/anom_src"
    idx = f"{ROOT}/anom_idx"
    for d in (src, idx, f"{ROOT}/anom_ckpt"):
        shutil.rmtree(d, ignore_errors=True)
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_daily_count_stream(stream, idx, f"{ROOT}/anom_ckpt")
    q.awaitTermination(120)

    got = {
        (r["event_type"], r["day"], r["n_events"], r["is_anomaly"])
        for r in anomaly_flags_from_index(spark, idx).collect()
    }

    # batch comparator: same day arithmetic, same integer test
    daily = (
        spark.read.parquet(src)
        .select(
            "event_type",
            (F.unix_micros("ts") / 86_400_000_000)
            .cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    j = daily.join(stats, "event_type")
    want = set()
    for r in j.collect():
        dev = r["n"] * r["x"] - r["s1"]
        th = 4 * (r["n"] * r["s2"] - r["s1"] * r["s1"])
        want.add((r["event_type"], r["day"], r["x"], int(dev * dev > th)))
    assert got == want
    # the split burst day is one row with the merged count, flagged
    burst = [g for g in got if g[2] == 35]
    assert len(burst) == 1 and burst[0][3] == 1


def test_streaming_click_attribution_matches_batch(spark):
    """Stream-stream interval join == the batch join on the full pair
    set, including pairs whose impression and click arrive in DIFFERENT
    micro-batches (the buffered-state case a per-batch join would miss)
    and excluding same-user clicks outside the attribution window."""
    import datetime as dt
    import os as _os
    import time as _time

    from mxsparkg.streaming import streaming_click_attribution

    base = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    imps = [  # (imp_id, imp_user, imp_ts)
        (1, "u1", base + 0 * m),
        (2, "u1", base + 50 * m),   # second impression, same user
        (3, "u2", base + 5 * m),
        (4, "u3", base + 10 * m),   # never clicked
    ]
    clks = [  # (click_id, click_user, click_ts)
        (11, "u1", base + 10 * m),   # matches imp 1 (in window)
        (12, "u1", base + 70 * m),   # matches imp 2 only (imp 1 +30min past)
        (13, "u2", base + 45 * m),   # 40min after imp 3: OUTSIDE window
    ]
    root = "/tmp/mxsparkg_test_attrib"
    shutil.rmtree(root, ignore_errors=True)
    for d in ("imp", "clk"):
        _os.makedirs(f"{root}/{d}")
    # impressions land in batch 0; clicks in batch 1 — every surviving
    # pair spans micro-batches, so only buffered state can produce it
    spark.createDataFrame(
        imps, "imp_id bigint, imp_user string, imp_ts timestamp"
    ).coalesce(1).write.parquet(f"{root}/imp/f0")
    _time.sleep(1.1)
    spark.createDataFrame(
        clks, "click_id bigint, click_user string, click_ts timestamp"
    ).coalesce(1).write.parquet(f"{root}/clk/f0")
    imp_schema = spark.read.parquet(f"{root}/imp/f0").schema
    clk_schema = spark.read.parquet(f"{root}/clk/f0").schema
    imp_s = (
        spark.readStream.schema(imp_schema)
        .option("maxFilesPerTrigger", 1).parquet(f"{root}/imp/f*")
    )
    clk_s = (
        spark.readStream.schema(clk_schema)
        .option("maxFilesPerTrigger", 1).parquet(f"{root}/clk/f*")
    )
    q = (
        streaming_click_attribution(imp_s, clk_s)
        .writeStream.format("memory").queryName("attrib")
        .outputMode("append")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.imp_id, r.click_id, r.latency_us)
        for r in spark.sql("select * from attrib").collect()
    }
    batch = streaming_click_attribution(
        spark.createDataFrame(
            imps, "imp_id bigint, imp_user string, imp_ts timestamp"
        ),
        spark.createDataFrame(
            clks, "click_id bigint, click_user string, click_ts timestamp"
        ),
    )
    want = {
        (r.imp_id, r.click_id, r.latency_us) for r in batch.collect()
    }
    assert got == want
    assert want == {(1, 11, 600_000_000), (2, 12, 1_200_000_000)}


def test_streaming_scd2_matches_batch_across_boundary(spark):
    """The change-candidate index folded across a FORCED micro-batch
    boundary must rebuild to exactly the batch SCD2 table — including
    the false batch-first candidate case (a user whose attr does NOT
    change across the boundary: batch 2's first row enters the index as
    a candidate and stage 2's re-detection must collapse it) and the
    true cross-batch change (a user whose attr flips exactly at the
    boundary, visible to no single batch's lag)."""
    import datetime as dt
    import shutil

    from mxsparkg.streaming import (
        EVENTS_SCHEMA,
        scd2_from_index,
        start_scd2_stream,
    )

    base = dt.datetime(2026, 3, 1, 12, 0, 0)

    def ev(i, minutes, user, typ):
        return (i, base + dt.timedelta(minutes=minutes), user, typ)

    # user 1: A A | A B   (no change at boundary, change inside batch 2)
    # user 2: X X | Y Y   (change exactly AT the boundary)
    # user 3: only batch 1 (open interval survives the fold)
    rows1 = [ev(0, 0, 1, "A"), ev(1, 10, 1, "A"),
             ev(2, 0, 2, "X"), ev(3, 10, 2, "X"),
             ev(4, 5, 3, "Q")]
    rows2 = [ev(5, 20, 1, "A"), ev(6, 30, 1, "B"),
             ev(7, 20, 2, "Y"), ev(8, 30, 2, "Y")]

    src = f"{ROOT}/scd2_src"
    idx = f"{ROOT}/scd2_idx"
    for d in (src, idx, f"{ROOT}/scd2_ckpt"):
        shutil.rmtree(d, ignore_errors=True)
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_scd2_stream(stream, idx, f"{ROOT}/scd2_ckpt")
    q.awaitTermination(120)

    got = {
        tuple(r) for r in scd2_from_index(spark, idx).collect()
    }

    # batch comparator: the evt_scd2 gate key over the full log
    import os

    from mxsparkg.contract import contract_queries

    batch_dir = f"{ROOT}/scd2_batch"
    shutil.rmtree(batch_dir, ignore_errors=True)
    os.makedirs(batch_dir, exist_ok=True)
    spark.read.parquet(src).write.parquet(f"{batch_dir}/events.parquet")
    want = {
        tuple(r)
        for r in contract_queries()["evt_scd2"](spark, batch_dir).collect()
    }
    assert got == want
    # shape spot-checks: user 1 has A then B; user 2 X then Y; user 3 one
    # open Q row; the index holds fewer rows than the event log
    by_user = {}
    for u, attr, *_ in got:
        by_user.setdefault(u, []).append(attr)
    assert sorted(by_user[1]) == ["A", "B"]
    assert sorted(by_user[2]) == ["X", "Y"]
    assert by_user[3] == ["Q"]
    n_index = spark.read.parquet(idx).count()
    assert n_index < spark.read.parquet(src).count()


def test_streaming_sketches_match_batch_bitwise(spark):
    """The sketch index folded across forced micro-batch boundaries
    (keys deliberately REPEATED across the two batches, so partials
    overlap in every register/cell) must merge to BIT-EQUAL the batch
    sketches over the whole ingested stream — the merge-algebra claim
    (HLL fold = max, CMS fold = sum) made operational. Also pins the
    retry posture: re-appending an HLL partial is a no-op under max,
    and a duplicated CMS partial is collapsed by the batch_id dedup."""
    import shutil

    import pyspark.sql.functions as F

    from mxsparkg.datapipe import cms_sketch, hll_registers
    from mxsparkg.streaming import (
        EVENTS_SCHEMA,
        cms_from_index,
        hll_from_index,
        start_sketch_stream,
    )

    import datetime as dt

    base = dt.datetime(2026, 3, 1)
    # 600 events over two files; user_id (the sketch key) spans 0..199
    # with users 0..99 present in BOTH batches
    rows1 = [(i, base, i % 150, "view") for i in range(300)]
    rows2 = [(300 + i, base, (i % 150) + 50, "view") for i in range(300)]

    src = f"{ROOT}/sk_src"
    idx = f"{ROOT}/sk_idx"
    for d in (src, idx, f"{ROOT}/sk_ckpt"):
        shutil.rmtree(d, ignore_errors=True)
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_sketch_stream(
        stream, F.col("user_id"), idx, f"{ROOT}/sk_ckpt")
    q.awaitTermination(120)

    # at least two partials per sketch — the boundary was real
    assert (
        spark.read.parquet(f"{idx}/hll")
        .select("batch_id").distinct().count() >= 2
    )

    whole = spark.read.parquet(src)
    want_hll = sorted(
        (r["reg"], r["max_rho"])
        for r in hll_registers(whole, F.col("user_id")).collect()
    )
    got_hll = sorted(
        (r["reg"], r["max_rho"])
        for r in hll_from_index(spark, idx).collect()
    )
    assert got_hll == want_hll

    want_cms = sorted(
        (r["row_id"], r["col_id"], r["cell"])
        for r in cms_sketch(whole, F.col("user_id")).collect()
    )
    got_cms = sorted(
        (r["row_id"], r["col_id"], r["cell"])
        for r in cms_from_index(spark, idx).collect()
    )
    assert got_cms == want_cms

    # retry simulation: duplicate one partial append verbatim
    one_hll = spark.read.parquet(f"{idx}/hll").filter("batch_id = 0")
    one_hll.write.mode("append").parquet(f"{idx}/hll")
    one_cms = spark.read.parquet(f"{idx}/cms").filter("batch_id = 0")
    one_cms.write.mode("append").parquet(f"{idx}/cms")
    assert sorted(
        (r["reg"], r["max_rho"])
        for r in hll_from_index(spark, idx).collect()
    ) == want_hll
    assert sorted(
        (r["row_id"], r["col_id"], r["cell"])
        for r in cms_from_index(spark, idx).collect()
    ) == want_cms


def test_streaming_frontier_admission_matches_batch(spark):
    """streaming_frontier_admission == batch robots_admit on the same
    discoveries: already-crawled urls drop via the static index,
    a re-discovery in a LATER micro-batch drops via watermark state,
    and the per-row Arrow robots decision agrees with the batch
    groupBy-struct-max decision (longest match, allow wins ties)."""
    import datetime as dt

    import pyspark.sql.functions as F

    from mxsparkg.streaming import (
        FRONTIER_SCHEMA,
        streaming_frontier_admission,
    )
    from mxsparkg.weblinks import robots_admit

    base_t = dt.datetime(2026, 1, 1, 12, 0, 0)

    def u(url, minutes):
        return (url, base_t + dt.timedelta(minutes=minutes))

    mb1 = [
        u("https://a.example/private/x", 0),   # denied (longest /private)
        u("https://a.example/private/ok/y", 1),  # allow override
        u("https://a.example/seen", 2),          # already crawled -> drop
        u("https://b.example/free", 3),          # no rules host -> allow
    ]
    mb2 = [
        u("https://b.example/free", 10),         # re-discovery -> drop
        u("https://a.example/other?q=1", 11),    # allow (no match)
    ]
    rules_rows = [
        ("a.example", "/private", 0),
        ("a.example", "/private/ok", 1),
    ]
    seen = spark.createDataFrame([("https://a.example/seen",)], ["url"])

    src = f"{ROOT}/frontier_src"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(f"{ROOT}/frontier_ckpt", ignore_errors=True)
    for rows in (mb1, mb2):
        spark.createDataFrame(rows, FRONTIER_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(FRONTIER_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_frontier_admission(stream, rules_rows, seen)
        .writeStream.format("memory")
        .queryName("frontier_adm")
        .outputMode("append")
        .option("checkpointLocation", f"{ROOT}/frontier_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.url: (r.allowed, r.rule_len)
        for r in spark.sql(
            "SELECT url, allowed, rule_len FROM frontier_adm"
        ).collect()
    }
    assert got == {
        "https://a.example/private/x": (0, 8),
        "https://a.example/private/ok/y": (1, 11),
        "https://b.example/free": (1, 0),
        "https://a.example/other?q=1": (1, 0),
    }
    # batch parity: robots_admit over the deduped fresh set decides the same
    qq = F.parse_url("url", F.lit("QUERY"))
    batch = (
        spark.read.parquet(src)
        .withColumn("host", F.parse_url("url", F.lit("HOST")))
        .withColumn(
            "path",
            F.concat(
                F.coalesce(F.parse_url("url", F.lit("PATH")), F.lit("/")),
                F.when(qq.isNotNull(), F.concat(F.lit("?"), qq))
                .otherwise(F.lit("")),
            ),
        )
        .join(seen, "url", "left_anti")
        .dropDuplicates(["url"])
    )
    rules_df = spark.createDataFrame(
        rules_rows, "host string, prefix string, allow int"
    )
    want = {
        r.url: (r.allowed, r.rule_len)
        for r in robots_admit(batch, rules_df).collect()
    }
    assert got == want


def test_streaming_geo_match_equals_batch_pairs(spark):
    """start_geo_match_stream over forced micro-batch boundaries emits
    EXACTLY the batch distance_pairs pair set of the whole feed: within-
    batch pairs from the batch join, cross-batch pairs from the index
    probe, each exactly once."""
    from mxsparkg.geo import distance_pairs
    from mxsparkg.streaming import start_geo_match_stream

    CELL, R = 1000, 1000
    # three micro-batches with within-batch, cross-batch (adjacent-cell),
    # and isolated points; coordinates chosen so ties and the R boundary
    # are exercised (dist == R qualifies)
    mb = [
        [(1, 100, 100), (2, 900, 100), (3, 5000, 5000)],
        [(4, 100, 1100), (5, 50_000, 50_000)],
        [(6, 900, 1100), (7, 5000, 6000), (8, 99_000, 99_000)],
    ]
    root = f"{ROOT}/geo_match"
    shutil.rmtree(root, ignore_errors=True)
    src = f"{root}/src"
    for rows in mb:
        spark.createDataFrame(
            rows, "pid long, lat_e6 long, lon_e6 long"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("pid long, lat_e6 long, lon_e6 long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_geo_match_stream(
        stream, f"{root}/index", f"{root}/out", f"{root}/ckpt",
        cell_e6=CELL, r_e6=R,
    )
    q.awaitTermination(120)
    got = {
        (r.pid_lo, r.pid_hi, r.dist2_e6)
        for r in spark.read.parquet(f"{root}/out").collect()
    }
    want = {
        (r.pid_a, r.pid_b, r.dist2_e6)
        for r in distance_pairs(
            spark.read.parquet(src), CELL, R
        ).collect()
    }
    assert got == want
    assert len(got) >= 3  # within-batch, cross-batch, boundary all present
    # every point (even isolates) is in the index exactly once
    idx = spark.read.parquet(f"{root}/index")
    assert idx.count() == 8 and idx.select("pid").distinct().count() == 8


def test_streaming_geo_match_redelivery_is_idempotent(spark):
    """An at-least-once source re-delivering an already-indexed point
    must not emit a (p, p) self-pair, must not re-emit its pairs, and
    must not duplicate it in the index."""
    from mxsparkg.streaming import start_geo_match_stream

    CELL, R = 1000, 1000
    mb = [
        [(1, 100, 100), (2, 900, 100)],
        [(1, 100, 100), (3, 100, 900)],   # pid 1 re-delivered
    ]
    root = f"{ROOT}/geo_redeliver"
    shutil.rmtree(root, ignore_errors=True)
    src = f"{root}/src"
    for rows in mb:
        spark.createDataFrame(
            rows, "pid long, lat_e6 long, lon_e6 long"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("pid long, lat_e6 long, lon_e6 long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_geo_match_stream(
        stream, f"{root}/index", f"{root}/out", f"{root}/ckpt",
        cell_e6=CELL, r_e6=R,
    )
    q.awaitTermination(120)
    got = sorted(
        (r.pid_lo, r.pid_hi, r.dist2_e6)
        for r in spark.read.parquet(f"{root}/out").collect()
    )
    # (1,2) from batch 1; (1,3) from batch 2's new point 3 ((2,3) is at
    # dist ~1131 > R); NO (1,1) self-pair, NO duplicate (1,2)
    assert got == [
        (1, 2, 800 * 800),
        (1, 3, 800 * 800),
    ]
    idx = spark.read.parquet(f"{root}/index")
    assert idx.count() == 3 and idx.select("pid").distinct().count() == 3


def test_streaming_geo_match_checkpoint_restart(spark):
    """Stopping the geo-match stream and restarting against the SAME
    checkpoint after new files arrive must process only the new files:
    the final pair set equals batch distance_pairs over everything, with
    no duplicates from re-processing batches 1-2 — also when the restart
    uses a coarser grid (point 5 sits in grid-1000 cell_x 2, outside the
    3x3 probe of point 4's grid-3000 cell, so pairs probed against cells
    stored at the old grid would drop the (4, 5) pair)."""
    from mxsparkg.geo import distance_pairs
    from mxsparkg.streaming import start_geo_match_stream

    CELL, R = 1000, 1000
    for restart_cell in (CELL, 3 * CELL):
        root = f"{ROOT}/geo_restart_{restart_cell}"
        shutil.rmtree(root, ignore_errors=True)
        src = f"{root}/src"

        def write(rows):
            spark.createDataFrame(
                rows, "pid long, lat_e6 long, lon_e6 long"
            ).coalesce(1).write.mode("append").parquet(src)

        def run(cell):
            stream = (
                spark.readStream.schema("pid long, lat_e6 long, lon_e6 long")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = start_geo_match_stream(
                stream, f"{root}/index", f"{root}/out", f"{root}/ckpt",
                cell_e6=cell, r_e6=R,
            )
            q.awaitTermination(120)

        write([(1, 100, 100), (2, 900, 100)])
        write([(3, 100, 900), (5, 100, 2600)])
        run(CELL)   # first life: batches 1-2
        n_first = spark.read.parquet(f"{root}/out").count()
        write([(4, 900, 2100), (6, 900, 900)])
        run(restart_cell)   # second life: must pick up ONLY the new file
        got = sorted(
            (r.pid_lo, r.pid_hi, r.dist2_e6)
            for r in spark.read.parquet(f"{root}/out").collect()
        )
        want = sorted(
            (r.pid_a, r.pid_b, r.dist2_e6)
            for r in distance_pairs(
                spark.read.parquet(src), CELL, R
            ).collect()
        )
        assert got == want, restart_cell   # complete AND duplicate-free
        assert len(got) > n_first   # the restart did add points 4 and 6
        assert (4, 5) in {(lo, hi) for lo, hi, _ in got}
        idx = spark.read.parquet(f"{root}/index")
        assert idx.count() == 6 and idx.select("pid").distinct().count() == 6
