"""Incremental crawl ingest via Structured Streaming (SURVEY.md §2.11).

The batch pipeline stays the primary surface (north_rule: batch with
checkpoint-resume); this module is the streaming analogue for continuous
crawl feeds. Every stage is already a pure table-in/table-out function, so
the streaming ingest is just:

  readStream(new page files) → watermark + per-url dedup → foreachBatch:
      fused extract+detect (the SAME detect_pages as batch) → append

foreachBatch (not a streaming-native sink) because detections feed the
batch linking/canonicalization stages downstream — micro-batch appends into
the same checkpoint layout keep one code path for all semantics.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.broadcast import Broadcast
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def read_page_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """File-arrival stream over a crawl-segment directory (new parquet
    files = new fetches). Schema is pinned — streaming sources cannot
    infer it."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def dedup_late_fetches(pages: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Late/duplicate page fetches: keep the first fetch per url within the
    watermark. dropDuplicatesWithinWatermark (not dropDuplicates) is what
    actually bounds the state: plain dropDuplicates(['url']) only evicts
    state when the event-time column is among the dedup keys, so per-url
    state would grow forever on an unbounded stream."""
    return pages.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )


def start_detect_stream(
    pages_stream: DataFrame,
    model_bc: Broadcast,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Stream → fused extract+detect → append. foreachBatch reuses the
    exact batch operator, so streaming and batch results are identical by
    construction (asserted in tests/test_streaming.py)."""
    from mxsparkg.detect import detect_pages

    def process(batch_df: DataFrame, batch_id: int) -> None:
        (
            detect_pages(batch_df, model_bc)
            .write.mode("append")
            .parquet(out_dir)
        )

    return (
        pages_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stateful_host_counts(pages: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): running
    per-host fetch totals across micro-batches — the state backbone for
    per-host politeness/throttling decisions on a continuous crawl.
    Emits one update row per (host, micro-batch); state = the running
    total, persisted in the streaming state store."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("total_fetches", LongType()),
            StructField("batch_fetches", LongType()),
        ]
    )
    state_schema = StructType([StructField("total", LongType())])

    def update(key, pdfs, state: GroupState):
        n = sum(len(p) for p in pdfs)
        total = (state.get[0] if state.exists else 0) + n
        state.update((total,))
        yield pd.DataFrame(
            {
                "host": [key[0]],
                "total_fetches": [total],
                "batch_fetches": [n],
            }
        )

    hosts = pages.select(
        F.parse_url("url", F.lit("HOST")).alias("host")
    )
    return hosts.groupBy("host").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )


SESSION_GAP_US = 1800 * 1_000_000  # mirror of contract.SESSION_GAP_US
SESSIONS_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("session_end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)


def stateful_sessions(
    events: DataFrame,
    gap_us: int = SESSION_GAP_US,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization (the continuous analogue of the batch
    evt_sessionize operator): per-user open-session state carried across
    micro-batches in the streaming state store, sessions CLOSED either by
    a later in-stream event past the inactivity gap or by event-time
    timeout once the watermark passes (open state cannot grow without
    bound — every idle user's state is reclaimed by the timeout).

    Semantics contract (asserted in tests/test_streaming.py): the closed
    sessions emitted across all micro-batches equal the batch
    sessionization of the same data minus each user's final (still-open)
    session — independent of how the stream is split into batches.

    applyInPandasWithState: rows arrive per user as Arrow batches; state
    is (start_us, last_us, n_events). Timestamps are handled as naive
    integer microseconds end-to-end (pandas datetime64[ns] // 1000), the
    same zone-free arithmetic as the batch operator."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
            StructField("n", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        uid = key[0]

        def session_row(start, last, n):
            return pd.DataFrame(
                {
                    "user_id": [uid],
                    "session_start_us": [start],
                    "session_end_us": [last],
                    "n_events": [n],
                }
            )

        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield session_row(start, last, n)
            return
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        us = (
            pd.concat(parts)["ts"]
            .astype("datetime64[ns]")
            .astype("int64")
            .sort_values()
            // 1000
        )
        if state.exists:
            start, last, n = state.get
        else:
            start = last = int(us.iloc[0])
            n = 0  # the loop below counts the first event
        for t in us:
            t = int(t)
            if n > 0 and t - last > gap_us:
                yield session_row(start, last, n)
                start, n = t, 0
            last = max(last, t)
            n += 1
        state.update((start, last, n))
        # close the open session when the watermark passes last + gap
        state.setTimeoutTimestamp(last // 1000 + gap_us // 1000)

    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            SESSIONS_OUT_SCHEMA,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_edge_support(
    triples: DataFrame,
    watermark: str = "1 hour",
    window: str = "1 hour",
) -> DataFrame:
    """Incremental KG edge maintenance as a stream: per-crawl-window
    support counts for each (subj, pred, obj), emitted append-mode once
    the watermark closes the window — each emitted row is a final,
    exactly-once edge-support delta a downstream merge (kgexport.
    state_diff consumers, or a MERGE INTO on the edges table) can apply
    without reprocessing history. The state store holds only open
    windows' partial counts (bounded by watermark × arrival rate), and
    the aggregation is the same map-side-combinable groupBy as the batch
    edges rollup — stream == batch on closed windows is asserted in
    tests/test_streaming.py."""
    return (
        triples.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("w"), "subj", "pred", "obj"
        )
        .agg(F.count("*").alias("n_support"))
        .select(
            F.col("w.start").alias("window_start"),
            "subj", "pred", "obj", "n_support",
        )
    )


def streaming_content_dedup(
    pages: DataFrame,
    base_digests: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """The streaming form of datapipe.dedup_incremental: a continuous
    crawl feed deduplicated by CONTENT against (a) the digest index of
    the already-ingested corpus and (b) itself across micro-batches.

    Two layers, each the scale-appropriate mechanism:
    - the corpus index is a STATIC table (maintained by the X8 delta
      applier between stream restarts), joined stream-static LEFT ANTI —
      per micro-batch Spark plans a plain hash join against it, no
      streaming state at all, so the already-ingested side can be
      arbitrarily large (it shuffles/broadcasts by the join's own rules,
      with the join_bloom runtime filter as the standard accelerant);
    - re-fetches of the SAME NEW content within the stream (two crawlers
      hitting mirrored urls minutes apart) are dropped with
      dropDuplicatesWithinWatermark on the digest — watermark-bounded
      state, unlike dropDuplicates on a non-event-time key which grows
      forever (the dedup_late_fetches lesson).

    Emits the fetches that are genuinely new content — exactly the rows
    dedup_incremental's batch form keeps (stream == batch asserted in
    tests/test_streaming.py, including the cross-micro-batch case)."""
    d = pages.withColumn("digest", F.md5("text"))
    fresh = d.join(
        base_digests.select("digest").distinct(), "digest", "left_anti"
    )
    return fresh.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["digest"]
    )


def streaming_click_attribution(
    impressions: DataFrame,
    clicks: DataFrame,
    watermark: str = "1 hour",
    attribution_window: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join — the canonical two-stream shape (an
    impression stream joined to a click stream on the same user within
    the attribution window; for the crawl it is fetch⋈fetch revisit
    pairing, for the KG it is claim⋈retraction). Stream-STATIC joins
    (streaming_content_dedup) keep no state; stream-STREAM joins must
    buffer BOTH sides, and the join is only executable at scale because
    the event-time range condition lets Spark evict state: an impression
    older than (watermark + attribution window) can never match a future
    click, so the state store holds a sliding horizon, not history.
    Omit the time bound and state grows forever — Spark accepts the
    query and the job dies weeks later; the range predicate is the
    correctness contract, not an optimization.

    Inner join, append mode: every emitted (impression, click) pair is
    final the moment it appears (both events exist — nothing to retract),
    so downstream consumers get exactly-once attribution rows. The equi
    half (user id) is the shuffle key: both streams hash-partition on
    user, the range predicate filters within the partition-local state,
    and a celebrity user is ordinary join skew. stream == batch on the
    full pair set is asserted in tests/test_streaming.py, including
    pairs whose two sides arrive in different micro-batches."""
    imp = impressions.withWatermark("imp_ts", watermark)
    clk = clicks.withWatermark("click_ts", watermark)
    return imp.join(
        clk,
        F.expr(
            "imp_user = click_user"
            " AND click_ts >= imp_ts"
            f" AND click_ts <= imp_ts + interval {attribution_window}"
        ),
    ).select(
        "imp_user", "imp_id", "click_id", "imp_ts", "click_ts",
        (
            F.unix_micros("click_ts") - F.unix_micros("imp_ts")
        ).alias("latency_us"),
    )


def start_geo_match_stream(
    point_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cell_e6: int | None = None,
    r_e6: int | None = None,
) -> StreamingQuery:
    """Streaming proximity matcher — geofencing / POI conflation on a
    point feed (pid, lat_e6, lon_e6): every incoming point is matched
    against ALL points ever ingested, within radius r_e6, via the same
    grid-probe join the batch geo tier uses (mxsparkg/geo.py). Three
    layers per micro-batch:

    - vs the INDEX: the new batch's 3x3 cell probes equi-join the
      index's (pid, coords) parquet, its cells computed at the current
      cell_e6 on read (so a restart may change the grid) — a plain batch
      hash join per micro-batch, zero streaming state, index arbitrarily
      large;
    - WITHIN the batch: geo.distance_pairs over the batch itself;
    - the batch's points APPEND to the index, so later batches
      match against earlier ones exactly once.

    Every qualifying pair therefore surfaces EXACTLY once regardless of
    how the feed is sliced into micro-batches, and the emitted pair set
    (normalized to pid_lo < pid_hi) equals the batch distance_pairs over
    the whole feed — stream==batch pytest-pinned across forced
    micro-batch boundaries. At-least-once append on retry like every
    foreachBatch sink here; batch_id-keyed output partitions are the
    documented exactly-once hardening."""
    from mxsparkg.geo import (
        GEO_PAIR_CELL_E6,
        GEO_R_E6,
        _d2,
        _probe_side,
        _with_cells,
        distance_pairs,
    )

    cell = GEO_PAIR_CELL_E6 if cell_e6 is None else cell_e6
    r = GEO_R_E6 if r_e6 is None else r_e6
    assert r <= cell, "3x3 probe incomplete when radius > cell"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        pts = batch_df.select("pid", "lat_e6", "lon_e6")
        try:
            idx = spark.read.parquet(index_dir)
        except AnalysisException:  # first batch: index path not created yet
            idx = None
        # any OTHER read failure must fail the batch (foreachBatch retries
        # it) — swallowing it would silently drop every cross-batch pair
        if idx is not None:
            # at-least-once sources can re-deliver points; a point already
            # in the index is dropped from the batch entirely, so replays
            # emit no (p, p) self-pair and re-emit no already-found pairs
            pts = pts.join(idx.select("pid"), "pid", "left_anti")
        cells_new = _with_cells(pts, cell).localCheckpoint(eager=True)
        within = distance_pairs(pts, cell, r)
        pairs = within.select(
            F.col("pid_a").alias("pid_lo"),
            F.col("pid_b").alias("pid_hi"),
            "dist2_e6",
        )
        if idx is not None:
            cross = (
                _probe_side(cells_new)
                .join(
                    _with_cells(idx, cell).select(
                        F.col("pid").alias("pid_b"),
                        F.col("lat_e6").alias("lat_b"),
                        F.col("lon_e6").alias("lon_b"),
                        "cell_x", "cell_y",
                    ),
                    ["cell_x", "cell_y"],
                )
                .withColumn("dist2_e6", _d2())
                .filter(F.col("dist2_e6") <= r * r)
                .select(
                    F.least("pid_a", "pid_b").alias("pid_lo"),
                    F.greatest("pid_a", "pid_b").alias("pid_hi"),
                    "dist2_e6",
                )
            )
            pairs = pairs.unionByName(cross)
        pairs.write.mode("append").parquet(out_dir)
        cells_new.select("pid", "lat_e6", "lon_e6").write.mode(
            "append").parquet(index_dir)

    return (
        point_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def hourly_ingest_stats(pages: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling-window ingest metrics (streaming-native agg): pages and
    hosts per hour of crawl time, watermark-bounded."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_pages"),
            F.approx_count_distinct(
                F.parse_url("url", F.lit("HOST"))
            ).alias("n_hosts"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_pages",
            "n_hosts",
        )
    )


EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
    ]
)

_STREAM_DAY_US = 86_400_000_000


def start_daily_count_stream(
    events: DataFrame, index_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Continuous ingest-rate monitor, stage 1: fold each micro-batch
    into per-(event_type, day) PARTIAL counts appended to a parquet
    index. Counts are additive, so the index re-aggregated at any moment
    equals the batch daily rollup over everything ingested so far —
    arrival order, micro-batch boundaries and day-splits-across-batches
    all cancel (the property the test pins). foreachBatch keeps the day
    arithmetic identical to the batch evt_anomaly key; at-least-once
    append on retry, exactly-once via batch_id-keyed partitions (the
    standard foreachBatch hardening, as in start_detect_stream)."""

    def _fold(batch: DataFrame, batch_id: int) -> None:
        (
            batch.select(
                "event_type",
                (F.unix_micros("ts") - F.pmod(
                    F.unix_micros("ts"), F.lit(_STREAM_DAY_US)
                )).alias("day_us"),
            )
            .withColumn("day", (F.col("day_us") / _STREAM_DAY_US).cast("long"))
            .groupBy("event_type", "day")
            .agg(F.count(F.lit(1)).alias("x_partial"))
            .write.mode("append")
            .parquet(index_dir)
        )

    return (
        events.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def anomaly_flags_from_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Continuous ingest-rate monitor, stage 2 (run on demand, or per
    micro-batch from a second foreachBatch): re-aggregate the partial
    count index and flag days > 2 population-sigmas from their type's
    daily mean, with the evt_anomaly whole-bit integer test
    (n·x − s1)² > 4·(n·s2 − s1²) — no float, no division, so the monitor
    and the batch key can never disagree on a flag. The index is
    day-level (model-sized: days × types), so this re-aggregation costs
    nothing regardless of event volume."""
    daily = (
        spark.read.parquet(index_dir)
        .groupBy("event_type", "day")
        .agg(F.sum("x_partial").alias("x"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    j = daily.join(F.broadcast(stats), "event_type")
    dev = F.col("n") * F.col("x") - F.col("s1")
    thresh = F.lit(4) * (
        F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    )
    return j.select(
        "event_type", "day", F.col("x").alias("n_events"),
        (dev * dev > thresh).cast("int").alias("is_anomaly"),
    )


def _scd2_change_rows(events: DataFrame) -> DataFrame:
    """Per-user attribute change points: rows whose event_type differs
    from the previous event in (ts, event_id) order — the first event
    (lag NULL) always survives. Shared by the batch SCD2 build
    (contract.evt_scd2 computes the same detection inline) and both
    stages of the streaming form below."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            "user_id", "event_type", "ts", "event_id",
            F.lag("event_type").over(w).alias("_prev"),
        )
        .filter(F.col("_prev").isNull()
                | (F.col("_prev") != F.col("event_type")))
        .select("user_id", F.col("event_type").alias("attr"),
                "ts", "event_id")
    )


def start_scd2_stream(
    events: DataFrame, index_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Streaming SCD2 dimension maintenance, stage 1: fold each
    micro-batch into an append-only CHANGE-CANDIDATE index. Per batch,
    within-batch change points survive plus each user's batch-first
    event (the cross-batch predecessor is unknown inside foreachBatch,
    so the first row is a candidate by construction — possibly a false
    one). The candidate set provably CONTAINS every true change point
    of the full stream under per-user in-order arrival: a change point
    is either interior to some batch (kept by the batch lag) or that
    batch's first row for the user (kept unconditionally). False
    batch-first candidates (same attr as the suppressed cross-batch
    predecessor) are removed by stage 2's re-detection — the case the
    stream==batch test pins across a forced micro-batch boundary.

    The index grows with CHANGES (+ one row per active user per batch),
    not with events — the additive-index discipline of
    start_daily_count_stream. Late data that retroactively splits an
    already-folded interval needs a batch rebuild (evt_scd2 over the
    log), the same open-boundary posture as stateful_sessions."""

    def _fold(batch: DataFrame, batch_id: int) -> None:
        _scd2_change_rows(batch).write.mode("append").parquet(index_dir)

    return (
        events.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def scd2_from_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Streaming SCD2, stage 2 (on demand): re-run change detection over
    the candidate index (false batch-first candidates collapse because
    their predecessor candidate carries the same attr), then close
    intervals with one lead() pass — identical output columns and
    semantics to the batch evt_scd2 key, and provably equal to it on
    everything ingested so far (asserted in tests/test_streaming.py).
    The re-detection runs at INDEX size (changes, not events), so this
    costs nothing regardless of stream volume."""
    from pyspark.sql import Window

    cand = spark.read.parquet(index_dir).select(
        "user_id", F.col("attr").alias("event_type"), "ts", "event_id")
    chg = _scd2_change_rows(cand)
    w2 = Window.partitionBy("user_id").orderBy("ts", "attr")
    v = chg.select(
        "user_id", "attr",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(F.lead("ts").over(w2), "yyyy-MM-dd HH:mm:ss")
        .alias("valid_to"),
    )
    return v.select(
        "user_id", "attr", "valid_from",
        F.coalesce("valid_to", F.lit("9999-12-31 00:00:00"))
        .alias("valid_to"),
        F.when(F.col("valid_to").isNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("int").alias("is_current"),
    )


def start_sketch_stream(
    rows: DataFrame, key: Column, index_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Continuous profile sketches, stage 1: fold each micro-batch into
    PARTIAL HLL registers and CMS cells appended to a parquet index.
    This is where the sketches' merge algebra (tests/test_sketch.py)
    pays off operationally: HLL registers fold by max and CMS cells by
    sum — both commutative, associative and idempotent-under-reorder
    aggregates — so arrival order, micro-batch boundaries and even
    duplicate appends of the SAME batch partial (HLL: max absorbs; CMS:
    guarded by batch_id dedup below) cancel, and the re-aggregated index
    at any moment equals the batch sketch over everything ingested so
    far (stream == batch asserted bit-for-bit in tests).

    Each partial is one micro-batch's 256-row table — the index grows
    with BATCHES, not rows, and stage 2 re-aggregates at index size.
    batch_id rides along so a foreachBatch retry (at-least-once append)
    is collapsed by the max/… GROUP BY in stage 2 for HLL and by the
    dedup-on-(batch_id, row, col) for CMS — the standard exactly-once
    hardening, as in start_daily_count_stream."""
    from mxsparkg.datapipe import cms_sketch, hll_registers

    def _fold(batch: DataFrame, batch_id: int) -> None:
        (
            hll_registers(batch, key)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(f"{index_dir}/hll")
        )
        (
            cms_sketch(batch, key)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(f"{index_dir}/cms")
        )

    return (
        rows.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def hll_from_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Streaming sketches, stage 2 (on demand): merge the partial HLL
    registers — cellwise max over all micro-batch partials. Identical
    output to datapipe.hll_registers over the full ingested stream
    (merge = max is exactly the multi-executor fold the batch builder's
    final aggregation performs). A duplicated partial (foreachBatch
    retry) is a no-op under max, so HLL needs no batch_id hygiene."""
    return (
        spark.read.parquet(f"{index_dir}/hll")
        .groupBy("reg")
        .agg(F.max("max_rho").cast("int").alias("max_rho"))
    )


def cms_from_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Streaming sketches, stage 2 for CMS: drop retried duplicate
    partials by (batch_id, row_id, col_id) — append-retry writes the
    same cell values again, and unlike HLL's max, sum would double-count
    — then merge by cellwise sum. Equals the batch cms_sketch over the
    full stream (asserted in tests)."""
    return (
        spark.read.parquet(f"{index_dir}/cms")
        .dropDuplicates(["batch_id", "row_id", "col_id"])
        .groupBy("row_id", "col_id")
        .agg(F.sum("cell").cast("bigint").alias("cell"))
    )


FRONTIER_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("discovered_ts", TimestampType()),
    ]
)


def streaming_frontier_admission(
    urls: DataFrame,
    rules_rows: list,
    seen_urls: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """The crawl frontier as what it really is in production — a STREAM
    (link extraction and sitemap fetches discover URLs continuously):
    admit each discovered URL through the same three screens the batch
    layer certifies, stateless-or-bounded so the query runs in append
    mode forever.

    - already-crawled URLs drop via stream-static LEFT ANTI against the
      crawl index (a static table maintained by the X8 delta applier —
      no streaming state, arbitrarily large, join_bloom-acceleratable);
    - re-discoveries of the SAME new URL within the stream (two pages
      linking to one target in different micro-batches) drop via
      dropDuplicatesWithinWatermark on the url — watermark-bounded
      state (the dedup_late_fetches lesson);
    - the robots decision runs per-row against the CONFIG-SIZED rule set
      carried into a batched Arrow UDF closure (the broadcast_model
      idiom detect_pages uses): streaming aggregation (the batch
      robots_admit's groupBy struct-max) would force update mode, and
      per-host rule lists are tiny, so the decision is a per-batch
      Python loop over broadcast rules — the accepted _tag_batch
      posture, NOT a row-at-a-time F.udf. Semantics are identical
      (longest match, allow wins ties, no match → allow): parity with
      robots_admit is pytest-pinned.

    `rules_rows` is a list of (host, prefix, allow) — collect the rules
    table caller-side (crawl-config-sized, like broadcast_model).
    Emits every fresh URL with (host, path, allowed, rule_len); the
    fetcher filters allowed==1 and feeds politeness_schedule per
    micro-batch."""
    from pyspark.sql.functions import pandas_udf

    by_host: dict = {}
    for h, p, a in rules_rows:
        by_host.setdefault(h, []).append((str(p), int(a)))

    @pandas_udf(
        StructType(
            [
                StructField("allowed", LongType()),
                StructField("rule_len", LongType()),
            ]
        )
    )
    def decide(host: pd.Series, path: pd.Series) -> pd.DataFrame:
        al, rl = [], []
        for h, p in zip(host, path):
            best = (-1, 1)
            for pre, a in by_host.get(h, ()):
                if p is not None and p.startswith(pre):
                    cand = (len(pre), a)
                    if cand > best:
                        best = cand
            if best[0] < 0:
                al.append(1)
                rl.append(0)
            else:
                al.append(best[1])
                rl.append(best[0])
        return pd.DataFrame({"allowed": al, "rule_len": rl})

    q = F.parse_url("url", F.lit("QUERY"))
    split = urls.withColumn(
        "host", F.parse_url("url", F.lit("HOST"))
    ).withColumn(
        "path",
        F.concat(
            F.coalesce(F.parse_url("url", F.lit("PATH")), F.lit("/")),
            F.when(q.isNotNull(), F.concat(F.lit("?"), q))
            .otherwise(F.lit("")),
        ),
    ).filter(F.col("host").isNotNull())
    fresh = split.join(
        seen_urls.select("url").distinct(), "url", "left_anti"
    )
    fresh = fresh.withWatermark(
        "discovered_ts", watermark
    ).dropDuplicatesWithinWatermark(["url"])
    d = decide(F.col("host"), F.col("path"))
    return fresh.withColumn("_d", d).select(
        "url", "discovered_ts", "host", "path",
        F.col("_d.allowed").cast("int").alias("allowed"),
        F.col("_d.rule_len").cast("int").alias("rule_len"),
    )
